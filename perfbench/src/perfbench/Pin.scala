package perfbench

import java.nio.file.{Files => NioFiles, Paths}

import graft.SparkEntry

/** Helper of pin_oracle.py:
  *  - `sql <out.json>`: the DuckDB oracle SQL of every registered query;
  *  - `digest <dir> <out.json>`: the [[Digest]] of each `<dir>/<query>`
  *    parquet output;
  *  - `spark <sfDir> <out.json>`: the digest of each registered query
  *    run by the engine on `sfDir`.
  */
object Pin {
  private def write(out: String, v: Any): Unit =
    NioFiles.writeString(Paths.get(out), Json.render(v))

  def main(args: Array[String]): Unit = args match {
    case Array("sql", out) => write(out, SparkEntry.oracleSql)
    case Array(mode, dir, out) =>
      val spark = Main.session()
      val digests = SparkEntry.queries.keys.toSeq.sorted.map { q =>
        val df = if (mode == "digest") spark.read.parquet(s"$dir/$q") else SparkEntry.queries(q)(spark, dir)
        q -> Digest.of(df).toMap
      }
      write(out, scala.collection.immutable.ListMap(digests: _*))
      spark.stop()
  }
}
