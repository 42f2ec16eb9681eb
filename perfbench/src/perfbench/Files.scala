package perfbench

import java.nio.file.{Files => NioFiles, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Local-filesystem helpers for the run's work directory. */
object Files {
  private def walk(p: Path): Seq[Path] =
    if (!NioFiles.exists(p)) Nil
    else {
      val s = NioFiles.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }

  def rm(dir: String): Unit =
    walk(Paths.get(dir)).sortBy(-_.getNameCount).foreach(NioFiles.deleteIfExists)

  /** (count, bytes) of data files under `dir`: regular files whose names
    * start with neither '.' nor '_' (no checksums, markers or logs).
    */
  def dataFiles(dir: String): (Int, Long) = {
    val fs = walk(Paths.get(dir)).filter { p =>
      val n = p.getFileName.toString
      NioFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }
    (fs.size, fs.map(NioFiles.size).sum)
  }
}

/** The pinned DuckDB-oracle digests of the query suite. */
object Pinned {
  private def scalaOf(x: Any): Any = x match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> scalaOf(v) }.toMap
    case l: java.util.List[_] => l.asScala.map(scalaOf).toSeq
    case other => other
  }

  def load(file: String): Map[String, Digest] =
    scalaOf(new ObjectMapper().readValue(new java.io.File(file), classOf[java.util.Map[_, _]]))
      .asInstanceOf[Map[String, Map[String, Any]]]
      .map { case (q, d) => q -> Digest.fromMap(d) }
}
