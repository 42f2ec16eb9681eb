package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  private var shared: SparkSession = _

  private def session(master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The shared `local[4]` session (rebuilt after [[withMaster]]). */
  def spark: SparkSession = synchronized {
    if (shared == null || shared.sparkContext.isStopped) shared = session("local[4]")
    shared
  }

  /** Runs `f` on a session of its own at `master` (e.g. `local[4,3]`,
    * where a failed task is retried): one SparkContext per JVM, so the
    * shared session is stopped first and rebuilt on its next use.
    */
  def withMaster[A](master: String)(f: SparkSession => A): A = synchronized {
    if (shared != null) shared.stop()
    val s = session(master)
    try f(s) finally s.stop()
  }
}
