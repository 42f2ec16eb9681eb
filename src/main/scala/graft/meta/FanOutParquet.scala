package graft.meta

import java.util.concurrent.ArrayBlockingQueue

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{GraftInternalAccess, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet whose oversize write tasks encode on the idle cores.
  *
  * Why: a mega-conversation is one sweep key, so its slice's gold write
  * stage runs one long task beside a few short ones, and most of that
  * task is parquet encode (1.7 of 3.1 s at the Bench shape). Splitting
  * the exchange cannot help (one key is one partition), but the task can
  * hand its own rows to more encoders.
  *
  * How: each output file Spark opens becomes a [[FanOutParquet.Writer]]
  * around Spark's own parquet writer. The first
  * [[FanOutParquet.InlineRows]] rows go inline to that file, exactly as
  * plain parquet. A writer that reaches that count takes up to
  * [[FanOutParquet.MaxLanes]] lanes from a JVM-wide budget of task slots;
  * each lane is a thread owning one sibling file `<name>-f<i>.<ext>` in
  * the same task attempt dir, so the commit protocol commits or aborts
  * the siblings with the task. Later rows are copied into batches that
  * go round-robin over the lanes' bounded queues. A writer that gets no
  * lane stays inline. A lane's failure fails the task with its cause,
  * and `close` joins every lane on success and abort alike.
  *
  * Rows, schema and commit protocol are those of plain parquet; only an
  * oversize task writes more than one file. Task output metrics count
  * the inline file's bytes only: Spark's write stats tracker sums the
  * sizes of the files it opened, and the lanes open theirs behind it.
  *
  * Use: `df.write.format(FanOutParquet.name).save(path)`; read back with
  * `spark.read.parquet`.
  */
class FanOutParquet extends ParquetFileFormat {
  override def prepareWrite(
      spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    new FanOutParquet.Factory(super.prepareWrite(spark, job, options, dataSchema),
      GraftInternalAccess.taskSlots(spark.sparkContext))
}

object FanOutParquet {
  /** The `format` name of this source. */
  val name: String = classOf[FanOutParquet].getName

  /** Rows a task writes inline before it fans out: above every write
    * task of a mega-free table (`daily_uniform`: 0 fan-outs over its
    * gold writes and `writeAll`), far below a 100,001-turn mega. The
    * inline rows are the fanned-out task's own encode: in a sweep+write
    * of one mega's slice alone on 4 cores (mega task, median of 6 runs),
    * 16,384 inline rows took 0.45 s against the plain write's 0.72 s,
    * and 4,096 rows 0.39 s against 0.66 s.
    */
  val InlineRows = 16384

  /** Lanes one writer asks for. Same measurement, as a share of the
    * plain write's task in the same JVM: 2 lanes 0.67, 3 lanes 0.63,
    * 4 lanes 0.70. With lanes that drop their batches the task was
    * nearly as long, so 3 lanes keep up with the sweep that feeds them.
    */
  val MaxLanes = 3

  /** Rows per batch handed to a lane, and batches queued per lane. */
  private val BatchRows = 1024
  private val QueueBatches = 4

  /** Name prefix of lane threads. */
  private[graft] val LanePrefix = "parquet-fanout-lane"

  /** Runs on the task thread once a writer's lanes are running; a task
    * retry spec fails an attempt here.
    */
  @volatile private[graft] var afterLanesStart: TaskContext => Unit = _ => ()

  /** The JVM-wide lane budget: at most `slots` lanes are held at once. */
  private object Budget {
    private var held = 0
    def take(slots: Int, want: Int): Int = synchronized {
      val n = math.max(0, math.min(want, slots - held))
      held += n
      n
    }
    def give(n: Int): Unit = synchronized { held -= n }
    def inUse: Int = synchronized(held)
  }

  /** Lanes held right now, JVM-wide. */
  private[graft] def lanesInUse: Int = Budget.inUse

  /** `inner` makes the plain parquet writer of each file; `slots` is the
    * executor JVM's task-slot count, the lane budget.
    */
  final class Factory(inner: OutputWriterFactory, slots: Int) extends OutputWriterFactory {
    override def getFileExtension(context: TaskAttemptContext): String =
      inner.getFileExtension(context)
    override def newInstance(
        path: String, dataSchema: StructType, context: TaskAttemptContext): OutputWriter =
      new Writer(inner, slots, path, dataSchema, context)
  }

  private val End = new Array[InternalRow](0)

  private final class Writer(
      inner: OutputWriterFactory, slots: Int, val path: String,
      dataSchema: StructType, context: TaskAttemptContext) extends OutputWriter {
    private val head = inner.newInstance(path, dataSchema, context)
    private var rows = 0
    // null until InlineRows rows are written; then the lanes, or empty
    // when the budget had none
    private var lanes: Array[Lane] = _
    private var batch = new Array[InternalRow](BatchRows)
    private var fill = 0
    private var next = 0
    @volatile private var aborted = false

    private final class Lane(out: OutputWriter, i: Int) {
      val queue = new ArrayBlockingQueue[Array[InternalRow]](QueueBatches)
      @volatile var error: Throwable = _
      val thread = new Thread(() => run(),
        s"$LanePrefix-$i ${new org.apache.hadoop.fs.Path(out.path()).getName}")
      thread.setDaemon(true)

      // consumes until End even after a failure, so the producer's
      // blocking put always returns
      private def run(): Unit =
        try {
          var b = queue.take()
          while (b ne End) {
            if (error == null && !aborted)
              try b.foreach(out.write) catch { case t: Throwable => error = t }
            b = queue.take()
          }
        } catch { case t: Throwable => if (error == null) error = t }
        finally
          try out.close() catch { case t: Throwable => if (error == null) error = t }

      def path: String = out.path()
    }

    private def sibling(i: Int): String = {
      val ext = inner.getFileExtension(context)
      s"${path.stripSuffix(ext)}-f$i$ext"
    }

    /** Takes lanes from the budget and starts them; none leaves the
      * writer inline for good.
      */
    private def startLanes(): Unit = {
      val k = Budget.take(slots, MaxLanes)
      val outs = scala.collection.mutable.ArrayBuffer.empty[OutputWriter]
      try (1 to k).foreach(i => outs += inner.newInstance(sibling(i), dataSchema, context))
      catch {
        case t: Throwable =>
          outs.foreach(o => try o.close() catch { case s: Throwable => t.addSuppressed(s) })
          Budget.give(k)
          throw t
      }
      lanes = outs.zipWithIndex.map { case (o, i) => new Lane(o, i + 1) }.toArray
      lanes.foreach(_.thread.start())
      if (k > 0) {
        println(s"[fanout] ${new org.apache.hadoop.fs.Path(path).getName}: $k lane(s) " +
          s"after $InlineRows rows")
        Option(TaskContext.get()).foreach(afterLanesStart)
      }
    }

    private def failIfLaneFailed(ls: Array[Lane]): Unit =
      ls.find(_.error != null).foreach { l =>
        throw new java.io.IOException(s"parquet fan-out lane writing ${l.path} failed", l.error)
      }

    private def dispatch(b: Array[InternalRow]): Unit = {
      failIfLaneFailed(lanes)
      lanes(next).queue.put(b)
      next = (next + 1) % lanes.length
    }

    override def write(row: InternalRow): Unit =
      if (lanes == null || lanes.isEmpty) {
        head.write(row)
        rows += 1
        if (rows == InlineRows && lanes == null) startLanes()
      } else {
        batch(fill) = row.copy()
        fill += 1
        if (fill == BatchRows) {
          dispatch(batch)
          batch = new Array[InternalRow](BatchRows)
          fill = 0
        }
      }

    /** Ends every lane, joins it and returns it to the budget. When
      * `aborted` (a failed task, or an interrupt here) the queued batches
      * are dropped: the task attempt's files are about to be deleted.
      */
    private def stopLanes(ls: Array[Lane]): Unit = {
      lanes = Array.empty
      def drop(): Unit = { aborted = true; ls.foreach { l => l.queue.clear(); l.queue.offer(End) } }
      if (aborted) drop()
      else try ls.foreach(_.queue.put(End)) catch {
        case _: InterruptedException => drop(); Thread.currentThread().interrupt()
      }
      var interrupted = false
      ls.foreach { l =>
        while (l.thread.isAlive)
          try l.thread.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
      Budget.give(ls.length)
    }

    override def close(): Unit =
      try {
        if (lanes != null && lanes.nonEmpty) {
          val ls = lanes
          try {
            if (Option(TaskContext.get()).exists(_.isFailed)) aborted = true
            else if (fill > 0) dispatch(java.util.Arrays.copyOf(batch, fill))
          } catch { case t: Throwable => aborted = true; throw t }
          finally stopLanes(ls)
          if (!aborted) failIfLaneFailed(ls)
        }
      } finally head.close()
  }
}
