package graft.meta

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Per-task state side-files: the fused sweep emits each slice's
  * conversation-state delta — one row per conversation — as a side
  * product of the gold-write tasks themselves, instead of a separate
  * post-write aggregate job over the written files.
  *
  * Why: the state-delta aggregate was a ~2-3.5 s/slice FIXED job at 16
  * cores (scan + shuffle + write scheduling) — pure Amdahl residue
  * that caps N->4N scaling. The sweep already streams every
  * conversation's rows in sorted order and knows, at conversation end,
  * exactly what the aggregate recomputed: the last accepted row's
  * (ts, turn_idx, role, session). Emitting it inline costs O(1) per
  * row.
  *
  * Format: PARQUET, written task-side through Spark's own
  * `ParquetWriteSupport` (InternalRow -> parquet; the class is public
  * API of the spark-sql jar). The first cut used JSON-lines gzip —
  * at 20M conversations the delta chain is tens of millions of rows,
  * and parsing that much JSON on every chain read cost ~17 s in the
  * scaling bench's as-of dispatch alone; parquet keeps chain reads
  * columnar-fast and lets the heavy-path aggregate append into the
  * SAME directory with the same format.
  *
  * Files have DETERMINISTIC names (`part-<partitionId>.parquet`): a
  * task retry overwrites its own file with identical content (the
  * sweep input partition is a deterministic sort of a hash
  * partition). The driver pre-clears the slice's delta dir before
  * each write attempt, so files from a failed attempt with different
  * routing/partitioning never survive. Like the v2 output committer
  * the data write uses in bench mode, this assumes no task
  * SPECULATION (two attempts racing one path) — speculation is off by
  * default and incompatible with v2 commits anyway.
  */
final case class StateSideSink(dir: String, conf: SerializableHadoopConf)

/** Minimal serializable Hadoop Configuration carrier (the stock class
  * is not Serializable; Configuration implements Writable).
  */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[meta] object StateSideWriter {
  /** ParquetWriter.Builder plumbing for InternalRow payloads. */
  final class RowWriterBuilder(path: org.apache.hadoop.fs.Path)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}

/** One sweep task's side-file writer. Opened lazily on the first state
  * row (empty partitions create no file); closed by a task-completion
  * listener (commits the parquet footer on success; a failed task's
  * partial is overwritten on retry). `latestRow` is the gold row type
  * the sweep emits: the type of the `latest` column.
  */
final class StateSideWriter(sink: StateSideSink, latestRow: StructType) {
  private var out: ParquetWriter[InternalRow] = _

  /** Write one conversation's state row: its last accepted row's
    * (ts, turn_idx, role) and session counter, and `latest`, its
    * newest emitted gold row by (ts, turn_idx).
    */
  def writeState(convId: UTF8String, lastTsUs: Long, lastTurn: Int,
      lastRole: UTF8String, sessions: Int, latest: InternalRow): Unit = {
    ensureOpen()
    out.write(new GenericInternalRow(
      Array[Any](convId, lastTsUs, lastTurn, lastRole, sessions, latest)))
  }

  private def ensureOpen(): Unit =
    if (out == null) {
      val pid = TaskContext.getPartitionId()
      val p = new org.apache.hadoop.fs.Path(f"${sink.dir}%s/part-$pid%05d.parquet")
      // a private conf copy per writer: setSchema mutates it
      val conf = new Configuration(sink.conf.value)
      ParquetWriteSupport.setSchema(Checkpoint.sideFileSchema(latestRow), conf)
      // ParquetWriteSupport/SparkToParquetSchemaConverter read these
      // SQLConf keys from the Configuration with NO defaults (the
      // normal write path copies them in via prepareWrite)
      conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      conf.set("spark.sql.parquet.writeLegacyFormat", "false")
      conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "true")
      conf.set("spark.sql.session.timeZone", "UTC")
      conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
      out = new StateSideWriter.RowWriterBuilder(p)
        .withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    }

  def close(): Unit =
    if (out != null) { out.close(); out = null }
}
