package graft.lake

import scala.collection.mutable

import graft.lake.Manifest.ColStats
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, RowOrdering}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file manifest stats taken by the write job's own tasks — the
  * writer-side stats Seafowl puts on each Delta `Add` action (reference
  * `src/context/delta.rs:92-267`), through the hook Spark's
  * `BasicWriteJobStatsTracker` and delta-spark's statistics tracker use.
  * Every task keeps one accumulator per file it writes: record count, and per
  * statable column the null count and the min/max under
  * `PhysicalDataType.ordering` — the ordering `Min`/`Max` use, so NaN
  * (greatest), ±0.0 (equal; the first seen is kept, as `Least`/`Greatest`
  * keep it) and string collations agree with a `min`/`max` aggregate over
  * the written file. Bounds are encoded on the driver by [[encode]]. */
object FileStats {

  /** Columns whose files carry min/max/nullCount: orderable, non-binary
    * leaf types. */
  def isStatable(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType | NullType | BinaryType => false
    case _ => RowOrdering.isOrderable(dt)
  }

  /** A bound as the manifest spells it: TIMESTAMP as micros since the
    * epoch, TIMESTAMP_NTZ as its micros read as if UTC (the value NTZ
    * literals carry), DATE as epoch days, every other type as its cast to
    * STRING. Both timestamp types hold exactly those micros internally. */
  def encode(v: Any, dt: DataType): Option[String] = Option(v).map { x =>
    dt match {
      case TimestampType | TimestampNTZType | DateType => x.toString
      case _ => Cast(Literal(x, dt), StringType, Some(SQLConf.get.sessionLocalTimeZone))
        .eval().toString
    }
  }

  /** One written file: its name (the last path segment, which the commit
    * protocol keeps when it moves the file into place), record count, and
    * per statable column the raw bounds and null count. */
  final case class Written(name: String, numRecords: Long,
                           mins: Array[Any], maxs: Array[Any], nulls: Array[Long])

  final case class TaskFiles(files: Seq[Written]) extends WriteTaskStats

  /** Job-side tracker for one write of `schema`-shaped rows. After the
    * job commits, [[files]] holds every file the successful task attempts
    * wrote, empty ones included. */
  final class Tracker(schema: StructType) extends WriteJobStatsTracker {
    private val statable = schema.fields.filter(f => isStatable(f.dataType))
    private val ordinals = statable.map(f => schema.fieldIndex(f.name))

    @transient private var collected: Seq[Written] = Nil

    def files: Seq[Written] = collected

    /** Manifest stats of one written file, keyed by column name. */
    def stats(w: Written): Map[String, ColStats] =
      statable.indices.map { i =>
        val dt = statable(i).dataType
        statable(i).name -> ColStats(encode(w.mins(i), dt), encode(w.maxs(i), dt), w.nulls(i))
      }.toMap

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskTracker(ordinals, statable.map(_.dataType))

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      collected = stats.flatMap(_.asInstanceOf[TaskFiles].files)
  }

  private final class FileAcc(n: Int) {
    var rows = 0L
    val mins = new Array[Any](n)
    val maxs = new Array[Any](n)
    val nulls = new Array[Long](n)
  }

  /** A task's files. The writer has no partition columns, so a task has
    * one file open at a time and every row belongs to the newest. */
  private final class TaskTracker(ordinals: Array[Int], types: Array[DataType])
      extends WriteTaskStatsTracker {
    private val n = ordinals.length
    private val orderings = types.map(PhysicalDataType.ordering)
    private val getters = types.map(InternalRow.getAccessor(_, nullable = false))
    private val files = mutable.ArrayBuffer[(String, FileAcc)]()
    private var cur: FileAcc = _

    // Spark reuses row buffers: a kept bound must own its bytes
    private def own(v: Any): Any = v match {
      case s: UTF8String => s.copy()
      case d: Decimal => d.clone()
      case x => x
    }

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      cur = new FileAcc(n)
      files += filePath -> cur
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val acc = cur
      acc.rows += 1
      var i = 0
      while (i < n) {
        val o = ordinals(i)
        if (row.isNullAt(o)) acc.nulls(i) += 1
        else {
          val v = getters(i)(row, o)
          val mn = acc.mins(i)
          if (mn == null || orderings(i).lt(v, mn)) acc.mins(i) = own(v)
          val mx = acc.maxs(i)
          if (mx == null || orderings(i).gt(v, mx)) acc.maxs(i) = own(v)
        }
        i += 1
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(files.toSeq.map { case (p, a) =>
        Written(p.substring(p.lastIndexOf('/') + 1), a.rows, a.mins, a.maxs, a.nulls)
      })
  }
}
