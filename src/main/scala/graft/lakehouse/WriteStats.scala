package graft.lakehouse

import java.io.{ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Literal, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Write-task-side per-file statistics (Delta's WriteJobStatsTracker shape):
  * per-file min/max/nullCount/rowCount/byte-size/exact-SUM/Bloom numbers,
  * accumulated inside the write tasks themselves. This is the one stats
  * source of every staged commit ([[TableIO.writeStagedWithStats]]); the
  * read-back aggregation [[TableIO.collectFileStats]] derives the same
  * numbers from files already on disk (CONVERT) and is the reference the
  * specs compare this tracker against.
  *
  * Equivalence to the read-back aggregation (the stats are
  * correctness-bearing — manifest-answerable queries hash their values):
  *
  *   - min/max compare in SQL semantics (NaN greatest, -0.0 == 0.0 keeps
  *     the earlier value — the exact `least`/`greatest` accumulator rule,
  *     over the same row order the file scan replays);
  *   - the recorded strings come from evaluating Spark's own `Cast(_,
  *     StringType)` on the internal value, with the session timezone —
  *     bit-identical to `min(col).cast("string")`;
  *   - integral sums accumulate exactly (long with overflow escalation to
  *     BigInteger — the same values DECIMAL(38,0) summation yields);
  *   - Bloom bits hash `xxhash64(col)` with the XxHash64 expression
  *     itself, all Bloom columns in one generated projection (a null value
  *     hashes to the seed, as in the agg).
  *
  * Each stats column gets a per-file accumulator specialised to its
  * internal type (primitive long min, max and sum for the integral, date
  * and timestamp types, double and UTF8String min/max); Float, Boolean and
  * Decimal compare boxed values.
  *
  * The tracker is total: an error in it fails the write task, so the
  * commit aborts and removes its staging directory; no file ever commits
  * with stats from another source or without stats. */
private[lakehouse] object WriteStats {

  /** Serializable Hadoop Configuration carrier (Spark's own wrapper is
    * private[spark]; this is the standard extension-library pattern). */
  final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
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

  /** One staged file's raw stats, before JSON rendering. min/max are the
    * cast-to-string renderings (null = no non-null value seen); sums are
    * exact integral sums (null = all-null file). */
  final case class FileStatsRaw(
      rows: Long,
      mins: Array[String],
      maxs: Array[String],
      nullCounts: Array[Long],
      blooms: Array[Array[Byte]],
      bytes: Long,
      sums: Array[String])

  private final case class TaskStats(files: Seq[(String, FileStatsRaw)])
      extends WriteTaskStats

  /** One stats column's per-file accumulator: null count and min/max in
    * SQL comparison semantics (NaN greater than everything, -0.0 == 0.0,
    * so equal values keep the incumbent — the `least`/`greatest` rule). */
  private abstract class ColAcc {
    var nulls = 0L

    /** Fold in the non-null value at `ord`. */
    def add(row: InternalRow, ord: Int): Unit

    /** The internal min/max values (boxed; null = no non-null value seen). */
    def min: Any
    def max: Any

    /** The exact sum's rendering (null = not summed, or all-null file). */
    def sum: String = null
  }

  /** Byte, Short, Int, Long, Date and Timestamp, all held as a long; the
    * integral types also sum exactly (long with overflow escalation to
    * BigInteger — the same values DECIMAL(38,0) summation yields). */
  private final class IntegralAcc(dt: DataType) extends ColAcc {
    private val width = dt match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType | DateType => 4
      case _ => 8
    }
    private val summed = dt match {
      case DateType | TimestampType => false
      case _ => true
    }
    private var seen = false
    private var lo = 0L
    private var hi = 0L
    private var sumLong = 0L
    private var sumBig: java.math.BigInteger = null

    def add(row: InternalRow, ord: Int): Unit = {
      val v = width match {
        case 1 => row.getByte(ord).toLong
        case 2 => row.getShort(ord).toLong
        case 4 => row.getInt(ord).toLong
        case _ => row.getLong(ord)
      }
      if (!seen) { seen = true; lo = v; hi = v }
      else if (v < lo) lo = v
      else if (v > hi) hi = v
      if (summed) {
        if (sumBig == null) {
          val next = sumLong + v
          // overflow check (Math.addExact semantics without throw)
          if (((sumLong ^ next) & (v ^ next)) < 0)
            sumBig = java.math.BigInteger.valueOf(sumLong)
              .add(java.math.BigInteger.valueOf(v))
          else sumLong = next
        } else sumBig = sumBig.add(java.math.BigInteger.valueOf(v))
      }
    }

    /** Back to the type's own internal value, for rendering. */
    private def internal(x: Long): Any = width match {
      case 1 => x.toByte
      case 2 => x.toShort
      case 4 => x.toInt
      case _ => x
    }
    def min: Any = if (seen) internal(lo) else null
    def max: Any = if (seen) internal(hi) else null
    override def sum: String =
      if (!summed || !seen) null
      else if (sumBig != null) sumBig.toString
      else sumLong.toString
  }

  private final class DoubleAcc extends ColAcc {
    private var seen = false
    private var lo = 0.0
    private var hi = 0.0
    // `==` first: -0.0 == 0.0 keeps the incumbent; Double.compare then
    // orders NaN above everything
    def add(row: InternalRow, ord: Int): Unit = {
      val v = row.getDouble(ord)
      if (!seen) { seen = true; lo = v; hi = v }
      else {
        if (v != lo && java.lang.Double.compare(v, lo) < 0) lo = v
        if (v != hi && java.lang.Double.compare(v, hi) > 0) hi = v
      }
    }
    def min: Any = if (seen) lo else null
    def max: Any = if (seen) hi else null
  }

  private final class StringAcc extends ColAcc {
    private var lo: UTF8String = null
    private var hi: UTF8String = null
    // the row's string may point into a reused buffer: copy what is kept.
    // binaryCompare is the UTF-8 byte order compareTo delegates to, without
    // compareTo's per-call environment lookup
    def add(row: InternalRow, ord: Int): Unit = {
      val v = row.getUTF8String(ord)
      if (lo == null) { lo = v.clone(); hi = lo }
      else if (v.binaryCompare(lo) < 0) lo = v.clone()
      else if (v.binaryCompare(hi) > 0) hi = v.clone()
    }
    def min: Any = lo
    def max: Any = hi
  }

  /** Float, Boolean and Decimal: boxed values through a comparator. */
  private final class BoxedAcc(dt: DataType) extends ColAcc {
    private val cmp: (Any, Any) => Int = dt match {
      case BooleanType => (a, b) =>
        java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case FloatType => (a, b) => {
        val x = a.asInstanceOf[Float]; val y = b.asInstanceOf[Float]
        if (x == y) 0 else java.lang.Float.compare(x, y)
      }
      case _: DecimalType => (a, b) =>
        a.asInstanceOf[Decimal].compareTo(b.asInstanceOf[Decimal])
      case other => throw new IllegalArgumentException(
        s"no stats comparator for $other")
    }
    private var lo: Any = null
    private var hi: Any = null
    def add(row: InternalRow, ord: Int): Unit = {
      val v = row.get(ord, dt)
      if (lo == null) { lo = v; hi = v }
      else {
        if (cmp(v, lo) < 0) lo = v
        if (cmp(v, hi) > 0) hi = v
      }
    }
    def min: Any = lo
    def max: Any = hi
  }

  /** A fresh per-file accumulator for a stats column of type `dt`. */
  private def newColAcc(dt: DataType): ColAcc = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType
        | TimestampType => new IntegralAcc(dt)
    case DoubleType => new DoubleAcc
    case StringType => new StringAcc
    case other => new BoxedAcc(other)
  }

  /** The staged file's path relative to the staging root: everything after
    * the commit protocol's task-attempt directory
    * (`.../_temporary/<app>/_temporary/<attempt>/<rel>`). */
  private def relOf(path: String): String = {
    val segs = path.split('/')
    val i = segs.lastIndexWhere(_ == "_temporary")
    if (i < 0 || i + 2 >= segs.length) throw new IllegalStateException(
      s"staged file $path is not under a task-attempt directory")
    segs.drop(i + 2).mkString("/")
  }

  final class Tracker(
      schema: StructType,
      statsColNames: Seq[String],
      bloomColNames: Seq[String],
      zoneId: String,
      conf: SerializableConf) extends WriteJobStatsTracker {

    @volatile private var collected: Map[String, FileStatsRaw] = null

    /** Per staging-relative path, the raw stats of every file the write
      * tasks wrote. */
    def result: Map[String, FileStatsRaw] = {
      if (collected == null) throw new IllegalStateException(
        "the write job committed no task stats")
      collected
    }

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskTracker(schema, statsColNames, bloomColNames, zoneId, conf)

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      collected = stats.flatMap {
        case TaskStats(files) => files
        case other => throw new IllegalStateException(
          s"unexpected write task stats $other")
      }.toMap
  }

  private final class TaskTracker(
      schema: StructType,
      statsColNames: Seq[String],
      bloomColNames: Seq[String],
      zoneId: String,
      conf: SerializableConf) extends WriteTaskStatsTracker {

    private val n = statsColNames.length
    private val ords = statsColNames.map(schema.fieldIndex).toArray
    private val dts = ords.map(schema(_).dataType)
    // the integral stats columns' sums, in the order
    // [[TableIO.collectFileStats]] emits __sum_
    private val summed = dts.indices.filter(i => dts(i) match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    // every Bloom column's xxhash64 in one generated projection; seed 42 =
    // the xxhash64() SQL function's seed (what the read-back aggregation
    // hashes with)
    private val nBlooms = bloomColNames.length
    private val bloomHashes: UnsafeProjection =
      if (nBlooms == 0) null
      else UnsafeProjection.create(bloomColNames.map { name =>
        val ord = schema.fieldIndex(name)
        XxHash64(Seq(BoundReference(ord, schema(ord).dataType,
          nullable = schema(ord).nullable)), 42L)
      })
    private val bloomWordsLen = Bloom.DefaultBits >>> 6

    private final class FileAcc {
      var rows = 0L
      val cols: Array[ColAcc] = dts.map(newColAcc)
      val bloomWords: Array[Array[Long]] =
        Array.fill(nBlooms)(new Array[Long](bloomWordsLen))
      var bytes = 0L
    }

    private val files = mutable.LinkedHashMap.empty[String, FileAcc]
    private var currentPath: String = null
    private var current: FileAcc = null

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      current = new FileAcc
      currentPath = filePath
      files.put(filePath, current)
    }

    private def accOf(filePath: String): FileAcc =
      if (filePath == currentPath) current
      else files.getOrElse(filePath, throw new IllegalStateException(
        s"stats tracker: $filePath was never opened"))

    override def closeFile(filePath: String): Unit = {
      val p = new Path(filePath)
      accOf(filePath).bytes =
        p.getFileSystem(conf.value).getFileStatus(p).getLen
    }

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val acc = accOf(filePath)
      acc.rows += 1
      var i = 0
      while (i < n) {
        val ord = ords(i)
        val c = acc.cols(i)
        if (row.isNullAt(ord)) c.nulls += 1 else c.add(row, ord)
        i += 1
      }
      if (nBlooms > 0) {
        val hashes = bloomHashes(row)
        var b = 0
        while (b < nBlooms) {
          Bloom.add(acc.bloomWords(b), hashes.getLong(b))
          b += 1
        }
      }
    }

    /** Render an internal value with Spark's own string cast — identical to
      * `.cast("string")` in the read-back aggregation. */
    private def renderString(v: Any, dt: DataType): String =
      if (v == null) null
      else Cast(Literal(v, dt), StringType, Option(zoneId), EvalMode.LEGACY)
        .eval(null).asInstanceOf[UTF8String].toString

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskStats(files.toSeq.map { case (path, acc) =>
        val mins = Array.tabulate(n)(i => renderString(acc.cols(i).min, dts(i)))
        val maxs = Array.tabulate(n)(i => renderString(acc.cols(i).max, dts(i)))
        val nulls = acc.cols.map(_.nulls)
        val sums = summed.map(acc.cols(_).sum).toArray
        val blooms: Array[Array[Byte]] = acc.bloomWords.map { words =>
          val bb = java.nio.ByteBuffer.allocate(words.length * 8)
          words.foreach(bb.putLong)
          bb.array()
        }
        relOf(path) -> FileStatsRaw(acc.rows, mins, maxs, nulls, blooms,
          acc.bytes, sums)
      })
  }
}
