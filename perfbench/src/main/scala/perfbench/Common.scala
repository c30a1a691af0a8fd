package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.lakehouse.LakehouseProps

/** One timed benchmark operation as the client saw it. `primary` ops are
  * the ones the workload's latency and throughput metrics are over (reads
  * on lakehouse_scan, commits on commit_churn, pipeline passes on
  * corpus_pipeline); the rest (verify reads, vacuum) still take time in
  * the closed loop. `idx` is the op's index in the seeded plan. */
final case class OpRecord(idx: Int, kind: String, primary: Boolean,
    phase: String, startMs: Double, endMs: Double, ok: Boolean,
    error: String, fp: Seq[java.lang.Long], span: Int) {
  def ms: Double = endMs - startMs
}

/** A workload: build its tables, run one cycle of seeded ops, check the
  * outputs after the loop, and report its own write amplification and
  * per-layer counters. */
trait Workload {
  /** Build the tables under `lh` and run the warm-up ops. */
  def setup(lh: LakehouseProps): Unit
  /** Run plan cycle `cycle` against the tables built by the last setup. */
  def cycle(cycle: Int): Unit
  /** Output checks after the loop; each returned string is one failure. */
  def check(): Seq[String]
  /** Workload-specific per-layer counters of the traced cycles. */
  def layerMetrics(): Map[String, Double]
  /** The workload's measured writes. */
  def ledger: WriteLedger
}

final class Ctx(val spark: SparkSession, val plan: JValue, val workDir: Path) {
  implicit val formats: Formats = DefaultFormats
  val inDir: Path = workDir.resolve("in")
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var phase = "setup"

  def lakehouse(name: String): LakehouseProps = {
    val root = workDir.resolve(name)
    Files.createDirectories(root)
    LakehouseProps("perfbench", name, name, "benchmark lakehouse", root.toString)
  }

  def input(name: String): String = inDir.resolve(name).toString

  def cfgInt(key: String): Int = (plan \ "config" \ key).extract[Int]

  /** Run one op: times it, opens its `op.<kind>` span and records the
    * result. A thrown exception is a failed op; the loop goes on. */
  def run(idx: Int, kind: String, primary: Boolean)(body: => Seq[java.lang.Long]): OpRecord = {
    Trace.op(idx)
    var spanId = 0
    val start = Trace.nowMs
    val (ok, err, fp) =
      try {
        val r = Trace.span(s"op.$kind") {
          spanId = Trace.current
          body
        }
        (true, "", r)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          (false, msg.take(300), Nil)
      }
    val end = Trace.nowMs
    val rec = OpRecord(idx, kind, primary, phase, start, end, ok, err, fp, spanId)
    records += rec
    rec
  }

  /** Order-independent fingerprint of `df`: integer aggregates `exprs`,
    * one action; null where an aggregate is SQL NULL. */
  def fingerprint(df: DataFrame, exprs: Seq[String]): Seq[java.lang.Long] =
    Trace.span("Spark.collect") {
      val row = df.selectExpr(exprs: _*).collect()(0)
      (0 until row.length).map(i =>
        if (row.isNullAt(i)) null else java.lang.Long.valueOf(row.get(i).asInstanceOf[Number].longValue()))
    }

  def fpExprs(name: String): Seq[String] =
    (plan \ "fingerprints" \ name).extract[Seq[String]]
}

/** Traced runs only: files each pruned scan reads vs the table's live
  * files, summed over the window. */
final class Pruning {
  private var read = 0L
  private var live = 0L

  def note(lh: LakehouseProps, table: String, df: DataFrame): Unit =
    if (Trace.isOn) {
      val dir = graft.lakehouse.Catalog.tablePath(lh, table)
      live += graft.lakehouse.Versioned.latestVersion(dir)
        .flatMap(graft.lakehouse.Versioned.readManifest(dir, _)).map(_.entries.size).getOrElse(0)
      read += df.inputFiles.length
    }

  def frac: Double = if (live == 0) 0.0 else 1.0 - read.toDouble / live
}

object Json {
  def write(path: Path, v: AnyRef): Unit =
    Files.write(path, org.json4s.jackson.Serialization.write(v)(DefaultFormats).getBytes("UTF-8"))
}

object Disk {
  /** Total bytes of regular files under `dir` (0 when absent). */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Paths (relative to `dir`) and sizes of regular files under `dir`. */
  def listFiles(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try {
        val out = mutable.Map.empty[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(p =>
          out(dir.relativize(p).toString) = Files.size(p))
        out.toMap
      } finally s.close()
    }

  /** Bytes on disk under `lh`'s table dirs ÷ bytes of the files their
    * latest versions reference. */
  def spaceAmp(lh: LakehouseProps): Double = {
    val dirs = graft.lakehouse.Catalog.getTables(lh).map(graft.lakehouse.Catalog.tablePath(lh, _))
    val live = dirs.map { d =>
      graft.lakehouse.Versioned.latestVersion(d).flatMap(graft.lakehouse.Versioned.readManifest(d, _))
        .map(_.files.map(f => Paths.get(d).resolve(f)).filter(Files.exists(_)).map(Files.size).sum)
        .getOrElse(0L)
    }.sum
    if (live == 0) 0.0 else dirs.map(d => bytesUnder(Paths.get(d))).sum.toDouble / live
  }
}

/** Write and space amplification of the measured writes. */
final class WriteLedger {
  private var written = 0L
  private var input = 0L
  private val space = mutable.ArrayBuffer.empty[Double]

  /** Runs `body`, a write of `inputBytes` of data, and returns its result
    * with the files it added or changed under `lh`'s table dirs. The
    * listings fall outside any op's timing. */
  def around[T](lh: LakehouseProps, inputBytes: Long)(body: => T): (T, Map[String, Long]) = {
    val before = Disk.listFiles(lh.tablesPath)
    val r = body
    val added = Disk.listFiles(lh.tablesPath).filter { case (p, size) => !before.get(p).contains(size) }
    written += added.values.sum
    input += inputBytes
    space += Disk.spaceAmp(lh)
    (r, added)
  }

  /** Bytes of the files the writes add or rewrite under the table dirs ÷
    * bytes of the data they bring in, as parquet. */
  def writeAmp: Double = if (input == 0) 0.0 else written.toDouble / input

  /** `Disk.spaceAmp` after each write, averaged over the writes. */
  def spaceAmp: Double = if (space.isEmpty) 0.0 else space.sum / space.size
}
