package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.json4s._

import graft.lakehouse.{Catalog, Joins, LakehouseProps, QueryApi, TableIO, Txn, Versioned}

/** commit_churn: one writer issues a seeded sequence of small commits
  * (append, merge upsert, rewrite and deletion-vector deletes, update, a
  * two-table transaction, change-feed apply, and compaction plus vacuum
  * once per cycle) against sf0.1-sized tables, with a read-your-writes
  * verify read after every commit. The verify reads take graft's read
  * paths in a seeded rotation: pruned range and point scans, SQL joined
  * with the customer dimension through `QueryApi`, a time-travel read of
  * the version before the commit, and `Joins.simpleMap` key substitution.
  * The verify reads and the final table states are compared with a
  * reference model replaying the same ops. */
final class Churn(ctx: Ctx) extends Workload {
  import ctx.formats
  private val spark = ctx.spark
  private val ops: IndexedSeq[JValue] = (ctx.plan \ "ops").extract[List[JValue]].toIndexedSeq
  private val updateSet = (ctx.plan \ "update_set").extract[Map[String, String]]
  private val warmup = ops.count(o => (o \ "cycle").extract[Int] < 0)
  private val perCycle = ops.count(o => (o \ "cycle").extract[Int] == 0)
  private val Tables = Seq("orders", "orders_replica", "txn_a", "txn_b")
  private var lh: LakehouseProps = _
  private var lastSync = 0L
  private var next = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  // per-commit counters for the traced window: (files added, log bytes)
  private val commitFiles = mutable.ArrayBuffer.empty[(Int, Long)]
  private var compactRewritten = 0L
  // the commits after the warm-up
  private var writes = new WriteLedger
  def ledger: WriteLedger = writes
  private val pruning = new Pruning

  private def dir(t: String) = Catalog.tablePath(lh, t)
  private def version(t: String) = Versioned.latestVersion(dir(t)).getOrElse(0L)
  private def batch(name: String): DataFrame =
    spark.read.parquet(ctx.input(s"batches/$name"))

  def setup(lakehouse: LakehouseProps): Unit = {
    lh = lakehouse
    next = 0
    val base = spark.read.parquet(ctx.input("orders.parquet"))
    TableIO.writeTable(spark, lh, "orders", base,
      sortBy = Seq("o_orderkey"), bloomFilterFor = Seq("o_orderkey"))
    TableIO.enableChangeFeed(spark, lh, "orders")
    lastSync = version("orders")
    TableIO.writeTable(spark, lh, "orders_replica", base, sortBy = Seq("o_orderkey"))
    Seq("txn_a", "txn_b").foreach(t => TableIO.writeTable(spark, lh, t, base.limit(0)))
    TableIO.writeTable(spark, lh, "customer", spark.read.parquet(ctx.input("customer.parquet")))
    // warm-up: the plan's warm-up ops (checked like the rest)
    (0 until warmup).foreach(runOp)
    next = warmup
    writes = new WriteLedger
  }

  /** Cycles run in plan order whatever number is asked for: the ops are
    * stateful, so the loop continues where the last one stopped. */
  def cycle(c: Int): Unit = {
    require(next + perCycle <= ops.size, "churn plan exhausted: generate more cycles")
    (next until next + perCycle).foreach(runOp)
    next += perCycle
  }

  private def runOp(i: Int): Unit = {
    val op = ops(i)
    val kind = (op \ "kind").extract[String]
    val lo = (op \ "lo").extractOpt[Long].getOrElse(0L)
    val hi = (op \ "hi").extractOpt[Long].getOrElse(0L)
    val touched = kind match {
      case "txn" => Seq("txn_a", "txn_b")
      case "apply_changes" => Seq("orders_replica")
      case _ => Seq("orders")
    }
    val before = touched.map(version)
    val batches = kind match {
      case "append" | "merge" => Seq((op \ "batch").extract[String])
      case "txn" => Seq((op \ "batch_a").extract[String], (op \ "batch_b").extract[String])
      case _ => Nil
    }
    val batchBytes = batches.map(b => Disk.bytesUnder(Paths.get(ctx.input(s"batches/$b")))).sum
    val (rec, added) = writes.around(lh, batchBytes)(ctx.run(i, kind, primary = true) {
      kind match {
        case "append" =>
          Trace.span("TableIO.appendTable")(TableIO.appendTable(spark, lh, "orders", batch(batches.head)))
        case "merge" =>
          Trace.span("TableIO.mergeTable") {
            TableIO.mergeTable(spark, lh, "orders", batch(batches.head), Seq("o_orderkey"))
          }
        case "delete" =>
          Trace.span("TableIO.deleteFromTable") {
            TableIO.deleteFromTable(spark, lh, "orders", s"o_orderkey BETWEEN $lo AND $hi")
          }
        case "delete_dv" =>
          Trace.span("TableIO.deleteFromTable.dv") {
            TableIO.deleteFromTable(spark, lh, "orders", s"o_orderkey BETWEEN $lo AND $hi",
              deletionVectors = true)
          }
        case "update" =>
          Trace.span("TableIO.updateTable") {
            TableIO.updateTable(spark, lh, "orders", s"o_orderkey BETWEEN $lo AND $hi", updateSet)
          }
        case "txn" =>
          Trace.span("Transactions.commit") {
            val h = Txn.begin(lh)
            Txn.writeAll(h, spark, lh, Seq("txn_a" -> batch(batches(0)), "txn_b" -> batch(batches(1))))
            Txn.commit(h)
          }
        case "apply_changes" =>
          val until = version("orders")
          val feed = Trace.span("TableIO.readChangeFeed") {
            TableIO.readChangeFeed(spark, lh, "orders", lastSync)
          }
          Trace.span("TableIO.applyChanges") {
            TableIO.applyChanges(spark, lh, "orders_replica", feed, Seq("o_orderkey"))
          }
          lastSync = until
        case "compact" =>
          val rewritten = if (Trace.isOn) Disk.bytesUnder(Paths.get(dir("orders"))) else 0L
          Trace.span("TableIO.compactTable")(TableIO.compactTable(spark, lh, "orders"))
          compactRewritten += rewritten
      }
      Nil
    })
    val after = touched.map(version)
    if (rec.ok && after != before.map(_ + 1))
      failures += s"op $i ($kind): versions $before -> $after, expected exactly one new version each"
    if (kind == "compact") {
      lastSync = version("orders")
      ctx.run(i, "vacuum", primary = false) {
        Trace.span("Versioned.vacuum")(Tables.foreach(t => Versioned.vacuum(dir(t), retainAgeMs = 0L)))
        Nil
      }
    }
    if (Trace.isOn) touched.foreach { t =>
      // paths are <table>/<file>; the log and sidecars start with `_`
      val mine = added.collect { case (p, size) if p.startsWith(s"$t/") => p.stripPrefix(s"$t/") -> size }
      val data = mine.count { case (p, _) => p.endsWith(".parquet") && !p.contains("/_") && !p.startsWith("_") }
      val log = mine.collect { case (p, size) if p.startsWith("_") => size }.sum
      commitFiles += ((data, log))
    }
    // read-your-writes verify read of what the commit touched, through
    // the read path the plan names for this op
    val v = op \ "verify"
    val how = (v \ "how").extract[String]
    val table = (v \ "table").extract[String]
    val vlo = (v \ "lo").extractOpt[Long].getOrElse(0L)
    val vhi = (v \ "hi").extractOpt[Long].getOrElse(0L)
    val tableBefore = touched.zip(before).toMap.getOrElse(table, 0L)
    ctx.run(i, "verify_read", primary = false)(verify(how, table, vlo, vhi, tableBefore))
  }

  private def rangeCond(lo: Long, hi: Long) = s"o_orderkey BETWEEN $lo AND $hi"

  private def verify(how: String, table: String, lo: Long, hi: Long,
      before: Long): Seq[java.lang.Long] = how match {
    case "full" =>
      ctx.fingerprint(Trace.span("TableIO.readTable")(TableIO.readTable(spark, lh, table)),
        ctx.fpExprs("orders"))
    case "range" =>
      val df = Trace.span("TableIO.prunedScanRanges") {
        TableIO.prunedScanRanges(spark, lh, table, Seq(("o_orderkey", Some(lo), Some(hi))))
      }
      pruning.note(lh, table, df)
      ctx.fingerprint(df, ctx.fpExprs("orders"))
    case "point" =>
      val df = Trace.span("TableIO.prunedScanEq")(TableIO.prunedScanEq(spark, lh, table, "o_orderkey", lo))
      pruning.note(lh, table, df)
      ctx.fingerprint(df, ctx.fpExprs("orders"))
    case "time_travel" =>
      val df = Trace.span("TableIO.selectTableVersion") {
        TableIO.selectTableVersion(spark, lh, table, before)
      }.where(rangeCond(lo, hi))
      ctx.fingerprint(df, ctx.fpExprs("orders"))
    case "sql" =>
      val dfs = Seq(table, "customer").map(t =>
        Trace.span("TableIO.readTable")(TableIO.readTable(spark, lh, t)))
      val sql = (ctx.plan \ "verify_sql").extract[String].replace("{lo}", lo.toString)
        .replace("{hi}", hi.toString)
      val df = Trace.span("QueryApi.sqlQueryDataFrame") {
        QueryApi.sqlQueryDataFrame(spark, dfs, Seq("orders_v", "customer"), sql)
      }
      ctx.fingerprint(df, ctx.fpExprs("orders_sql"))
    case "simple_map" =>
      val fact = Trace.span("TableIO.readTable") {
        TableIO.readTable(spark, lh, table, condition = rangeCond(lo, hi))
      }
      val dim = Trace.span("TableIO.readTable")(TableIO.readTable(spark, lh, "customer"))
        .selectExpr((ctx.plan \ "customer_sk").extract[Seq[String]]: _*)
      val mapped = Trace.span("Joins.simpleMap")(Joins.simpleMap(fact, dim, "o_custkey"))
      try ctx.fingerprint(mapped, ctx.fpExprs("orders_mapped"))
      finally mapped.unpersist()
  }

  /** Final table states, fingerprinted for the reference model. */
  def finalState(): Map[String, Seq[java.lang.Long]] =
    Tables.map(t => t -> ctx.fingerprint(TableIO.readTable(spark, lh, t), ctx.fpExprs("orders"))).toMap

  def opsDone: Int = next

  def check(): Seq[String] = failures.toList

  def layerMetrics(): Map[String, Double] = {
    val liveFiles = Versioned.latestVersion(dir("orders"))
      .flatMap(Versioned.readManifest(dir("orders"), _)).map(_.entries.size).getOrElse(0)
    val n = math.max(commitFiles.size, 1).toDouble
    Map(
      "commit.files_added" -> commitFiles.map(_._1).sum / n,
      "Versioned.log_bytes_per_commit" -> commitFiles.map(_._2).sum / n,
      "TableIO.compact_bytes_rewritten" -> compactRewritten.toDouble,
      "TableIO.live_files_end" -> liveFiles.toDouble,
      "TableIO.files_pruned_frac" -> pruning.frac)
  }
}
