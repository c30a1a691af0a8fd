package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.json4s._

import graft.lakehouse.{Catalog, Joins, LakehouseProps, QueryApi, TableIO, Versioned}

/** lakehouse_scan: read-only, data-parallel. Star joins through
  * `QueryApi.sqlQueryDataFrame`, point and range lookups through
  * `TableIO.prunedScanEq` / `prunedScanRanges`, time-travel reads through
  * `TableIO.selectTableVersion` and star-key substitution through
  * `Joins.simpleMap`, over key-offset replicas of a sf0.1-shaped star
  * schema. One cycle runs one op of each kind from the seeded pool. */
final class Scan(ctx: Ctx) extends Workload {
  import ctx.formats
  private val spark = ctx.spark
  private val ops: IndexedSeq[JValue] = (ctx.plan \ "ops").extract[List[JValue]].toIndexedSeq
  private val kinds = 5
  private val pool = ops.size / kinds
  private val ttFilters = (ctx.plan \ "tt_filters").extract[Seq[String]]
  private var lh: LakehouseProps = _
  private var ttVersion = Map.empty[Int, Long]
  private val pruning = new Pruning
  // the only writes are the set-up's table build
  val ledger = new WriteLedger
  private val FactTables = Seq("lineitem", "orders", "customer", "part", "nation", "region")

  // Small read splits stand in for a larger table: every ~1 MB of a file
  // is its own task, so scans run as multi-task jobs at this input size.
  spark.conf.set("spark.sql.files.maxPartitionBytes", ctx.cfgInt("split_bytes").toString)

  private def in(t: String): DataFrame = spark.read.parquet(ctx.input(s"$t.parquet"))

  def setup(lakehouse: LakehouseProps): Unit = {
    lh = lakehouse
    val inputBytes = FactTables.map(t => Disk.bytesUnder(Paths.get(ctx.input(s"$t.parquet")))).sum
    ledger.around(lh, inputBytes)(build())
    // warm-up: one op of each kind
    cycle(0)
  }

  private def build(): Unit = {
    TableIO.writeTable(spark, lh, "lineitem", in("lineitem"),
      sortBy = Seq("l_orderkey"), bloomFilterFor = Seq("l_orderkey"))
    TableIO.writeTable(spark, lh, "orders", in("orders"),
      zorderBy = Seq("o_custkey", "o_totalprice"), bloomFilterFor = Seq("o_orderkey"))
    Seq("customer", "part", "nation", "region").foreach(t =>
      TableIO.writeTable(spark, lh, t, in(t)))
    val orders = in("orders")
    ttVersion = ttFilters.zipWithIndex.map { case (f, i) =>
      TableIO.writeTable(spark, lh, "orders_tt", orders.where(f))
      (i + 1) -> Versioned.latestVersion(Catalog.tablePath(lh, "orders_tt")).get
    }.toMap
  }

  def cycle(c: Int): Unit = {
    val base = (c % pool) * kinds
    (base until base + kinds).foreach(i => runOp(i, ops(i)))
  }

  private def read(t: String): DataFrame =
    Trace.span("TableIO.readTable")(TableIO.readTable(spark, lh, t))

  private def runOp(i: Int, op: JValue): Unit = {
    val kind = (op \ "kind").extract[String]
    ctx.run(i, kind, primary = true) {
      kind match {
        case "star_join" =>
          val dfs = FactTables.map(read)
          val sql = (ctx.plan \ "star_sql").extract[String]
            .replace("{region}", (op \ "region").extract[String])
            .replace("{d1}", (op \ "d1").extract[String])
            .replace("{d2}", (op \ "d2").extract[String])
          val df = Trace.span("QueryApi.sqlQueryDataFrame") {
            QueryApi.sqlQueryDataFrame(spark, dfs, FactTables, sql)
          }
          ctx.fingerprint(df, ctx.fpExprs("star"))
        case "point" =>
          val key = (op \ "key").extract[Long]
          val df = Trace.span("TableIO.prunedScanEq") {
            TableIO.prunedScanEq(spark, lh, "lineitem", "l_orderkey", key)
          }
          pruning.note(lh, "lineitem", df)
          ctx.fingerprint(df, ctx.fpExprs("lineitem"))
        case "range" =>
          val table = (op \ "table").extract[String]
          val ranges = (op \ "ranges").extract[List[List[JValue]]].map {
            case List(JString(c), lo, hi) => (c, Some(num(lo)), Some(num(hi)))
            case other => throw new IllegalArgumentException(s"bad range $other")
          }
          val df = Trace.span("TableIO.prunedScanRanges") {
            TableIO.prunedScanRanges(spark, lh, table, ranges)
          }
          pruning.note(lh, table, df)
          ctx.fingerprint(df, ctx.fpExprs(table))
        case "time_travel" =>
          val v = ttVersion((op \ "version").extract[Int])
          val df = Trace.span("TableIO.selectTableVersion") {
            TableIO.selectTableVersion(spark, lh, "orders_tt", v)
          }
          ctx.fingerprint(df, ctx.fpExprs("orders"))
        case "simple_map" =>
          val (lo, hi) = ((op \ "lo").extract[Long], (op \ "hi").extract[Long])
          val fact = Trace.span("TableIO.readTable") {
            TableIO.readTable(spark, lh, "lineitem", condition = s"l_orderkey BETWEEN $lo AND $hi")
          }
          val dim = read("part")
            .selectExpr("p_partkey * 10 + p_size % 10 AS p_sk", "p_partkey AS l_partkey")
          val mapped = Trace.span("Joins.simpleMap")(Joins.simpleMap(fact, dim, "l_partkey"))
          try ctx.fingerprint(mapped, ctx.fpExprs("mapped"))
          finally mapped.unpersist()
      }
    }
  }

  private def num(v: JValue): Any = v match {
    case JInt(x) => x.toLong
    case JLong(x) => x
    case JDouble(x) => x
    case JDecimal(x) => x.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def check(): Seq[String] = Nil // fingerprints are compared with DuckDB's answers

  def layerMetrics(): Map[String, Double] = {
    val liveFiles = Seq("lineitem", "orders").map { t =>
      val dir = Catalog.tablePath(lh, t)
      Versioned.latestVersion(dir).flatMap(Versioned.readManifest(dir, _))
        .map(_.entries.size).getOrElse(0)
    }.sum
    Map(
      "TableIO.files_pruned_frac" -> pruning.frac,
      "TableIO.live_files_end" -> liveFiles.toDouble)
  }
}
