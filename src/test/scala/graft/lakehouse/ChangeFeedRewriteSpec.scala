package graft.lakehouse

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The change-feed rewrite paths — rewrite-mode DELETE, UPDATE, MERGE and
  * a CDC apply into a feed-enabled replica — each stage exactly the
  * expected change rows, leave no cached frame behind, and read the
  * affected files themselves instead of caching them: an UPDATE's sidecar
  * is one filtered scan of the affected files, with no cached relation. */
class ChangeFeedRewriteSpec extends SparkSuite with Eventually {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("cdf_rewrite").toString
    Catalog.registerLocalWorkspace(dir, "ws_cdfr", "lh_cdfr").lakehouses.head
  }

  private def latest(table: String): Long =
    Versioned.latestVersion(Catalog.tablePath(lh, table)).get

  /** Run one commit on `table`; return its change rows (k, v, type),
    * sorted, after checking it added one version and kept no cached
    * frame. */
  private def changesOf(table: String)(commit: => Unit)
      : Seq[(Int, Double, String)] = {
    val before = latest(table)
    val cached = spark.sparkContext.getPersistentRDDs.size
    commit
    assert(spark.sparkContext.getPersistentRDDs.size == cached,
      s"$table: the commit left a persisted frame behind")
    val v = latest(table)
    assert(v > before)
    val rows = TableIO.readChangeFeed(spark, lh, table, before)
      .select("k", "v", "_change_type", "_commit_version").collect()
    assert(rows.forall(_.getLong(3) == v))
    rows.map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq.sorted
  }

  /** The file and cached-relation scans in `plan`, through AQE. */
  private def scans(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case m: InMemoryTableScanExec => Seq(m)
    case other => other.children.flatMap(scans)
  }

  test("delete, update, merge and CDC apply stage exactly their change " +
      "rows; an UPDATE's sidecar scans the affected files once") {
    val initial = (1 to 6).map(k => (k, k * 10.0))
    Seq("cdfr", "cdfr_replica").foreach { t =>
      TableIO.writeTable(spark, lh, t, initial.toDF("k", "v").repartition(3))
      TableIO.enableChangeFeed(spark, lh, t)
    }
    val v0 = latest("cdfr")

    assert(changesOf("cdfr") {
      TableIO.deleteFromTable(spark, lh, "cdfr", "k = 2")
    } == Seq((2, 20.0, "delete")))

    val sidecarPlans =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = qe.logical match {
        case w: InsertIntoHadoopFsRelationCommand
            if w.outputPath.getName.startsWith("_cdf_") =>
          sidecarPlans.add(qe.executedPlan)
        case _ =>
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val updated = try {
      val rows = changesOf("cdfr") {
        TableIO.updateTable(spark, lh, "cdfr", "k IN (3, 4)",
          Map("v" -> "v + 1"))
      }
      // the listener bus is asynchronous
      eventually(timeout(Span(20, Seconds)))(assert(!sidecarPlans.isEmpty))
      rows
    } finally spark.listenerManager.unregister(listener)
    assert(updated == Seq(
      (3, 30.0, "update_preimage"), (3, 31.0, "update_postimage"),
      (4, 40.0, "update_preimage"), (4, 41.0, "update_postimage")))
    assert(sidecarPlans.size == 1)
    val sidecarScans = scans(sidecarPlans.peek())
    assert(sidecarScans.size == 1 &&
      sidecarScans.head.isInstanceOf[FileSourceScanExec],
      s"UPDATE sidecar scans: ${sidecarScans.map(_.nodeName)}")

    assert(changesOf("cdfr") {
      TableIO.mergeTable(spark, lh, "cdfr",
        Seq((1, 11.0), (7, 70.0)).toDF("k", "v"), Seq("k"))
    } == Seq(
      (1, 10.0, "update_preimage"), (1, 11.0, "update_postimage"),
      (7, 70.0, "insert")))

    assert(changesOf("cdfr_replica") {
      TableIO.applyChanges(spark, lh, "cdfr_replica",
        TableIO.readChangeFeed(spark, lh, "cdfr", v0), Seq("k"))
    } == Seq(
      (1, 10.0, "update_preimage"), (1, 11.0, "update_postimage"),
      (2, 20.0, "delete"),
      (3, 30.0, "update_preimage"), (3, 31.0, "update_postimage"),
      (4, 40.0, "update_preimage"), (4, 41.0, "update_postimage"),
      (7, 70.0, "insert")))
    val state = TableIO.selectTable(spark, lh, "cdfr_replica")
      .as[(Int, Double)].collect().toSeq.sorted
    assert(state == TableIO.selectTable(spark, lh, "cdfr")
      .as[(Int, Double)].collect().toSeq.sorted)
    Seq("cdfr", "cdfr_replica").foreach(TableIO.dropTable(spark, lh, _))
  }
}
