package graft.lakehouse

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Change-feed commits at their job floor: each rewrite commit's change
  * rows are staged beside its data, so no Spark job runs between claim and
  * marker; sidecars are read without a schema-inference job; and the feed
  * each commit kind records stays row for row what it was. */
class ChangeFeedCommitSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("cdf_commit").toString
    Catalog.registerLocalWorkspace(dir, "ws_cdfc", "lh_cdfc").lakehouses.head
  }

  private def latest(t: String): Long =
    Versioned.latestVersion(Catalog.tablePath(lh, t)).get

  private def cdfTable(t: String, rows: Seq[(Int, Double)]): Unit = {
    TableIO.writeTable(spark, lh, t, rows.toDF("k", "v").repartition(2))
    TableIO.enableChangeFeed(spark, lh, t)
  }

  /** Column names and sorted rows of `t`'s feed since `since`. */
  private def feedOf(t: String, since: Long): (Seq[String], Seq[String]) = {
    val f = TableIO.readChangeFeed(spark, lh, t, since)
    (f.columns.toSeq, f.collect().map(_.toString).toSeq.sorted)
  }

  test("jobs per change-feed commit stay pinned: rewrite and DV deletes, " +
      "update, mergeTable, applyChanges, and building a readChangeFeed " +
      "frame") {
    cdfTable("jobs_cdf", (1 to 40).map(k => (k, k * 1.0)))
    TableIO.writeTable(spark, lh, "jobs_rep",
      (1 to 40).map(k => (k, k * 1.0)).toDF("k", "v").repartition(2))
    val since = latest("jobs_cdf")
    val delete = jobsOf(TableIO.deleteFromTable(spark, lh, "jobs_cdf",
      "k BETWEEN 3 AND 5"))
    val deleteDv = jobsOf(TableIO.deleteFromTable(spark, lh, "jobs_cdf",
      "k BETWEEN 6 AND 7", deletionVectors = true))
    val update = jobsOf(TableIO.updateTable(spark, lh, "jobs_cdf",
      "k BETWEEN 10 AND 12", Map("v" -> "v + 100")))
    // a non-local source, as a batch read from storage would be
    val upd = spark.range(30, 50).selectExpr("cast(id AS int) AS k",
      "cast(id AS double) * 2 AS v")
    val merge = jobsOf(TableIO.mergeTable(spark, lh, "jobs_cdf", upd,
      Seq("k")))
    var feed: DataFrame = null
    val read = jobsOf {
      feed = TableIO.readChangeFeed(spark, lh, "jobs_cdf", since)
    }
    val apply = jobsOf(TableIO.applyChanges(spark, lh, "jobs_rep", feed,
      Seq("k")))
    val got = Map("delete" -> delete, "deleteDv" -> deleteDv,
      "update" -> update, "merge" -> merge, "readChangeFeed" -> read,
      "applyChanges" -> apply)
    // before change rows were staged beside the data: 4, 4, 4, 13, 4 and 8
    assert(got == Map("delete" -> 3, "deleteDv" -> 2, "update" -> 3,
      "merge" -> 8, "readChangeFeed" -> 0, "applyChanges" -> 5), got)
    val rep = TableIO.selectTable(spark, lh, "jobs_rep").as[(Int, Double)]
      .collect().toMap
    val src = TableIO.selectTable(spark, lh, "jobs_cdf").as[(Int, Double)]
      .collect().toMap
    assert(rep == src)
    Seq("jobs_cdf", "jobs_rep").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("reading a change feed over four sidecars logs no ignored-path " +
      "warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    cdfTable("quiet_cdf", (1 to 40).map(k => (k, k * 1.0)))
    val since = latest("quiet_cdf")
    TableIO.deleteFromTable(spark, lh, "quiet_cdf", "k BETWEEN 3 AND 5")
    TableIO.deleteFromTable(spark, lh, "quiet_cdf", "k BETWEEN 6 AND 7",
      deletionVectors = true)
    TableIO.updateTable(spark, lh, "quiet_cdf", "k BETWEEN 10 AND 12",
      Map("v" -> "v + 100"))
    TableIO.mergeTable(spark, lh, "quiet_cdf",
      Seq((1, 10.0), (99, 99.0)).toDF("k", "v"), Seq("k"))
    val sidecars = new java.io.File(Catalog.tablePath(lh, "quiet_cdf"))
      .list().count(_.startsWith("_cdf_"))
    assert(sidecars == 4, s"$sidecars sidecars")
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("quiet-cdf", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        messages.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    val feed =
      try TableIO.readChangeFeed(spark, lh, "quiet_cdf", since)
      finally { logger.removeAppender(appender); appender.stop() }
    val ignored = messages.asScala.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
    // delete 3 + DV delete 2 + update 3×2 + merge (1 update, 1 insert) 3
    assert(feed.count() == 14)
    TableIO.dropTable(spark, lh, "quiet_cdf")
  }

  test("the feed of every rewrite kind is unchanged: rewrite and DV " +
      "deletes, update, merges (one adding a column), mergeInto, " +
      "compaction, clustering, a CDC apply into a feed-enabled replica, " +
      "and an overwrite") {
    import TableIO.MergeClause._
    // the key is not the first column, so each sidecar's column order shows
    val initial = (1 to 12).map(k => (s"r$k", k, k * 1.0))
    Seq("fid", "fid_rep").foreach { t =>
      TableIO.writeTable(spark, lh, t,
        initial.toDF("s", "k", "v").repartition(3))
      TableIO.enableChangeFeed(spark, lh, t)
    }
    val v0 = latest("fid")
    val r0 = latest("fid_rep")
    TableIO.deleteFromTable(spark, lh, "fid", "k = 2")
    TableIO.deleteFromTable(spark, lh, "fid", "k = 5", deletionVectors = true)
    TableIO.updateTable(spark, lh, "fid", "k BETWEEN 7 AND 8",
      Map("v" -> "v + 0.5"))
    TableIO.mergeTable(spark, lh, "fid",
      Seq(("m3", 3, 30.0), ("m20", 20, 200.0)).toDF("s", "k", "v"), Seq("k"))
    TableIO.mergeTable(spark, lh, "fid",
      Seq(("n4", 4, 40.0, "x"), ("n21", 21, 210.0, "y"))
        .toDF("s", "k", "v", "note"), Seq("k"))
    TableIO.mergeInto(spark, lh, "fid",
      Seq(("i6", 6, 60.0, "p"), ("i22", 22, 220.0, "q"))
        .toDF("s", "k", "v", "note"), Seq("k"),
      Seq(MatchedUpdate(Map("v" -> "s.v", "note" -> "s.note")),
        NotMatchedInsert()))
    TableIO.compactTable(spark, lh, "fid")
    TableIO.appendTable(spark, lh, "fid",
      Seq(("a30", 30, 300.0, "z")).toDF("s", "k", "v", "note"))
    TableIO.clusterIncremental(spark, lh, "fid", Seq("k"))
    TableIO.applyChanges(spark, lh, "fid_rep",
      TableIO.readChangeFeed(spark, lh, "fid", v0), Seq("k"))
    TableIO.writeTable(spark, lh, "fid",
      Seq(("w1", 1, 1.5, "o")).toDF("s", "k", "v", "note"))
    val fid = feedOf("fid", v0)
    val rep = feedOf("fid_rep", r0)
    assert(fid == ExpectedFid, fid)
    assert(rep == ExpectedRep, rep)
    Seq("fid", "fid_rep").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("an update from a streaming foreachBatch stages its change rows " +
      "outside the batch's SQL execution, as a call from the main thread " +
      "does") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1 to 8).map(k => (k, k * 1.0))
    Seq("sb_stream", "sb_main").foreach(cdfTable(_, rows))
    val since = latest("sb_main")
    def update(t: String): Unit = TableIO.updateTable(spark, lh, t,
      "k BETWEEN 2 AND 3", Map("v" -> "v * 10"))
    // the root SQL execution of each change-row write
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains(Versioned.StagedChangesDir) =>
          roots.add(s.rootExecutionId.fold("none")(_.toString))
        case _ =>
      }
    }
    @volatile var batchRoot: String = null
    val mem = MemoryStream[Int]
    mem.addData(1)
    spark.sparkContext.addSparkListener(listener)
    val q = mem.toDF().writeStream.foreachBatch {
      (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchRoot = spark.sparkContext.getLocalProperty(
          SQLExecution.EXECUTION_ROOT_ID_KEY)
        update("sb_stream")
    }.start()
    try q.processAllAvailable()
    finally { q.stop(); Thread.sleep(300) }
    spark.sparkContext.removeSparkListener(listener)
    assert(q.exception.isEmpty, q.exception)
    assert(batchRoot != null, "foreachBatch ran outside a SQL execution")
    assert(roots.size == 1 && roots.peek != batchRoot,
      s"batch root $batchRoot, change-row write roots $roots")
    update("sb_main")
    assert(feedOf("sb_stream", since) == feedOf("sb_main", since))
    assert(feedOf("sb_main", since)._2.size == 4)
    Seq("sb_stream", "sb_main").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("a keyed replace on a feed-enabled table records a null-keyed " +
      "replacement as a delete and an insert") {
    val t = "nullkey"
    TableIO.writeTable(spark, lh, t,
      Seq((None, 1L), (Some("a"), 2L)).toDF("g", "n"))
    TableIO.enableChangeFeed(spark, lh, t)
    val since = latest(t)
    TableIO.replaceKeyedRows(spark, lh, t,
      Seq[Option[String]](None, Some("a")).toDF("g"),
      Seq((None, 10L), (Some("a"), 20L)).toDF("g", "n"), Seq("g"))
    assert(feedOf(t, since)._2 == Seq(
      s"[a,2,update_preimage,${since + 1}]",
      s"[a,20,update_postimage,${since + 1}]",
      s"[null,1,delete,${since + 1}]",
      s"[null,10,insert,${since + 1}]"))
    assert(TableIO.selectTable(spark, lh, t).as[(Option[String], Long)]
      .collect().toSet == Set((None, 10L), (Some("a"), 20L)))
    TableIO.dropTable(spark, lh, t)
  }

  // captured at the commit before change rows were staged beside the data
  private val ExpectedFid: (Seq[String], Seq[String]) = (
    Seq("s", "k", "v", "_change_type", "_commit_version", "note"),
    Seq(
      "[a30,30,300.0,delete,12,z]",
      "[a30,30,300.0,insert,10,z]",
      "[i22,22,220.0,delete,12,q]",
      "[i22,22,220.0,insert,8,q]",
      "[m20,20,200.0,delete,12,null]",
      "[m20,20,200.0,insert,6,null]",
      "[m3,3,30.0,delete,12,null]",
      "[m3,3,30.0,update_postimage,6,null]",
      "[n21,21,210.0,delete,12,y]",
      "[n21,21,210.0,insert,7,y]",
      "[n4,4,40.0,delete,12,x]",
      "[n4,4,40.0,update_postimage,7,x]",
      "[r1,1,1.0,delete,12,null]",
      "[r10,10,10.0,delete,12,null]",
      "[r11,11,11.0,delete,12,null]",
      "[r12,12,12.0,delete,12,null]",
      "[r2,2,2.0,delete,3,null]",
      "[r3,3,3.0,update_preimage,6,null]",
      "[r4,4,4.0,update_preimage,7,null]",
      "[r5,5,5.0,delete,4,null]",
      "[r6,6,6.0,update_preimage,8,null]",
      "[r6,6,60.0,delete,12,p]",
      "[r6,6,60.0,update_postimage,8,p]",
      "[r7,7,7.0,update_preimage,5,null]",
      "[r7,7,7.5,delete,12,null]",
      "[r7,7,7.5,update_postimage,5,null]",
      "[r8,8,8.0,update_preimage,5,null]",
      "[r8,8,8.5,delete,12,null]",
      "[r8,8,8.5,update_postimage,5,null]",
      "[r9,9,9.0,delete,12,null]",
      "[w1,1,1.5,insert,12,o]"))
  private val ExpectedRep: (Seq[String], Seq[String]) = (
    Seq("k", "s", "v", "_change_type", "note", "_commit_version"),
    Seq(
      "[2,r2,2.0,delete,null,3]",
      "[20,m20,200.0,insert,null,3]",
      "[21,n21,210.0,insert,y,3]",
      "[22,i22,220.0,insert,q,3]",
      "[3,m3,30.0,update_postimage,null,3]",
      "[3,r3,3.0,update_preimage,null,3]",
      "[30,a30,300.0,insert,z,3]",
      "[4,n4,40.0,update_postimage,x,3]",
      "[4,r4,4.0,update_preimage,null,3]",
      "[5,r5,5.0,delete,null,3]",
      "[6,r6,6.0,update_preimage,null,3]",
      "[6,r6,60.0,update_postimage,p,3]",
      "[7,r7,7.0,update_preimage,null,3]",
      "[7,r7,7.5,update_postimage,null,3]",
      "[8,r8,8.0,update_preimage,null,3]",
      "[8,r8,8.5,update_postimage,null,3]"))
}
