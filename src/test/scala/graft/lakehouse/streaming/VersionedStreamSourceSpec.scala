package graft.lakehouse.streaming

import java.nio.file.Files
import graft.lakehouse.{Catalog, LakehouseProps, SparkSuite, TableIO, Versioned}
import org.apache.spark.sql.streaming.StreamingQueryException

/** The versioned-table streaming source: offsets are commit versions, each
  * micro-batch delivers exactly the appended files, restarts resume from
  * the checkpointed version, and non-append history fails the stream. */
class VersionedStreamSourceSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("vss_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_vss", "lh_vss").lakehouses.head
  }

  test("readStream follows appends across micro-batches, exactly once") {
    TableIO.writeTable(spark, lh, "feed",
      Seq((1, "a"), (2, "b")).toDF("k", "s"))
    val q = TableIO.streamTable(spark, lh, "feed")
      .writeStream.outputMode("append")
      .format("memory").queryName("vss_sink").start()
    try {
      q.processAllAvailable()
      def sunk(): Seq[Int] = spark.table("vss_sink")
        .select("k").collect().map(_.getInt(0)).toSeq.sorted
      assert(sunk() == Seq(1, 2), "initial batch = current table content")

      TableIO.appendTable(spark, lh, "feed", Seq((3, "c")).toDF("k", "s"))
      q.processAllAvailable()
      assert(sunk() == Seq(1, 2, 3), "append delivered incrementally")

      TableIO.appendTable(spark, lh, "feed",
        Seq((4, "d"), (5, "e")).toDF("k", "s"))
      q.processAllAvailable()
      // exactly-once: no batch re-delivered any earlier file
      assert(sunk() == Seq(1, 2, 3, 4, 5))
    } finally q.stop()
    TableIO.dropTable(spark, lh, "feed")
  }

  test("maxVersionsPerTrigger bounds each micro-batch's commit range") {
    TableIO.writeTable(spark, lh, "rated",
      Seq((1, "a")).toDF("k", "s"))
    (2 to 7).foreach(i => TableIO.appendTable(spark, lh, "rated",
      Seq((i, "x")).toDF("k", "s")))
    // 7 commits behind; cap 2 versions per trigger → catch-up takes >= 4
    // bounded micro-batches (snapshot-to-v2, then pairs), every row
    // delivered exactly once
    var batches = 0
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = TableIO.streamTable(spark, lh, "rated",
        maxVersionsPerTrigger = Some(2L))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val ks = b.collect().map(_.getInt(0))
        seen.synchronized { seen ++= ks }
        if (ks.nonEmpty) batches += 1
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 3, s"cap ignored: caught up in $batches batch(es)")
    assert(seen.sorted.toSeq == (1 to 7), s"delivery broke: $seen")
    TableIO.dropTable(spark, lh, "rated")
  }

  test("restart resumes from the checkpointed version (no re-delivery)") {
    TableIO.writeTable(spark, lh, "feed2", Seq((1, "a")).toDF("k", "s"))
    val ckpt = Files.createTempDirectory("vss_ckpt").toString
    // a fault-tolerant (file) sink: the memory sink refuses checkpoint
    // recovery; with the parquet sink a re-delivered batch would land as
    // duplicate rows
    val out = Files.createTempDirectory("vss_out").toString
    def run(): Unit = {
      val q = TableIO.streamTable(spark, lh, "feed2")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt).option("path", out)
        .format("parquet").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == 1)

    // append while the stream is DOWN, then restart from the checkpoint:
    // only the gap is delivered, nothing re-delivered
    TableIO.appendTable(spark, lh, "feed2", Seq((2, "b")).toDF("k", "s"))
    run()
    val got = spark.read.parquet(out)
      .select("k").collect().map(_.getInt(0)).toSeq.sorted
    assert(got == Seq(1, 2), s"expected exactly-once delivery, got $got")
    TableIO.dropTable(spark, lh, "feed2")
  }

  test("a merge mid-stream fails it; ignoreRewrites re-delivers instead") {
    TableIO.writeTable(spark, lh, "feed3",
      (1 to 10).map(i => (i, s"v$i")).toDF("k", "s"))
    val q = TableIO.streamTable(spark, lh, "feed3")
      .writeStream.outputMode("append")
      .format("memory").queryName("vss_sink3").start()
    try {
      q.processAllAvailable()
      TableIO.mergeTable(spark, lh, "feed3", Seq((1, "V1")).toDF("k", "s"), Seq("k"))
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(TableIO.rootCause(e).getMessage.contains("ignoreRewrites"))
    } finally q.stop()

    // opt-in: the rewritten file's surviving rows re-deliver (documented
    // Delta ignoreChanges caveat), nothing is lost
    val q2 = TableIO.streamTable(spark, lh, "feed3", ignoreRewrites = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("vss_sink3b").start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table("vss_sink3b").as[(Int, String)].collect().toMap
    assert(got(1) == "V1" && got.size == 10)
    TableIO.dropTable(spark, lh, "feed3")
  }

  test("sink: streaming appends land as versions with txn watermarks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val tdir = Catalog.tablePath(lh, "sunk")
    val ckpt = Files.createTempDirectory("vts_ckpt").toString
    val q = mem.toDF().toDF("k", "s").writeStream
      .format("graft-table").option("path", tdir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      mem.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      assert(TableIO.selectTable(spark, lh, "sunk").count() == 2)
      mem.addData((3, "c"))
      q.processAllAvailable()
      val rows = TableIO.selectTable(spark, lh, "sunk")
        .select("k").collect().map(_.getInt(0)).toSeq.sorted
      assert(rows == Seq(1, 2, 3))
      // the committed watermark rides the manifest
      val m = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
      assert(m.meta.get("txn:default").exists(_.toLong >= 1))
    } finally q.stop()
    TableIO.dropTable(spark, lh, "sunk")
  }

  test("sink: a replayed batch is skipped exactly-once, not re-appended") {
    val provider = new VersionedTableProvider
    val tdir = Catalog.tablePath(lh, "replay")
    val sink = provider.createSink(spark.sqlContext,
      Map("path" -> tdir), Seq.empty,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0, Seq((1, "a")).toDF("k", "s"))
    sink.addBatch(0, Seq((1, "a")).toDF("k", "s")) // crash-recovery replay
    sink.addBatch(1, Seq((2, "b")).toDF("k", "s"))
    sink.addBatch(0, Seq((1, "a")).toDF("k", "s")) // stale replay after later batch
    val rows = TableIO.selectTable(spark, lh, "replay")
      .select("k").collect().map(_.getInt(0)).toSeq.sorted
    assert(rows == Seq(1, 2), s"replays must be idempotent, got $rows")
    // two writers (appIds) keep independent watermarks
    val sink2 = provider.createSink(spark.sqlContext,
      Map("path" -> tdir, "appId" -> "other"), Seq.empty,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink2.addBatch(0, Seq((3, "c")).toDF("k", "s"))
    assert(TableIO.selectTable(spark, lh, "replay").count() == 3)
    val m = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
    assert(m.meta.contains("txn:default") && m.meta.contains("txn:other"))
    TableIO.dropTable(spark, lh, "replay")
  }

  test("round trip: versioned source -> transform -> versioned sink (bronze->silver)") {
    TableIO.writeTable(spark, lh, "bronze",
      Seq((1, 10.0), (2, -5.0)).toDF("k", "v"))
    val silverDir = Catalog.tablePath(lh, "silver")
    val ckpt = Files.createTempDirectory("vts_rt_ckpt").toString
    val q = TableIO.streamTable(spark, lh, "bronze")
      .filter($"v" > 0).withColumn("v2", $"v" * 2)
      .writeStream.format("graft-table").option("path", silverDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(TableIO.selectTable(spark, lh, "silver").count() == 1)
      TableIO.appendTable(spark, lh, "bronze",
        Seq((3, 7.0), (4, -1.0)).toDF("k", "v"))
      q.processAllAvailable()
      val silver = TableIO.selectTable(spark, lh, "silver")
        .orderBy("k").collect().map(r => (r.getInt(0), r.getDouble(2)))
      assert(silver.toSeq == Seq((1, 20.0), (3, 14.0)))
    } finally q.stop()
    TableIO.dropTable(spark, lh, "bronze")
    TableIO.dropTable(spark, lh, "silver")
  }

  test("CDF mode streams row-level changes: a merge delivers pre/post " +
      "images instead of failing the query") {
    TableIO.writeTable(spark, lh, "cdfs", Seq((1, 10.0), (2, 20.0)).toDF("k", "v"))
    TableIO.enableChangeFeed(spark, lh, "cdfs")
    val q = TableIO.streamTable(spark, lh, "cdfs", changeFeed = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("cdfs_sink").start()
    try {
      q.processAllAvailable()
      def events(): Seq[(Int, Double, String)] = spark.table("cdfs_sink")
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq.sorted
      assert(events() == Seq((1, 10.0, "insert"), (2, 20.0, "insert")),
        "initial batch = snapshot as inserts")

      TableIO.mergeTable(spark, lh, "cdfs",
        Seq((1, 11.0), (3, 30.0)).toDF("k", "v"), Seq("k"))
      q.processAllAvailable() // does NOT fail — rewrites stream as changes
      assert(events() == Seq(
        (1, 10.0, "insert"), (1, 10.0, "update_preimage"),
        (1, 11.0, "update_postimage"),
        (2, 20.0, "insert"), (3, 30.0, "insert")), events().toString)

      TableIO.deleteFromTable(spark, lh, "cdfs", "k = 2")
      q.processAllAvailable()
      assert(events().contains((2, 20.0, "delete")))
    } finally q.stop()
    TableIO.dropTable(spark, lh, "cdfs")
  }

  test("CDF stream under maxVersionsPerTrigger: bounded catch-up over a " +
      "merge/delete history converges exactly-once") {
    TableIO.writeTable(spark, lh, "cdfr", Seq((1, 10.0), (2, 20.0)).toDF("k", "v"))
    TableIO.enableChangeFeed(spark, lh, "cdfr")
    // build a 5-commit history MIXING appends with row-level DML — the
    // commit kinds the append-path cap spec never exercises
    TableIO.appendTable(spark, lh, "cdfr", Seq((3, 30.0)).toDF("k", "v"))
    TableIO.mergeTable(spark, lh, "cdfr",
      Seq((1, 11.0), (4, 40.0)).toDF("k", "v"), Seq("k"))
    TableIO.deleteFromTable(spark, lh, "cdfr", "k = 2")
    TableIO.appendTable(spark, lh, "cdfr", Seq((5, 50.0)).toDF("k", "v"))
    var batches = 0
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
    val q = TableIO.streamTable(spark, lh, "cdfr", changeFeed = true,
        maxVersionsPerTrigger = Some(1L))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val rows = b.select("k", "v", "_change_type").collect()
          .map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
        seen.synchronized { seen ++= rows }
        if (rows.nonEmpty) batches += 1
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // cap 1 ⇒ the catch-up cannot collapse into one giant batch: the first
    // trigger snapshots a CAPPED early version, later triggers each replay
    // a bounded change range (merge pre/post, delete, appends)
    assert(batches >= 4, s"cap ignored in CDF mode: caught up in $batches batch(es)")
    // exactly-once convergence: snapshot-at-capped-version + the remaining
    // row-level feed must compose to the same event multiset a reader of
    // the full history sees — every post-snapshot change exactly once
    val got = seen.sorted.toSeq
    assert(got == Seq(
      (1, 10.0, "insert"), (1, 10.0, "update_preimage"), (1, 11.0, "update_postimage"),
      (2, 20.0, "delete"), (2, 20.0, "insert"),
      (3, 30.0, "insert"), (4, 40.0, "insert"), (5, 50.0, "insert")), got.toString)
    TableIO.dropTable(spark, lh, "cdfr")
  }

  test("the short name registers via META-INF services") {
    TableIO.writeTable(spark, lh, "feed4", Seq((1, "a")).toDF("k", "s"))
    val df = spark.readStream.format("graft-table")
      .option("path", Catalog.tablePath(lh, "feed4")).load()
    assert(df.isStreaming && df.schema.fieldNames.sameElements(Array("k", "s")))
    TableIO.dropTable(spark, lh, "feed4")
  }

  test("sink partitionBy lays out the table it creates and records the " +
      "spec; a different spec on an existing table is refused") {
    val provider = new VersionedTableProvider
    val tdir = Catalog.tablePath(lh, "sunkp")
    def sink(parts: Seq[String]) = provider.createSink(spark.sqlContext,
      Map("path" -> tdir), parts,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink(Seq("s")).addBatch(0, Seq((1, "a"), (2, "b")).toDF("k", "s"))
    val m = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
    assert(m.meta.get("graft.partitionBy").contains("s"), m.meta.toString)
    assert(m.files.map(_.split('/').head).toSet == Set("s=a", "s=b"),
      m.files.toString)
    // the same spec, or none, keeps writing under the declared layout
    sink(Seq("s")).addBatch(1, Seq((3, "c")).toDF("k", "s"))
    sink(Seq.empty).addBatch(2, Seq((4, "a")).toDF("k", "s"))
    val files = Versioned.readManifest(tdir,
      Versioned.latestVersion(tdir).get).get.files
    assert(files.forall(_.matches("s=[abc]/[^/]+")), files.toString)
    intercept[IllegalArgumentException] {
      sink(Seq("k")).addBatch(3, Seq((5, "d")).toDF("k", "s"))
    }
    val rows = TableIO.selectTable(spark, lh, "sunkp")
      .select("k").collect().map(_.getInt(0)).toSeq.sorted
    assert(rows == Seq(1, 2, 3, 4))
    TableIO.dropTable(spark, lh, "sunkp")
  }
}
