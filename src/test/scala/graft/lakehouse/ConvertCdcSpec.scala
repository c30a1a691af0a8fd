package graft.lakehouse

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CONVERT-in-place adoption of raw parquet directories, and CDC apply
  * (replica maintenance from another table's change feed). */
class ConvertCdcSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("cc_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_cc", "lh_cc").lakehouses.head
  }

  test("convertToVersioned adopts a raw dir in place: same bytes, " +
      "stats collected, appends become file-level") {
    val dir = Catalog.tablePath(lh, "conv1")
    (1 to 100).map(i => (i, i * 2.0)).toDF("k", "v")
      .repartition(3).write.parquet(dir)
    val before = Files.walk(Paths.get(dir)).iterator()
    val bytes = scala.collection.mutable.Map.empty[String, (Long, Long)]
    before.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet"))
        bytes(p.toString) = (Files.size(p),
          Files.getLastModifiedTime(p).toMillis)
    }
    val info = TableIO.convertToVersioned(spark, lh, "conv1")
    assert(info.rowCount == 100)
    // adoption rewrote nothing
    bytes.foreach { case (p, (sz, mt)) =>
      val q = Paths.get(p)
      assert(Files.size(q) == sz &&
        Files.getLastModifiedTime(q).toMillis == mt, s"$p changed")
    }
    // stats landed: a pruned range scan is available and exact
    val pruned = TableIO.prunedScan(spark, lh, "conv1", "k",
      Some(10), Some(20)).select("k").as[Int].collect().sorted
    assert(pruned.toSeq == (10 to 20))
    // post-conversion append inherits the adopted files untouched
    TableIO.appendTable(spark, lh, "conv1", Seq((101, 5.0)).toDF("k", "v"))
    bytes.foreach { case (p, (sz, mt)) =>
      val q = Paths.get(p)
      assert(Files.size(q) == sz &&
        Files.getLastModifiedTime(q).toMillis == mt, s"$p rewritten")
    }
    assert(TableIO.selectTable(spark, lh, "conv1").count() == 101)
  }

  test("convertToVersioned adopts hive-partitioned layouts") {
    val dir = Catalog.tablePath(lh, "conv2")
    (1 to 60).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("k", "g")
      .write.partitionBy("g").parquet(dir)
    TableIO.convertToVersioned(spark, lh, "conv2")
    val got = TableIO.selectTable(spark, lh, "conv2")
      .select("k", "g").as[(Int, String)].collect().sortBy(_._1)
    assert(got.length == 60 && got.forall { case (k, g) =>
      g == (if (k % 2 == 0) "a" else "b") })
    // partition-scoped delete after conversion stays file-level
    TableIO.deleteFromTable(spark, lh, "conv2", "g = 'a'")
    assert(TableIO.selectTable(spark, lh, "conv2").count() == 30)
  }

  test("convertToVersioned rejects already-versioned tables") {
    TableIO.writeTable(spark, lh, "conv3", Seq((1, "x")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      TableIO.convertToVersioned(spark, lh, "conv3")
    }
  }

  test("every write adopts a raw parquet directory in place first: no rows " +
      "lost, CONVERT then the operation in history") {
    import TableIO.MergeClause.NotMatchedInsert
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base: Seq[(Int, String, Double)] =
      (1 to 10).map(k => (k, if (k % 2 == 0) "a" else "b", k * 1.0))
    val extra = (11, "b", 11.0)
    def frame(rows: (Int, String, Double)*) = rows.toDF("k", "g", "v")
    val copySrc = Files.createTempDirectory("cc_adopt_src")
    frame(extra).write.parquet(copySrc.resolve("batch").toString)
    // (name, write, expected rows, original files still referenced at their
    // original paths, operation recorded after CONVERT)
    val cases: Seq[(String, String => Unit, Seq[(Int, String, Double)], Boolean,
      String)] = Seq(
      ("append", t => TableIO.appendTable(spark, lh, t, frame(extra)),
        base :+ extra, true, "APPEND"),
      ("merge", t => TableIO.mergeTable(spark, lh, t,
          frame((2, "a", 20.0), extra), Seq("k")),
        base.map { case (2, g, _) => (2, g, 20.0); case r => r } :+ extra,
        false, "MERGE"),
      ("mergeInto", t => TableIO.mergeInto(spark, lh, t, frame(extra),
          Seq("k"), Seq(NotMatchedInsert())),
        base :+ extra, true, "MERGE"),
      ("delete", t => TableIO.deleteFromTable(spark, lh, t, "k <= 3"),
        base.filter(_._1 > 3), false, "DELETE"),
      ("update", t => TableIO.updateTable(spark, lh, t, "k = 5",
          Map("v" -> "v + 100")),
        base.map { case (5, g, v) => (5, g, v + 100); case r => r },
        false, "UPDATE"),
      ("compact", t => TableIO.compactTable(spark, lh, t),
        base, false, "OPTIMIZE"),
      ("rename", t => TableIO.renameColumn(spark, lh, t, "v", "w"),
        base, true, "RENAME COLUMN"),
      ("txn", { t =>
          val h = Txn.begin(lh)
          Txn.writeAll(h, spark, lh, Seq(t -> frame(extra)))
          Txn.commit(h)
        }, base :+ extra, true, "TXN APPEND"),
      ("copyInto", t => Ingest.copyInto(spark, lh, t, copySrc.toString,
          format = "parquet"),
        base :+ extra, true, "APPEND"),
      ("streamSink", { t =>
          val mem = MemoryStream[(Int, String, Double)]
          mem.addData(extra)
          val q = mem.toDF().toDF("k", "g", "v").writeStream
            .format("graft-table").option("path", Catalog.tablePath(lh, t))
            .option("checkpointLocation",
              Files.createTempDirectory("cc_adopt_ck").toString)
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
        }, base :+ extra, true, "STREAM APPEND"))
    for (hive <- Seq(false, true); (name, write, want, adoptsFiles, op) <- cases) {
      val t = s"adopt_${name}_${if (hive) "hive" else "plain"}"
      val dir = Catalog.tablePath(lh, t)
      val w = frame(base: _*).write
      (if (hive) w.partitionBy("g") else w).parquet(dir)
      val original = {
        val s = Files.walk(Paths.get(dir))
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(_.toAbsolutePath.normalize.toString).toSet
        finally s.close()
      }
      write(t)
      val valueCol = if (name == "rename") "w" else "v"
      val got = TableIO.selectTable(spark, lh, t)
        .select("k", "g", valueCol).as[(Int, String, Double)].collect().toSeq.sorted
      assert(got == want.sorted, s"$t rows")
      val ops = TableIO.describeHistory(spark, lh, t).orderBy("version")
        .select("operation").as[String].collect().toSeq
      assert(ops == Seq("CONVERT", op), s"$t history")
      if (adoptsFiles) {
        val live = TableIO.currentFiles(lh, t)
          .map(_.toAbsolutePath.normalize.toString).toSet
        assert(original.subsetOf(live), s"$t rewrote adopted files")
      }
    }
  }

  test("applyChanges replays a feed into a replica: net-effect per key, " +
      "one atomic commit, equals the source") {
    val base = (1 to 50).map(i => (i, s"v$i", i * 1.0)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "cdc_src", base)
    TableIO.enableChangeFeed(spark, lh, "cdc_src")
    val srcDir = Catalog.tablePath(lh, "cdc_src")
    val v0 = Versioned.latestVersion(srcDir).get
    // replica = snapshot at v0
    TableIO.writeTable(spark, lh, "cdc_rep", base)
    // history: update some, delete some, update-again one, reinsert one
    TableIO.mergeTable(spark, lh, "cdc_src",
      Seq((1, "u1", 10.0), (2, "u2", 20.0)).toDF("k", "s", "v"), Seq("k"))
    TableIO.deleteFromTable(spark, lh, "cdc_src", "k = 2 OR k = 3")
    TableIO.mergeTable(spark, lh, "cdc_src",
      Seq((1, "u1b", 11.0), (3, "back", 3.0)).toDF("k", "s", "v"), Seq("k"))
    val feed = TableIO.readChangeFeed(spark, lh, "cdc_src", v0)
    TableIO.applyChanges(spark, lh, "cdc_rep", feed, Seq("k"))
    val src = TableIO.selectTable(spark, lh, "cdc_src")
      .select("k", "s", "v").as[(Int, String, Double)].collect().sorted
    val rep = TableIO.selectTable(spark, lh, "cdc_rep")
      .select("k", "s", "v").as[(Int, String, Double)].collect().sorted
    assert(rep.toSeq == src.toSeq)
    // spot-check the interesting keys
    val m = rep.map(r => r._1 -> r).toMap
    assert(m(1) == ((1, "u1b", 11.0)), "double update: latest wins")
    assert(!m.contains(2), "update-then-delete: deleted")
    assert(m(3) == ((3, "back", 3.0)), "delete-then-reinsert: present")
  }

  test("recomputeStats: stats-less manifests gain pruning without a " +
      "rewrite; DV refs survive") {
    val df = (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "v")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k")
    TableIO.writeTable(spark, lh, "an1", df)
    val dir = Catalog.tablePath(lh, "an1")
    // simulate a legacy/early-protocol manifest: same files, no stats
    val m0 = Versioned.readManifest(dir,
      Versioned.latestVersion(dir).get).get
    Versioned.commitFiles(dir, m0.schemaJson,
      inherit = m0.entries.map(_.copy(stats = None)),
      expectedBase = Versioned.latestVersion(dir), meta = m0.meta,
      op = "STRIP")
    val total = Versioned.readManifest(dir,
      Versioned.latestVersion(dir).get).get.entries.size
    // without stats no range prune is possible (all files survive)
    val before = TableIO.pruneFilesRanges(lh, "an1",
      Seq(("k", Some(1L), Some(10L)))).get
    assert(before._1.relFiles.size == total)

    val files = TableIO.currentFiles(lh, "an1").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    TableIO.recomputeStats(spark, lh, "an1")
    // zero data movement
    files.foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(Paths.get(p)).toMillis == t) }
    // pruning now provably skips files
    val after = TableIO.pruneFilesRanges(lh, "an1",
      Seq(("k", Some(1L), Some(10L)))).get
    assert(after._1.relFiles.size < total,
      s"no pruning after ANALYZE: ${after._1.relFiles.size}/$total")
    assert(TableIO.prunedScan(spark, lh, "an1", "k", Some(1L), Some(10L))
      .count() == 10)

    // DV interplay: vectored rows stay deleted through an ANALYZE
    TableIO.deleteFromTable(spark, lh, "an1", "k <= 100",
      deletionVectors = true)
    TableIO.recomputeStats(spark, lh, "an1")
    assert(TableIO.selectTable(spark, lh, "an1").count() == 900)
    assert(TableIO.tableRowCount(lh, "an1").contains(900L),
      "manifest row count must stay logical after ANALYZE")
    // ANALYZE also (re)records physical byte sizes: checkTable's size
    // audit and DESCRIBE DETAIL work from the manifest afterwards
    val mA = Versioned.readManifest(dir,
      Versioned.latestVersion(dir).get).get
    assert(mA.entries.forall(_.stats.exists(_.contains("\"__bytes\""))))
    assert(TableIO.checkTable(spark, lh, "an1").count() == 0)
  }

  test("concurrent DV deletes: the loser fails loudly, a retry applies " +
      "both deletions") {
    val df = (1 to 200).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1)
    TableIO.writeTable(spark, lh, "dvc1", df)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val results = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          go.await()
          try { TableIO.deleteFromTable(spark, lh, "dvc1",
            if (i == 1) "k <= 20" else "k > 180", deletionVectors = true)
            None
          } catch { case t: Throwable => Some(t) }
        }
      })
    }
    go.countDown()
    val outcomes = results.map(_.get())
    pool.shutdown()
    val failures = outcomes.flatten
    // both may serialize cleanly, but any failure must be the loud
    // optimistic-concurrency kind — and a retry must converge
    failures.foreach(t => assert(
      t.isInstanceOf[Versioned.ConcurrentWriteException], t.toString))
    if (failures.nonEmpty)
      TableIO.deleteFromTable(spark, lh, "dvc1",
        "k <= 20 OR k > 180", deletionVectors = true)
    assert(TableIO.selectTable(spark, lh, "dvc1").count() == 160)
  }

  test("describeDetail reports the current version's shape from metadata " +
      "alone, logical rows after DV deletes") {
    val df = (1 to 100).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "g")
    TableIO.writeTable(spark, lh, "dd1", df, partitionBy = Seq("g"))
    TableIO.enableChangeFeed(spark, lh, "dd1")
    TableIO.addCheckConstraint(spark, lh, "dd1", "k_pos", "k > 0")
    TableIO.deleteFromTable(spark, lh, "dd1", "k <= 10",
      deletionVectors = true)
    val r = TableIO.describeDetail(spark, lh, "dd1").head()
    assert(r.getAs[Long]("num_rows") == 90L, r.toString)
    assert(r.getAs[Long]("num_files") >= 2L)
    assert(r.getAs[Long]("num_dv_files") >= 1L)
    assert(r.getAs[String]("partition_columns") == "g")
    assert(r.getAs[Boolean]("cdf_enabled"))
    assert(r.getAs[String]("check_constraints") == "k_pos")
    assert(r.getAs[String]("last_operation") == "DELETE")
    assert(r.getAs[Long]("size_bytes") > 0L)
  }

  test("checkTable: healthy table reports nothing; missing files, size " +
      "drift, and lost DV sidecars are each flagged") {
    val df = (1 to 100).map(i => (i, s"v$i")).toDF("k", "s")
    TableIO.writeTable(spark, lh, "fsck1", df.repartition(3))
    TableIO.deleteFromTable(spark, lh, "fsck1", "k <= 5",
      deletionVectors = true)
    assert(TableIO.checkTable(spark, lh, "fsck1").count() == 0)
    val dir = java.nio.file.Paths.get(Catalog.tablePath(lh, "fsck1"))
    val m = Versioned.latestVersion(dir.toString)
      .flatMap(Versioned.readManifest(dir.toString, _)).get
    // size drift: append a byte to one referenced file
    val victim = dir.resolve(m.entries.head.path)
    java.nio.file.Files.write(victim, Array[Byte](0),
      java.nio.file.StandardOpenOption.APPEND)
    // missing file: remove another
    java.nio.file.Files.delete(dir.resolve(m.entries.last.path))
    // missing DV: remove the sidecar
    val dv = m.entries.flatMap(Versioned.dvRefOf).head._1
    java.nio.file.Files.delete(dir.resolve(dv))
    val found = TableIO.checkTable(spark, lh, "fsck1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(found.exists(_._1 == "size_mismatch"), found)
    assert(found.exists(_._1 == "missing_file"), found)
    assert(found.exists(_._1 == "missing_dv"), found)
    TableIO.dropTable(spark, lh, "fsck1")
  }

  test("applyChanges validates the feed shape") {
    TableIO.writeTable(spark, lh, "cdc_bad", Seq((1, "x")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      TableIO.applyChanges(spark, lh, "cdc_bad",
        Seq((1, "x")).toDF("k", "s"), Seq("k"))
    }
  }
}
