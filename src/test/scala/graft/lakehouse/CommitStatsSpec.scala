package graft.lakehouse

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** Every commit path stages its files and their stats in one step: each
  * manifest entry a commit adds must carry exactly the stats the read-back
  * aggregation ([[TableIO.collectFileStats]]) derives from that file, and a
  * commit that stages nothing must add no entries. */
class CommitStatsSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("commit_stats_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_cst", "lh_cst").lakehouses.head
  }

  private def manifest(table: String): Option[Versioned.Manifest] = {
    val dir = Catalog.tablePath(lh, table)
    Versioned.latestVersion(dir).flatMap(Versioned.readManifest(dir, _))
  }

  /** Runs `commit` and returns, per table, the entries it added (paths
    * absent from the table's previous version), after checking each one's
    * stats against a read-back over a copy of the file at its relative
    * path (so partition stats still come from the path segments). */
  private def addedBy(tables: String*)(commit: => Unit)
      : Map[String, Seq[Versioned.FileEntry]] = {
    val before = tables.map(t =>
      t -> manifest(t).map(_.files.toSet).getOrElse(Set.empty)).toMap
    commit
    tables.map { t =>
      val m = manifest(t).get
      val added = m.entries.filterNot(e => before(t)(e.path))
      if (added.nonEmpty) {
        val copy = Files.createTempDirectory("commit_stats").resolve("files")
        added.foreach { e =>
          val out = copy.resolve(e.path)
          Files.createDirectories(out.getParent)
          Files.copy(Paths.get(Catalog.tablePath(lh, t)).resolve(e.path), out)
        }
        val expected = TableIO.collectFileStats(spark,
          TableIO.bloomColsOf(m))(copy.toString)
        added.foreach(e => assert(e.stats.isDefined &&
          e.stats == expected.get(e.path), s"$t: stats of ${e.path}"))
      }
      t -> added
    }.toMap
  }

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i, s"s$i", i % 3)).toDF("k", "s", "g")

  test("writeTable, appendTable, mergeTable, a rewrite deleteFromTable, " +
      "updateTable and compactTable commit their files' stats") {
    assert(addedBy("cs1") {
      TableIO.writeTable(spark, lh, "cs1", rows(60).repartition(3),
        partitionBy = Seq("g"), bloomFilterFor = Seq("k"))
    }("cs1").nonEmpty)
    assert(addedBy("cs1") {
      TableIO.appendTable(spark, lh, "cs1", rows(20, from = 100))
    }("cs1").nonEmpty)
    assert(addedBy("cs1") {
      TableIO.mergeTable(spark, lh, "cs1",
        Seq((1, "m1", 1), (500, "new", 2)).toDF("k", "s", "g"), Seq("k"))
    }("cs1").nonEmpty)
    assert(addedBy("cs1") {
      TableIO.deleteFromTable(spark, lh, "cs1", "k = 2")
    }("cs1").nonEmpty)
    assert(addedBy("cs1") {
      TableIO.updateTable(spark, lh, "cs1", "k = 4", Map("s" -> "'upd'"))
    }("cs1").nonEmpty)
    assert(addedBy("cs1") {
      TableIO.compactTable(spark, lh, "cs1")
    }("cs1").nonEmpty)
    assert(TableIO.selectTable(spark, lh, "cs1").count() == 80)
    TableIO.dropTable(spark, lh, "cs1")
  }

  test("commits that stage nothing add no entries: a DV delete and a " +
      "compaction with nothing to rewrite") {
    TableIO.writeTable(spark, lh, "cs2", rows(30).repartition(2))
    assert(addedBy("cs2") {
      TableIO.deleteFromTable(spark, lh, "cs2", "k < 3",
        deletionVectors = true)
    }("cs2").isEmpty)
    // a full compaction purges the deletion vector; after it, no file is
    // below a 1-byte target or carries a vector, so nothing is rewritten
    TableIO.compactTable(spark, lh, "cs2")
    val v = Versioned.latestVersion(Catalog.tablePath(lh, "cs2")).get
    assert(addedBy("cs2") {
      TableIO.compactTable(spark, lh, "cs2", targetFileBytes = 1L)
    }("cs2").isEmpty)
    assert(Versioned.latestVersion(Catalog.tablePath(lh, "cs2"))
      .contains(v + 1), "the empty compaction still commits a version")
    assert(TableIO.selectTable(spark, lh, "cs2").count() == 27)
    TableIO.dropTable(spark, lh, "cs2")
  }

  test("Txn.writeAll and applyChanges commit their files' stats") {
    TableIO.writeTable(spark, lh, "cs3a", rows(10))
    TableIO.writeTable(spark, lh, "cs3b", rows(10, from = 50))
    val added = addedBy("cs3a", "cs3b") {
      val h = Txn.begin(lh)
      Txn.writeAll(h, spark, lh,
        Seq("cs3a" -> rows(5, from = 20), "cs3b" -> rows(5, from = 70)))
      Txn.commit(h)
    }
    assert(added.values.forall(_.nonEmpty))

    TableIO.writeTable(spark, lh, "cs3src", rows(20))
    TableIO.enableChangeFeed(spark, lh, "cs3src")
    val v0 = Versioned.latestVersion(Catalog.tablePath(lh, "cs3src")).get
    TableIO.writeTable(spark, lh, "cs3rep", rows(20))
    TableIO.mergeTable(spark, lh, "cs3src",
      Seq((1, "u1", 1), (99, "n", 0)).toDF("k", "s", "g"), Seq("k"))
    val feed = TableIO.readChangeFeed(spark, lh, "cs3src", v0)
    assert(addedBy("cs3rep") {
      TableIO.applyChanges(spark, lh, "cs3rep", feed, Seq("k"))
    }("cs3rep").nonEmpty)
    assert(TableIO.selectTable(spark, lh, "cs3rep").count() == 21)
    Seq("cs3a", "cs3b", "cs3src", "cs3rep")
      .foreach(TableIO.dropTable(spark, lh, _))
  }

  test("a streaming-sink batch commits its files' stats") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val ckpt = Files.createTempDirectory("cs_sink").toString
    def runBatch(): Unit = {
      val q = mem.toDF().toDF("k", "s").writeStream
        .format("graft-table").option("path", Catalog.tablePath(lh, "cs4"))
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    mem.addData((1, "a"), (2, "b"))
    assert(addedBy("cs4")(runBatch())("cs4").nonEmpty)
    mem.addData((3, "c"))
    assert(addedBy("cs4")(runBatch())("cs4").nonEmpty)
    assert(TableIO.selectTable(spark, lh, "cs4")
      .select(col("k")).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    TableIO.dropTable(spark, lh, "cs4")
  }
}
