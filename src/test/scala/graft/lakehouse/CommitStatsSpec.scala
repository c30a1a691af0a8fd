package graft.lakehouse

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** Every commit path stages its files and their stats in one step: each
  * manifest entry a commit adds must carry exactly the stats the read-back
  * aggregation ([[TableIO.collectFileStats]]) derives from that file, and a
  * commit that stages nothing must add no entries. Every commit also hands
  * back the manifest it committed: schema, entries in order and meta equal
  * what [[Versioned.readManifest]] resolves at its version. */
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

  /** Runs `body` and returns the commits it made to `tables`, each after
    * checking that the manifest it returned is the one committed. */
  private def commitsOf(tables: String*)(body: => Unit)
      : Seq[Versioned.Commit] = {
    def key(dir: String) = Paths.get(dir).toAbsolutePath.normalize
    val dirs = tables.map(t => key(Catalog.tablePath(lh, t))).toSet
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Versioned.Commit)]()
    Versioned.onCommit = (dir, c) => if (dirs(key(dir))) seen.add(dir -> c)
    try body finally Versioned.onCommit = (_, _) => ()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.map { case (dir, c) =>
      val m = Versioned.readManifest(dir, c.version).get
      assert(c.manifest.schemaJson == m.schemaJson, s"$dir@${c.version}: schema")
      assert(c.manifest.entries == m.entries, s"$dir@${c.version}: entries")
      assert(c.manifest.meta == m.meta, s"$dir@${c.version}: meta")
      c
    }
  }

  /** Runs `commit` and returns, per table, the entries it added (paths
    * absent from the table's previous version), after checking each one's
    * stats against a read-back over a copy of the file at its relative
    * path (so partition stats still come from the path segments), and
    * that every commit it made returned its committed manifest. */
  private def addedBy(tables: String*)(commit: => Unit)
      : Map[String, Seq[Versioned.FileEntry]] = {
    val before = tables.map(t =>
      t -> manifest(t).map(_.files.toSet).getOrElse(Set.empty)).toMap
    assert(commitsOf(tables: _*)(commit).nonEmpty, "no commit observed")
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

  test("an append and a compaction after a Bloom column became a " +
      "partition column commit their files' stats") {
    TableIO.writeTable(spark, lh, "cs8", rows(40).repartition(2),
      bloomFilterFor = Seq("g"))
    TableIO.evolvePartitioning(spark, lh, "cs8", Seq("g"))
    assert(addedBy("cs8") {
      TableIO.appendTable(spark, lh, "cs8", rows(5, from = 100))
    }("cs8").nonEmpty)
    val compacted = addedBy("cs8")(TableIO.compactTable(spark, lh, "cs8"))
    assert(compacted("cs8").nonEmpty && compacted("cs8").forall(e =>
      e.path.startsWith("g=") &&
        !e.stats.exists(_.contains(Bloom.StatsPrefix + "g"))))
    assert(TableIO.selectTable(spark, lh, "cs8").count() == 45)
    TableIO.dropTable(spark, lh, "cs8")
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

  test("a delta-encoded DV delete returns its manifest: the stats-changed " +
      "entry re-added after the inherited ones") {
    TableIO.writeTable(spark, lh, "cs5", rows(60).repartition(6))
    val dir = Catalog.tablePath(lh, "cs5")
    val before = manifest("cs5").get
    val Seq(c) = commitsOf("cs5") {
      TableIO.deleteFromTable(spark, lh, "cs5", "k = 5",
        deletionVectors = true)
    }
    assert(Versioned.manifestMetaOnly(dir, c.version).get
      .contains(Versioned.BasedOnKey), "the DV delete was not delta-encoded")
    val vectored = c.manifest.entries.last
    assert(Versioned.dvRefOf(vectored).isDefined)
    assert(c.manifest.entries.init ==
      before.entries.filterNot(_.path == vectored.path))
    assert(TableIO.selectTable(spark, lh, "cs5").count() == 59)
    TableIO.dropTable(spark, lh, "cs5")
  }

  test("a row-tracked append returns its manifest with the added files' " +
      "base row ids") {
    TableIO.writeTable(spark, lh, "cs6", rows(20).repartition(2))
    assert(commitsOf("cs6")(TableIO.enableRowTracking(spark, lh, "cs6"))
      .size == 1)
    val before = manifest("cs6").get.files.toSet
    val Seq(c) = commitsOf("cs6") {
      TableIO.appendTable(spark, lh, "cs6", rows(5, from = 100))
    }
    val added = c.manifest.entries.filterNot(e => before(e.path))
    assert(added.nonEmpty && added.forall(e => Versioned.statsField(
      e.stats, Versioned.BaseRowIdStatKey).isDefined))
    TableIO.dropTable(spark, lh, "cs6")
  }

  test("a commit whose in-commit timestamp is re-clamped after the claim " +
      "returns the re-clamped stamp") {
    // writer B runs a whole commit while writer A stages (nested inside
    // A's stage): B's stamp is at least A's pre-claim stamp, so A
    // re-clamps above it once it has claimed the next version
    TableIO.writeTable(spark, lh, "cs7", rows(3))
    val dir = Catalog.tablePath(lh, "cs7")
    val schema = rows(1).schema.json
    def stageRows(n: Int, from: Int)(target: String): Map[String, String] = {
      rows(n, from).write.mode("append").parquet(target)
      Map.empty
    }
    val Seq(inner, outer) = commitsOf("cs7") {
      Versioned.commitFiles(dir, schema, stage = { target =>
        Versioned.commitFiles(dir, schema, stage = stageRows(1, 10))
        stageRows(1, 20)(target)
      })
    }
    assert(outer.version == inner.version + 1)
    def ts(c: Versioned.Commit) = c.manifest.meta(Versioned.CommitTsKey).toLong
    assert(ts(outer) == ts(inner) + 1, "the outer commit was not re-clamped")
    TableIO.dropTable(spark, lh, "cs7")
  }

  test("TableInfo is built in one place") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"sources not found under $root")
    val built = """(?<!class )\bTableInfo\(""".r
    val walk = Files.walk(root)
    val sites =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.flatMap { f =>
          val src = new String(Files.readAllBytes(f), "UTF-8")
          built.findAllMatchIn(src).map { hit =>
            val name = """\n  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
              .findAllMatchIn(src.substring(0, hit.start)).toSeq
              .lastOption.map(_.group(1)).getOrElse("?")
            s"${f.getFileName}:$name"
          }
        }
      finally walk.close()
    assert(sites == Seq("TableIO.scala:tableInfoOf"),
      s"TableInfo built at: ${sites.sorted.mkString(", ")}")
  }
}
