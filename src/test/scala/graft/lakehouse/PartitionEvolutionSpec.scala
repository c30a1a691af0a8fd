package graft.lakehouse

import java.nio.file.{Files, Paths}

/** Partition evolution without rewrite (Iceberg-style spec change):
  * the evolution commit is metadata-only, future writes use the new
  * layout while old files stay byte-identical, scans union the layout
  * generations, pruning still works, and compact materializes the
  * current spec. */
class PartitionEvolutionSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("pevo_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_pevo", "lh_pevo").lakehouses.head
  }

  private def fileState(name: String): Set[(String, Long)] =
    TableIO.currentFiles(lh, name).map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toSet

  test("unpartitioned -> partitioned: metadata-only evolution, appends " +
      "land in col=value dirs, old files untouched, reads union both") {
    val base = (1 to 100).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", i * 1.0)).toDF("k", "g", "v")
    TableIO.writeTable(spark, lh, "pe1", base)
    val before = fileState("pe1")
    assert(before.forall(!_._1.contains("/g=")))
    TableIO.evolvePartitioning(spark, lh, "pe1", Seq("g"))
    assert(fileState("pe1") == before, "evolution rewrote data files")
    TableIO.appendTable(spark, lh, "pe1",
      Seq((1000L, "a", 5.0), (1001L, "b", 6.0)).toDF("k", "g", "v"))
    val after = fileState("pe1")
    assert(before.subsetOf(after), "old files were rewritten")
    val newFiles = after -- before
    assert(newFiles.nonEmpty && newFiles.forall(_._1.contains("/g=")),
      s"appends ignored the evolved spec: $newFiles")
    val got = TableIO.selectTable(spark, lh, "pe1")
    assert(got.count() == 102)
    val byG = got.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG == Map("a" -> 51L, "b" -> 51L))
    // the partition column reads correctly from BOTH generations
    assert(got.filter($"k" === 1000L).head().getString(1) == "a")
    assert(got.filter($"k" === 3L).head().getString(1) == "b")
  }

  test("partitioned -> unpartitioned evolution also mixes cleanly") {
    val base = (1 to 60).map(i =>
      (i.toLong, if (i % 3 == 0) "x" else "y", i * 1.0)).toDF("k", "g", "v")
    TableIO.writeTable(spark, lh, "pe2", base, partitionBy = Seq("g"))
    TableIO.evolvePartitioning(spark, lh, "pe2", Seq.empty)
    TableIO.appendTable(spark, lh, "pe2", Seq((100L, "x", 1.0)).toDF("k", "g", "v"))
    val newFiles = TableIO.currentFiles(lh, "pe2")
      .map(_.toString).filterNot(_.contains("/g="))
    assert(newFiles.nonEmpty, "append still wrote the old layout")
    val got = TableIO.selectTable(spark, lh, "pe2")
    assert(got.count() == 61)
    assert(got.filter($"g" === "x").count() == 21)
    assert(got.filter($"k" === 100L).head().getString(1) == "x")
  }

  test("merge after evolution rewrites affected files into the new " +
      "layout; untouched old-layout files inherit") {
    val base = (1 to 200).map(i =>
      (i.toLong, if (i % 2 == 0) "e" else "o", i * 1.0)).toDF("k", "g", "v")
    TableIO.writeTable(spark, lh, "pe3", base, partitionBy = Seq("g"))
    TableIO.evolvePartitioning(spark, lh, "pe3", Seq.empty)
    TableIO.mergeTable(spark, lh, "pe3",
      Seq((2L, "e", 999.0)).toDF("k", "g", "v"), Seq("k"))
    val got = TableIO.selectTable(spark, lh, "pe3")
    assert(got.count() == 200)
    // path-based hive scans surface partition columns last (Spark file-
    // source semantics) — read by name, not position
    assert(got.columns.toSet == Set("k", "g", "v"))
    assert(got.filter($"k" === 2L).head().getAs[Double]("v") == 999.0)
    // g=o partition untouched (merge only touched g=e files)
    assert(TableIO.currentFiles(lh, "pe3").map(_.toString)
      .exists(_.contains("/g=o/")))
    TableIO.compactTable(spark, lh, "pe3")
    // compaction materializes the CURRENT (unpartitioned) spec
    assert(TableIO.currentFiles(lh, "pe3").map(_.toString)
      .forall(!_.contains("/g=")))
    assert(TableIO.selectTable(spark, lh, "pe3").count() == 200)
  }

  test("a Bloom column that becomes a partition column still prunes in " +
      "its declared type") {
    // g is a long; files partitioned by g record no Bloom for it (their
    // path-derived min = max stats prune it exactly), so an Eq probe
    // hashing the declared type cannot drop the appended file
    val base = (1 to 100).map(i => (i.toLong, (i % 4).toLong, i * 1.0))
      .toDF("k", "g", "v")
    TableIO.writeTable(spark, lh, "pe7", base.repartition(2),
      bloomFilterFor = Seq("g"))
    TableIO.evolvePartitioning(spark, lh, "pe7", Seq("g"))
    TableIO.appendTable(spark, lh, "pe7",
      Seq((1000L, 1L, 5.0)).toDF("k", "g", "v"))
    assert(TableIO.selectTable(spark, lh, "pe7").filter($"g" === 1L)
      .count() == 26)
    assert(TableIO.readTable(spark, lh, "pe7", condition = "g = 1")
      .count() == 26)
    assert(TableIO.prunedScanEq(spark, lh, "pe7", "g", 1L).count() == 26)
    val added = TableIO.currentFiles(lh, "pe7").map(_.toString)
      .filter(_.contains("/g="))
    assert(added.nonEmpty, "the append ignored the evolved spec")
  }

  test("evolution rejects unknown and renamed columns") {
    val base = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    TableIO.writeTable(spark, lh, "pe4", base)
    intercept[IllegalArgumentException] {
      TableIO.evolvePartitioning(spark, lh, "pe4", Seq("nope"))
    }
    TableIO.renameColumn(spark, lh, "pe4", "s", "t")
    intercept[IllegalArgumentException] {
      TableIO.evolvePartitioning(spark, lh, "pe4", Seq("t"))
    }
    // and renaming a declared partition column is rejected
    TableIO.writeTable(spark, lh, "pe5", base)
    TableIO.evolvePartitioning(spark, lh, "pe5", Seq("s"))
    intercept[IllegalArgumentException] {
      TableIO.renameColumn(spark, lh, "pe5", "s", "t")
    }
  }

  test("after an evolution, column DDL, clones and a no-op copyInto report " +
      "the declared spec, as the next append does") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val base = (1 to 20).map(i =>
      (i, if (i % 2 == 0) "a" else "b", i, i)).toDF("k", "s", "x", "y")
    val src = Files.createTempDirectory("pevo_src").resolve("in").toString
    base.write.parquet(src)
    val cases: Seq[(String, String => TableInfo)] = Seq(
      "renameColumn" -> (t => TableIO.renameColumn(spark, lh, t, "x", "x2")),
      "dropColumn" -> (t => TableIO.dropColumn(spark, lh, t, "y")),
      "widenColumnType" ->
        (t => TableIO.widenColumnType(spark, lh, t, "x", LongType)),
      "widenColumnType, no-op" ->
        (t => TableIO.widenColumnType(spark, lh, t, "x", IntegerType)),
      "shallow cloneTable" ->
        (t => TableIO.cloneTable(spark, lh, t, s"${t}_clone")),
      "deep cloneTable" ->
        (t => TableIO.cloneTable(spark, lh, t, s"${t}_clone", deep = true)),
      "no-op copyInto" -> { t =>
        Ingest.copyInto(spark, lh, t, src, format = "parquet")
        Ingest.copyInto(spark, lh, t, src, format = "parquet").table
      })
    val reported = cases.zipWithIndex.map { case ((op, run), i) =>
      val t = s"pe6_$i"
      TableIO.writeTable(spark, lh, t, base)
      TableIO.evolvePartitioning(spark, lh, t, Seq("s"))
      val info = run(t)
      val name = Paths.get(info.path).getFileName.toString
      val next = TableIO.appendTable(spark, lh, name,
        TableIO.selectTable(spark, lh, name).limit(1))
      (op, info.partitionBy, next.partitionBy)
    }
    assert(reported == cases.map(c => (c._1, Seq("s"), Seq("s"))),
      reported.mkString("\n"))
  }
}
