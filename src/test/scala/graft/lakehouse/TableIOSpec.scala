package graft.lakehouse

import java.nio.file.Files

class TableIOSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("tio_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_tio", "lh_tio").lakehouses.head
  }

  test("getSQL: projection, escaping, distinct-as-group-by") {
    assert(TableIO.getSQL("t", Seq("a", "b c")) == "SELECT a, `b c` FROM t")
    assert(TableIO.getSQL("t", Seq("a"), distinct = true)
      == "SELECT a FROM t GROUP BY a")
    assert(TableIO.getSQL("t", Seq("*")) == "SELECT * FROM t")
  }

  test("write/select/read/drop round-trip + registry") {
    val df = Seq((1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)).toDF("k", "g", "v")
    val info = TableIO.writeTable(spark, lh, "t1", df)
    assert(info.rowCount == 3 && info.colCount == 3)
    assert(Catalog.getTables(lh).contains("t1"))
    assert(Catalog.allTables.contains("t1"))

    val full = TableIO.selectTable(spark, lh, "t1")
    assert(full.count() == 3)

    val filtered = TableIO.readTable(spark, lh, "t1", Seq("k", "v"), "v > 2.0")
    assert(filtered.columns.toSeq == Seq("k", "v"))
    assert(filtered.count() == 2)

    val distinct = TableIO.getColsFromTable(spark, lh, "t1", Seq("g"), distinct = true)
    assert(distinct.count() == 2)

    TableIO.dropTable(spark, lh, "t1")
    assert(!Catalog.getTables(lh).contains("t1"))
    assert(!Catalog.allTables.contains("t1"))
  }

  test("writeTable partitionBy produces hive-style layout") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "g")
    TableIO.writeTable(spark, lh, "t2", df, partitionBy = Seq("g"))
    val sub = Catalog.getTables(lh)
    assert(sub.contains("t2"))
    val files = TableIO.currentFiles(lh, "t2").map(_.toString)
    assert(files.nonEmpty && files.forall(_.contains("/g=")), files.mkString(","))
    val back = TableIO.selectTable(spark, lh, "t2")
    assert(back.count() == 2)
    // partition column round-trips through the manifest read: same columns,
    // g recovered from the path with its committed type
    assert(back.columns.toSet == Set("k", "g"))
    assert(back.select("k", "g").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet == Set((1, "a"), (2, "b")))
    TableIO.dropTable(spark, lh, "t2")
  }

  test("versioned overwrite: readers keep a consistent snapshot") {
    val v1 = Seq((1, "one"), (2, "two")).toDF("k", "s")
    TableIO.writeTable(spark, lh, "tv", v1)
    val readerOnV1 = TableIO.selectTable(spark, lh, "tv")
    assert(readerOnV1.count() == 2)

    // overwrite while the v1 reader is still alive
    val v2 = Seq((10, "ten"), (20, "twenty"), (30, "thirty")).toDF("k", "s")
    TableIO.writeTable(spark, lh, "tv", v2)

    // the old reader still scans the immutable v1 snapshot...
    assert(readerOnV1.count() == 2)
    assert(readerOnV1.select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
    // ...and a fresh read resolves to v2
    val readerOnV2 = TableIO.selectTable(spark, lh, "tv")
    assert(readerOnV2.count() == 3)
    assert(Versioned.latestVersion(Catalog.tablePath(lh, "tv")).contains(2L))

    // a third commit does NOT sweep v1 yet — it is within the age window
    // (two fast overwrites cannot sweep a snapshot a slow reader still
    // scans); an explicit zero-age vacuum prunes to the count floor
    TableIO.writeTable(spark, lh, "tv", v1)
    val tdir = Catalog.tablePath(lh, "tv")
    assert(TableIO.selectTableVersion(spark, lh, "tv", 1L).count() == 2)
    Versioned.vacuum(tdir, retainAgeMs = 0L)
    val names = new java.io.File(tdir).listFiles().map(_.getName).toSet
    assert(names.contains("_manifest_2") && names.contains("_manifest_3"))
    assert(!names.contains("_manifest_1") && !names.contains("_commit_1"), names)
    intercept[IllegalArgumentException] {
      TableIO.selectTableVersion(spark, lh, "tv", 1L)
    }
    TableIO.dropTable(spark, lh, "tv")
  }

  test("a crashed writer's orphaned claims never wedge the table") {
    val v1 = Seq((1, "a")).toDF("k", "s")
    TableIO.writeTable(spark, lh, "trace", v1)
    val tdir = Catalog.tablePath(lh, "trace")
    // simulate a writer that died mid-commit: an orphaned manifest claim
    // at 3 with no marker
    java.nio.file.Files.write(java.nio.file.Paths.get(tdir, "_manifest_3"),
      "{}\n".getBytes)
    // the next commit allocates PAST the orphan instead of colliding
    TableIO.writeTable(spark, lh, "trace", Seq((2, "b"), (3, "c")).toDF("k", "s"))
    assert(Versioned.latestVersion(tdir).contains(4L))
    assert(TableIO.selectTable(spark, lh, "trace").count() == 2)
    // the orphan is not a committed version
    assert(!Versioned.isCommitted(tdir, 3L))
    // and it is swept once it cannot be in-flight any more
    Versioned.vacuum(tdir, retainAgeMs = 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tdir, "_manifest_3")))
    assert(TableIO.selectTable(spark, lh, "trace").count() == 2)
    TableIO.dropTable(spark, lh, "trace")
  }

  test("an aborted commit leaves neither its change-feed sidecar nor its claim") {
    TableIO.writeTable(spark, lh, "tabort", Seq((1, "a")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "tabort")
    val base = Versioned.latestVersion(tdir).get
    val m = Versioned.readManifest(tdir, base).get
    var claimed = -1L
    // the hook writes this commit's own sidecar, then fails before the
    // marker: the commit must take both the sidecar and the claim with it
    val e = intercept[IllegalStateException] {
      Versioned.commitFiles(tdir, m.schemaJson, inherit = m.entries,
        expectedBase = Some(base), meta = m.meta, op = "ABORTED",
        beforeMarker = { (v, _, cid) =>
          claimed = v
          Seq((2, "b")).toDF("k", "s").write
            .parquet(java.nio.file.Paths.get(tdir, s"_cdf_${v}_$cid").toString)
          throw new IllegalStateException("hook failed")
        })
    }
    assert(e.getMessage == "hook failed")
    assert(claimed == base + 1)
    val names = new java.io.File(tdir).list().toSeq
    assert(!names.exists(_.startsWith("_cdf_")), names)
    assert(!names.contains(s"_manifest_$claimed"), names)
    assert(Versioned.latestVersion(tdir).contains(base))
    // the number is free again: the next commit takes it
    TableIO.appendTable(spark, lh, "tabort", Seq((3, "c")).toDF("k", "s"))
    assert(Versioned.latestVersion(tdir).contains(claimed))
    assert(TableIO.selectTable(spark, lh, "tabort").count() == 2)
    TableIO.dropTable(spark, lh, "tabort")
  }

  test("an aborted commit removes its staging directory and the data " +
      "files it already moved to the table root") {
    TableIO.writeTable(spark, lh, "tlitter", Seq((1, "a")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "tlitter")
    def parquetOnDisk: Set[String] = parquetUnder(tdir)
    def live: Set[String] = Versioned.readManifest(tdir,
      Versioned.latestVersion(tdir).get).get.entries.map(_.path).toSet
    val base = Versioned.latestVersion(tdir).get
    val m = Versioned.readManifest(tdir, base).get
    def stageRow(t: String): Map[String, String] = {
      Seq((2, "b")).toDF("k", "s").write.mode("append").parquet(t)
      Map.empty
    }
    var moved = Seq.empty[Versioned.FileEntry]
    // fails after the staged file moved to the root, before the marker
    val e = intercept[IllegalStateException] {
      Versioned.commitFiles(tdir, m.schemaJson, inherit = m.entries,
        expectedBase = Some(base), meta = m.meta, op = "ABORTED",
        stage = stageRow,
        beforeMarker = { (_, staged, _) =>
          moved = staged
          throw new IllegalStateException("hook failed")
        })
    }
    assert(e.getMessage == "hook failed")
    assert(moved.nonEmpty, "the hook should have seen the staged file")
    // fails inside the stage itself, after writing a file
    intercept[IllegalStateException] {
      Versioned.commitFiles(tdir, m.schemaJson, inherit = m.entries,
        expectedBase = Some(base), meta = m.meta, op = "ABORTED",
        stage = { t => stageRow(t); throw new IllegalStateException("x") })
    }
    val names = new java.io.File(tdir).list().toSeq
    assert(!names.exists(_.startsWith(Versioned.StagingPrefix)), names)
    assert(parquetOnDisk == live,
      s"unreferenced parquet: ${parquetOnDisk -- live}")
    assert(Versioned.latestVersion(tdir).contains(base))
    assert(TableIO.selectTable(spark, lh, "tlitter").count() == 1)
    TableIO.dropTable(spark, lh, "tlitter")
  }

  test("interleaved commits stay monotonic; conflict-checked commits fail loudly") {
    val tdir = Catalog.tablePath(lh, "trace2")
    TableIO.writeTable(spark, lh, "trace2", Seq((1, "a")).toDF("k", "s")) // v1
    // writer A stages and, mid-write, writer B runs a complete commit cycle
    // (simulated by nesting B inside A's write). Plain overwrites carry no
    // base dependency: both land, serialized by COMPLETION order (Delta
    // blind-overwrite semantics) — B takes v2, A retries onto v3.
    val schema = Seq((0, "")).toDF("k", "s").schema.json
    var inner: Long = -1
    val outer = Versioned.commitFiles(tdir, schema, stage = { target =>
      inner = Versioned.commitFiles(tdir, schema, stage = { t2 =>
        Seq((3, "c")).toDF("k", "s").write.mode("append").parquet(t2)
        Map.empty
      }).version
      Seq((2, "b")).toDF("k", "s").write.mode("append").parquet(target)
      Map.empty
    })
    assert(inner == 2L && outer.version == 3L, s"$inner / ${outer.version}")
    assert(Versioned.latestVersion(tdir).contains(3L))
    assert(Versioned.isCommitted(tdir, 2L)) // superseded but committed
    assert(TableIO.selectTable(spark, lh, "trace2").head().getInt(0) == 2)
    // a conflict-CHECKED commit (read-modify-write) in the same race must
    // throw instead of silently superseding the interleaved writer
    intercept[Versioned.ConcurrentWriteException] {
      Versioned.commitFiles(tdir, schema, expectedBase = Some(3L),
          stage = { target =>
        Versioned.commitFiles(tdir, schema, stage = { t2 =>
          Seq((9, "z")).toDF("k", "s").write.mode("append").parquet(t2)
          Map.empty
        })
        Seq((8, "y")).toDF("k", "s").write.mode("append").parquet(target)
        Map.empty
      })
    }
    TableIO.dropTable(spark, lh, "trace2")
  }

  test("writeTable sortBy clusters files into near-disjoint key ranges") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val df = spark.range(0, 20000).selectExpr(
      "cast(rand(7) * 1000000 as long) AS k", "id AS payload").repartition(8)
    // AQE coalesces this tiny fixture to one range partition (sub-MB
    // shuffle); disable coalescing so the clustering property is observable
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try TableIO.writeTable(spark, lh, "tsorted", df, sortBy = Seq("k"))
    finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
    val ranges = TableIO.selectTable(spark, lh, "tsorted")
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, "expected multiple files")
    // consecutive files must not overlap (range partitioning boundary rows
    // aside, lo of file i+1 >= hi of file i)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(lo2 >= hi1, ranges.mkString(","))
      case _ =>
    }
    // row count preserved through the clustering rewrite
    assert(TableIO.selectTable(spark, lh, "tsorted").count() == 20000)
    TableIO.dropTable(spark, lh, "tsorted")
  }

  test("mergeTable upserts by key; time travel reads prior versions") {
    val base = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "tmerge", base)
    val updates = Seq((2, "b2", 99), (4, "d", 40)).toDF("k", "s", "v")
    val info = TableIO.mergeTable(spark, lh, "tmerge", updates, Seq("k"))
    assert(info.rowCount == 4) // 1,3 kept; 2 updated; 4 inserted
    val rows = TableIO.selectTable(spark, lh, "tmerge")
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows == Map(1 -> ("a", 10), 2 -> ("b2", 99), 3 -> ("c", 30),
      4 -> ("d", 40)))
    // version 1 (pre-merge) is still readable within the retention window
    val v1 = TableIO.selectTableVersion(spark, lh, "tmerge", 1L)
    assert(v1.count() == 3)
    assert(v1.filter($"k" === 2).head().getString(1) == "b")
    intercept[IllegalArgumentException] {
      TableIO.selectTableVersion(spark, lh, "tmerge", 99L)
    }
    TableIO.dropTable(spark, lh, "tmerge")
  }

  test("mergeTable rejects duplicate update keys; maintenance keeps partitioning") {
    val base = Seq((1, "x", "a"), (2, "y", "b")).toDF("k", "s", "g")
    TableIO.writeTable(spark, lh, "tpart", base, partitionBy = Seq("g"))
    intercept[IllegalArgumentException] {
      TableIO.mergeTable(spark, lh, "tpart",
        Seq((2, "y2", "b"), (2, "y3", "b")).toDF("k", "s", "g"), Seq("k"))
    }
    // a clean merge preserves the hive layout through the rewrite
    TableIO.mergeTable(spark, lh, "tpart",
      Seq((3, "z", "a")).toDF("k", "s", "g"), Seq("k"))
    val files = TableIO.currentFiles(lh, "tpart").map(_.toString)
    assert(files.forall(_.contains("/g=")), files.mkString(","))
    assert(TableIO.selectTable(spark, lh, "tpart").count() == 3)
    // compaction preserves it too
    TableIO.compactTable(spark, lh, "tpart")
    val files2 = TableIO.currentFiles(lh, "tpart").map(_.toString)
    assert(files2.nonEmpty && files2.forall(_.contains("/g=")), files2.mkString(","))
    TableIO.dropTable(spark, lh, "tpart")
  }

  test("compactTable merges small files into a new atomic version") {
    val df = spark.range(0, 10000).selectExpr("id AS k", "id % 7 AS g")
      .repartition(16) // 16 small files
    TableIO.writeTable(spark, lh, "tcomp", df)
    def parquetFiles(): Int = TableIO.currentFiles(lh, "tcomp").size
    assert(parquetFiles() == 16)
    val v1 = Versioned.latestVersion(Catalog.tablePath(lh, "tcomp"))
    val info = TableIO.compactTable(spark, lh, "tcomp") // tiny -> 1 file
    assert(parquetFiles() == 1)
    assert(info.rowCount == 10000)
    assert(Versioned.latestVersion(Catalog.tablePath(lh, "tcomp"))
      .exists(v => v1.exists(_ < v)))
    // contents identical after compaction
    assert(TableIO.selectTable(spark, lh, "tcomp")
      .agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0)
      == (9999L * 10000L) / 2)
    TableIO.dropTable(spark, lh, "tcomp")
  }

  test("size-aware OPTIMIZE: right-sized files inherit by reference, " +
      "small files merge, new writes record __bytes in stats") {
    // one file well over the compaction target…
    val big = spark.range(0, 120000)
      .selectExpr("id AS k", "md5(cast(id as string)) AS s").coalesce(1)
    TableIO.writeTable(spark, lh, "szopt", big)
    // …plus four tiny appends (the small-file problem)
    (0 until 4).foreach { i =>
      TableIO.appendTable(spark, lh, "szopt",
        Seq((1000000L + i, s"tiny$i")).toDF("k", "s"))
    }
    val dir = Catalog.tablePath(lh, "szopt")
    val m0 = Versioned.latestVersion(dir)
      .flatMap(Versioned.readManifest(dir, _)).get
    assert(m0.entries.size == 5)
    // every entry of this round's writes carries a recorded byte size
    assert(m0.entries.forall(_.stats.exists(_.contains("\"__bytes\""))))
    val baseP = java.nio.file.Paths.get(dir)
    val byWidth = m0.entries.sortBy(e => Files.size(baseP.resolve(e.path)))
    val largest = byWidth.last.path
    assert(Files.size(baseP.resolve(largest)) > 64 * 1024)
    TableIO.compactTable(spark, lh, "szopt", targetFileBytes = 64 * 1024)
    val m1 = Versioned.latestVersion(dir)
      .flatMap(Versioned.readManifest(dir, _)).get
    // the right-sized file survived BY REFERENCE; tiny files merged
    assert(m1.entries.exists(_.path == largest), m1.entries.map(_.path))
    assert(m1.entries.size == 2, m1.entries.map(_.path))
    assert(!byWidth.dropRight(1).map(_.path).exists(p =>
      m1.entries.exists(_.path == p)))
    assert(TableIO.selectTable(spark, lh, "szopt").count() == 120004)
    // describeDetail's size_bytes comes from the manifest and matches disk
    val detail = TableIO.describeDetail(spark, lh, "szopt").head()
    val onDisk = m1.entries
      .map(e => Files.size(baseP.resolve(e.path))).sum
    assert(detail.getAs[Long]("size_bytes") == onDisk)
    TableIO.dropTable(spark, lh, "szopt")
  }

  test("maintainTable: fires only the maintenance the table needs — " +
      "compact for small-file debt, cluster-incremental for clustered " +
      "tables, analyze for stats-less entries, vacuum always") {
    def acts(name: String): Seq[String] =
      TableIO.maintainTable(spark, lh, name, targetFileBytes = 64 * 1024,
        smallFileThreshold = 4).collect().map(_.getString(0)).toSeq
    // 1. fragmented unclustered table -> compact, then healthy -> vacuum only
    TableIO.writeTable(spark, lh, "mt1",
      spark.range(0, 2000).selectExpr("id AS k", "id % 7 AS g")
        .repartition(12))
    assert(acts("mt1") == Seq("compact", "vacuum"))
    assert(acts("mt1") == Seq("vacuum"))
    assert(TableIO.selectTable(spark, lh, "mt1").count() == 2000)
    // 2. clustered table + fresh appends -> cluster-incremental, baseline
    // files untouched
    TableIO.writeTable(spark, lh, "mt2",
      spark.range(0, 30000).selectExpr(
        "(id * 48271) % 30000 AS x", "(id * 16807) % 30000 AS y"))
    TableIO.compactTable(spark, lh, "mt2", targetFileBytes = 64 * 1024,
      zorderBy = Seq("x", "y"), hilbert = true)
    val dir = Catalog.tablePath(lh, "mt2")
    val baseline = Versioned.latestVersion(dir)
      .flatMap(Versioned.readManifest(dir, _)).get.files.toSet
    (0 until 5).foreach(i => TableIO.appendTable(spark, lh, "mt2",
      spark.range(i * 10, i * 10 + 10).selectExpr("id AS x", "id AS y")))
    assert(acts("mt2") == Seq("cluster-incremental", "vacuum"))
    val after = Versioned.latestVersion(dir)
      .flatMap(Versioned.readManifest(dir, _)).get.files.toSet
    assert(baseline.subsetOf(after))
    assert(acts("mt2") == Seq("vacuum")) // idempotent
    // 3. stats-stripped entries -> analyze
    val m0 = Versioned.latestVersion(dir)
      .flatMap(Versioned.readManifest(dir, _)).get
    Versioned.commitFiles(dir, m0.schemaJson,
      inherit = m0.entries.map(_.copy(stats = None)),
      expectedBase = Versioned.latestVersion(dir), meta = m0.meta,
      op = "STRIP")
    assert(acts("mt2").contains("analyze"))
    Seq("mt1", "mt2").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("generated columns: computed when a batch omits them, validated " +
      "when supplied, survive overwrites, droppable") {
    val base = (1 to 50).map(i => (i.toLong, i.toLong % 10)).toDF("k", "bucket")
    TableIO.writeTable(spark, lh, "gen1", base)
    TableIO.setGeneratedColumn(spark, lh, "gen1", "bucket", "k % 10")
    // batch WITHOUT the column -> computed
    TableIO.appendTable(spark, lh, "gen1", Seq(77L).toDF("k"))
    val r77 = TableIO.selectTable(spark, lh, "gen1")
      .filter(org.apache.spark.sql.functions.col("k") === 77L).head()
    assert(r77.getAs[Long]("bucket") == 7L)
    // batch WITH a wrong value -> loud CHECK violation
    val ex = intercept[IllegalArgumentException] {
      TableIO.appendTable(spark, lh, "gen1",
        Seq((88L, 3L)).toDF("k", "bucket"))
    }
    assert(ex.getMessage.contains("__gen_bucket"), ex.getMessage)
    // batch with the right value passes
    TableIO.appendTable(spark, lh, "gen1", Seq((88L, 8L)).toDF("k", "bucket"))
    // overwrite without the column: computed, and the declaration survives
    TableIO.writeTable(spark, lh, "gen1", Seq(5L, 12L).toDF("k"))
    val after = TableIO.selectTable(spark, lh, "gen1")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bucket")).toMap
    assert(after == Map(5L -> 5L, 12L -> 2L), after)
    intercept[IllegalArgumentException] {
      TableIO.appendTable(spark, lh, "gen1", Seq((9L, 1L)).toDF("k", "bucket"))
    }
    // double-declare rejected while declared
    intercept[IllegalArgumentException] {
      TableIO.setGeneratedColumn(spark, lh, "gen1", "bucket", "k % 10")
    }
    // drop: no longer computed or enforced
    TableIO.dropGeneratedColumn(spark, lh, "gen1", "bucket")
    // self-reference rejected (checked before anything commits)
    intercept[IllegalArgumentException] {
      TableIO.setGeneratedColumn(spark, lh, "gen1", "bucket", "bucket + 0")
    }
    TableIO.appendTable(spark, lh, "gen1", Seq((13L, 999L)).toDF("k", "bucket"))
    assert(TableIO.selectTable(spark, lh, "gen1")
      .filter(org.apache.spark.sql.functions.col("k") === 13L).head().getAs[Long]("bucket") == 999L)
    TableIO.dropTable(spark, lh, "gen1")
  }

  test("identity columns: contiguous watermark-based assignment, atomic " +
      "advance, explicit values rejected, no reuse across overwrites") {
    TableIO.writeTable(spark, lh, "idt1",
      Seq("a", "b", "c").toDF("s"))
    TableIO.setIdentityColumn(spark, lh, "idt1", "id")
    TableIO.appendTable(spark, lh, "idt1", Seq("d", "e").toDF("s"))
    def ids(): Set[Long] = TableIO.selectTable(spark, lh, "idt1")
      .collect().flatMap(r => Option(r.getAs[java.lang.Long]("id"))
        .map(_.longValue)).toSet
    // historical rows read null; the new batch got 1..2
    assert(ids() == Set(1L, 2L))
    TableIO.appendTable(spark, lh, "idt1", Seq("f", "g", "h").toDF("s"))
    assert(ids() == Set(1L, 2L, 3L, 4L, 5L))
    // explicit values are rejected (GENERATED ALWAYS)
    val ex = intercept[IllegalArgumentException] {
      TableIO.appendTable(spark, lh, "idt1",
        Seq((99L, "z")).toDF("id", "s"))
    }
    assert(ex.getMessage.contains("IDENTITY"), ex.getMessage)
    // overwrite: declaration survives, values never reused
    TableIO.writeTable(spark, lh, "idt1", Seq("x", "y").toDF("s"))
    assert(ids() == Set(6L, 7L), ids())
    // seeding from an existing column's max
    TableIO.writeTable(spark, lh, "idt2",
      Seq((10L, "a"), (40L, "b")).toDF("id", "s"))
    TableIO.setIdentityColumn(spark, lh, "idt2", "id")
    TableIO.appendTable(spark, lh, "idt2", Seq("c").toDF("s"))
    assert(TableIO.selectTable(spark, lh, "idt2")
      .collect().map(_.getLong(0)).toSet == Set(10L, 40L, 41L))
    Seq("idt1", "idt2").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("RESTORE keeps the identity watermark monotonic: post-restore " +
      "appends never reuse ids handed out after the restore target") {
    TableIO.writeTable(spark, lh, "idr1", Seq("a").toDF("s"))
    TableIO.setIdentityColumn(spark, lh, "idr1", "id")
    TableIO.appendTable(spark, lh, "idr1", Seq("b").toDF("s")) // id 1
    val dir = Catalog.tablePath(lh, "idr1")
    val vAfterFirst = Versioned.latestVersion(dir).get
    TableIO.appendTable(spark, lh, "idr1", Seq("c", "d").toDF("s")) // 2, 3
    TableIO.restoreTable(spark, lh, "idr1", vAfterFirst)
    TableIO.appendTable(spark, lh, "idr1", Seq("e").toDF("s"))
    val ids = TableIO.selectTable(spark, lh, "idr1")
      .collect().flatMap(r => Option(r.getAs[java.lang.Long]("id"))
        .map(_.longValue)).toSet
    // the restored state has id 1; the new row continues at 4, NOT 2
    assert(ids == Set(1L, 4L), ids)
    TableIO.dropTable(spark, lh, "idr1")
  }

  test("whole-row mergeTable is rejected on identity tables") {
    TableIO.writeTable(spark, lh, "idm2",
      Seq((1L, "a")).toDF("id", "s"))
    TableIO.setIdentityColumn(spark, lh, "idm2", "id")
    val ex = intercept[IllegalArgumentException] {
      TableIO.mergeTable(spark, lh, "idm2",
        Seq((99L, "b")).toDF("id", "s"), Seq("s"))
    }
    assert(ex.getMessage.contains("IDENTITY"), ex.getMessage)
    TableIO.dropTable(spark, lh, "idm2")
  }

  test("UPDATE SET cannot modify an identity column") {
    TableIO.writeTable(spark, lh, "idu1",
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TableIO.setIdentityColumn(spark, lh, "idu1", "id")
    val ex = intercept[IllegalArgumentException] {
      TableIO.updateTable(spark, lh, "idu1", "s = 'a'",
        Map("id" -> "99"))
    }
    assert(ex.getMessage.contains("IDENTITY"), ex.getMessage)
    TableIO.dropTable(spark, lh, "idu1")
  }

  test("pre-protocol directories stay readable; legacy files swept later") {
    val legacyDir = Catalog.tablePath(lh, "tlegacy")
    Seq((7, "x")).toDF("k", "s").write.parquet(legacyDir) // no pointer file
    assert(TableIO.selectTable(spark, lh, "tlegacy").count() == 1)
    def rootParquet(): Set[String] = new java.io.File(legacyDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
    val legacy = rootParquet()
    assert(legacy.nonEmpty)
    // versioned commits leave the legacy copy within the age window
    // (grace for slow readers of the pre-protocol layout)...
    TableIO.writeTable(spark, lh, "tlegacy", Seq((8, "y")).toDF("k", "s"))
    assert(legacy.subsetOf(rootParquet()))
    assert(TableIO.selectTable(spark, lh, "tlegacy").count() == 1)
    // ...an aged vacuum sweeps exactly the unreferenced legacy files (the
    // new version's root files are manifest-referenced and survive)
    Versioned.vacuum(Catalog.tablePath(lh, "tlegacy"), retainAgeMs = 0L)
    assert(rootParquet().intersect(legacy).isEmpty)
    assert(TableIO.selectTable(spark, lh, "tlegacy").count() == 1)
    TableIO.dropTable(spark, lh, "tlegacy")
  }

  test("pre-protocol HIVE-PARTITIONED layout stays readable and is swept by vacuum") {
    val legacyDir = Catalog.tablePath(lh, "tlegacyp")
    Seq((1, "a"), (2, "b")).toDF("k", "g").write.partitionBy("g").parquet(legacyDir)
    assert(TableIO.selectTable(spark, lh, "tlegacyp").count() == 2)
    def legacyPartDirs(): Int = new java.io.File(legacyDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("g="))
    assert(legacyPartDirs() == 2)
    // adopt the protocol (partitioned overwrite), then age-vacuum: the
    // legacy col=value dirs' files are unreferenced -> swept; the NEW
    // manifest's files (also under g=... at the root) survive
    TableIO.writeTable(spark, lh, "tlegacyp",
      Seq((3, "c"), (4, "d")).toDF("k", "g"), partitionBy = Seq("g"))
    Versioned.vacuum(legacyDir, retainAgeMs = 0L)
    val back = TableIO.selectTable(spark, lh, "tlegacyp")
    assert(back.collect().map(_.getInt(0)).toSet == Set(3, 4))
    // every remaining parquet under the root is manifest-referenced
    val remaining = TableIO.currentFiles(lh, "tlegacyp").map(_.toString).toSet
    val onDisk = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(legacyDir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet")).map(_.toString).toSet
      } finally s.close()
    }
    assert(onDisk == remaining, s"unswept: ${onDisk -- remaining}")
    TableIO.dropTable(spark, lh, "tlegacyp")
  }

  test("selectTable on a missing table surfaces the root cause") {
    val e = intercept[Exception](TableIO.selectTable(spark, lh, "nope").collect())
    assert(e.getMessage.toLowerCase.contains("nope")
      || TableIO.rootCause(e).getMessage.toLowerCase.contains("path"))
  }

  test("sqlQueryDataFrame: multi-view join") {
    val a = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val b = Seq((1, 10.0)).toDF("id", "w")
    val out = QueryApi.sqlQueryDataFrame(spark, Seq(a, b), Seq("qa_t", "qb_t"),
      "SELECT qa_t.id, v, w FROM qa_t JOIN qb_t ON qa_t.id = qb_t.id")
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(1))
    intercept[IllegalArgumentException](
      QueryApi.sqlQueryDataFrame(spark, Seq(a), Seq("x", "y"), "SELECT 1"))
  }

  test("JSONL export/import roundtrips nulls (JSON omits null fields; " +
      "the pinned-schema read must restore them)") {
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "a", 1.5), (2L, null, null), (3L, "", 0.0))
      .toDF("k", "s", "x")
    TableIO.writeTable(spark, lh, "jsonl_rt", df)
    val out = TableIO.exportTableJsonl(spark, lh, "jsonl_rt")
    val back = TableIO.importJsonl(spark, out,
      TableIO.selectTable(spark, lh, "jsonl_rt").schema)
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
    assert(back == Set((1L, Some("a"), Some(1.5)),
      (2L, None, None), (3L, Some(""), Some(0.0))), back)
    TableIO.dropTable(spark, lh, "jsonl_rt")
  }

  test("importJsonl FAILFASTs on a corrupt line instead of yielding a " +
      "phantom all-null row") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_corrupt").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2, "v": "trunca""".stripMargin)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("v", org.apache.spark.sql.types.StringType)
    val e = intercept[org.apache.spark.SparkException] {
      TableIO.importJsonl(spark, dir, schema).collect()
    }
    assert(e.getMessage != null)
  }

  /** Parquet files under `tdir` (sidecars included), table-relative. */
  private def parquetUnder(tdir: String): Set[String] = {
    val root = java.nio.file.Paths.get(tdir)
    val w = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString).toSet
    } finally w.close()
  }

  /** `tdir` holds exactly version `base`: no staging dir, no sidecar, no
    * claim past it, and no parquet its manifest does not name. */
  private def leftAt(tdir: String, base: Long): Unit = {
    val names = new java.io.File(tdir).list().toSeq
    assert(!names.exists(_.startsWith(Versioned.StagingPrefix)), names)
    assert(!names.exists(_.startsWith("_cdf_")), names)
    assert(!names.contains(s"_manifest_${base + 1}"), names)
    assert(Versioned.latestVersion(tdir).contains(base))
    val live = Versioned.readManifest(tdir, base).get.entries.map(_.path).toSet
    assert(parquetUnder(tdir) == live,
      s"unreferenced parquet: ${parquetUnder(tdir) -- live}")
  }

  test("a change-row write that fails inside the stage aborts the commit, " +
      "whether it runs beside the data write or after it") {
    TableIO.writeTable(spark, lh, "tcrfail", Seq((1, "a")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "tcrfail")
    val base = Versioned.latestVersion(tdir).get
    val m = Versioned.readManifest(tdir, base).get
    def stageRow(t: String): Map[String, String] = {
      Seq((2, "b")).toDF("k", "s").write.mode("append").parquet(t)
      Map.empty
    }
    val failing = spark.range(3).selectExpr("cast(id AS int) k",
      "cast(raise_error('no rows') AS string) s")
    Seq(TableIO.Beside(failing),
        TableIO.FromStaged(m.schemaJson, _ => failing)).foreach { rows =>
      val e = intercept[Exception] {
        Versioned.commitFiles(tdir, m.schemaJson, inherit = m.entries,
          expectedBase = Some(base), meta = m.meta, op = "ABORTED",
          stage = TableIO.withChangeRows(spark, Some(rows))(stageRow))
      }
      assert(e.getMessage.contains("no rows"), e)
      leftAt(tdir, base)
    }
    assert(TableIO.selectTable(spark, lh, "tcrfail").count() == 1)
    TableIO.dropTable(spark, lh, "tcrfail")
  }

  test("a commit that loses the race with its change rows staged aborts " +
      "cleanly") {
    TableIO.writeTable(spark, lh, "tcrrace", Seq((1, "a")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "tcrrace")
    val base = Versioned.latestVersion(tdir).get
    val m = Versioned.readManifest(tdir, base).get
    val changes = Seq((1, "a", "delete")).toDF("k", "s", "_change_type")
    intercept[Versioned.ConcurrentWriteException] {
      Versioned.commitFiles(tdir, m.schemaJson, inherit = m.entries,
        expectedBase = Some(base), meta = m.meta, op = "ABORTED",
        stage = { t =>
          val stats = TableIO.withChangeRows(spark,
              Some(TableIO.Beside(changes))) { t2 =>
            Seq((2, "b")).toDF("k", "s").write.mode("append").parquet(t2)
            Map.empty
          }(t)
          assert(Files.isDirectory(
            java.nio.file.Paths.get(t, Versioned.StagedChangesDir)))
          // another writer commits between this stage and its claim
          TableIO.appendTable(spark, lh, "tcrrace",
            Seq((3, "c")).toDF("k", "s"))
          stats
        })
    }
    leftAt(tdir, base + 1)
    assert(TableIO.selectTable(spark, lh, "tcrrace").count() == 2)
    TableIO.dropTable(spark, lh, "tcrrace")
  }

  test("vacuum's age rule sweeps a crashed writer's staging directory " +
      "holding change rows") {
    TableIO.writeTable(spark, lh, "tcrcrash", Seq((1, "a")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "tcrcrash")
    val base = Versioned.latestVersion(tdir).get
    val staging = java.nio.file.Paths.get(tdir, Versioned.StagingPrefix + "crashed")
    Seq((2, "b")).toDF("k", "s").write.parquet(staging.toString)
    Seq((1, "a", "delete")).toDF("k", "s", "_change_type").write
      .parquet(staging.resolve(Versioned.StagedChangesDir).toString)
    // young: a live writer's scratch is kept
    Versioned.vacuum(tdir)
    assert(Files.isDirectory(staging.resolve(Versioned.StagedChangesDir)))
    Versioned.vacuum(tdir, retainAgeMs = 0L)
    leftAt(tdir, base)
    assert(TableIO.selectTable(spark, lh, "tcrcrash").count() == 1)
    TableIO.dropTable(spark, lh, "tcrcrash")
  }

  test("listing a stage's data files never enters the change rows a " +
      "second thread is still writing beside them") {
    val staging = Files.createTempDirectory("staged_walk")
    val data = staging.resolve("g=1/part-0.parquet")
    Files.createDirectories(data.getParent)
    Files.write(data, Array[Byte](1))
    val temp = staging.resolve(Versioned.StagedChangesDir).resolve("_temporary")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // task files appearing and vanishing, as a Spark write commits them
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get) {
        val task = temp.resolve(s"0/task_$i")
        Files.createDirectories(task)
        Files.write(task.resolve("part-0.parquet"), Array[Byte](1))
        Versioned.deleteRecursively(temp)
        i += 1
      }
    })
    writer.start()
    try (1 to 2000).foreach(_ =>
      assert(Versioned.stagedDataFiles(staging) == Seq(data)))
    finally { stop.set(true); writer.join() }
  }
}
