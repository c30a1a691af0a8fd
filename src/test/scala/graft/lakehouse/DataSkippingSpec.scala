package graft.lakehouse

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Per-file column stats (manifest data skipping), stat-pruned scans, and
  * file-level DELETE. */
class DataSkippingSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("skip_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_skip", "lh_skip").lakehouses.head
  }

  private def withFixedPartitions[A](f: => A): A = {
    // AQE coalesces tiny fixtures into one file; pin partitions so the
    // multi-file clustering property is observable at test scale
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("manifests record per-file min/max; clustered range scans prune most files") {
    val df = spark.range(0, 40000).selectExpr("id AS k", "id % 97 AS payload")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "clustered", df, sortBy = Seq("k"))
    }
    val tdir = Catalog.tablePath(lh, "clustered")
    val m = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
    assert(m.entries.size > 1, "fixture should span multiple files")
    assert(m.entries.forall(_.stats.nonEmpty), "every file needs stats")

    // narrow range over the k-clustered table: most files must prune away
    val Some((spec, total)) =
      TableIO.pruneFiles(lh, "clustered", "k", Some(100L), Some(200L))
    assert(total == m.entries.size)
    assert(spec.relFiles.size < total,
      s"pruned ${spec.relFiles.size} of $total — clustering should skip files")

    // and the pruned result is EXACTLY the unpruned filtered result
    val pruned = TableIO.prunedScan(spark, lh, "clustered", "k",
      Some(100L), Some(200L)).orderBy("k").collect()
    val full = TableIO.selectTable(spark, lh, "clustered")
      .filter($"k" >= 100L && $"k" <= 200L).orderBy("k").collect()
    assert(pruned.sameElements(full) && pruned.length == 101)
    TableIO.dropTable(spark, lh, "clustered")
  }

  test("pruning is conservative on unclustered data and string columns") {
    val df = Seq((5L, "banana"), (1L, "apple"), (9L, "cherry"), (3L, "apricot"))
      .toDF("k", "s").repartition(2)
    withFixedPartitions { TableIO.writeTable(spark, lh, "uncl", df) }
    val got = TableIO.prunedScan(spark, lh, "uncl", "s",
      Some("apple"), Some("apricot")).select("s").collect()
      .map(_.getString(0)).toSet
    assert(got == Set("apple", "apricot"))
    // open-ended ranges work too
    assert(TableIO.prunedScan(spark, lh, "uncl", "k", lo = Some(5L), hi = None)
      .count() == 2)
    TableIO.dropTable(spark, lh, "uncl")
  }

  test("timestamp stats prune by PARSED value, not string rendering") {
    // java.sql.Timestamp.toString renders '...56.0' where Spark's stat
    // string is '...56' — a raw string compare would prune the boundary row
    val ts = java.sql.Timestamp.valueOf("2024-01-01 12:34:56")
    val rows = (0 until 1000).map(i =>
      (i.toLong, new java.sql.Timestamp(ts.getTime + i * 60000L)))
      .toDF("k", "t")
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "tsed", rows.repartition(4), sortBy = Seq("t"))
    }
    // range pinned exactly at a recorded max: the boundary row must survive
    val got = TableIO.prunedScan(spark, lh, "tsed", "t", Some(ts), Some(ts))
      .collect()
    assert(got.length == 1 && got.head.getLong(0) == 0L,
      s"boundary timestamp row lost to string-compare pruning: ${got.length}")
    // and equality probing by the boxed timestamp type works end to end
    val mid = new java.sql.Timestamp(ts.getTime + 500 * 60000L)
    assert(TableIO.prunedScan(spark, lh, "tsed", "t", Some(mid), Some(mid))
      .count() == 1)
    TableIO.dropTable(spark, lh, "tsed")
  }

  test("prunedTopK reads only the files that can hold the k extremes") {
    val df = spark.range(0, 40000).selectExpr("id AS k", "id % 97 AS payload")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "topk", df, sortBy = Seq("k"))
    }
    val total = TableIO.currentFiles(lh, "topk").size
    assert(total > 2)
    val top = TableIO.prunedTopK(spark, lh, "topk", "k", 50,
      ascending = true, tieBreak = Seq("payload"))
    assert(top.inputFiles.length < total,
      s"top-k over a clustered table must prune (${top.inputFiles.length}/$total)")
    val want = TableIO.selectTable(spark, lh, "topk")
      .orderBy("k", "payload").limit(50).collect()
    assert(top.collect().sameElements(want))
    // descending twin
    val bot = TableIO.prunedTopK(spark, lh, "topk", "k", 50,
      ascending = false, tieBreak = Seq("payload"))
    val wantD = TableIO.selectTable(spark, lh, "topk")
      .orderBy($"k".desc, $"payload".desc).limit(50).collect()
    assert(bot.inputFiles.length < total)
    assert(bot.collect().sameElements(wantD))
    TableIO.dropTable(spark, lh, "topk")
  }

  test("prunedTopK counts only NON-NULL rows toward the k-row prefix") {
    // file A: few non-null values but many nulls; file B holds the real
    // answers — counting total rows would bound on A and wrongly prune B
    val a = (1 to 2).map(i => (Some(i.toLong), "a")) ++
      (1 to 98).map(_ => (None: Option[Long], "a"))
    val b = (3 to 102).map(i => (Some(i.toLong), "b"))
    val df = (a ++ b).toDF("k", "src")
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "nulltopk",
        df.repartitionByRange(2, $"src")) // co-locate: A null-heavy, B dense
    }
    // the premise must hold or the regression cover is vacuous
    val tdir = Catalog.tablePath(lh, "nulltopk")
    assert(Versioned.readManifest(tdir,
      Versioned.latestVersion(tdir).get).get.entries.size == 2)
    val top = TableIO.prunedTopK(spark, lh, "nulltopk", "k", 10,
      ascending = true, tieBreak = Seq("src"))
    val got = top.collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 10L).toSeq,
      s"null-heavy file must not satisfy the prefix: got $got")
    TableIO.dropTable(spark, lh, "nulltopk")
  }

  test("null-count stats prune IS NULL / IS NOT NULL scans") {
    // file A dense, file B all-null, file C mixed
    val df = ((1 to 100).map(i => (Some(i.toLong), "a")) ++
      (1 to 100).map(_ => (None: Option[Long], "b")) ++
      (1 to 50).map(i => (if (i % 2 == 0) Some(i.toLong) else None, "c")))
      .toDF("v", "src")
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "nulls",
        df.repartitionByRange(3, $"src"))
    }
    val Some((isNullSpec, total)) = TableIO.pruneFilesNull(lh, "nulls", "v", isNull = true)
    val Some((notNullSpec, _)) = TableIO.pruneFilesNull(lh, "nulls", "v", isNull = false)
    assert(total >= 3)
    assert(isNullSpec.relFiles.size < total, "dense file should prune for IS NULL")
    assert(notNullSpec.relFiles.size < total, "all-null file should prune for IS NOT NULL")
    assert(TableIO.prunedScanNull(spark, lh, "nulls", "v", isNull = true).count() == 125)
    assert(TableIO.prunedScanNull(spark, lh, "nulls", "v", isNull = false).count() == 125)
    TableIO.dropTable(spark, lh, "nulls")
  }

  test("readTable mines its condition for automatic file skipping") {
    val df = spark.range(0, 40000).selectExpr("id AS k", "id % 97 AS payload")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "autoskip", df, sortBy = Seq("k"))
    }
    val total = TableIO.currentFiles(lh, "autoskip").size
    assert(total > 2)
    // mixed condition: two recognizable range conjuncts + one opaque one
    val got = TableIO.readTable(spark, lh, "autoskip",
      condition = "k >= 100 AND k <= 200 AND payload % 2 = 0")
    assert(got.inputFiles.length < total,
      s"condition should prune files (${got.inputFiles.length}/$total)")
    val want = TableIO.selectTable(spark, lh, "autoskip")
      .filter("k >= 100 AND k <= 200 AND payload % 2 = 0")
    assert(got.orderBy("k").collect().sameElements(want.orderBy("k").collect()))
    // fully opaque conditions stay conservative and correct
    val opaque = TableIO.readTable(spark, lh, "autoskip",
      condition = "payload % 97 = 3")
    assert(opaque.count() ==
      TableIO.selectTable(spark, lh, "autoskip").filter("payload % 97 = 3").count())
    TableIO.dropTable(spark, lh, "autoskip")
  }

  test("inherited files keep their stats through merge commits") {
    val df = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
      .repartition(4)
    withFixedPartitions { TableIO.writeTable(spark, lh, "keep", df, sortBy = Seq("k")) }
    TableIO.mergeTable(spark, lh, "keep",
      Seq((1L, 999L)).toDF("k", "v"), Seq("k"))
    val tdir = Catalog.tablePath(lh, "keep")
    val m = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
    assert(m.entries.forall(_.stats.nonEmpty),
      "inherited entries must carry their original stats")
    TableIO.dropTable(spark, lh, "keep")
  }

  test("deleteFromTable rewrites only files containing matches; NULL " +
      "condition rows are kept") {
    val base = (1 to 100).map(i =>
      (i, if (i % 10 == 0) None else Some(i * 1.0),
        if (i % 2 == 0) "a" else "b")).toDF("k", "score", "g")
    TableIO.writeTable(spark, lh, "del1", base, partitionBy = Seq("g"))
    val before = TableIO.currentFiles(lh, "del1").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap

    // delete even keys with score < 30 — only partition g=a holds matches
    val info = TableIO.deleteFromTable(spark, lh, "del1", "g = 'a' AND score < 30")
    val after = TableIO.currentFiles(lh, "del1").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val beforeB = before.filter(_._1.contains("/g=b/"))
    assert(beforeB.toSet.subsetOf(after.toSet), "g=b files were rewritten")

    val remaining = TableIO.selectTable(spark, lh, "del1")
    // deleted: even k in [2,28] with non-null score -> 2..28 even minus k=10,20
    assert(info.rowCount == 100 - 12)
    // NULL-scoring rows (k=10, 20) survive: condition evaluates NULL, not true
    val keys = remaining.select("k").collect().map(_.getInt(0)).toSet
    assert(keys.contains(10) && keys.contains(20) && !keys.contains(2))
    TableIO.dropTable(spark, lh, "del1")
  }

  test("timestamp and date literals are mined for automatic file skipping") {
    val df = spark.range(0, 40000).selectExpr(
      "id AS k",
      "timestampadd(HOUR, CAST(id % 2000 AS INT), " +
        "TIMESTAMP '2024-01-01 00:00:00') AS ts",
      "date_add(DATE '2024-01-01', CAST(id / 40 AS INT)) AS d")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "tsskip", df, sortBy = Seq("k"))
    }
    val total = TableIO.currentFiles(lh, "tsskip").size
    assert(total > 2)
    // d is k-correlated, so the date range is provably absent from most
    // files; native DATE literals arrive as epoch days and must normalize
    val gotD = TableIO.readTable(spark, lh, "tsskip", condition =
      "d >= DATE '2024-02-01' AND d < DATE '2024-02-08'")
    assert(gotD.inputFiles.length < total,
      s"date range should prune files (${gotD.inputFiles.length}/$total)")
    val wantD = TableIO.selectTable(spark, lh, "tsskip")
      .filter("d >= DATE '2024-02-01' AND d < DATE '2024-02-08'")
    assert(gotD.count() == wantD.count() && gotD.count() > 0)
    // STRING literal against a DATE column goes through Spark's own cast
    // parser, so prune and residual can never disagree
    val gotS = TableIO.readTable(spark, lh, "tsskip",
      condition = "d < '2024-01-10'")
    assert(gotS.inputFiles.length < total)
    assert(gotS.count() ==
      TableIO.selectTable(spark, lh, "tsskip").filter("d < '2024-01-10'").count())
    // TIMESTAMP literals (epoch micros) — ts wraps every 2000 ids so the
    // narrow window exists in every file; correctness only
    val gotT = TableIO.readTable(spark, lh, "tsskip", condition =
      "ts >= TIMESTAMP '2024-01-02 00:00:00' AND " +
        "ts < TIMESTAMP '2024-01-03 00:00:00'")
    val wantT = TableIO.selectTable(spark, lh, "tsskip")
      .filter("ts >= TIMESTAMP '2024-01-02 00:00:00' AND " +
        "ts < TIMESTAMP '2024-01-03 00:00:00'")
    assert(gotT.count() == wantT.count() && gotT.count() > 0)
    TableIO.dropTable(spark, lh, "tsskip")
  }

  test("IN-lists and OR-of-equalities mine to unions of Eq survivor sets") {
    val df = spark.range(0, 40000).selectExpr("id AS k", "id % 97 AS payload")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "inskip", df, sortBy = Seq("k"),
        bloomFilterFor = Seq("k"))
    }
    val total = TableIO.currentFiles(lh, "inskip").size
    assert(total > 2)
    // two point lookups at opposite ends of the clustering: the survivor
    // union is (first file) ∪ (last file), everything between prunes
    val got = TableIO.readTable(spark, lh, "inskip",
      condition = "k IN (5, 39999)")
    assert(got.inputFiles.length < total,
      s"IN-list should prune files (${got.inputFiles.length}/$total)")
    assert(got.select("k").collect().map(_.getLong(0)).toSet == Set(5L, 39999L))
    // the OR spelling (including a nested IN) flattens to the same list
    val orq = TableIO.readTable(spark, lh, "inskip",
      condition = "k = 5 OR k = 39999 OR k IN (17)")
    assert(orq.inputFiles.length < total)
    assert(orq.select("k").collect().map(_.getLong(0)).toSet ==
      Set(5L, 17L, 39999L))
    // an OR spanning DIFFERENT columns is not a point-lookup list: it must
    // stay conservative (no pruning hint) and exactly correct
    val mixed = TableIO.readTable(spark, lh, "inskip",
      condition = "k = 5 OR payload = 96")
    assert(mixed.count() == TableIO.selectTable(spark, lh, "inskip")
      .filter("k = 5 OR payload = 96").count())
    TableIO.dropTable(spark, lh, "inskip")
  }

  test("fractional (decimal) literals prune numeric columns") {
    // 150000.0-style literals parse as Catalyst Decimal, not a JVM Number —
    // the probe normalizer must unwrap them or the most common numeric
    // spelling silently never prunes
    val df = spark.range(0, 40000)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS x").repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "decskip", df, sortBy = Seq("k"))
    }
    val total = TableIO.currentFiles(lh, "decskip").size
    val got = TableIO.readTable(spark, lh, "decskip",
      condition = "x >= 100.5 AND x <= 200.0")
    assert(got.inputFiles.length < total,
      s"decimal range should prune (${got.inputFiles.length}/$total)")
    assert(got.count() == 100) // ids 101..200
    TableIO.dropTable(spark, lh, "decskip")
  }

  test("FLOAT columns: fractional literals never prune (double-widened " +
      "residual vs float-precision stats), integral literals still do") {
    // widen(0.3f)=0.30000001192… can exceed a literal the stat string
    // "0.3" sits below — a fractional probe on FLOAT would provably-
    // wrongly prune, so it must not prune at all
    val df = spark.range(0, 40000)
      .selectExpr("id AS k", "CAST(CAST(id AS FLOAT) / 3.0f AS FLOAT) AS f")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "floatskip", df, sortBy = Seq("k"))
    }
    val total = TableIO.currentFiles(lh, "floatskip").size
    val frac = TableIO.readTable(spark, lh, "floatskip",
      condition = "f >= 100.1 AND f <= 200.0")
    assert(frac.inputFiles.length == total,
      "fractional probes on FLOAT must decline to prune")
    assert(frac.count() ==
      df.filter("f >= 100.1 AND f <= 200.0").count())
    val integral = TableIO.readTable(spark, lh, "floatskip",
      condition = "f <= 50")
    assert(integral.inputFiles.length < total,
      s"small-integral probe on FLOAT should prune " +
        s"(${integral.inputFiles.length}/$total)")
    assert(integral.count() == df.filter("f <= 50").count())
    TableIO.dropTable(spark, lh, "floatskip")
  }

  test("string partition values keep their own rendering in stats " +
      "(path-derived, not re-inferred)") {
    // every value is numeric-looking, so spark.read's partition type
    // inference would read them as INTs ('01' -> 1) — stats recorded in
    // that domain would make the StringType comparator wrongly prune the
    // matching file; path-derived stats keep the writer's rendering
    val df = Seq(("01", 1L), ("01", 2L), ("02", 3L), ("0010", 4L))
      .toDF("p", "v")
    TableIO.writeTable(spark, lh, "partstat", df, partitionBy = Seq("p"))
    val got = TableIO.readTable(spark, lh, "partstat", condition = "p = '01'")
    assert(got.select("v").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(got.inputFiles.nonEmpty && got.inputFiles.forall(_.contains("p=01")),
      s"only the matching partition should be scanned: ${got.inputFiles.toSeq}")
    TableIO.dropTable(spark, lh, "partstat")
  }

  test("prunedTopK falls back to the full sort when stats don't parse " +
      "(NaN/Infinity)") {
    val df = Seq((0L, 1.0), (1L, Double.NaN), (2L, 2.0), (3L, 0.5),
      (4L, Double.PositiveInfinity), (5L, 3.0)).toDF("id", "score")
      .repartition(3)
    withFixedPartitions { TableIO.writeTable(spark, lh, "nanstat", df) }
    // Spark sorts NaN greater than any double: desc top-2 = [NaN, Inf];
    // an unparseable-stat prune could drop their file entirely
    val got = TableIO.prunedTopK(spark, lh, "nanstat", "score", 2,
      ascending = false, tieBreak = Seq("id"))
      .collect().map(_.getDouble(1))
    assert(got.length == 2 && got(0).isNaN && got(1).isPosInfinity, got.toSeq)
    TableIO.dropTable(spark, lh, "nanstat")
  }

  test("compactTable(predicate) rewrites only may-match files; other " +
      "partitions inherit by reference") {
    val df = (1 to 100).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "g")
    TableIO.writeTable(spark, lh, "cw", df, partitionBy = Seq("g"))
    // fragment partition a only
    TableIO.appendTable(spark, lh, "cw", Seq((101, "a")).toDF("k", "g"))
    TableIO.appendTable(spark, lh, "cw", Seq((103, "a")).toDF("k", "g"))
    val before = TableIO.currentFiles(lh, "cw").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val beforeA = before.keys.count(_.contains("/g=a/"))
    assert(beforeA >= 3)
    TableIO.compactTable(spark, lh, "cw", predicate = Some("g = 'a'"))
    val after = TableIO.currentFiles(lh, "cw").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    // untouched partition: identical paths AND mtimes (inherited, not
    // rewritten)
    assert(before.filter(_._1.contains("/g=b/")).toSet ==
      after.filter(_._1.contains("/g=b/")).toSet)
    // targeted partition: compacted down
    assert(after.keys.count(_.contains("/g=a/")) < beforeA)
    // content identical
    val ks = TableIO.selectTable(spark, lh, "cw")
      .select("k").collect().map(_.getInt(0)).toSet
    assert(ks == ((1 to 100).toSet + 101 + 103))
    TableIO.dropTable(spark, lh, "cw")
  }

  test("delete with no matches inherits everything (zero-write commit)") {
    TableIO.writeTable(spark, lh, "del2", Seq((1, "x"), (2, "y")).toDF("k", "s"))
    val before = TableIO.currentFiles(lh, "del2").map(_.toString).toSet
    val v0 = Versioned.latestVersion(Catalog.tablePath(lh, "del2")).get
    TableIO.deleteFromTable(spark, lh, "del2", "k > 100")
    assert(TableIO.currentFiles(lh, "del2").map(_.toString).toSet == before)
    assert(Versioned.latestVersion(Catalog.tablePath(lh, "del2")).get == v0 + 1)
    assert(TableIO.selectTable(spark, lh, "del2").count() == 2)
    TableIO.dropTable(spark, lh, "del2")
  }

  test("LIKE-prefix mining: prefix patterns prune files by string range, " +
      "results equal the residual; unprunable shapes keep every file") {
    // no underscores in the data: '_' is a LIKE wildcard, so a literal
    // prefix ends at the first '%' OR '_'
    val df = (0 until 4000).map(i => (i, f"user$i%06d")).toDF("id", "name")
      .repartitionByRange(8, org.apache.spark.sql.functions.col("name"))
      .sortWithinPartitions("name")
    TableIO.writeTable(spark, lh, "lik1", df)
    val dir = Catalog.tablePath(lh, "lik1")
    val m = Versioned.latestVersion(dir)
      .flatMap(Versioned.readManifest(dir, _)).get
    val total = m.entries.size
    assert(total > 2, s"need multiple files, got $total")
    def survivors(cond: String): Int =
      TableIO.minedSurvivors(spark, m, cond).map(_.size).getOrElse(total)
    // prefix% prunes; the residual still decides row membership
    assert(survivors("name LIKE 'user0001%'") < total)
    val got = TableIO.readTable(spark, lh, "lik1",
      condition = "name LIKE 'user0001%'").collect().map(_.getInt(0)).toSet
    assert(got == (100 until 200).toSet)
    // wildcard-free LIKE = equality (tightest range)
    assert(survivors("name LIKE 'user003999'") < total)
    assert(TableIO.readTable(spark, lh, "lik1",
      condition = "name LIKE 'user003999'").count() == 1)
    // a '_' mid-pattern ends the literal prefix but keeps its bound
    assert(survivors("name LIKE 'user0001_2%'") < total)
    assert(TableIO.readTable(spark, lh, "lik1",
      condition = "name LIKE 'user0001_2%'")
      .collect().map(_.getInt(0)).toSet ==
      Set(102, 112, 122, 132, 142, 152, 162, 172, 182, 192))
    // leading wildcard and escaped patterns cannot prune: all files stay
    assert(survivors("name LIKE '%000100'") == total)
    assert(survivors("name LIKE 'user\\\\0001%'") == total)
    TableIO.dropTable(spark, lh, "lik1")
  }

  test("dynamic file pruning: a selective dimension's keys skip fact " +
      "files; result equals the plain semi-join") {
    val fact = spark.range(0, 40000)
      .selectExpr("id AS fk", "id * 3 AS measure").repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "dfp1", fact, sortBy = Seq("fk"),
        bloomFilterFor = Seq("fk"))
    }
    val total = TableIO.currentFiles(lh, "dfp1").size
    assert(total > 2)
    import spark.implicits._
    // keys clustered at the low end: most files provably cannot match
    val dim = Seq(3L, 5L, 11L, 200L).toDF("fk")
    val got = TableIO.readTableJoinPruned(spark, lh, "dfp1", "fk", dim)
    assert(got.inputFiles.length < total,
      s"join keys should prune files (${got.inputFiles.length}/$total)")
    assert(got.select("fk").collect().map(_.getLong(0)).toSet ==
      Set(3L, 5L, 11L, 200L))
    // an empty (or all-null) dimension side returns an empty, well-typed
    // frame without scanning anything
    val empty = TableIO.readTableJoinPruned(spark, lh, "dfp1", "fk",
      Seq.empty[Option[Long]].toDF("fk"))
    assert(empty.count() == 0 && empty.columns.contains("measure"))
    val nullOnly = TableIO.readTableJoinPruned(spark, lh, "dfp1", "fk",
      Seq(Option.empty[Long]).toDF("fk"))
    assert(nullOnly.count() == 0)
    // an unbounded dimension side fails loudly rather than building a
    // million-literal IN list
    val ex = intercept[IllegalArgumentException] {
      TableIO.readTableJoinPruned(spark, lh, "dfp1", "fk",
        spark.range(0, 100).toDF("fk"), keyLimit = 10)
    }
    assert(ex.getMessage.contains("keyLimit"), ex.getMessage)
    TableIO.dropTable(spark, lh, "dfp1")
  }

  test("dynamic file pruning round-trips hostile string keys (backslashes, " +
      "quotes) through the SQL literal") {
    import spark.implicits._
    val fact = Seq(("C:\\temp", 1L), ("it's", 2L), ("plain", 3L),
      ("tab\there", 4L)).toDF("name", "v")
    TableIO.writeTable(spark, lh, "dfp2", fact)
    val dim = Seq("C:\\temp", "it's", "tab\there").toDF("name")
    val got = TableIO.readTableJoinPruned(spark, lh, "dfp2", "name", dim)
      .select("v").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L), got)
    // fractional keys are rejected, not silently mismatched
    val exF = intercept[IllegalArgumentException] {
      TableIO.readTableJoinPruned(spark, lh, "dfp2", "v",
        Seq(0.3f).toDF("v"))
    }
    assert(exF.getMessage.contains("fractional"), exF.getMessage)
    TableIO.dropTable(spark, lh, "dfp2")
  }

  test("long-string stats truncate to bounded prefixes that stay TRUE bounds") {
    // truncStatMin: a prefix, <= original in UTF-8 order
    val long = "m" * 200
    assert(TableIO.truncStatMin(long) == "m" * 64)
    assert(TableIO.truncStatMin("short") == "short")
    // truncStatMax: incremented prefix, > every string sharing the prefix
    val mx = TableIO.truncStatMax(long).get
    assert(mx.length == 64 && mx.endsWith("n") &&
      TableIO.compareUtf8(mx, long) > 0)
    // code-point safety: a supplementary char at the cut is not split
    val emoji = "\ud83d\ude00" // U+1F600
    val eLong = emoji * 100
    val eMax = TableIO.truncStatMax(eLong).get
    assert(TableIO.compareUtf8(eMax, eLong) > 0)
    assert(TableIO.truncStatMin(eLong).codePointCount(0,
      TableIO.truncStatMin(eLong).length) == 64)
    // pathological all-U+10FFFF prefix: no finite bound -> None
    val top = new String(Character.toChars(0x10FFFF)) * 70
    assert(TableIO.truncStatMax(top).isEmpty)

    // END TO END: a table whose text column is huge must not embed whole
    // documents in its manifest, and range reads must stay exact
    val doc1 = "alpha " + ("x" * 5000)
    val doc2 = "zeta " + ("y" * 5000)
    TableIO.writeTable(spark, lh, "trunc1",
      Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "body"))
    val tdir = Catalog.tablePath(lh, "trunc1")
    val m = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
    val statBytes = m.entries.flatMap(_.stats).map(_.length).sum
    assert(statBytes < 2000,
      s"manifest stats $statBytes bytes — full documents leaked into stats?")
    // the truncated bounds still bound: condition mining stays EXACT
    assert(TableIO.readTable(spark, lh, "trunc1",
      condition = "body >= 'zeta'").count() == 1)
    assert(TableIO.readTable(spark, lh, "trunc1",
      condition = "body >= 'a' AND body < 'b'").count() == 1)
    TableIO.dropTable(spark, lh, "trunc1")
  }

  test("skippingEffectiveness: report matches the production prune, " +
    "disjoint ranges skip everything, covering ranges skip nothing") {
    val df = spark.range(0, 4000)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS price")
      .withColumn("bucket", expr("k div 1000"))
    TableIO.dropTable(spark, lh, "skipfx")
    TableIO.writeTable(spark, lh, "skipfx",
      df.repartition(col("bucket")), partitionBy = Seq("bucket"))
    val got = TableIO.skippingEffectiveness(spark, lh, "skipfx",
      "price", Seq((0.0, 999.0), (-50.0, -1.0), (0.0, 5000.0)))
      .collect().map(r => (r.getDouble(0), r.getLong(2), r.getLong(3),
        r.getLong(5))).toList
    // 4 bucket files; [0,999] keeps exactly bucket 0; [-50,-1] keeps
    // none; [0,5000] keeps all
    assert(got.contains((0.0, 4L, 1L, 750L)), got.toString)
    assert(got.contains((-50.0, 4L, 0L, 1000L)), got.toString)
    assert(got.exists(t => t._1 == 0.0 && t._3 == 4L && t._4 == 0L),
      got.toString)
    // the report must agree with what the prune actually does
    val Some((spec, total)) = TableIO.pruneFiles(lh, "skipfx", "price",
      Some(0.0), Some(999.0))
    assert(total == 4 && spec.relFiles.size == 1)
    TableIO.dropTable(spark, lh, "skipfx")
  }

  test("generated-column pruning: base-column range/equality filters skip " +
      "files via the generated band column's stats; results stay exact") {
    // band = floor(v / 1000): files cluster by band, the condition only
    // ever mentions v — the derived band hint must do the skipping
    val df = spark.range(0, 16000).selectExpr("id AS v",
      "CAST(floor(id / 1000.0) AS LONG) AS band")
      .repartition(8, col("band"))
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "genp", df, sortBy = Seq("band"))
    }
    TableIO.setGeneratedColumn(spark, lh, "genp", "band",
      "CAST(floor(v / 1000.0) AS LONG)")
    val total = TableIO.selectTable(spark, lh, "genp").inputFiles.length
    assert(total > 1, s"fixture should span multiple files, got $total")
    val ranged = TableIO.readTable(spark, lh, "genp",
      condition = "v >= 2100 AND v < 3900")
    assert(ranged.inputFiles.length < total,
      s"base-column range must prune via the generated band " +
        s"(${ranged.inputFiles.length}/$total)")
    assert(ranged.count() == 1800L)
    val eq = TableIO.readTable(spark, lh, "genp", condition = "v = 7500")
    assert(eq.inputFiles.length < total)
    assert(eq.count() == 1L)
    // fractional boundary: floor derivation must stay a SUPERSET
    val frac = TableIO.readTable(spark, lh, "genp",
      condition = "v > 999.5 AND v <= 1000.5")
    assert(frac.count() == 1L, "fractional bounds must not over-prune")
    TableIO.dropTable(spark, lh, "genp")
  }

  test("generated-column pruning never derives from non-monotone or " +
      "unrecognized expressions") {
    assert(TableIO.monotoneGeneratedShape(
      "CAST(floor(x / 50.0) AS LONG)") == Some(("x", "floordiv")))
    assert(TableIO.monotoneGeneratedShape("year(ts)") == Some(("ts", "year")))
    assert(TableIO.monotoneGeneratedShape("CAST(ts AS DATE)") ==
      Some(("ts", "castdate")))
    assert(TableIO.monotoneGeneratedShape("date_trunc('day', ts)") ==
      Some(("ts", "date_trunc")))
    assert(TableIO.monotoneGeneratedShape("substring(s, 1, 4)") ==
      Some(("s", "prefix")))
    // anti-monotone / order-breaking shapes must refuse
    assert(TableIO.monotoneGeneratedShape("floor(x / -50.0)").isEmpty,
      "negative divisor is anti-monotone")
    assert(TableIO.monotoneGeneratedShape("CAST(x AS STRING)").isEmpty,
      "string casts break numeric order")
    assert(TableIO.monotoneGeneratedShape("substring(s, 2, 4)").isEmpty,
      "non-prefix substrings are not monotone")
    assert(TableIO.monotoneGeneratedShape("x % 10").isEmpty)
    assert(TableIO.monotoneGeneratedShape("abs(x)").isEmpty)
    // numeric-cast unwrap: only widening-or-monotone targets derive —
    // a narrowing cast of a BIGINT floor band wraps under non-ANSI
    // writers and is NOT order-preserving
    assert(TableIO.monotoneGeneratedShape(
      "CAST(floor(x / 50.0) AS INT)").isEmpty,
      "int cast of a bigint floor band can wrap")
    assert(TableIO.monotoneGeneratedShape(
      "CAST(floor(x / 50.0) AS TINYINT)").isEmpty)
    assert(TableIO.monotoneGeneratedShape(
      "CAST(floor(x / 50.0) AS DECIMAL(10,0))").isEmpty,
      "a decimal too narrow for the bigint domain nulls/throws")
    assert(TableIO.monotoneGeneratedShape(
      "CAST(floor(x / 50.0) AS DECIMAL(19,0))") == Some(("x", "floordiv")))
    assert(TableIO.monotoneGeneratedShape(
      "CAST(floor(x / 50.0) AS DOUBLE)") == Some(("x", "floordiv")),
      "long->double rounding is order-preserving")
    assert(TableIO.monotoneGeneratedShape(
      "CAST(year(ts) AS INT)") == Some(("ts", "year")))
  }

  test("generated-column pruning derives bounds in the BASE column's " +
      "declared type; decimal banding stays exact at band boundaries") {
    // DECIMAL(18,2) base: the derivation must evaluate f over decimal
    // operands (a double-typed eval frame can round differently across
    // a floor band boundary and silently over-prune)
    val df = spark.range(0, 4000).selectExpr(
      "CAST(CAST(id AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2)) AS v",
      "CAST(floor(CAST(CAST(id AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2))" +
        " / 10.0) AS LONG) AS band")
      .repartition(4, col("band"))
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "genpd", df, sortBy = Seq("band"))
    }
    TableIO.setGeneratedColumn(spark, lh, "genpd", "band",
      "CAST(floor(v / 10.0) AS LONG)")
    val total = TableIO.selectTable(spark, lh, "genpd").inputFiles.length
    assert(total > 1, s"fixture should span multiple files, got $total")
    // double literals straddling the v=10.00 / v=20.00 band boundaries
    val got = TableIO.readTable(spark, lh, "genpd",
      condition = "v >= 9.995 AND v <= 20.005")
    assert(got.count() == 1001L, "boundary literals must not over-prune")
    assert(got.inputFiles.length < total,
      s"derived band range should still prune (${got.inputFiles.length}/$total)")
    val eq = TableIO.readTable(spark, lh, "genpd", condition = "v = 25.5")
    assert(eq.count() == 1L)
    TableIO.dropTable(spark, lh, "genpd")
  }

  test("generated-column pruning on a date-partition idiom: to_date(ts)") {
    val df = spark.range(0, 8000).selectExpr(
      "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) AS ts")
      .selectExpr("ts", "to_date(ts) AS day")
      .repartition(4, col("day"))
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "gend", df, sortBy = Seq("day"))
    }
    TableIO.setGeneratedColumn(spark, lh, "gend", "day", "to_date(ts)")
    val total = TableIO.selectTable(spark, lh, "gend").inputFiles.length
    assert(total > 1)
    val got = TableIO.readTable(spark, lh, "gend", condition =
      "ts >= TIMESTAMP '2024-01-03 00:00:00' AND " +
        "ts < TIMESTAMP '2024-01-03 12:00:00'")
    assert(got.inputFiles.length < total,
      s"ts range must prune via the generated day (${got.inputFiles.length}/$total)")
    assert(got.count() == 720L) // 12h of minutely rows
    TableIO.dropTable(spark, lh, "gend")
  }

  /** Run `f` and return the jobs it started, as (job id, tasks of the
    * job's stages), in start order. */
  private def jobsDuring(f: => Unit): Seq[(Int, Int)] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(j.jobId -> j.stageInfos.map(_.numTasks).sum)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      Thread.sleep(200) // let the job-start events land
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.sortBy(_._1)
  }

  test("BETWEEN with two literal bounds keeps exactly the files of its " +
      ">= / <= spelling and prunes; NOT BETWEEN and column bounds don't") {
    val df = spark.range(0, 40000).selectExpr("id AS k", "id % 97 AS payload")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "btw", df, sortBy = Seq("k"))
    }
    val tdir = Catalog.tablePath(lh, "btw")
    val m = Versioned.readManifest(tdir, Versioned.latestVersion(tdir).get).get
    assert(m.entries.size > 2, "fixture should span several files")
    def kept(c: String): Option[Set[String]] =
      TableIO.minedSurvivors(spark, m, c).map(_.map(_.path).toSet)
    // inside, on the edges, straddling the ends, reversed, out of range
    for ((a, b) <- Seq((100, 200), (0, 0), (39999, 39999), (-5, 4999),
        (39000, 50000), (20000, 10000), (50000, 60000))) {
      val between = kept(s"k BETWEEN $a AND $b")
      assert(between.isDefined, s"k BETWEEN $a AND $b should mine")
      assert(between == kept(s"k >= $a AND k <= $b"),
        s"k BETWEEN $a AND $b kept ${between.map(_.size)} files")
    }
    assert(kept("k BETWEEN 100 AND 200").get.size < m.entries.size)
    assert(kept("k BETWEEN 100 AND 200 AND payload = 3") ==
      kept("k BETWEEN 100 AND 200"))
    assert(kept("k NOT BETWEEN 100 AND 200").isEmpty)
    assert(kept("k BETWEEN payload AND 200").isEmpty)
    assert(kept("k BETWEEN 100 AND k + 1").isEmpty)
    val full = TableIO.selectTable(spark, lh, "btw")
    for (c <- Seq("k BETWEEN 100 AND 200", "k BETWEEN 200 AND 100",
        "k NOT BETWEEN 100 AND 39000")) {
      val got = TableIO.readTable(spark, lh, "btw", condition = c)
      assert(got.orderBy("k").collect().sameElements(
        full.filter(c).orderBy("k").collect()), c)
    }
    val ranged = TableIO.readTable(spark, lh, "btw",
      condition = "k BETWEEN 100 AND 200")
    assert(ranged.inputFiles.length < full.inputFiles.length)
    assert(ranged.count() == 101L)
    TableIO.dropTable(spark, lh, "btw")
  }

  test("zero Spark jobs: Bloom point pruning, a Bloom-column readTable " +
      "condition and generated-column pruning answer on the driver") {
    // h is unclustered (every file spans its whole range): only the
    // Bloom filters can prune it
    val blooms = spark.range(0, 4000)
      .selectExpr("id AS k", "id * 7919 % 4000 AS h").repartition(4)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "zjb", blooms, bloomFilterFor = Seq("h"))
    }
    val gen = spark.range(0, 16000).selectExpr("id AS v",
      "CAST(floor(id / 1000.0) AS LONG) AS band")
      .repartition(8, col("band"))
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "zjg", gen, sortBy = Seq("band"))
    }
    TableIO.setGeneratedColumn(spark, lh, "zjg", "band",
      "CAST(floor(v / 1000.0) AS LONG)")
    val key = 7919L * 17 % 4000
    var eq: Option[(Versioned.ScanFiles, Int)] = None
    var bloomRead, genRead: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      eq = TableIO.pruneFilesEq(spark, lh, "zjb", "h", key)
      bloomRead = TableIO.readTable(spark, lh, "zjb",
        condition = s"h = $key OR h = ${key + 1}")
      genRead = TableIO.readTable(spark, lh, "zjg",
        condition = "v BETWEEN 2100 AND 3900")
    }
    assert(jobs.isEmpty, s"pruning ran ${jobs.size} Spark job(s)")
    val (spec, total) = eq.get
    assert(spec.relFiles.size < total,
      s"the Bloom probe should prune (${spec.relFiles.size}/$total)")
    assert(bloomRead.inputFiles.length < total)
    assert(bloomRead.collect().map(_.getLong(1)).toSet == Set(key, key + 1))
    assert(genRead.inputFiles.length <
      TableIO.selectTable(spark, lh, "zjg").inputFiles.length)
    assert(genRead.count() == 1801L)
    TableIO.dropTable(spark, lh, "zjb")
    TableIO.dropTable(spark, lh, "zjg")
  }

  test("deleteFromTable and updateTable discover affected rows in the " +
      "condition's may-match files only") {
    val df = spark.range(0, 40000).selectExpr("id AS k", "id % 97 AS payload")
      .repartition(8)
    withFixedPartitions {
      TableIO.writeTable(spark, lh, "dmlp", df, sortBy = Seq("k"))
    }
    val total = TableIO.currentFiles(lh, "dmlp").size
    val fullTasks = jobsDuring(
      TableIO.selectTable(spark, lh, "dmlp").foreach(_ => ())).head._2
    assert(total > 2 && fullTasks > 1,
      s"fixture should scan as several tasks ($total files, $fullTasks tasks)")
    // the first job an operation starts is its discovery scan: a range
    // inside one file must scan that file alone
    def discoveryTasks(op: => Unit): Int = jobsDuring(op).head._2
    assert(discoveryTasks(TableIO.deleteFromTable(spark, lh, "dmlp",
      "k BETWEEN 100 AND 199")) == 1)
    assert(discoveryTasks(TableIO.deleteFromTable(spark, lh, "dmlp",
      "k >= 300 AND k < 400", deletionVectors = true)) == 1)
    assert(discoveryTasks(TableIO.updateTable(spark, lh, "dmlp",
      "k BETWEEN 500 AND 599", Map("payload" -> "-1"))) == 1)
    val rows = TableIO.selectTable(spark, lh, "dmlp")
    assert(rows.count() == 40000L - 200)
    assert(rows.filter("payload = -1").count() == 100L)
    assert(rows.filter("k BETWEEN 100 AND 199 OR k BETWEEN 300 AND 399")
      .count() == 0L)
    TableIO.dropTable(spark, lh, "dmlp")
  }
}
