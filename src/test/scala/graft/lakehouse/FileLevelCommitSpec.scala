package graft.lakehouse

import java.nio.file.{Files, Paths}

/** The file-level commit protocol's scale contracts (Delta-style log
  * semantics): merge/append touch only the files they change, inherited
  * files are byte-identical at the same paths, concurrent read-modify-write
  * commits fail loudly, retention is age-based, and schema evolution is a
  * first-class commit. */
class FileLevelCommitSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("flc_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_flc", "lh_flc").lakehouses.head
  }

  private def fileState(name: String): Map[String, (Long, Long)] =
    TableIO.currentFiles(lh, name).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap

  test("merge touching one partition leaves other partitions' files " +
      "byte-identical at the same paths (inherited, not rewritten)") {
    val base = (1 to 100).map(i => (i, s"s$i", if (i % 2 == 0) "a" else "b"))
      .toDF("k", "s", "g")
    TableIO.writeTable(spark, lh, "m1", base, partitionBy = Seq("g"))
    val before = fileState("m1")
    val beforeB = before.filter(_._1.contains("/g=b/"))
    assert(beforeB.nonEmpty && before.exists(_._1.contains("/g=a/")))

    // update two even keys — they live only in partition g=a
    val info = TableIO.mergeTable(spark, lh, "m1",
      Seq((2, "S2", "a"), (4, "S4", "a")).toDF("k", "s", "g"), Seq("k"))
    assert(info.rowCount == 100)

    val after = fileState("m1")
    val afterB = after.filter(_._1.contains("/g=b/"))
    // every g=b file: same path, same bytes, same mtime — inherited
    assert(afterB == beforeB, "g=b files were rewritten by a g=a merge")
    // and the merge actually took
    val rows = TableIO.selectTable(spark, lh, "m1")
      .filter($"k" isin (2, 4)).collect().map(_.getString(1)).toSet
    assert(rows == Set("S2", "S4"))
    TableIO.dropTable(spark, lh, "m1")
  }

  test("merge with all-new keys degenerates to a pure append (zero rewrites)") {
    val base = (1 to 50).map(i => (i, s"v$i")).toDF("k", "s")
    TableIO.writeTable(spark, lh, "m2", base)
    val before = fileState("m2")
    TableIO.mergeTable(spark, lh, "m2",
      Seq((1001, "new1"), (1002, "new2")).toDF("k", "s"), Seq("k"))
    val after = fileState("m2")
    assert(before.toSet.subsetOf(after.toSet), "existing files were rewritten")
    assert(TableIO.selectTable(spark, lh, "m2").count() == 52)
    TableIO.dropTable(spark, lh, "m2")
  }

  test("appendTable writes O(batch): all prior files inherited untouched") {
    TableIO.writeTable(spark, lh, "a1", (1 to 1000).map(i => (i, s"x$i")).toDF("k", "s"))
    val before = fileState("a1")
    val commit2 = TableIO.appendTable(spark, lh, "a1",
      Seq((2001, "y1"), (2002, "y2")).toDF("k", "s"))
    assert(commit2.rowCount == 1002)
    val after = fileState("a1")
    assert(before.toSet.subsetOf(after.toSet))
    // bytes written this commit = only the new files, and they are tiny
    // relative to the base (O(batch), not O(table))
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty)
    val newBytes = newFiles.map(after(_)._1).sum
    val baseBytes = before.values.map(_._1).sum
    assert(newBytes < baseBytes / 2,
      s"append of 2 rows wrote $newBytes bytes vs base $baseBytes")
    TableIO.dropTable(spark, lh, "a1")
  }

  test("CHECK constraints: enforced on every write path, SQL null " +
      "semantics, survive overwrites") {
    TableIO.writeTable(spark, lh, "chk",
      Seq((1, Some(10.0)), (2, None)).toDF("k", "score"))
    // creation validates existing rows: k=2's NULL score PASSES (SQL CHECK
    // fails only on FALSE), so this succeeds
    TableIO.addCheckConstraint(spark, lh, "chk", "score_pos", "score > 0")
    // a violating constraint on existing data is rejected at creation
    intercept[IllegalArgumentException] {
      TableIO.addCheckConstraint(spark, lh, "chk", "k_big", "k > 100")
    }
    // duplicate names are rejected, not silently replaced
    intercept[IllegalArgumentException] {
      TableIO.addCheckConstraint(spark, lh, "chk", "score_pos", "score > 99")
    }
    // append enforcement: bad batch rejected atomically, nothing committed
    val vBefore = Versioned.latestVersion(Catalog.tablePath(lh, "chk")).get
    intercept[IllegalArgumentException] {
      TableIO.appendTable(spark, lh, "chk", Seq((3, Some(-1.0))).toDF("k", "score"))
    }
    assert(Versioned.latestVersion(Catalog.tablePath(lh, "chk")).get == vBefore)
    TableIO.appendTable(spark, lh, "chk", Seq((3, Some(1.0))).toDF("k", "score"))
    // merge enforcement
    intercept[IllegalArgumentException] {
      TableIO.mergeTable(spark, lh, "chk",
        Seq((1, Some(-5.0))).toDF("k", "score"), Seq("k"))
    }
    // constraints survive a full overwrite (table property, Delta parity) —
    // and the overwrite itself is validated
    intercept[IllegalArgumentException] {
      TableIO.writeTable(spark, lh, "chk", Seq((9, Some(-2.0))).toDF("k", "score"))
    }
    TableIO.writeTable(spark, lh, "chk", Seq((9, Some(2.0))).toDF("k", "score"))
    intercept[IllegalArgumentException] {
      TableIO.appendTable(spark, lh, "chk", Seq((10, Some(-3.0))).toDF("k", "score"))
    }
    // drop: violations flow again
    TableIO.dropCheckConstraint(spark, lh, "chk", "score_pos")
    TableIO.appendTable(spark, lh, "chk", Seq((10, Some(-3.0))).toDF("k", "score"))
    assert(TableIO.selectTable(spark, lh, "chk").count() == 2)
    TableIO.dropTable(spark, lh, "chk")
  }

  test("restoreTable is a metadata-only rollback; selectTableAsOf travels " +
      "by timestamp") {
    TableIO.writeTable(spark, lh, "rst", (1 to 50).map(i => (i, s"v$i")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "rst")
    val v1 = Versioned.latestVersion(tdir).get
    val t1 = Versioned.commitTimeMs(tdir, v1).get
    val v1Files = TableIO.currentFiles(lh, "rst").map(_.toString).toSet
    Thread.sleep(20) // commit times must be distinguishable
    TableIO.writeTable(spark, lh, "rst", Seq((999, "bad")).toDF("k", "s"))
    assert(TableIO.selectTable(spark, lh, "rst").count() == 1)

    // timestamp travel hits the pre-overwrite version
    assert(TableIO.selectTableAsOf(spark, lh, "rst", t1).count() == 50)

    // restore: back to 50 rows, SAME data files (no rewrite), new version
    val info = TableIO.restoreTable(spark, lh, "rst", v1)
    assert(info.rowCount == 50)
    assert(TableIO.currentFiles(lh, "rst").map(_.toString).toSet == v1Files,
      "restore must re-reference, not rewrite")
    assert(Versioned.latestVersion(tdir).get > v1 + 1)
    // the bad version is still readable until retention sweeps it
    assert(TableIO.selectTableVersion(spark, lh, "rst", v1 + 1).count() == 1)
    // restoring a never-committed version fails loudly
    intercept[IllegalArgumentException] {
      TableIO.restoreTable(spark, lh, "rst", 9999L)
    }
    // RESTORE TIMESTAMP AS OF: break the bad version again, then restore
    // by the good version's commit time — resolves via in-commit stamps
    // to v1's content, same files by reference
    Thread.sleep(20)
    TableIO.writeTable(spark, lh, "rst", Seq((777, "bad2")).toDF("k", "s"))
    val info2 = TableIO.restoreTableAsOf(spark, lh, "rst", t1)
    assert(info2.rowCount == 50)
    assert(TableIO.currentFiles(lh, "rst").map(_.toString).toSet == v1Files)
    // a timestamp before any commit fails loudly
    intercept[IllegalArgumentException] {
      TableIO.restoreTableAsOf(spark, lh, "rst", 1L)
    }
    TableIO.dropTable(spark, lh, "rst")
  }

  test("tableRowCount answers from the manifest, tracks every write path") {
    TableIO.writeTable(spark, lh, "cnt", (1 to 100).map(i => (i, s"v$i")).toDF("k", "s"))
    assert(TableIO.tableRowCount(lh, "cnt").contains(100L))
    TableIO.appendTable(spark, lh, "cnt", Seq((101, "x")).toDF("k", "s"))
    assert(TableIO.tableRowCount(lh, "cnt").contains(101L))
    TableIO.deleteFromTable(spark, lh, "cnt", "k <= 10")
    assert(TableIO.tableRowCount(lh, "cnt").contains(91L))
    TableIO.mergeTable(spark, lh, "cnt", Seq((11, "Y"), (200, "new")).toDF("k", "s"), Seq("k"))
    assert(TableIO.tableRowCount(lh, "cnt").contains(92L))
    // and it agrees with the real count
    assert(TableIO.selectTable(spark, lh, "cnt").count() == 92L)
    TableIO.dropTable(spark, lh, "cnt")
  }

  test("describeHistory: one row per retained version with add/remove deltas") {
    TableIO.writeTable(spark, lh, "hist", (1 to 50).map(i => (i, s"v$i")).toDF("k", "s"))
    TableIO.appendTable(spark, lh, "hist", Seq((101, "a")).toDF("k", "s"))
    TableIO.mergeTable(spark, lh, "hist", Seq((1, "V1")).toDF("k", "s"), Seq("k"))
    val h = TableIO.describeHistory(spark, lh, "hist").collect()
    assert(h.length == 3 && h.map(_.getLong(0)).toSeq == h.map(_.getLong(0)).toSeq.sorted)
    val byV = h.map(r => r.getLong(0) -> r).toMap
    val vs = h.map(_.getLong(0)).sorted
    // append added exactly its new files, removed none
    assert(byV(vs(1)).getAs[Int]("n_added") >= 1 &&
      byV(vs(1)).getAs[Int]("n_removed") == 0)
    // merge rewrote >= 1 file: added and removed both positive
    assert(byV(vs(2)).getAs[Int]("n_added") >= 1 &&
      byV(vs(2)).getAs[Int]("n_removed") >= 1)
    // operation provenance rides the manifest meta
    assert(byV(vs(0)).getAs[String]("operation") == "WRITE")
    assert(byV(vs(1)).getAs[String]("operation") == "APPEND")
    assert(byV(vs(2)).getAs[String]("operation") == "MERGE")
    // commit times non-decreasing, bytes positive
    assert(h.map(_.getTimestamp(1).getTime).toSeq == h.map(_.getTimestamp(1).getTime).toSeq.sorted)
    assert(h.forall(_.getAs[Long]("bytes") > 0))
    TableIO.dropTable(spark, lh, "hist")
  }

  test("readChangesSince: incremental consumption pays O(new data) and " +
      "fails loudly on non-append history") {
    TableIO.writeTable(spark, lh, "inc", (1 to 100).map(i => (i, s"v$i")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "inc")
    val v1 = Versioned.latestVersion(tdir).get
    TableIO.appendTable(spark, lh, "inc", Seq((201, "a1")).toDF("k", "s"))
    val v2 = Versioned.latestVersion(tdir).get
    TableIO.appendTable(spark, lh, "inc", Seq((202, "a2"), (203, "a3")).toDF("k", "s"))

    // changes since v1 = both appended batches, nothing from the base
    val since1 = TableIO.readChangesSince(spark, lh, "inc", v1)
      .select("k").collect().map(_.getInt(0)).toSet
    assert(since1 == Set(201, 202, 203))
    val since2 = TableIO.readChangesSince(spark, lh, "inc", v2)
      .select("k").collect().map(_.getInt(0)).toSet
    assert(since2 == Set(202, 203))
    // current-vs-current: empty, not an error
    val cur = Versioned.latestVersion(tdir).get
    assert(TableIO.readChangesSince(spark, lh, "inc", cur).count() == 0)

    // a merge rewrites a base file -> file arithmetic is no longer purely
    // additive: default throws, opt-in re-delivers the rewritten file
    TableIO.mergeTable(spark, lh, "inc", Seq((1, "V1")).toDF("k", "s"), Seq("k"))
    intercept[IllegalStateException] {
      TableIO.readChangesSince(spark, lh, "inc", v2)
    }
    val redelivered = TableIO.readChangesSince(spark, lh, "inc", v2,
      ignoreRewrites = true).select("k").collect().map(_.getInt(0)).toSet
    assert(redelivered.contains(1) && redelivered.contains(202))
    TableIO.dropTable(spark, lh, "inc")
  }

  test("8 threads appending concurrently: every row survives, versions " +
      "monotonic (optimistic protocol under real contention)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // no pre-created table: the creation race itself is part of the test
      val fs = (0 until 8).map { w =>
        Future {
          TableIO.appendTable(spark, lh, "conc",
            Seq((w * 100 + 1, s"w$w-1"), (w * 100 + 2, s"w$w-2")).toDF("k", "s"),
            maxRetries = 20)
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
      val rows = TableIO.selectTable(spark, lh, "conc")
        .select("k").collect().map(_.getInt(0)).toSet
      val expected = (0 until 8).flatMap(w => Seq(w * 100 + 1, w * 100 + 2)).toSet
      assert(rows == expected,
        s"lost updates under contention: missing ${expected -- rows}")
      val tdir = Catalog.tablePath(lh, "conc")
      val vs = Versioned.committedVersions(tdir)
      assert(vs == vs.sorted && vs.toSet.size == vs.size)
    } finally pool.shutdown()
    TableIO.dropTable(spark, lh, "conc")
  }

  test("6 threads appending to an IDENTITY table concurrently: ids come " +
      "out unique and gap-free — every lost race re-reads the fresh " +
      "watermark before assigning") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    TableIO.writeTable(spark, lh, "idconc", Seq("seed").toDF("s"))
    TableIO.setIdentityColumn(spark, lh, "idconc", "id")
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 6).map { w =>
        Future {
          TableIO.appendTable(spark, lh, "idconc",
            Seq(s"w$w-a", s"w$w-b", s"w$w-c").toDF("s"), maxRetries = 30)
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
      val ids = TableIO.selectTable(spark, lh, "idconc")
        .collect().flatMap(r => Option(r.getAs[java.lang.Long]("id"))
          .map(_.longValue)).toSeq
      // 18 assigned rows, each id exactly once, contiguous 1..18
      assert(ids.sorted == (1L to 18L), ids.sorted)
    } finally pool.shutdown()
    TableIO.dropTable(spark, lh, "idconc")
  }

  test("a merge racing a concurrent commit fails loudly (no lost update)") {
    TableIO.writeTable(spark, lh, "c1", Seq((1, "a"), (2, "b")).toDF("k", "s"))
    val tdir = Catalog.tablePath(lh, "c1")
    val base = Versioned.latestVersion(tdir).get
    // another writer commits AFTER the merge's base was read: simulate by
    // committing, then merging with a stale pinned base via commitFiles
    TableIO.writeTable(spark, lh, "c1", Seq((9, "z")).toDF("k", "s"))
    intercept[Versioned.ConcurrentWriteException] {
      Versioned.commitFiles(tdir, Seq((0, "")).toDF("k", "s").schema.json,
        inherit = Seq.empty, expectedBase = Some(base), stage = { target =>
          Seq((1, "A")).toDF("k", "s").write.mode("append").parquet(target)
          Map.empty
        })
    }
    // the interleaved writer's data is intact
    assert(TableIO.selectTable(spark, lh, "c1").collect()
      .map(_.getInt(0)).toSet == Set(9))
    TableIO.dropTable(spark, lh, "c1")
  }

  test("age-based retention: two fast overwrites cannot sweep a version a " +
      "slow reader still holds") {
    TableIO.writeTable(spark, lh, "r1", Seq((1, "v1")).toDF("k", "s")) // v1
    val readerOnV1 = TableIO.selectTable(spark, lh, "r1")
    TableIO.writeTable(spark, lh, "r1", Seq((2, "v2")).toDF("k", "s")) // v2
    TableIO.writeTable(spark, lh, "r1", Seq((3, "v3")).toDF("k", "s")) // v3
    // v1 is outside the count floor (newest 2) but inside the age window:
    // both the version AND its data files survive
    assert(TableIO.selectTableVersion(spark, lh, "r1", 1L).head().getString(1) == "v1")
    assert(readerOnV1.head().getString(1) == "v1")
    // explicit aged vacuum applies the count floor
    Versioned.vacuum(Catalog.tablePath(lh, "r1"), retainAgeMs = 0L)
    intercept[IllegalArgumentException] {
      TableIO.selectTableVersion(spark, lh, "r1", 1L)
    }
    assert(TableIO.selectTable(spark, lh, "r1").head().getString(1) == "v3")
    TableIO.dropTable(spark, lh, "r1")
  }

  test("schema evolution: overwrite with a changed schema is a first-class commit") {
    TableIO.writeTable(spark, lh, "e1", Seq((1, "a")).toDF("k", "s"))
    // reference semantics: overwriteSchema=true always (common.py:531)
    TableIO.writeTable(spark, lh, "e1",
      Seq((1, "a", 3.5), (2, "b", 4.5)).toDF("k", "s", "score"))
    val back = TableIO.selectTable(spark, lh, "e1")
    assert(back.columns.toSeq == Seq("k", "s", "score"))
    assert(back.count() == 2)
    // time travel still reads the OLD schema for the old version
    assert(TableIO.selectTableVersion(spark, lh, "e1", 1L).columns.toSeq
      == Seq("k", "s"))
    TableIO.dropTable(spark, lh, "e1")
  }

  test("schema evolution: merge carrying a new nullable column widens the " +
      "table; inherited files read it as null") {
    TableIO.writeTable(spark, lh, "e2",
      (1 to 40).map(i => (i, s"v$i")).toDF("k", "s"))
    val before = fileState("e2")
    TableIO.mergeTable(spark, lh, "e2",
      Seq((1, "V1", "en"), (100, "V100", "fr")).toDF("k", "s", "lang"), Seq("k"))
    val back = TableIO.selectTable(spark, lh, "e2")
    assert(back.columns.toSeq == Seq("k", "s", "lang"))
    assert(back.count() == 41)
    val byKey = back.collect().map(r => r.getInt(0) ->
      Option(r.getString(2))).toMap
    assert(byKey(1).contains("en") && byKey(100).contains("fr"))
    // untouched rows from inherited (pre-evolution) files: lang is null
    assert(byKey(2).isEmpty && byKey(40).isEmpty)
    // and those inherited files were not rewritten for the evolution
    val after = fileState("e2")
    val inherited = before.keySet.intersect(after.keySet)
    assert(inherited.exists(p => before(p) == after(p)))
    TableIO.dropTable(spark, lh, "e2")
  }

  test("schema evolution: append with a new column evolves without touching " +
      "existing files") {
    TableIO.writeTable(spark, lh, "e3", Seq((1, "a")).toDF("k", "s"))
    val before = fileState("e3")
    TableIO.appendTable(spark, lh, "e3",
      Seq((2, "b", 9L)).toDF("k", "s", "extra"))
    val after = fileState("e3")
    assert(before.toSet.subsetOf(after.toSet))
    val back = TableIO.selectTable(spark, lh, "e3").orderBy("k").collect()
    assert(back.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(back(0).isNullAt(2) && back(1).getLong(2) == 9L)
    TableIO.dropTable(spark, lh, "e3")
  }
}
