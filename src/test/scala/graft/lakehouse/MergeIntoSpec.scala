package graft.lakehouse

import java.nio.file.Files

/** Full conditional MERGE INTO: clause-order semantics, every clause
  * family, file-level inheritance, insert-only fast path, CDF events. */
class MergeIntoSpec extends SparkSuite {
  import spark.implicits._
  import TableIO.MergeClause._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("mi_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_mi", "lh_mi").lakehouses.head
  }

  private def rows(name: String): Seq[(Int, String, Double)] =
    TableIO.selectTable(spark, lh, name)
      .select("k", "s", "v").as[(Int, String, Double)].collect()
      .sortBy(_._1).toSeq

  test("all clause families fire by first-match order") {
    val tgt = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
      (4, "d", 40.0), (5, "e", 50.0)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "mi1", tgt)
    val src = Seq((1, 100.0), (2, 200.0), (9, 900.0), (10, -1.0))
      .toDF("k", "nv")
    TableIO.mergeInto(spark, lh, "mi1", src, Seq("k"), Seq(
      // k=1: v<15 → first clause updates; k=2: falls to delete
      MatchedUpdate(Map("v" -> "s.nv"), condition = Some("t.v < 15")),
      MatchedDelete(),
      // k=9 inserts; k=10 filtered out by the insert condition
      NotMatchedInsert(values = Some(Map(
        "k" -> "s.k", "s" -> "'new'", "v" -> "s.nv")),
        condition = Some("s.nv > 0")),
      // k=3 deleted (c), k=4/5 kept
      NotMatchedBySourceDelete(condition = Some("t.s = 'c'")),
      NotMatchedBySourceUpdate(Map("v" -> "t.v + 1"),
        condition = Some("t.s = 'd'"))))
    assert(rows("mi1") == Seq((1, "a", 100.0), (4, "d", 41.0),
      (5, "e", 50.0), (9, "new", 900.0)))
  }

  test("clause order matters: swapping update/delete changes the outcome") {
    val tgt = Seq((1, "a", 10.0)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "mi2", tgt)
    val src = Seq((1, 99.0)).toDF("k", "nv")
    // delete listed FIRST with a true condition wins over the update
    TableIO.mergeInto(spark, lh, "mi2", src, Seq("k"), Seq(
      MatchedDelete(condition = Some("t.v < 15")),
      MatchedUpdate(Map("v" -> "s.nv"))))
    assert(rows("mi2").isEmpty)
  }

  test("unmatched-by-any-clause rows pass through unchanged") {
    val tgt = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "mi3", tgt)
    val src = Seq((1, 5.0)).toDF("k", "nv")
    // matched clause's condition is false for k=1 → row unchanged;
    // no NMBS clause → k=2 unchanged
    TableIO.mergeInto(spark, lh, "mi3", src, Seq("k"), Seq(
      MatchedUpdate(Map("v" -> "s.nv"), condition = Some("t.v > 15"))))
    assert(rows("mi3") == Seq((1, "a", 10.0), (2, "b", 20.0)))
  }

  test("insert-only merge rewrites no existing file") {
    val tgt = (1 to 100).map(i => (i, s"s$i", i * 1.0)).toDF("k", "s", "v")
      .repartition(3)
    TableIO.writeTable(spark, lh, "mi4", tgt)
    val before = TableIO.currentFiles(lh, "mi4").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val src = Seq((200, "x", 1.0), (1, "ignored", 0.0))
      .toDF("k", "s", "v")
    TableIO.mergeInto(spark, lh, "mi4", src, Seq("k"), Seq(
      NotMatchedInsert()))
    val after = TableIO.currentFiles(lh, "mi4").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    assert(before.forall { case (p, t) => after.get(p).contains(t) },
      "insert-only merge must inherit every existing file untouched")
    assert(TableIO.selectTable(spark, lh, "mi4").count() == 101)
    // matched row k=1 untouched (no matched clause)
    assert(rows("mi4").find(_._1 == 1).get == ((1, "s1", 1.0)))
  }

  test("untouched files are inherited byte-identical under a targeted merge") {
    val tgt = (1 to 100).map(i => (i, if (i <= 50) "lo" else "hi", i * 1.0))
      .toDF("k", "g", "v")
    TableIO.writeTable(spark, lh, "mi5", tgt, partitionBy = Seq("g"))
    val before = TableIO.currentFiles(lh, "mi5").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val src = Seq((10, 0.5)).toDF("k", "f")
    TableIO.mergeInto(spark, lh, "mi5", src, Seq("k"), Seq(
      MatchedUpdate(Map("v" -> "t.v * s.f"))))
    val after = TableIO.currentFiles(lh, "mi5").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val hiBefore = before.filter(_._1.contains("/g=hi/"))
    assert(hiBefore.nonEmpty &&
      hiBefore.forall { case (p, t) => after.get(p).contains(t) },
      "files without matches must not rewrite")
    assert(TableIO.selectTable(spark, lh, "mi5")
      .filter($"k" === 10).select("v").as[Double].head() == 5.0)
  }

  test("CDF stages update pre/post images, deletes and inserts atomically") {
    val tgt = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "mi6", tgt)
    TableIO.enableChangeFeed(spark, lh, "mi6")
    val dir = Catalog.tablePath(lh, "mi6")
    val v0 = Versioned.latestVersion(dir).get
    val src = Seq((1, 11.0), (2, 0.0), (7, 70.0)).toDF("k", "nv")
    TableIO.mergeInto(spark, lh, "mi6", src, Seq("k"), Seq(
      MatchedUpdate(Map("v" -> "s.nv"), condition = Some("s.nv > 5")),
      MatchedDelete(),
      NotMatchedInsert(values = Some(Map(
        "k" -> "s.k", "s" -> "'i'", "v" -> "s.nv")))))
    val feed = TableIO.readChangeFeed(spark, lh, "mi6", v0)
      .select("k", "v", "_change_type").as[(Int, Double, String)]
      .collect().toSet
    assert(feed == Set(
      (1, 10.0, "update_preimage"), (1, 11.0, "update_postimage"),
      (2, 20.0, "delete"), (7, 70.0, "insert")))
  }

  test("merge keys are not updatable; duplicate source keys rejected") {
    val tgt = Seq((1, "a", 1.0)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "mi7", tgt)
    intercept[IllegalArgumentException] {
      TableIO.mergeInto(spark, lh, "mi7", Seq((1, 2.0)).toDF("k", "nv"),
        Seq("k"), Seq(MatchedUpdate(Map("k" -> "s.k + 1"))))
    }
    intercept[IllegalArgumentException] {
      TableIO.mergeInto(spark, lh, "mi7",
        Seq((1, 2.0), (1, 3.0)).toDF("k", "nv"),
        Seq("k"), Seq(MatchedUpdate(Map("v" -> "s.nv"))))
    }
    // a typo'd INSERT values column must error, not silently insert NULL
    intercept[IllegalArgumentException] {
      TableIO.mergeInto(spark, lh, "mi7", Seq((9, 2.0)).toDF("k", "nv"),
        Seq("k"), Seq(NotMatchedInsert(values = Some(Map(
          "kk" -> "s.k", "v" -> "s.nv")))))
    }
  }

  test("updateTable: file-level UPDATE WHERE with SET expressions, " +
      "untouched files inherited, CDF pre/post images") {
    val tgt = (1 to 100).map(i => (i, if (i <= 50) "lo" else "hi", i * 1.0))
      .toDF("k", "g", "v")
    TableIO.writeTable(spark, lh, "up1", tgt, partitionBy = Seq("g"))
    TableIO.enableChangeFeed(spark, lh, "up1")
    val dir = Catalog.tablePath(lh, "up1")
    val v0 = Versioned.latestVersion(dir).get
    val before = TableIO.currentFiles(lh, "up1").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val info = TableIO.updateTable(spark, lh, "up1",
      "g = 'lo' AND k <= 10", Map("v" -> "v * 10"))
    assert(info.rowCount == 100)
    // hi partition untouched byte-for-byte
    val after = TableIO.currentFiles(lh, "up1").map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val hiBefore = before.filter(_._1.contains("/g=hi/"))
    assert(hiBefore.nonEmpty &&
      hiBefore.forall { case (p, t) => after.get(p).contains(t) })
    val got = TableIO.selectTable(spark, lh, "up1")
      .select("k", "v").as[(Int, Double)].collect().toMap
    (1 to 100).foreach(i => assert(got(i) ==
      (if (i <= 10) i * 10.0 else i * 1.0), s"k=$i"))
    val feed = TableIO.readChangeFeed(spark, lh, "up1", v0)
    assert(feed.filter($"_change_type" === "update_preimage").count() == 10)
    assert(feed.filter($"_change_type" === "update_postimage")
      .select("v").as[Double].collect().sorted.toSeq ==
      (1 to 10).map(_ * 10.0))
    // NULL-condition rows stay un-updated (three-valued semantics)
    TableIO.writeTable(spark, lh, "up2",
      Seq((1, Some(5)), (2, None)).toDF("k", "x"))
    TableIO.updateTable(spark, lh, "up2", "x < 10", Map("k" -> "k + 100"))
    assert(TableIO.selectTable(spark, lh, "up2")
      .select("k").as[Int].collect().sorted.toSeq == Seq(2, 101))
  }

  test("concurrent commit between read and merge fails loudly") {
    val tgt = (1 to 10).map(i => (i, "x", i * 1.0)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "mi8", tgt)
    // mergeInto reads latest at entry; a racing commit bumps the version
    // so the optimistic claim for base+1 must fail — unless the merge
    // starts after, in which case it simply reads the newer base
    val dir = Catalog.tablePath(lh, "mi8")
    val m = Versioned.readManifest(dir,
      Versioned.latestVersion(dir).get).get
    // simulate the race: commit an independent version first
    Versioned.commitFiles(dir, m.schemaJson, inherit = m.entries,
      expectedBase = Versioned.latestVersion(dir), op = "WRITE")
    // merge still works (it reads the NEW latest) — sanity, not a failure
    TableIO.mergeInto(spark, lh, "mi8", Seq((1, 9.0)).toDF("k", "nv"),
      Seq("k"), Seq(MatchedUpdate(Map("v" -> "s.nv"))))
    assert(rows("mi8").find(_._1 == 1).get._3 == 9.0)
  }

  test("withConflictRetry: retries only conflict losses, rethrows after " +
      "the budget, passes other failures through") {
    var calls = 0
    val r = TableIO.withConflictRetry(3) {
      calls += 1
      if (calls < 3) throw new Versioned.ConcurrentWriteException("injected")
      "ok"
    }
    assert(r == "ok" && calls == 3)
    var calls2 = 0
    intercept[Versioned.ConcurrentWriteException] {
      TableIO.withConflictRetry(2) {
        calls2 += 1
        throw new Versioned.ConcurrentWriteException("always")
      }
    }
    assert(calls2 == 2, "budget must bound the attempts")
    // non-conflict failures are not retried (they are not races)
    var calls3 = 0
    intercept[IllegalStateException] {
      TableIO.withConflictRetry(5) {
        calls3 += 1
        throw new IllegalStateException("real bug")
      }
    }
    assert(calls3 == 1)
  }

  test("racing merges under withConflictRetry: every writer's change " +
      "lands (serializable, no lost updates)") {
    val tgt = (1 to 50).map(i => (i, "x", i * 1.0)).toDF("k", "s", "v")
    TableIO.writeTable(spark, lh, "mi9", tgt)
    val threads = (1 to 6).map { t =>
      new Thread(() => {
        TableIO.withConflictRetry(20) {
          // each writer upserts its own key: an update of existing k=t
          // and an insert of k=1000+t — any lost update is visible
          TableIO.mergeInto(spark, lh, "mi9",
            Seq((t, -1.0), (1000 + t, t * 10.0)).toDF("k", "nv"), Seq("k"),
            Seq(MatchedUpdate(Map("v" -> "s.nv")),
              NotMatchedInsert(values = Some(Map(
                "k" -> "s.k", "s" -> "'ins'", "v" -> "s.nv")))))
          ()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val got = rows("mi9").map { case (k, s, v) => k -> (s, v) }.toMap
    assert(got.size == 56, s"expected 50 + 6 rows, got ${got.size}")
    (1 to 6).foreach { t =>
      assert(got(t) == ("x", -1.0), s"update of k=$t lost")
      assert(got(1000 + t) == ("ins", t * 10.0), s"insert of k=${1000 + t} lost")
    }
    TableIO.dropTable(spark, lh, "mi9")
  }

  test("identity columns under merge: inserts get engine ids above the " +
      "watermark; explicit values and UPDATE SET are rejected") {
    TableIO.writeTable(spark, lh, "mid1",
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("id", "k", "s"))
    TableIO.setIdentityColumn(spark, lh, "mid1", "id") // watermark seeds at 2
    val src = Seq((2, "B"), (3, "C"), (4, "D")).toDF("k", "ns")
    TableIO.mergeInto(spark, lh, "mid1", src, Seq("k"), Seq(
      MatchedUpdate(Map("s" -> "s.ns")),
      NotMatchedInsert(values = Some(Map("k" -> "s.k", "s" -> "s.ns")))))
    val got = TableIO.selectTable(spark, lh, "mid1")
      .select("id", "k", "s").as[(Long, Int, String)].collect().sortBy(_._2)
    // updated row keeps its id; the two inserts got 3 and 4 (fresh, unique)
    assert(got.map(r => (r._2, r._3)).toSeq ==
      Seq((1, "a"), (2, "B"), (3, "C"), (4, "D")))
    assert(got.find(_._2 == 2).get._1 == 2L)
    assert(got.filter(_._2 >= 3).map(_._1).toSet == Set(3L, 4L))
    // the watermark advanced IN the merge commit: the next append continues
    TableIO.appendTable(spark, lh, "mid1", Seq((9, "z")).toDF("k", "s"))
    assert(TableIO.selectTable(spark, lh, "mid1")
      .filter($"k" === 9).head().getAs[Long]("id") == 5L)
    // GENERATED ALWAYS: explicit insert values rejected
    val e1 = intercept[IllegalArgumentException] {
      TableIO.mergeInto(spark, lh, "mid1", Seq((7, "x")).toDF("k", "ns"),
        Seq("k"), Seq(NotMatchedInsert(values = Some(Map(
          "id" -> "99", "k" -> "s.k", "s" -> "s.ns")))))
    }
    assert(e1.getMessage.contains("IDENTITY"), e1.getMessage)
    // ... UPDATE SET rejected
    val e2 = intercept[IllegalArgumentException] {
      TableIO.mergeInto(spark, lh, "mid1", Seq((2, "B2")).toDF("k", "ns"),
        Seq("k"), Seq(MatchedUpdate(Map("id" -> "99"))))
    }
    assert(e2.getMessage.contains("IDENTITY"), e2.getMessage)
    // ... and an INSERT * source carrying the column rejected
    val e3 = intercept[IllegalArgumentException] {
      TableIO.mergeInto(spark, lh, "mid1",
        Seq((99L, 8, "y")).toDF("id", "k", "s"),
        Seq("k"), Seq(NotMatchedInsert()))
    }
    assert(e3.getMessage.contains("IDENTITY"), e3.getMessage)
    TableIO.dropTable(spark, lh, "mid1")
  }

  test("generated columns under merge: omitted on insert computes, wrong " +
      "supplied value fails the paired CHECK") {
    TableIO.writeTable(spark, lh, "mgen1",
      Seq((1, 10L, 20L)).toDF("k", "a", "b2"))
    TableIO.setGeneratedColumn(spark, lh, "mgen1", "b2", "a * 2")
    // values-clause omitting b2: computed from the inserted row's post-image
    TableIO.mergeInto(spark, lh, "mgen1", Seq((2, 30L)).toDF("k", "na"),
      Seq("k"), Seq(NotMatchedInsert(values = Some(Map(
        "k" -> "s.k", "a" -> "s.na")))))
    // INSERT * source without b2: computed too
    TableIO.mergeInto(spark, lh, "mgen1", Seq((3, 50L)).toDF("k", "a"),
      Seq("k"), Seq(NotMatchedInsert()))
    val got = TableIO.selectTable(spark, lh, "mgen1")
      .select("k", "a", "b2").as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, 10L, 20L), (2, 30L, 60L), (3, 50L, 100L)))
    // a supplied-but-wrong value still fails loudly via the paired CHECK
    val e = intercept[IllegalArgumentException] {
      TableIO.mergeInto(spark, lh, "mgen1", Seq((4, 70L)).toDF("k", "na"),
        Seq("k"), Seq(NotMatchedInsert(values = Some(Map(
          "k" -> "s.k", "a" -> "s.na", "b2" -> "999")))))
    }
    assert(e.getMessage.contains("CHECK"), e.getMessage)
    TableIO.dropTable(spark, lh, "mgen1")
  }
}
