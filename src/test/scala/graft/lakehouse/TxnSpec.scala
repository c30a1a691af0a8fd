package graft.lakehouse

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Multi-table transactions: all-or-nothing visibility across tables,
  * steal-abort of crashed transactions, conflict serialization, and the
  * protocol edges (dead-version allocation, restore guard, ref litter). */
class TxnSpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("txn_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_txn", "lh_txn").lakehouses.head
  }

  private def rowsOf(table: String): Set[Int] =
    TableIO.selectTable(spark, lh, table).select("k").as[Int].collect().toSet

  test("a two-table transaction is invisible before commit and atomic after") {
    TableIO.writeTable(spark, lh, "t1", Seq(1).toDF("k"))
    TableIO.writeTable(spark, lh, "t2", Seq(10).toDF("k"))
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "t1", Seq(2).toDF("k"))
    Txn.write(h, spark, lh, "t2", Seq(20).toDF("k"))
    // staged but undecided: neither table shows the new rows
    assert(rowsOf("t1") == Set(1) && rowsOf("t2") == Set(10))
    Txn.commit(h)
    assert(rowsOf("t1") == Set(1, 2) && rowsOf("t2") == Set(10, 20))
    Seq("t1", "t2").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("abort leaves every table untouched, and later appends build past " +
      "the dead version") {
    TableIO.writeTable(spark, lh, "t3", Seq(1).toDF("k"))
    TableIO.writeTable(spark, lh, "t4", Seq(10).toDF("k"))
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "t3", Seq(2).toDF("k"))
    Txn.write(h, spark, lh, "t4", Seq(20).toDF("k"))
    Txn.abort(h)
    assert(rowsOf("t3") == Set(1) && rowsOf("t4") == Set(10))
    // an ordinary append allocates past the aborted version and never
    // inherits its rows
    TableIO.appendTable(spark, lh, "t3", Seq(3).toDF("k"))
    assert(rowsOf("t3") == Set(1, 3))
    // the dead version is physically above the old base
    val dir = Catalog.tablePath(lh, "t3")
    assert(Versioned.committedVersions(dir).size >= 3)
    Seq("t3", "t4").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("a crashed (undecided) transaction is steal-aborted after the " +
      "grace window — and its late commit fails loudly") {
    val prevGrace = Versioned.TxnGraceMs
    try {
      TableIO.writeTable(spark, lh, "t5", Seq(1).toDF("k"))
      val h = Txn.begin(lh)
      Txn.write(h, spark, lh, "t5", Seq(2).toDF("k"))
      // within the grace: pending, invisible, NOT aborted
      assert(rowsOf("t5") == Set(1))
      Versioned.TxnGraceMs = 1L
      Thread.sleep(10)
      // first reader past the grace decides the outcome: aborted
      assert(rowsOf("t5") == Set(1))
      val ex = intercept[Versioned.ConcurrentWriteException] {
        Txn.commit(h)
      }
      assert(ex.getMessage.contains("aborted"), ex.getMessage)
      assert(rowsOf("t5") == Set(1))
      TableIO.dropTable(spark, lh, "t5")
    } finally Versioned.TxnGraceMs = prevGrace
  }

  test("a pending transaction blocks concurrent writers of its tables " +
      "until decided") {
    TableIO.writeTable(spark, lh, "t6", Seq(1).toDF("k"))
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "t6", Seq(2).toDF("k"))
    intercept[Versioned.ConcurrentWriteException] {
      TableIO.appendTable(spark, lh, "t6", Seq(3).toDF("k"), maxRetries = 1)
    }
    Txn.commit(h)
    // decided: the ordinary append goes through ON TOP of the txn rows
    TableIO.appendTable(spark, lh, "t6", Seq(3).toDF("k"))
    assert(rowsOf("t6") == Set(1, 2, 3))
    TableIO.dropTable(spark, lh, "t6")
  }

  test("two transactions racing the same table serialize: the loser " +
      "fails its write, not its victim") {
    TableIO.writeTable(spark, lh, "t7", Seq(1).toDF("k"))
    val h1 = Txn.begin(lh)
    val h2 = Txn.begin(lh)
    Txn.write(h1, spark, lh, "t7", Seq(2).toDF("k"))
    intercept[Versioned.ConcurrentWriteException] {
      Txn.write(h2, spark, lh, "t7", Seq(3).toDF("k"))
    }
    Txn.abort(h2)
    Txn.commit(h1)
    assert(rowsOf("t7") == Set(1, 2))
    TableIO.dropTable(spark, lh, "t7")
  }

  test("transaction writes create tables, enforce CHECKs, and refuse " +
      "CDF tables and forged identity values") {
    // creation inside a txn: table invisible (reads say no table) until
    // commit
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "t8", Seq(1).toDF("k"))
    assert(Versioned.latestVersion(Catalog.tablePath(lh, "t8")).isEmpty)
    Txn.commit(h)
    assert(rowsOf("t8") == Set(1))
    // CHECK constraints hold inside transactions
    TableIO.addCheckConstraint(spark, lh, "t8", "pos", "k > 0")
    val h2 = Txn.begin(lh)
    intercept[IllegalArgumentException] {
      Txn.write(h2, spark, lh, "t8", Seq(-5).toDF("k"))
    }
    Txn.abort(h2)
    // identity tables work inside txns, but GENERATED ALWAYS still
    // rejects explicit values (same contract as ordinary appends)
    TableIO.writeTable(spark, lh, "t9",
      Seq((1L, 1)).toDF("rid", "k"))
    TableIO.setIdentityColumn(spark, lh, "t9", "rid")
    val h3 = Txn.begin(lh)
    val ex = intercept[IllegalArgumentException] {
      Txn.write(h3, spark, lh, "t9", Seq((9L, 9)).toDF("rid", "k"))
    }
    assert(ex.getMessage.contains("GENERATED ALWAYS"), ex.getMessage)
    Txn.abort(h3)
    // CDF tables stay refused (v1): feed sidecars are version-contiguous
    TableIO.writeTable(spark, lh, "t9c", Seq(1).toDF("k"))
    TableIO.enableChangeFeed(spark, lh, "t9c")
    val h4 = Txn.begin(lh)
    val exc = intercept[IllegalArgumentException] {
      Txn.write(h4, spark, lh, "t9c", Seq(2).toDF("k"))
    }
    assert(exc.getMessage.contains("change feed"), exc.getMessage)
    Txn.abort(h4)
    Seq("t8", "t9", "t9c").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("time travel refuses pending and aborted transaction versions") {
    TableIO.writeTable(spark, lh, "t12", Seq(1).toDF("k"))
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "t12", Seq(2).toDF("k"))
    val deadV = Versioned.committedVersions(
      Catalog.tablePath(lh, "t12")).max
    // pending: version-travel is refused (not silently served)
    intercept[IllegalArgumentException] {
      TableIO.selectTableVersion(spark, lh, "t12", deadV)
    }
    // AS OF "now" resolves to the last VISIBLE version, not the pending
    // marker (which is the newest)
    assert(TableIO.selectTableAsOf(spark, lh, "t12",
      System.currentTimeMillis()).select("k").as[Int].collect().toSet
      == Set(1))
    Txn.abort(h)
    // aborted: still refused forever
    intercept[IllegalArgumentException] {
      TableIO.selectTableVersion(spark, lh, "t12", deadV)
    }
    TableIO.dropTable(spark, lh, "t12")
  }

  test("write heartbeats every ref, and the txn id is per-commit state " +
      "that later appends do not inherit") {
    val prevGrace = Versioned.TxnGraceMs
    try {
      TableIO.writeTable(spark, lh, "t13", Seq(1).toDF("k"))
      TableIO.writeTable(spark, lh, "t14", Seq(10).toDF("k"))
      Versioned.TxnGraceMs = 250L
      val h = Txn.begin(lh)
      Txn.write(h, spark, lh, "t13", Seq(2).toDF("k"))
      // the second write lands after a gap longer than the grace — its
      // heartbeat must have kept t13's ref alive, or commit would find
      // t13 steal-aborted
      Thread.sleep(150)
      Txn.heartbeat(h)
      Thread.sleep(150)
      Txn.write(h, spark, lh, "t14", Seq(20).toDF("k"))
      Txn.commit(h)
      assert(rowsOf("t13") == Set(1, 2) && rowsOf("t14") == Set(10, 20))
      // a committed txn's id is NOT carried into later ordinary commits
      TableIO.appendTable(spark, lh, "t13", Seq(3).toDF("k"))
      val dir = Catalog.tablePath(lh, "t13")
      val meta = Versioned.readManifest(dir,
        Versioned.latestVersion(dir).get).get.meta
      assert(!meta.contains(Versioned.TxnMetaKey), meta)
      Seq("t13", "t14").foreach(TableIO.dropTable(spark, lh, _))
    } finally Versioned.TxnGraceMs = prevGrace
  }

  test("RESTORE refuses to resurrect an aborted transaction's version") {
    TableIO.writeTable(spark, lh, "t10", Seq(1).toDF("k"))
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "t10", Seq(2).toDF("k"))
    val deadV = Versioned.committedVersions(
      Catalog.tablePath(lh, "t10")).max
    Txn.abort(h)
    val ex = intercept[IllegalArgumentException] {
      TableIO.restoreTable(spark, lh, "t10", deadV)
    }
    assert(ex.getMessage.contains("transaction"), ex.getMessage)
    TableIO.dropTable(spark, lh, "t10")
  }

  test("transactions under 6-way contention stay all-or-nothing: a " +
      "marker lands in BOTH tables or in neither") {
    TableIO.writeTable(spark, lh, "t20", Seq(-1).toDF("k"))
    TableIO.writeTable(spark, lh, "t21", Seq(-1).toDF("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    try {
      (1 to 6).map(i => pool.submit(new Runnable {
        def run(): Unit = {
          var attempts = 0
          var done = false
          while (!done && attempts < 30) {
            attempts += 1
            val h = Txn.begin(lh)
            try {
              Txn.write(h, spark, lh, "t20", Seq(i).toDF("k"))
              Txn.write(h, spark, lh, "t21", Seq(i).toDF("k"))
              Txn.commit(h)
              committed.add(i)
              done = true
            } catch {
              case _: Versioned.ConcurrentWriteException =>
                try Txn.abort(h) catch { case _: Exception => () }
                Thread.sleep(20L * attempts)
            }
          }
        }
      })).foreach(_.get())
    } finally pool.shutdown()
    assert(!committed.isEmpty, "no transaction ever committed")
    val a = rowsOf("t20") - (-1)
    val b = rowsOf("t21") - (-1)
    // atomicity: exactly the committed markers, in BOTH tables
    import scala.jdk.CollectionConverters._
    assert(a == committed.asScala.toSet && b == a, (a, b, committed))
    Seq("t20", "t21").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("commit rolls refs forward; a leftover ref from a crashed claim " +
      "never hides an unrelated commit") {
    TableIO.writeTable(spark, lh, "t11", Seq(1).toDF("k"))
    val dir = Catalog.tablePath(lh, "t11")
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "t11", Seq(2).toDF("k"))
    Txn.commit(h)
    assert(rowsOf("t11") == Set(1, 2))
    // roll-forward: resolution dropped the ref
    assert(!Files.list(Paths.get(dir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(Versioned.TxnRefPrefix)))
    // a ref whose commit id does not match the committed manifest (a
    // crashed claim's litter) must not affect visibility
    val v = Versioned.latestVersion(dir).get
    Files.write(Paths.get(dir,
      s"${Versioned.TxnRefPrefix}${v}_deadbeef"),
      "/nonexistent/outcome".getBytes)
    assert(rowsOf("t11") == Set(1, 2))
    assert(Versioned.latestVersion(dir).contains(v))
    TableIO.dropTable(spark, lh, "t11")
  }

  test("identity watermark publishes atomically with a committed " +
      "transaction and reverts on abort — ids reissued, never leaked") {
    TableIO.writeTable(spark, lh, "tid",
      Seq(100, 101).toDF("k").orderBy("k").coalesce(1))
    TableIO.setIdentityColumn(spark, lh, "tid", "rid")
    // establish the column in the schema via one ordinary append
    TableIO.appendTable(spark, lh, "tid",
      Seq(102).toDF("k").coalesce(1))
    def pairs(): Set[(Int, Long)] =
      TableIO.selectTable(spark, lh, "tid").na.drop(Seq("rid"))
        .select("k", "rid").as[(Int, Long)].collect().toSet
    assert(pairs() == Set((102, 1L)))
    // ABORTED txn: its staged rows (and their ids 2..3) stay invisible
    val hAbort = Txn.begin(lh)
    Txn.write(hAbort, spark, lh, "tid",
      Seq(103, 104).toDF("k").orderBy("k").coalesce(1))
    Txn.abort(hAbort)
    assert(pairs() == Set((102, 1L)))
    // retry in a fresh txn: the SAME ids 2..3 are assigned (the aborted
    // watermark advance never published) and commit makes them visible
    // atomically with a second table's write
    TableIO.writeTable(spark, lh, "tid_log", Seq(0).toDF("batch"))
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "tid",
      Seq(103, 104).toDF("k").orderBy("k").coalesce(1))
    Txn.write(h, spark, lh, "tid_log", Seq(1).toDF("batch"))
    assert(pairs() == Set((102, 1L))) // still invisible pre-decision
    Txn.commit(h)
    assert(pairs() == Set((102, 1L), (103, 2L), (104, 3L)))
    assert(TableIO.selectTable(spark, lh, "tid_log")
      .select("batch").as[Int].collect().toSet == Set(0, 1))
    // a later ordinary append continues above the committed watermark
    TableIO.appendTable(spark, lh, "tid", Seq(105).toDF("k").coalesce(1))
    assert(pairs() == Set((102, 1L), (103, 2L), (104, 3L), (105, 4L)))
    Seq("tid", "tid_log").foreach(TableIO.dropTable(spark, lh, _))
  }

  test("explicit identity values are rejected inside a transaction " +
      "(GENERATED ALWAYS semantics hold on the txn path too)") {
    TableIO.writeTable(spark, lh, "tid2", Seq(1).toDF("k"))
    TableIO.setIdentityColumn(spark, lh, "tid2", "rid")
    TableIO.appendTable(spark, lh, "tid2", Seq(2).toDF("k"))
    val h = Txn.begin(lh)
    val e = intercept[IllegalArgumentException] {
      Txn.write(h, spark, lh, "tid2",
        Seq((3, 99L)).toDF("k", "rid"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
    Txn.abort(h)
    TableIO.dropTable(spark, lh, "tid2")
  }

  test("generated columns compute on the txn append path") {
    TableIO.writeTable(spark, lh, "tgen",
      Seq((2, 4), (3, 9)).toDF("k", "k2").orderBy("k").coalesce(1))
    TableIO.setGeneratedColumn(spark, lh, "tgen", "k2", "k * k")
    TableIO.appendTable(spark, lh, "tgen", Seq(4).toDF("k"))
    val h = Txn.begin(lh)
    Txn.write(h, spark, lh, "tgen", Seq(5).toDF("k"))
    Txn.commit(h)
    val got = TableIO.selectTable(spark, lh, "tgen")
      .select("k", "k2").as[(Int, Int)].collect().toSet
    assert(got == Set((2, 4), (3, 9), (4, 16), (5, 25)))
    TableIO.dropTable(spark, lh, "tgen")
  }

  /** One sink micro-batch into table `t`, as its next batch id. */
  private def sinkBatch(t: String, batchId: Long, df: DataFrame): Unit =
    new streaming.VersionedTableProvider().createSink(spark.sqlContext,
      Map("path" -> Catalog.tablePath(lh, t)), Seq.empty,
      org.apache.spark.sql.streaming.OutputMode.Append())
      .addBatch(batchId, df)

  test("appendTable, Txn.write and a sink micro-batch stage alike: the " +
      "same filled values, the same UNIQUE rejections, the declared layout") {
    var batchId = 0L
    val writers: Seq[(String, (String, DataFrame) => Unit)] = Seq(
      "append" -> { (t, df) => TableIO.appendTable(spark, lh, t, df); () },
      "txn" -> { (t, df) =>
        val h = Txn.begin(lh)
        try Txn.write(h, spark, lh, t, df)
        catch { case e: Throwable => Txn.abort(h); throw e }
        Txn.commit(h)
      },
      "sink" -> { (t, df) => batchId += 1; sinkBatch(t, batchId, df) })
    writers.foreach { case (name, write) =>
      val t = s"same_$name"
      TableIO.writeTable(spark, lh, t,
        Seq((1L, 1, "a", 10)).toDF("id", "k", "s", "g"))
      TableIO.setIdentityColumn(spark, lh, t, "id")
      TableIO.setColumnDefault(spark, lh, t, "s", "'dflt'")
      TableIO.setGeneratedColumn(spark, lh, t, "g", "k * 10")
      TableIO.addUniqueConstraint(spark, lh, t, "uk", Seq("k"))
      write(t, Seq(2, 3).toDF("k"))
      // a key already in the table, then a key twice in one batch
      Seq(Seq(3), Seq(7, 7)).foreach { keys =>
        val e = intercept[IllegalArgumentException](write(t, keys.toDF("k")))
        assert(e.getMessage.contains("UNIQUE"), s"$name: ${e.getMessage}")
      }
      TableIO.evolvePartitioning(spark, lh, t, Seq("s"))
      val before = TableIO.currentFiles(lh, t).toSet
      write(t, Seq(4).toDF("k"))
      val added = TableIO.currentFiles(lh, t).filterNot(before)
      assert(added.nonEmpty && added.forall(_.getParent.getFileName
        .toString == "s=dflt"), s"$name wrote outside the spec: $added")
      val got = TableIO.selectTable(spark, lh, t)
        .select("id", "k", "s", "g").as[(Long, Int, String, Int)]
        .collect().sortBy(_._2).toSeq
      assert(got == Seq((1L, 1, "a", 10), (2L, 2, "dflt", 20),
        (3L, 3, "dflt", 30), (4L, 4, "dflt", 40)), s"$name: $got")
      TableIO.dropTable(spark, lh, t)
    }
  }

  test("jobs per commit stay pinned: one sink micro-batch into a plain " +
      "table, one Txn.writeAll of two plain tables") {
    TableIO.writeTable(spark, lh, "jobs_s", Seq((1, "a")).toDF("k", "s"))
    val sinkJobs = jobsOf(sinkBatch("jobs_s", 0L,
      Seq((2, "b"), (3, "c")).toDF("k", "s")))
    TableIO.writeTable(spark, lh, "jobs_a", Seq(1).toDF("k"))
    TableIO.writeTable(spark, lh, "jobs_b", Seq(10).toDF("k"))
    val h = Txn.begin(lh)
    val txnJobs = jobsOf(Txn.writeAll(h, spark, lh,
      Seq("jobs_a" -> Seq(2).toDF("k"), "jobs_b" -> Seq(20).toDF("k"))))
    Txn.commit(h)
    // the staged write job per table and nothing else
    assert((sinkJobs, txnJobs) == (1, 2),
      s"sink micro-batch ran $sinkJobs jobs, Txn.writeAll $txnJobs")
    assert(rowsOf("jobs_a") == Set(1, 2) && rowsOf("jobs_b") == Set(10, 20))
    Seq("jobs_s", "jobs_a", "jobs_b").foreach(TableIO.dropTable(spark, lh, _))
  }
}
