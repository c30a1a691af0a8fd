package graft.lakehouse

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Adversarial property check for the data-skipping miner: for ANY
  * condition the miner can see, `readTable(cond)` must equal a full scan
  * + filter — file pruning is an optimization, never a semantics change.
  * A seeded generator fuzzes conditions (ranges, equalities, IN-lists,
  * LIKE prefixes, null checks, ORs-of-equalities, conjunctions; literals
  * in-range, out-of-range, and on boundaries) against three layouts
  * (plain, hive-partitioned, sorted+bloom). The miner's intricate cases —
  * timestamp normalization, string bounds, partition-path stats — are
  * exactly where a wrong survivor set silently drops rows; this spec
  * makes any such bug a red test with the generating seed in the
  * message. */
class MinerPropertySpec extends SparkSuite {
  import spark.implicits._

  lazy val lh: LakehouseProps = {
    val dir = Files.createTempDirectory("mp_test").toString
    Catalog.registerLocalWorkspace(dir, "ws_mp", "lh_mp").lakehouses.head
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val tables: Seq[String] = {
    val rnd = new scala.util.Random(20260814L)
    val rows = (1 to 240).map { i =>
      (i.toLong * 7,
        if (i % 23 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(
          math.floor(rnd.nextDouble() * 100000) / 100 + 1000.0),
        Seq("F", "O", "P")(rnd.nextInt(3)),
        if (i % 31 == 0) null
        else ts(f"199${rnd.nextInt(5)}-${rnd.nextInt(12) + 1}%02d-" +
          f"${rnd.nextInt(28) + 1}%02d 00:00:00"),
        s"ID#${rnd.nextInt(40)}%03d")
    }
    val df = rows.toDF("k", "price", "status", "d", "tag")
      .repartition(8) // several files per layout => real pruning decisions
    // AQE coalesces tiny fixtures into one file; pin partitions so the
    // layouts actually exercise multi-file survivor selection
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      TableIO.writeTable(spark, lh, "mp_plain", df)
      TableIO.writeTable(spark, lh, "mp_part", df,
        partitionBy = Seq("status"))
      TableIO.writeTable(spark, lh, "mp_sorted", df,
        sortBy = Seq("k"), bloomFilterFor = Seq("tag"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    Seq("mp_plain", "mp_part", "mp_sorted")
  }

  private def genCondition(rnd: scala.util.Random): String = {
    def lit(kind: Int): String = kind match {
      case 0 => (rnd.nextInt(2000) * 7).toString // k domain + misses
      case 1 => (900 + rnd.nextInt(300) * 7.03).toString // price-ish
      case 2 => "'" + Seq("F", "O", "P", "Z")(rnd.nextInt(4)) + "'"
      case 3 => f"TIMESTAMP '199${rnd.nextInt(7)}-${rnd.nextInt(12) + 1}%02d-15 00:00:00'"
      case _ => f"'ID#${rnd.nextInt(50)}%03d'"
    }
    def atom(): String = rnd.nextInt(9) match {
      case 0 => s"k >= ${lit(0)}"
      case 1 => s"k < ${lit(0)}"
      case 2 => s"price > ${lit(1)}"
      case 3 => s"status = ${lit(2)}"
      case 4 => s"d >= ${lit(3)}"
      case 5 => s"tag IN (${Seq.fill(rnd.nextInt(3) + 1)(lit(4)).mkString(", ")})"
      case 6 => if (rnd.nextBoolean()) "price IS NULL" else "d IS NOT NULL"
      case 7 => s"tag LIKE 'ID#0${rnd.nextInt(10)}%'"
      case _ => s"status = ${lit(2)} OR status = ${lit(2)}"
    }
    (1 to rnd.nextInt(3) + 1).map(_ => s"(${atom()})").mkString(" AND ")
  }

  test("fuzz: readTable(condition) equals full-scan filter on every " +
      "layout (pruning never changes semantics)") {
    val seed = 987654321L
    val rnd = new scala.util.Random(seed)
    tables.foreach { tname =>
      val full = TableIO.selectTable(spark, lh, tname)
      for (i <- 1 to 25) {
        val cond = genCondition(rnd)
        val got = TableIO.readTable(spark, lh, tname, condition = cond)
          .orderBy("k").collect().toSeq
        val want = full.where(cond).orderBy("k").collect().toSeq
        assert(got == want,
          s"seed=$seed iter=$i table=$tname condition `$cond`: " +
            s"pruned read returned ${got.size} rows, truth ${want.size}")
      }
    }
  }

  test("fuzz: BETWEEN and NOT BETWEEN conditions (reversed, boundary " +
      "and out-of-range bounds) read exactly the full-scan filter") {
    val seed = 20261019L
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    // bounds per column: stored values (boundaries), values between
    // them, and values outside the column's range
    def bounds(): (String, String, String) = rnd.nextInt(5) match {
      case 0 =>
        def k = pick(7 * (1 + rnd.nextInt(240)), 7 * rnd.nextInt(260) + 3,
          -70, 0, 7, 1680, 5000)
        ("k", k.toString, k.toString)
      case 1 =>
        def p = pick("999.99", "1000.0", (1000 + rnd.nextInt(1000)).toString
          + ".5", "1500", "2001.0", "99999.0")
        ("price", p, p)
      case 2 =>
        def d = pick(
          f"TIMESTAMP '199${rnd.nextInt(7)}-${rnd.nextInt(12) + 1}%02d-" +
            f"${rnd.nextInt(28) + 1}%02d 00:00:00'",
          f"'199${rnd.nextInt(5)}-0${rnd.nextInt(9) + 1}-01'",
          "TIMESTAMP '1980-01-01 00:00:00'")
        ("d", d, d)
      case 3 =>
        def t = pick(f"'ID#${rnd.nextInt(50)}%03d'", "'ID#'", "'ID#999'",
          "'A'", "'Z'")
        ("tag", t, t)
      case _ =>
        def s = pick("'F'", "'O'", "'P'", "'Z'", "'A'")
        ("status", s, s)
    }
    def atom(): String = {
      val (c, lo, hi) = bounds()
      val not = if (rnd.nextInt(4) == 0) "NOT " else ""
      s"$c ${not}BETWEEN $lo AND $hi" // reversed half the time by chance
    }
    var pruned = 0
    tables.foreach { tname =>
      val full = TableIO.selectTable(spark, lh, tname)
      val allFiles = full.inputFiles.length
      for (i <- 1 to 30) {
        val cond = (1 to rnd.nextInt(2) + 1).map(_ => s"(${atom()})")
          .mkString(" AND ")
        val read = TableIO.readTable(spark, lh, tname, condition = cond)
        if (read.inputFiles.length < allFiles) pruned += 1
        val got = read.orderBy("k").collect().toSeq
        val want = full.where(cond).orderBy("k").collect().toSeq
        assert(got == want,
          s"seed=$seed iter=$i table=$tname condition `$cond`: " +
            s"pruned read returned ${got.size} rows, truth ${want.size}")
      }
    }
    assert(pruned > 0, s"seed=$seed: no BETWEEN condition pruned a file")
  }

  test("the miner actually prunes: a selective range on the sorted " +
      "layout reads fewer files than the full scan") {
    tables // force fixture
    val all = TableIO.filesTable(spark, lh, "mp_sorted").count()
    val plan = TableIO.readTable(spark, lh, "mp_sorted",
      condition = "k >= 1500 AND k < 1600")
      .queryExecution.executedPlan.toString
    // the scan's file source lists the surviving parquet paths; with the
    // table sorted by k a tight range must not read all files
    val scanned = "mp_sorted/v\\d+/".r.findAllIn(plan).size
    assert(all >= 4, s"fixture should have several files, had $all")
    assert(scanned < all || plan.contains("InMemoryFileIndex(1 paths)"),
      s"no pruning visible: $scanned of $all files\n$plan")
  }
}
