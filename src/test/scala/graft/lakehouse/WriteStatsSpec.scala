package graft.lakehouse

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write-task-side stats tracker vs the read-back aggregation: the two
  * paths must render BYTE-IDENTICAL stats JSON for every file of every
  * staged write (stats are correctness-bearing — manifest-answerable
  * queries hash their values). Each case writes through
  * [[TableIO.writeStagedWithStats]] and re-derives the stats from the
  * written files with [[TableIO.collectFileStats]]. */
class WriteStatsSpec extends SparkSuite {
  import spark.implicits._

  private def check(df: DataFrame, partitionBy: Seq[String] = Seq.empty,
      blooms: Seq[String] = Seq.empty,
      parquetBlooms: Seq[String] = Seq.empty): Map[String, String] = {
    val dir = Files.createTempDirectory("write_stats")
      .resolve("stage").toString
    val got = TableIO.writeStagedWithStats(df, dir, partitionBy, blooms,
      parquetBlooms)
    val expected = TableIO.collectFileStats(spark, blooms)(dir)
    assert(got.keySet == expected.keySet)
    for (k <- expected.keySet)
      assert(got(k) == expected(k), s"stats diverge for $k")
    got
  }

  test("all stats types: numerics, string, date, timestamp, boolean, decimal") {
    val df = spark.range(200).select(
      col("id"),
      (col("id") % 7).cast("int").as("i"),
      (col("id") % 5).cast("short").as("sh"),
      (col("id") % 3).cast("byte").as("by"),
      (col("id") * 1.5 - 42.0).as("d"),
      (col("id") * 0.25f).cast("float").as("f"),
      concat(lit("v"), lpad(col("id").cast("string"), 4, "0")).as("s"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 30).cast("int")).as("dt"),
      (col("id") % 2 === 0).as("b"),
      to_timestamp(lit("2024-06-01 12:00:00")).as("ts"),
      (col("id").cast("decimal(12,2)") / 3).as("dec"))
    check(df.repartition(3))
  }

  test("nulls, all-null columns, NaN doubles, negative sums") {
    val df = spark.range(100).select(
      when(col("id") % 3 === 0, col("id")).as("maybe"),
      lit(null).cast("long").as("allnull"),
      when(col("id") % 10 === 0, lit(Double.NaN))
        .otherwise(col("id") * -1.5).as("nan_d"),
      (col("id") * -7 - 1).as("neg"),
      when(col("id") % 4 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), col("id"))).as("nstr"))
    check(df.repartition(2))
  }

  test("long strings truncate identically (>64 code points, multibyte)") {
    val df = Seq(
      ("a" * 200, 1),
      ("é" * 100 + "tail", 2),          // 2-byte code points
      ("😀" * 80, 3),               // surrogate pairs
      ("short", 4)).toDF("t", "k")
    check(df.coalesce(1))
  }

  test("partitioned write: path-derived partition stats, null partition") {
    val df = spark.range(60).select(
      when(col("id") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("p"), (col("id") % 2).cast("string"))).as("p"),
      col("id").as("v"),
      concat(lit("x"), col("id")).as("s"))
    check(df.repartition(2), partitionBy = Seq("p"))
  }

  test("bloom columns render identical bitsets (incl. null contributions)") {
    val df = spark.range(500).select(
      col("id").as("k"),
      when(col("id") % 9 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("u"), col("id"))).as("u"))
    check(df.repartition(2), blooms = Seq("k", "u"),
      parquetBlooms = Seq("k"))
  }

  test("empty dataframe still records a zero-row stats entry") {
    val df = spark.range(0).select(col("id"), lit("x").as("s"))
    val got = check(df)
    assert(got.size == 1 && got.values.head.contains("\"__rows\":\"0\""))
  }

  test("sum overflow escalates exactly (beyond Long range)") {
    val big = Long.MaxValue / 2
    val df = Seq(big, big, big, 17L).toDF("v")
    val got = check(df.coalesce(1))
    val expectSum = (BigInt(big) * 3 + 17).toString
    assert(got.values.head.contains(s""""__sum_v":"$expectSum""""))
  }

  test("more than MaxStatsCols eligible columns: same leading-8 selection") {
    val colsExpr = (0 until 12).map(i => (col("id") + i).as(s"c$i"))
    val df = spark.range(50).select(colsExpr: _*)
    check(df.coalesce(1))
  }

  test("a Bloom column that is also a partition column records no Bloom " +
      "stat on either path") {
    // the path-derived min = max stats prune a partition column exactly
    val df = spark.range(40).select(col("id"), (col("id") % 2).as("p"))
    val got = check(df.repartition(2), partitionBy = Seq("p"),
      blooms = Seq("p", "id"))
    assert(got.size >= 2 && got.values.forall(s =>
      !s.contains(Bloom.StatsPrefix + "p") &&
        s.contains(Bloom.StatsPrefix + "id")))
  }
}
