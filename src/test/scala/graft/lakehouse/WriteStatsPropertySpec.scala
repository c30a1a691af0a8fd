package graft.lakehouse

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Property check for the write-task stats tracker: for random rows over
  * every stats type — nulls, NaN, ±0.0, ±Inf, multi-byte and over-long
  * strings, integral sums that overflow a long — the stats
  * [[TableIO.writeStagedWithStats]] renders must equal, byte for byte,
  * what [[TableIO.collectFileStats]] re-derives from the same staged
  * files. Each write is partitioned and spread over two tasks, so every
  * task writes several files, and asks for four Bloom columns, one of them
  * the partition column (which neither path records a Bloom for). Only
  * the first [[TableIO.MaxStatsCols]] eligible columns get stats, so the
  * property runs over two column orders that between them cover all
  * eleven types.
  * Fixed seeds: a failure reproduces. */
class WriteStatsPropertySpec extends SparkSuite {

  private def nullable(g: Gen[Any]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 6 -> g)

  /** Doubles by case mode: 0 spans the range; 1 and 2 crowd ±0.0 so a
    * file's min (1) or max (2) is often a zero of either sign, where the
    * first one the file holds must win. NaN and ±Inf in every mode. */
  private def doubles(mode: Int): Gen[Double] = {
    val zeros = Gen.oneOf(0.0, -0.0)
    val odd = Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue)
    mode match {
      case 0 => Gen.frequency(4 -> Gen.choose(-1e6, 1e6), 1 -> zeros, 1 -> odd)
      case 1 => Gen.frequency(4 -> zeros, 2 -> Gen.choose(0.0, 10.0),
        1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity))
      case _ => Gen.frequency(4 -> zeros, 2 -> Gen.choose(-10.0, 0.0),
        1 -> Gen.const(Double.NegativeInfinity))
    }
  }

  // a third of the longs sit near the range ends, so a file's sum of a few
  // of them leaves long range and escalates to BigInteger
  private val longs: Gen[Long] = Gen.frequency(
    2 -> Gen.choose(-1000L, 1000L),
    1 -> Gen.choose(Long.MaxValue / 2, Long.MaxValue),
    1 -> Gen.choose(Long.MinValue, Long.MinValue / 2))

  private val strings: Gen[String] = for {
    n <- Gen.choose(0, 80)
    cps <- Gen.listOfN(n, Gen.oneOf("a", "z", "A", "0", " ", "é", "ß",
      "中", "😀", "\u0000", "�"))
  } yield cps.mkString

  private def columns(mode: Int): Seq[(StructField, Gen[Any])] = Seq(
    StructField("by", ByteType) ->
      Gen.choose(Byte.MinValue, Byte.MaxValue).map(x => x: Any),
    StructField("sh", ShortType) ->
      Gen.choose(Short.MinValue, Short.MaxValue).map(x => x: Any),
    StructField("i", IntegerType) -> Gen.frequency(
      2 -> Gen.choose(-50, 50), 1 -> Gen.choose(Int.MinValue, Int.MaxValue))
      .map(x => x: Any),
    StructField("l", LongType) -> longs.map(x => x: Any),
    StructField("f", FloatType) ->
      doubles(mode).map(d => d.toFloat: Any),
    StructField("d", DoubleType) -> doubles(mode).map(x => x: Any),
    StructField("dec", DecimalType(12, 2)) ->
      Gen.choose(-99999999999L, 99999999999L)
        .map(u => java.math.BigDecimal.valueOf(u, 2): Any),
    StructField("b", BooleanType) -> Gen.oneOf(true, false).map(x => x: Any),
    StructField("s", StringType) -> strings.map(x => x: Any),
    StructField("dt", DateType) -> Gen.choose(-25000L, 47000L)
      .map(d => Date.valueOf(LocalDate.ofEpochDay(d)): Any),
    StructField("ts", TimestampType) ->
      Gen.choose(-2000000000L, 4000000000L).flatMap(sec =>
        Gen.choose(0, 999999).map(us =>
          Timestamp.from(Instant.ofEpochSecond(sec, us * 1000L)): Any)))

  private val partition: (StructField, Gen[Any]) =
    StructField("p", StringType) -> nullable(Gen.oneOf("x", "y", "z"))

  private val blooms = Seq("l", "s", "d", "p")

  /** A case's rows over `cols` (partition column first), in a random
    * double mode. */
  private def rowsOf(cols: Int => Seq[(StructField, Gen[Any])])
      : Gen[Seq[Row]] =
    for {
      mode <- Gen.choose(0, 2)
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, cols(mode).foldRight(Gen.const(List.empty[Any])) {
        case ((_, g), rest) => for { v <- nullable(g); vs <- rest } yield v :: vs
      })
    } yield rows.map(Row.fromSeq)

  private def statsAgree(schema: StructType, rows: Seq[Row]): Prop = {
    val df = spark.createDataFrame(rows.asJava, schema).repartition(2)
    val dir = Files.createTempDirectory("write_stats_prop")
      .resolve("stage").toString
    val got = TableIO.writeStagedWithStats(df, dir, Seq("p"), blooms)
    val expected = TableIO.collectFileStats(spark, blooms)(dir)
    Prop(got == expected) :|
      s"${rows.size} rows, tracker $got != read-back $expected"
  }

  test("tracker stats equal read-back stats for random rows of every type") {
    val layouts: Seq[Int => Seq[(StructField, Gen[Any])]] =
      Seq(mode => columns(mode), mode => columns(mode).reverse)
    layouts.zipWithIndex.foreach { case (layout, li) =>
      val cols = (mode: Int) => partition +: layout(mode)
      val schema = StructType(cols(0).map(_._1))
      val result = Test.check(
        Test.Parameters.default
          .withMinSuccessfulTests(8)
          .withWorkers(1)
          .withInitialSeed(Seed(20261017L + li)),
        Prop.forAllNoShrink(rowsOf(cols))(rows => statsAgree(schema, rows)))
      assert(result.passed,
        s"layout $li (${schema.fieldNames.mkString(",")}): " +
          result.status)
    }
  }
}
