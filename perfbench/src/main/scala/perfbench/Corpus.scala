package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size}
import org.json4s._

import graft.lakehouse.{LakehouseProps, TableIO}
import graft.lakehouse.ext.{AnnIndex, Dedup, Packing, Similarity, TextNorm, Tokenizer}

/** corpus_pipeline: the training-data path over seeded document shards
  * with injected duplicates. One op is one pass over one shard:
  * normalise → exact dedup → MinHash near-dup pairs → connected-component
  * dedup → semantic dedup → IVF index build and query → BPE learn and
  * encode → sequence packing → one `writeTable` of the packed output.
  * The frames stay lazy between stages, as a pipeline job writes them;
  * the survivor set is persisted because three stages consume it. */
final class Corpus(ctx: Ctx) extends Workload {
  import ctx.formats
  private val spark = ctx.spark
  private val shards = (ctx.plan \ "shards").extract[List[JValue]].toIndexedSeq
  private val budget = ctx.cfgInt("pack_budget").toLong
  private val merges = ctx.cfgInt("bpe_merges")
  private var lh: LakehouseProps = _
  // the passes after the warm-up: packed output and IVF index
  private var writes = new WriteLedger
  def ledger: WriteLedger = writes
  // (table, shard) of every pass, checked after the loop
  private val outputs = mutable.ArrayBuffer.empty[(String, Int)]
  private val pairStats = mutable.ArrayBuffer.empty[(Int, Int)] // (found, injected)
  private val componentJobs = mutable.ArrayBuffer.empty[Int]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  // filled by check(): output fingerprint per shard, (tokens, packs) per output
  private val fingerprints = mutable.Map.empty[Int, Seq[Long]]
  private val tokenTotals = mutable.ArrayBuffer.empty[(Long, Long)]

  def setup(lakehouse: LakehouseProps): Unit = {
    lh = lakehouse
    pass(0, "warmup")
    writes = new WriteLedger
  }

  def cycle(c: Int): Unit = pass(c % shards.size, s"c$c")

  private def pass(s: Int, tag: String): Unit = {
    val shard = shards(s)
    val out = s"packed_$tag"
    val input = ctx.input(s"corpus/${(shard \ "file").extract[String]}")
    writes.around(lh, Disk.bytesUnder(Paths.get(input)))(ctx.run(s, "pipeline", primary = true) {
      val raw = spark.read.parquet(input)
      val norm = Trace.span("TextNorm.normalizeDocuments") {
        TextNorm.normalizeDocuments(raw, "doc_id", "text")
      }.join(raw.select("doc_id", "embedding"), "doc_id")
      val exact = Trace.span("Dedup.exactDedup")(Dedup.exactDedup(norm, Seq("text_norm"), "doc_id"))
      val pairs = Trace.span("Dedup.minHashNearDupPairs") {
        Dedup.minHashNearDupPairs(exact, "doc_id", "text_norm")
      }
      val ccSpan = mutable.ArrayBuffer.empty[Int]
      val near = Trace.span("Dedup.dedupByComponents") {
        ccSpan += Trace.current
        Dedup.dedupByComponents(exact, "doc_id", pairs)
      }
      val survivors = Trace.span("Dedup.semanticDedup")(Dedup.semanticDedup(near, "doc_id", "embedding"))
        .persist()
      try {
        val index = s"ivf_$tag"
        Trace.span("AnnIndex.buildIvfIndex") {
          AnnIndex.buildIvfIndex(spark, lh, index, survivors, "doc_id", "embedding")
        }
        val queries = survivors.orderBy("doc_id").limit(16)
        val hits = Trace.span("AnnIndex.queryIvfIndex") {
          AnnIndex.queryIvfIndex(spark, lh, index, queries, "doc_id", "embedding", k = 10)
        }
        val found = Trace.span("Spark.collect")(hits.collect())
        val learned = Trace.span("Tokenizer.learnBpeMerges") {
          Tokenizer.learnBpeMerges(survivors, "text_norm", merges)
        }
        val tokens = Trace.span("Tokenizer.withBpeTokens") {
          Tokenizer.withBpeTokens(survivors, "text_norm", learned)
        }.withColumn("n_tokens", size(col("bpe_tokens")))
          .select("doc_id", "text_norm", "bpe_tokens", "n_tokens")
        val packed = Trace.span("Packing.packSequences")(Packing.packSequences(tokens, "n_tokens", budget))
        Trace.span("TableIO.writeTable")(TableIO.writeTable(spark, lh, out, packed))
        if (Trace.isOn) inspect(shard, pairs, ccSpan.head, survivors, queries, found)
      } finally survivors.unpersist()
      Nil
    })
    outputs += ((out, s))
  }

  /** Traced runs only: pair precision, component jobs and ANN recall. */
  private def inspect(shard: JValue, pairs: DataFrame, ccSpan: Int,
      survivors: DataFrame, queries: DataFrame, found: Array[org.apache.spark.sql.Row]): Unit =
    Trace.span("bench.inspect") {
      val injected = (shard \ "near_pairs").extract[List[List[Long]]].map(p => (p(0), p(1))).toSet
      val got = pairs.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      pairStats += ((got.length, got.count(p => injected(p) || injected(p.swap))))
      componentJobs += Trace.jobsUnder(Trace.subtree(ccSpan)).size
      if (recalls.isEmpty) {
        val exact = Similarity.cosineTopK(survivors, queries, "doc_id", "embedding", 10)
          .select("query_id", "vec_id").collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
        val approx = found.map(r => (r.get(0).toString, r.get(1).toString)).toSet
        recalls += (if (exact.isEmpty) 0.0 else (exact & approx).size.toDouble / exact.size)
      }
    }

  def check(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    outputs.foreach { case (table, s) =>
      val shard = shards(s)
      val df = TableIO.readTable(spark, lh, table)
      val r = df.selectExpr("count(*)", "count(distinct doc_id)", "sum(doc_id)",
        "sum(n_tokens)", "sum(size(bpe_tokens))", "count(distinct pack_id)",
        "sum(CASE WHEN concat_ws('', bpe_tokens) = regexp_replace(lower(coalesce(text_norm, '')), '\\\\s+', '') THEN 0 ELSE 1 END)")
        .collect()(0)
      val Seq(n, distinct, idSum, nTok, arrTok, packs, badRoundtrip) =
        (0 until 7).map(i => r.getLong(i))
      val sources = (shard \ "sources").extract[Long]
      val dupIds = (shard \ "dup_ids").extract[List[Long]]
      val leaked = df.where(col("doc_id").isin(dupIds: _*)).count()
      if (n != sources || distinct != n || idSum != (shard \ "source_id_sum").extract[Long])
        fails += s"$table: kept $n docs ($distinct distinct, id sum $idSum), expected the $sources sources"
      if (leaked > 0) fails += s"$table: $leaked injected duplicates survived"
      if (nTok != arrTok || badRoundtrip > 0)
        fails += s"$table: tokens not conserved ($nTok counted, $arrTok stored, $badRoundtrip docs fail the roundtrip)"
      val over = df.groupBy("pack_id").agg(
        org.apache.spark.sql.functions.sum("n_tokens").as("t"),
        org.apache.spark.sql.functions.count("*").as("n"))
        .where(col("t") > budget && col("n") > 1).count()
      if (over > 0) fails += s"$table: $over packs exceed the $budget-token budget"
      val fp = Seq(n, idSum, nTok, packs)
      fingerprints.get(s) match {
        case Some(prev) if prev != fp =>
          fails += s"$table: output fingerprint $fp differs from an earlier pass over shard $s ($prev)"
        case _ => fingerprints(s) = fp
      }
      tokenTotals += ((nTok, packs))
    }
    fails.toList
  }

  def layerMetrics(): Map[String, Double] = {
    val n = math.max(pairStats.size, 1).toDouble
    val found = pairStats.map(_._1).sum
    Map(
      "Dedup.near_dup_pairs" -> found / n,
      "Dedup.pair_precision" -> (if (found == 0) 0.0 else pairStats.map(_._2).sum.toDouble / found),
      "Dedup.components_jobs" -> componentJobs.sum / math.max(componentJobs.size, 1).toDouble,
      "AnnIndex.recall_at_k" -> recalls.headOption.getOrElse(0.0))
  }

  /** Token and pack totals of the checked outputs: (tokens per pass, fill). */
  def packingStats: (Double, Double) = {
    val passes = math.max(tokenTotals.size, 1).toDouble
    val tok = tokenTotals.map(_._1).sum.toDouble
    val packs = tokenTotals.map(_._2).sum.toDouble
    (tok / passes, if (packs == 0) 0.0 else tok / (packs * budget))
  }
}
