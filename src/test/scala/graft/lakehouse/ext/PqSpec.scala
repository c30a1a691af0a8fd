package graft.lakehouse.ext

import graft.lakehouse.SparkSuite
import org.apache.spark.sql.functions._

/** Product-quantization ANN: recall against exact search, rerank
  * improvement, and the exact-degenerate verification mode. */
class PqSpec extends SparkSuite {
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 8)

  private def topIds(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }

  private def recall(approx: Map[Long, Set[Long]],
      exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
    per.sum / per.size
  }

  private lazy val exactTop =
    topIds(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 10))

  test("pure-ADC recall@10 is substantial (codes are 32x smaller than vectors)") {
    val pq = topIds(Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 10, m = 8))
    val r = recall(pq, exactTop)
    assert(r >= 0.5, s"ADC recall@10 $r — codebooks degenerate?")
  }

  test("exact rescoring of a wide candidate set beats pure ADC") {
    val pure = recall(topIds(Similarity.pqTopK(emb, queries, "vec_id",
      "embedding", k = 10, m = 8)), exactTop)
    val rr = recall(topIds(Similarity.pqTopK(emb, queries, "vec_id",
      "embedding", k = 10, m = 8, reRank = 100)), exactTop)
    assert(rr >= pure, s"rerank recall $rr < pure-ADC recall $pure")
    assert(rr >= 0.9, s"top-100-of-500 rerank recall only $rr")
  }

  test("rerank bound >= corpus degenerates to exact search, bit-for-bit") {
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
        k = 10).orderBy("query_id", "rank").collect().toSeq
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 10, m = 8, reRank = 1000000)
      .orderBy("query_id", "rank").collect().toSeq
    assert(pq == exact)
  }

  test("encoding is deterministic: two runs rank identically") {
    def run() = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 5, m = 8).orderBy("query_id", "rank").collect().toSeq
    assert(run() == run())
  }

  test("an over-limit query frame is rejected loudly (the broadcast " +
      "contract), never collected into the driver") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 5, m = 8, maxQueries = 2L)
    }
    assert(e.getMessage.contains("maxQueries"), e.getMessage)
  }

  test("pqTopKPortable: bit-identical across partitionings, rank-1 " +
      "self-hit (ADC distance 0), useful recall") {
    def run(parts: Int) = Similarity.pqTopKPortable(emb.repartition(parts),
        queries, "vec_id", "embedding", k = 10, m = 8, codebookSize = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val a = run(1)
    assert(a == run(7), "partitioning changed the portable PQ ranking")
    // a query IS a corpus vector: ADC scores dist(q, recon(code)), and
    // the query's own code is the per-subspace argmin — so its own row
    // attains the MINIMUM possible ADC distance (its reconstruction
    // error; not 0) and must sit in the leading tie-group
    val byQuery = a.groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      val self = rows.find(_._2 == q)
      assert(self.nonEmpty, s"query $q missing from its own top-k")
      assert(self.get._4 == rows.map(_._4).min,
        s"query $q self-hit ${self.get._4} above min ${rows.map(_._4).min}")
    }
    // 16-cell integer codebooks over a 50-vector fixture land at 0.4
    // exactly (deterministic); the bar guards against degenerate
    // codebooks, not fixture-scale recall — 0.35 with float headroom
    val rec = recall(byQuery.map { case (q, rs) => q -> rs.map(_._2) }
      .map { case (q, ids) => q -> ids.toSet }, exactTop)
    assert(rec >= 0.35, s"portable-ADC recall@10 $rec — codebooks degenerate?")
  }

  test("pqTopKPortable: over-limit query frames are rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopKPortable(emb, queries, "vec_id", "embedding",
        k = 5, m = 8, maxQueries = 2L)
    }
    assert(e.getMessage.contains("maxQueries"), e.getMessage)
  }

  test("a failing parallel fit surfaces the sequential fit's exception") {
    // a ragged fit sample breaks every subspace's k-means; m = 1 fits on
    // the calling thread, m = 2 on the fit pool — same exception type
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "embedding")
    val ragged = Array(Array(1.0, 2.0, 3.0, 4.0), Array(1.0))
    def pqFit(m: Int): Unit =
      Similarity.pqTopK(corpus, corpus, "vec_id", "embedding", k = 1, m = m,
        corpusRows = Some(1L), fitSample = Some(ragged))
    val sequential = intercept[Throwable](pqFit(1))
    assert(sequential.isInstanceOf[ArrayIndexOutOfBoundsException], sequential)
    assert(intercept[Throwable](pqFit(2)).getClass == sequential.getClass)
    // OPQ: a zero-cell codebook fails inside each subspace fit
    def opqFit(m: Int): Unit = Similarity.trainOpqRotation(
      Array.fill(4)(Array(1.0, 2.0, 3.0, 4.0)), m, codebookSize = 0,
      opqIters = 2, kmeansIters = 1, seed = 7L)
    assert(intercept[Throwable](opqFit(2)).getClass ==
      intercept[Throwable](opqFit(1)).getClass)
  }
}
