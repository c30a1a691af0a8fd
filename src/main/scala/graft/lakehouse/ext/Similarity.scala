package graft.lakehouse.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[cosineTopK]]: exact brute force. The query side is broadcast (it is
  *    small by construction), the corpus is scanned once, and top-k is
  *    taken in two phases — partition-local pre-top-k, then a final merge —
  *    so no single reducer ever sees the whole corpus: the shuffle input is
  *    (#partitions × k × #queries) rows, not (corpus × #queries).
  *  - [[lshTopK]]: random-hyperplane LSH bucketing; only corpus vectors in
  *    the query's bucket (multi-probe: hamming-1 neighborhood) get an exact
  *    cosine — the 100 TB path where even one full scan per query batch is
  *    too much.
  */
object Similarity {

  /** Exact cosine top-k for each query vector.
    * corpus: (idCol, vecCol array<float|double>), queries likewise.
    * Output: (query_id, vec_id, cosine), k rows per query, ties broken by
    * ascending corpus id (deterministic). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", Dedup.cosine(col("cv"), col("qv")))
      .select("query_id", "vec_id", "cosine")
      // null embeddings score null — drop them before the heap (the typed
      // comparator requires a real double; null vectors can never rank)
      .where(col("cosine").isNotNull)
    mapSideTopK(scored, k)
  }

  /** Two-phase distributed top-k over a (query_id, vec_id, cosine) score
    * stream: phase 1 keeps a bounded heap per (query, partition) inside
    * mapPartitions — genuinely map-side, so the only Exchange in the plan
    * is the phase-2 merge over (#partitions × k × #queries) survivor rows.
    * (A window over spark_partition_id() would shuffle every scored row
    * first.) Ordering matches the final ranking (score desc, vec_id asc)
    * so boundary ties resolve identically in both phases. */
  private[ext] def mapSideTopK(scored: DataFrame, k: Int,
      scoreCol: String = "cosine", ascendingLong: Boolean = false): DataFrame = {
    // the heap and the phase-2 window must rank by the SAME column; the
    // explicit name (validated here) keeps a differently-shaped caller
    // frame from silently ranking by the wrong position
    require(scored.columns.length == 3 &&
      scored.columns(0) == "query_id" && scored.columns(1) == "vec_id" &&
      scored.columns(2) == scoreCol,
      s"mapSideTopK expects (query_id, vec_id, $scoreCol); " +
        s"got (${scored.columns.mkString(", ")})")
    // "better first": score desc over doubles (similarity), or — for
    // integer distances ([[pqTopKPortable]]'s exact ADC longs, which a
    // double compare could not order past 2^53) — score asc over longs
    val rowOrd: Ordering[Row] = new Ordering[Row] {
      private def cmpId(x: Any, y: Any): Int =
        x.asInstanceOf[Comparable[Any]].compareTo(y)
      override def compare(a: Row, b: Row): Int = {
        val c =
          if (ascendingLong) java.lang.Long.compare(a.getLong(2), b.getLong(2))
          else java.lang.Double.compare(b.getDouble(2), a.getDouble(2))
        if (c != 0) c else cmpId(a.get(1), b.get(1))
      }
    }
    val local = scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      it.foreach { r =>
        // max-heap on the *reversed* order keeps the worst survivor on top
        val h = heaps.getOrElseUpdate(r.get(0),
          scala.collection.mutable.PriorityQueue.empty[Row](rowOrd))
        if (h.size < k) h.enqueue(r)
        else if (rowOrd.compare(r, h.head) < 0) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(Encoders.row(scored.schema))
    // phase 2: merge the (numPartitions * k) survivors per query
    val wGlobal = Window.partitionBy("query_id")
      .orderBy(if (ascendingLong) col(scoreCol).asc else col(scoreCol).desc,
        col("vec_id").asc)
    local.withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"), col(scoreCol))
  }

  /** IVF (inverted-file) ANN top-k: k-means partitions the corpus into
    * nLists cells (seeded — deterministic); each query probes its nProbe
    * nearest centroids and exact-scores only those cells. The classic
    * recall/cost dial: nProbe = nLists degenerates to exact search.
    * Centroids are tiny and ride to the executors inside a broadcast UDF;
    * the cell join is a broadcast of (query x probe) rows against the
    * cell-partitioned corpus — corpus shuffles once, on cell id.
    *
    * The k-means fit reads at most `maxFitRows` corpus vectors: centroid
    * quality converges with a bounded sample, so the iterative fit must not
    * rescan a 100 TB corpus per iteration. Corpora at or under the cap fit
    * on every row (sampling changes nothing at test scale); larger corpora
    * fit on a seeded uniform sample and only the single assignment pass
    * touches every row. */
  /** Seeded Lloyd's k-means over an in-memory sample — the IVF training
    * step. Runs on the driver: the input is already capped at `maxFitRows`
    * (the faiss-style train-on-sample pattern), so this is a bounded
    * ~O(rows × k × dim × iters) flop loop; doing it in MLlib instead costs
    * a distributed job per iteration for the same arithmetic. */
  /** Run `n` independent, separately-seeded driver-side fits on `pool`
    * and return the results BY INDEX — bit-identical to the
    * sequential `Array.tabulate` (no shared state, no fold-order effects;
    * each slot's computation is a pure function of its own index/seed).
    * A failing slot surfaces as the sequential loop would surface it: the
    * lowest failing index's own exception, not an `ExecutionException`. */
  private def parTabulate[A: scala.reflect.ClassTag](n: Int,
      pool: java.util.concurrent.ExecutorService)(f: Int => A): Array[A] = {
    if (n <= 1) return Array.tabulate(n)(f)
    val futs = Array.tabulate(n)(i =>
      pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = f(i)
      }))
    try futs.map(_.get())
    catch {
      case e: java.util.concurrent.ExecutionException if e.getCause != null =>
        throw e.getCause
    }
  }

  /** A fixed pool sized for `n` concurrent fits, shut down after `body`. */
  private def withFitPool[T](n: Int)(
      body: java.util.concurrent.ExecutorService => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(n, Runtime.getRuntime.availableProcessors)))
    try body(pool) finally pool.shutdown()
  }

  private[ext] def lloydKMeans(points: Array[Array[Double]], k: Int,
      iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val dim = points(0).length
    val rnd = new java.util.Random(seed)
    // k-means++ init (Arthur/Vassilvitskii '07): D²-weighted seeding gives
    // well-spread starting cells — plain random init measurably hurts IVF
    // recall on clustered data
    val centroids = new Array[Array[Double]](k)
    centroids(0) = points(rnd.nextInt(points.length)).clone()
    val minD2 = Array.fill(points.length)(Double.MaxValue)
    var seeded = 1
    while (seeded < k) {
      val last = centroids(seeded - 1)
      var p = 0
      var total = 0.0
      while (p < points.length) {
        var d = 0.0; var j = 0
        val pt = points(p)
        while (j < dim) { val diff = last(j) - pt(j); d += diff * diff; j += 1 }
        if (d < minD2(p)) minD2(p) = d
        total += minD2(p)
        p += 1
      }
      var pick = rnd.nextDouble() * total
      var idx = 0
      while (idx < points.length - 1 && pick > minD2(idx)) {
        pick -= minD2(idx); idx += 1
      }
      centroids(seeded) = points(idx).clone()
      seeded += 1
    }
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < points.length) { // assignment
        var best = 0; var bestD = Double.MaxValue
        var cIdx = 0
        while (cIdx < k) {
          var d = 0.0; var j = 0
          val ctr = centroids(cIdx); val pt = points(p)
          while (j < dim) { val diff = ctr(j) - pt(j); d += diff * diff; j += 1 }
          if (d < bestD) { bestD = d; best = cIdx }
          cIdx += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Long](k)
      p = 0
      while (p < points.length) { // update
        val a = assign(p); counts(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += points(p)(j); j += 1 }
        p += 1
      }
      var cIdx = 0
      while (cIdx < k) {
        if (counts(cIdx) > 0) {
          var j = 0
          while (j < dim) { centroids(cIdx)(j) = sums(cIdx)(j) / counts(cIdx); j += 1 }
        } // empty cell keeps its old centroid (deterministic)
        cIdx += 1
      }
      it += 1
    }
    centroids
  }

  /** Nearest-centroid assignment against a broadcast codebook — the
    * executor-side half of every k-means-derived operator (IVF cells,
    * [[Dedup.semanticDedup]]'s clusters). Ties break to the lowest index,
    * so identical vectors always land in identical cells. */
  private[ext] def nearestCellUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((v: Seq[Double]) => {
      val ctrs = bc.value
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < ctrs.length) {
        var d = 0.0; var j = 0
        val ctr = ctrs(i)
        while (j < math.min(ctr.length, v.length)) {
          val diff = ctr(j) - v(j); d += diff * diff; j += 1
        }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    })

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 2,
      maxFitRows: Long = 100000L, corpusRows: Option[Long] = None): DataFrame = {
    // null embeddings (failed upstream encodes) can neither train the
    // cells nor be found — drop them here instead of NPE-ing the driver
    // when one lands in the fit sample
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("cv"))
    // callers that know the corpus size pass it and skip this count() pass;
    // otherwise one metadata-cheap count sizes the fit sample
    val nRows = corpusRows.getOrElse(c.count())
    val fitInput =
      if (nRows <= maxFitRows) c
      else c.sample(withReplacement = false,
        maxFitRows.toDouble / nRows, seed = 42L)
    // train on the bounded sample driver-side (≤ maxFitRows × dim doubles);
    // only the single assignment pass below touches every corpus row
    val sample: Array[Array[Double]] = fitInput.select("cv").collect()
      .map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty) // empty corpus: no cells to train, nothing to find
      return c.sparkSession.createDataFrame(
        c.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("vec_id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cosine",
            org.apache.spark.sql.types.DoubleType))))
    val centroids = lloydKMeans(sample, nLists, iters = 10, seed = 42L)
    val bcCentroids = c.sparkSession.sparkContext.broadcast(centroids)
    val cells = c.withColumn("cell", nearestCellUdf(bcCentroids)(col("cv")))
    val probeUdf = udf((q: Seq[Double]) => {
      centroids.zipWithIndex.map { case (ctr, i) =>
        var d = 0.0
        var j = 0
        while (j < math.min(ctr.length, q.length)) {
          val diff = ctr(j) - q(j); d += diff * diff; j += 1
        }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
      .withColumn("cell", explode(probeUdf(col("qv"))))
    val scored = cells.join(broadcast(q), "cell")
      .withColumn("cosine", Dedup.cosine(col("cv"), col("qv")))
      .select("query_id", "vec_id", "cosine")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cosine")
  }

  /** LSH-bucketed ANN top-k: exact cosine only against corpus vectors whose
    * random-hyperplane signature is within hamming distance 1 of the
    * query's (the query explodes into its probe buckets — numPlanes+1 rows
    * per query — and joins the bucketed corpus on the bucket key). May
    * return fewer than k when a bucket neighborhood is sparse (ANN recall
    * trade-off). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numPlanes: Int = 12, dim: Int = 64,
      probeAll: Boolean = false): DataFrame = {
    val planes = Dedup.hyperplanes(numPlanes, dim)
    val c = corpus.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("cv"))
      .withColumn("bucket", Dedup.rhpBucket(col("cv"), planes))
    // probeAll = exhaustive probing (every flip ⇒ every bucket): recall
    // becomes 1.0 and the result must equal brute force — the verification
    // mode that lets the bucket/join/rank machinery hash-check against the
    // exact-top-k oracle. Use a small numPlanes with it (2^numPlanes probes).
    val probes: Seq[Column] =
      if (probeAll) (0 until (1 << numPlanes)).map(i => lit(i))
      else (0 until numPlanes).map(i => lit(1 << i)) :+ lit(0)
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
      .withColumn("qbucket", Dedup.rhpBucket(col("qv"), planes))
      .withColumn("flip", explode(array(probes: _*)))
      .withColumn("bucket", expr("int(qbucket) ^ int(flip)"))
      .select("query_id", "qv", "bucket")
    val scored = c.join(broadcast(q), "bucket")
      .withColumn("cosine", Dedup.cosine(col("cv"), col("qv")))
      .select("query_id", "vec_id", "cosine")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cosine")
  }

  /** Product-quantization ANN top-k (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", IEEE PAMI 2011): each
    * vector splits into `m` subvectors and a per-subspace codebook of up
    * to `codebookSize` centroids (trained on a bounded sample, the
    * faiss-style pattern [[ivfTopK]] also uses) encodes the corpus as
    * m small codes + one stored norm — the 32–100× index compression
    * that lets a 100 TB embedding corpus fit an ANN index at all.
    * Queries score codes by asymmetric distance computation (ADC): one
    * m × codebookSize inner-product lookup table per query; a code's
    * approximate dot product is the sum of m table entries and divides
    * by the stored norms for an approximate cosine — no corpus vector is
    * ever decoded on the scoring path, and the scan is the same
    * map-side-heap shape as [[cosineTopK]] (one merge Exchange).
    *
    * `reRank = 0`: pure ADC ranking. `reRank = C > 0`: the top-C ADC
    * candidates join back their raw vectors and re-score exactly — the
    * standard two-stage retrieval; with C ≥ corpus it degenerates to
    * exact search (the verification mode, [[lshTopK]]'s probeAll
    * pattern). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, codebookSize: Int = 256,
      maxFitRows: Long = 100000L, reRank: Int = 0,
      corpusRows: Option[Long] = None,
      maxQueries: Long = 100000L,
      fitSample: Option[Array[Array[Double]]] = None): DataFrame = {
    require(m >= 1 && codebookSize >= 1 && codebookSize <= 256,
      "need 1 <= m and 1 <= codebookSize <= 256 (one byte per subspace)")
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("cv"))
    val nRows = corpusRows.getOrElse(c.count())
    // fitSample: a caller that already collected (and transformed) the fit
    // sample — opqTopK rotating its own OPQ training sample — passes it
    // through instead of paying a second sample-collect job
    val sample: Array[Array[Double]] = fitSample.getOrElse {
      val fitInput =
        if (nRows <= maxFitRows) c
        else c.sample(withReplacement = false,
          maxFitRows.toDouble / nRows, seed = 42L)
      fitInput.select("cv").collect().map(_.getSeq[Double](0).toArray)
    }
    if (sample.isEmpty)
      return c.sparkSession.createDataFrame(
        c.sparkSession.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("vec_id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cosine",
            org.apache.spark.sql.types.DoubleType))))
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    // per-subspace codebooks, each seeded independently; k-means k capped
    // by the sample size (a tiny corpus cannot fill 256 cells). The m fits
    // are independent (disjoint slices, separate seeds) — run them on a
    // driver thread pool; results land by index, bit-identical to the
    // sequential loop.
    val ks = math.min(codebookSize, sample.length)
    val books: Array[Array[Array[Double]]] = withFitPool(m)(pool =>
      parTabulate(m, pool) { s =>
        lloydKMeans(sample.map(v => v.slice(s * sub, (s + 1) * sub)),
          ks, iters = 10, seed = 42L + s)
      })
    val bcBooks = c.sparkSession.sparkContext.broadcast(books)
    val encodeUdf = udf((v: Seq[Double]) => {
      val b = bcBooks.value
      val code = new Array[Byte](b.length)
      val subLen = v.length / b.length
      var norm = 0.0
      var i = 0
      while (i < v.length) { norm += v(i) * v(i); i += 1 }
      var s = 0
      while (s < b.length) {
        var best = 0; var bestD = Double.MaxValue
        var cIdx = 0
        while (cIdx < b(s).length) {
          var d = 0.0; var j = 0
          val ctr = b(s)(cIdx)
          while (j < subLen) {
            val diff = v(s * subLen + j) - ctr(j); d += diff * diff; j += 1
          }
          if (d < bestD) { bestD = d; best = cIdx }
          cIdx += 1
        }
        code(s) = best.toByte
        s += 1
      }
      (code, math.sqrt(norm))
    })
    val codes = c.withColumn("enc", encodeUdf(col("cv")))
      .select(col("vec_id"), col("cv"), col("enc._1").as("code"),
        col("enc._2").as("cnorm"))
    // The query set is collected ONCE (it already rides a broadcast into
    // the crossJoin below — broadcastability is this operator's contract,
    // like the k-means fit sample above) so each query's ADC lookup table
    // — lut[s][c] = <q_sub_s, centroid_c> — and its norm are computed one
    // time, driver-side. Scoring a code is then m table reads + adds, the
    // actual Jégou'11 ADC shape; the previous formulation re-ran the full
    // O(dim) dot and re-derived qnorm per (code, query) pair. Null query
    // embeddings are dropped (cosineTopK's contract), not NPE'd.
    // the query frame is collected (its LUTs broadcast into the scoring
    // crossJoin) — broadcastability is the contract, so enforce it loudly
    // instead of OOMing the driver on a mis-sized frame: collect stops at
    // maxQueries+1 rows and the guard fires on overflow. ONE job, where a
    // separate limit+count probe plus the collect paid two.
    val qRows = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .limit((maxQueries.min(Int.MaxValue - 2) + 1).toInt)
      .collect()
    require(qRows.length <= maxQueries,
      s"pqTopK collects the query frame (broadcast contract): more than " +
        s"$maxQueries query rows — raise maxQueries only if the driver can " +
        "hold the LUTs, or batch the queries")
    if (qRows.isEmpty)
      return c.sparkSession.createDataFrame(
        c.sparkSession.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("vec_id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cosine",
            org.apache.spark.sql.types.DoubleType))))
    val luts: Array[Array[Double]] = qRows.map { r =>
      val qv = r.getSeq[Double](1)
      val lut = new Array[Double](m * ks)
      var s = 0
      while (s < m) {
        var cIdx = 0
        while (cIdx < ks) {
          val ctr = books(s)(cIdx)
          var d = 0.0; var j = 0
          while (j < sub) { d += qv(s * sub + j) * ctr(j); j += 1 }
          lut(s * ks + cIdx) = d
          cIdx += 1
        }
        s += 1
      }
      lut
    }
    val qnorms: Array[Double] = qRows.map { r =>
      val qv = r.getSeq[Double](1)
      var n = 0.0; var i = 0
      while (i < qv.length) { n += qv(i) * qv(i); i += 1 }
      math.sqrt(n)
    }
    val bcLuts = c.sparkSession.sparkContext.broadcast((luts, qnorms))
    val ksLocal = ks
    val adcUdf = udf((code: Array[Byte], cnorm: Double, qi: Int) => {
      val (ls, qs) = bcLuts.value
      val lut = ls(qi)
      var dot = 0.0
      var s = 0
      while (s < code.length) { dot += lut(s * ksLocal + (code(s) & 0xff)); s += 1 }
      val denom = cnorm * qs(qi)
      if (denom == 0.0) 0.0 else dot / denom
    })
    // local relation: the rows were just collected — rebuilding the frame
    // from them avoids re-evaluating the caller's query plan
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        corpus.schema(idCol).dataType),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("qi",
        org.apache.spark.sql.types.IntegerType)))
    val q = c.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows.zipWithIndex.map { case (r, i) =>
        Row(r.get(0), r.getSeq[Double](1), i) }: _*), qSchema)
    val adcScored = codes.crossJoin(broadcast(q))
      .withColumn("adc", adcUdf(col("code"), col("cnorm"), col("qi")))
      .select("query_id", "vec_id", "adc")
    if (reRank <= 0) // adc approximates cosine (it divides by true norms)
      mapSideTopK(adcScored, k, scoreCol = "adc")
        .withColumnRenamed("adc", "cosine")
    else {
      // two-stage: ADC candidates -> exact rescoring on raw vectors
      val cand = mapSideTopK(adcScored, reRank, scoreCol = "adc")
        .select("query_id", "vec_id")
      val exact = cand
        .join(codes.select("vec_id", "cv"), "vec_id")
        .join(broadcast(q.select("query_id", "qv")), "query_id")
        .withColumn("cosine", Dedup.cosine(col("cv"), col("qv")))
        .select("query_id", "vec_id", "cosine")
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id").asc)
      exact.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    }
  }

  /** LSH ANN top-k with ENGINE-PORTABLE bucketing ([[lshTopK]]'s shape,
    * the q76 portable-SimHash trick): hyperplane `p`'s component `j` is
    * derived from sha-256 — `(first 60 bits of sha256("p:j")) mod 2001 −
    * 1000`, an integer in [−1000, 1000] any engine rebuilds — and the
    * bucket bit is the sign of the EXACT integer dot product against the
    * `floor(x·scale)`-quantized vector (ties: 0 counts as positive). So
    * bucketing, hamming-1 multi-probing, AND the candidate set replay
    * bit-for-bit cross-engine; candidate scoring stays the exact double
    * cosine. The float [[lshTopK]] can only be rows-checked because its
    * hyperplanes are engine-private randoms; this variant hash-checks
    * outright.
    *
    * 100 TB shape unchanged: one compiled bucket kernel per row (planes
    * are numPlanes·dim integers in the closure), queries explode into
    * numPlanes+1 probe rows riding a broadcast, and only same-bucket
    * candidates get a cosine. */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numPlanes: Int = 8, dim: Int = 64,
      scale: Long = 1024L): DataFrame = {
    require(k >= 1 && numPlanes >= 1 && numPlanes <= 30 && dim >= 1,
      "lshTopKPortable needs k >= 1, 1 <= numPlanes <= 30, dim >= 1")
    val planes: Array[Array[Long]] = Array.tabulate(numPlanes, dim) {
      (p, j) =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val hex = md.digest(s"$p:$j".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L - 1000L
    }
    val bucketUdf = udf((v: Seq[Double]) => {
      require(v.length == dim,
        s"vector dimension ${v.length} != configured dim $dim")
      var b = 0
      var p = 0
      while (p < numPlanes) {
        val pl = planes(p)
        var dot = 0L; var j = 0
        while (j < dim) {
          dot += math.floor(v(j) * scale).toLong * pl(j); j += 1
        }
        if (dot >= 0L) b |= 1 << p
        p += 1
      }
      b
    })
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("cv"))
      .withColumn("bucket", bucketUdf(col("cv")))
    val probes: Seq[Column] =
      (0 until numPlanes).map(i => lit(1 << i)) :+ lit(0)
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .withColumn("qbucket", bucketUdf(col("qv")))
      .withColumn("flip", explode(array(probes: _*)))
      .withColumn("bucket", expr("int(qbucket) ^ int(flip)"))
      .select("query_id", "qv", "bucket")
    val scored = c.join(broadcast(q), "bucket")
      .withColumn("cosine", Dedup.cosine(col("cv"), col("qv")))
      .select("query_id", "vec_id", "cosine")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cosine")
  }

  private def emptyTopK(corpus: DataFrame, idCol: String,
      scoreField: org.apache.spark.sql.types.StructField): DataFrame =
    corpus.sparkSession.createDataFrame(
      corpus.sparkSession.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          corpus.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("vec_id",
          corpus.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        scoreField)))

  /** IVF ANN top-k with ENGINE-PORTABLE training ([[ivfTopK]]'s shape,
    * [[Clustering]]'s arithmetic): the cell centroids come from
    * fixed-point Lloyd — vectors quantized to integers
    * (`floor(x·scale) + offset`), init from the `nLists` smallest
    * corpus ids, exact integer distances with ties to the smallest
    * index, floor-division centroid means — so ANY engine replays
    * training, cell assignment, AND probing bit-for-bit and the
    * recall-traded probe subset is itself verifiable (float IVF can
    * only verify its probe-all degenerate mode, q67). Candidate scoring
    * stays the exact double cosine over the original vectors.
    *
    * 100 TB shape: the quantized corpus persists once; each Lloyd round
    * is one zero-shuffle job ([[Clustering.lloydRoundsGrouped]]);
    * centroids are nLists·dim longs on the driver; cell assignment and
    * probing are compiled per-row kernels; the candidate join
    * broadcasts (query × nProbe) rows. Pass a pre-sampled `fit` frame
    * to train on a deterministic subset instead of the full corpus
    * (sampling must be engine-reproducible to keep the portability
    * contract — e.g. `id % n = 0`, never `TABLESAMPLE`). */
  def ivfTopKPortable(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 8, nProbe: Int = 2,
      iterations: Int = 2, scale: Long = 1024L, offset: Long = 1L << 20,
      fit: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && nLists >= 1 && nProbe >= 1 && iterations >= 1,
      "ivfTopKPortable needs k, nLists, nProbe, iterations >= 1")
    val quantUdf = udf((v: Seq[Double]) =>
      Clustering.quantizeKernel(v, scale, offset))
    def prep(df: DataFrame, id: String, vec: String) =
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as(id),
          transform(col(vecCol), x => x.cast("double")).as(vec))
        .withColumn("q" + vec, quantUdf(col(vec)))
    val c = prep(corpus, "vec_id", "cv").persist()
    try {
      val fitFrame = fit.fold(c)(f => prep(f, "vec_id", "cv"))
      val init = fitFrame.orderBy("vec_id").limit(nLists).select("qcv")
        .collect().map(_.getSeq[Long](0).toSeq).toIndexedSeq
      if (init.isEmpty)
        return emptyTopK(corpus, idCol, org.apache.spark.sql.types
          .StructField("cosine", org.apache.spark.sql.types.DoubleType))
      require(init.forall(_.length == init.head.length),
        s"ivfTopKPortable needs a uniform vector dimension in '$vecCol'")
      val cents = Clustering.lloydRoundsGrouped(
        fitFrame.select(lit(0).as("gid"), col("qcv").as("qv")),
        Map(0 -> init), iterations, s"ivfTopKPortable('$vecCol')")(0)
      val centsArr: Array[Array[Long]] = cents.map(_.toArray).toArray
      val cellUdf = udf((qv: Seq[Long]) =>
        Clustering.argminKernel(qv, centsArr)._2)
      val cells = c.withColumn("cell", cellUdf(col("qcv")))
      // the query probes its nProbe integer-nearest centroids — same
      // tie-break (distance, then index) as the cell assignment
      val probeUdf = udf((qq: Seq[Long]) => {
        centsArr.zipWithIndex.map { case (cv, i) =>
          require(qq.length == cv.length,
            s"query vector dimension ${qq.length} != corpus ${cv.length}")
          var d = 0L; var j = 0
          while (j < cv.length) { val x = qq(j) - cv(j); d += x * x; j += 1 }
          (d, i)
        }.sortBy(identity).take(nProbe).map(_._2)
      })
      val q = prep(queries, "query_id", "qv")
        .withColumn("cell", explode(probeUdf(col("qqv"))))
        .select("query_id", "qv", "cell")
      val scored = cells.join(broadcast(q), "cell")
        .withColumn("cosine", Dedup.cosine(col("cv"), col("qv")))
        .select("query_id", "vec_id", "cosine")
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id").asc)
      // no checkpoint: the returned plan is self-contained (centroids
      // ride the kernel closures), so the caller's evaluation is the
      // single corpus scan — the persist above served the training
      // rounds and unpersists non-blocking here
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    } finally c.unpersist(false)
  }

  /** IVF tuning curve: recall@k of [[ivfTopKPortable]] against the
    * exact cosine top-k, per probe width — the measurement that picks
    * nProbe (the q279 calibration-histogram discipline applied to the
    * vector index: never ship an approximate retriever without its
    * recall curve). For each nProbe in `probes`, the fraction of exact
    * top-k pairs the probed search returns, as integer permille over
    * all queries; zero-hit probe widths still emit their row. Every
    * stage is the two operators' own portable arithmetic, so the whole
    * curve hash-checks cross-engine. Scale: the exact baseline is one
    * broadcast pass (queries-bounded); each probe run scans only its
    * probed cells; the recall join is over queries×k rows. */
  def ivfRecallSweep(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 8,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1),
      "ivfRecallSweep needs at least one probe width >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val exact = cosineTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val runs = probes.map { p =>
      ivfTopKPortable(corpus, queries, idCol, vecCol, k, nLists, p)
        .select(lit(p.toLong).as("n_probe"), col("query_id"),
          col("vec_id"))
    }.reduce(_ unionByName _)
    val hits = runs.join(exact, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("n_probe").agg(count(lit(1)).as("__hits"))
    val out = probes.map(_.toLong).toDF("n_probe")
      .join(hits, Seq("n_probe"), "left")
      .crossJoin(exact.agg(count(lit(1)).as("n_expected")))
      .select(col("n_probe"),
        coalesce(col("__hits"), lit(0L)).as("n_hits"),
        col("n_expected"),
        expr("(coalesce(__hits, 0) * 1000) div n_expected")
          .as("recall_permille"))
      .localCheckpoint(true)
    exact.unpersist(false)
    out
  }

  /** Product-quantization ANN top-k with ENGINE-PORTABLE training and
    * scoring ([[pqTopK]]'s shape, [[Clustering]]'s arithmetic): the
    * per-subspace codebooks come from fixed-point Lloyd (quantized
    * integer vectors, init from the `codebookSize` smallest corpus ids'
    * subvectors, exact integer distances, floor-division means), codes
    * are integer argmins, and the ADC score is the EXACT integer
    * squared distance between the quantized query and the code's
    * reconstruction — Σ_s ‖q_s − c_{code_s}‖² over per-query integer
    * lookup tables. Every figure along training → encoding → scoring is
    * an integer any engine reproduces, so the approximate ranking
    * itself hash-checks cross-engine (float PQ can only verify its
    * rerank-everything degenerate mode, q169). Output: (query_id,
    * vec_id, rank, adc_dist) — ascending distance, ties to the smaller
    * corpus id.
    *
    * 100 TB shape unchanged from [[pqTopK]]: all m codebooks train in
    * ONE pass per Lloyd round (subspaces are independent gids in
    * [[Clustering.lloydRoundsGrouped]]'s fused kernel); encoding is a
    * compiled per-row kernel; the query frame is collected under the
    * same broadcast contract (`maxQueries` guard) and its integer LUTs
    * ride one broadcast; scoring is m table reads per (code, query)
    * into the same map-side heap as [[cosineTopK]] — one merge
    * Exchange, no corpus vector decoded on the scoring path. */
  def pqTopKPortable(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, codebookSize: Int = 16,
      iterations: Int = 2, scale: Long = 1024L, offset: Long = 1L << 20,
      maxQueries: Long = 100000L): DataFrame = {
    require(k >= 1 && m >= 1 && codebookSize >= 1 && iterations >= 1,
      "pqTopKPortable needs k, m, codebookSize, iterations >= 1")
    val quantUdf = udf((v: Seq[Double]) =>
      Clustering.quantizeKernel(v, scale, offset))
    val scoreField = org.apache.spark.sql.types.StructField("adc_dist",
      org.apache.spark.sql.types.LongType)
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        quantUdf(transform(col(vecCol), x => x.cast("double"))).as("qv"))
      .persist()
    try {
      val initVecs = c.orderBy("vec_id").limit(codebookSize).select("qv")
        .collect().map(_.getSeq[Long](0).toSeq).toIndexedSeq
      if (initVecs.isEmpty) return emptyTopK(corpus, idCol, scoreField)
      val dim = initVecs.head.length
      require(initVecs.forall(_.length == dim),
        s"pqTopKPortable needs a uniform vector dimension in '$vecCol'")
      require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
      val sub = dim / m
      // init codebook s = the same k smallest ids' s-th subvectors,
      // sliced driver-side — no extra distributed init pass per subspace
      val init: Map[Int, IndexedSeq[Seq[Long]]] = (0 until m).map(s =>
        s -> initVecs.map(v => v.slice(s * sub, (s + 1) * sub))).toMap
      val subFrame = c.select(posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(qv, s * $sub + 1, $sub))"))
        .as(Seq("gid", "qv")))
      val books = Clustering.lloydRoundsGrouped(subFrame, init, iterations,
        s"pqTopKPortable('$vecCol')")
      val booksArr: Array[Array[Array[Long]]] =
        Array.tabulate(m)(s => books(s).map(_.toArray).toArray)
      val ks = booksArr(0).length
      val mLocal = m; val subLocal = sub; val dimLocal = dim
      val encodeUdf = udf((qv: Seq[Long]) => {
        require(qv.length == dimLocal,
          s"vector dimension ${qv.length} != corpus $dimLocal")
        val code = new Array[Int](mLocal)
        var s = 0
        while (s < mLocal) {
          val cs = booksArr(s)
          var best = Long.MaxValue; var bi = 0; var ci = 0
          while (ci < cs.length) {
            val cv = cs(ci)
            var d = 0L; var j = 0
            while (j < subLocal) {
              val x = qv(s * subLocal + j) - cv(j); d += x * x; j += 1
            }
            if (d < best) { best = d; bi = ci }
            ci += 1
          }
          code(s) = bi
          s += 1
        }
        code
      })
      val codes = c.select(col("vec_id"), encodeUdf(col("qv")).as("code"))
      // broadcast-contract guard folded into the collect itself (ONE job,
      // not a limit+count probe plus a collect): stop at maxQueries+1
      // rows and fail loudly on overflow
      val qRows = queries.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("query_id"),
          quantUdf(transform(col(vecCol), x => x.cast("double"))).as("qq"))
        .limit((maxQueries.min(Int.MaxValue - 2) + 1).toInt)
        .collect()
      require(qRows.length <= maxQueries,
        s"pqTopKPortable collects the query frame (broadcast contract): " +
          s"more than $maxQueries query rows — raise maxQueries only if " +
          "the driver can hold the LUTs, or batch the queries")
      if (qRows.isEmpty) return emptyTopK(corpus, idCol, scoreField)
      // integer ADC LUTs: lut[s][ci] = ‖q_s − centroid_ci‖², exact longs
      val luts: Array[Array[Long]] = qRows.map { r =>
        val qq = r.getSeq[Long](1)
        require(qq.length == dim,
          s"query vector dimension ${qq.length} != corpus $dim")
        val lut = new Array[Long](m * ks)
        var s = 0
        while (s < m) {
          var ci = 0
          while (ci < ks) {
            val cv = booksArr(s)(ci)
            var d = 0L; var j = 0
            while (j < sub) {
              val x = qq(s * sub + j) - cv(j); d += x * x; j += 1
            }
            lut(s * ks + ci) = d
            ci += 1
          }
          s += 1
        }
        lut
      }
      val bcLuts = c.sparkSession.sparkContext.broadcast(luts)
      val ksLocal = ks
      val adcUdf = udf((code: Seq[Int], qi: Int) => {
        val lut = bcLuts.value(qi)
        var d = 0L; var s = 0
        while (s < code.length) { d += lut(s * ksLocal + code(s)); s += 1 }
        d
      })
      val qSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          corpus.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("qi",
          org.apache.spark.sql.types.IntegerType)))
      val q = c.sparkSession.createDataFrame(
        java.util.Arrays.asList(qRows.zipWithIndex.map { case (r, i) =>
          Row(r.get(0), i) }: _*), qSchema)
      val adcScored = codes.crossJoin(broadcast(q))
        .withColumn("adc_dist", adcUdf(col("code"), col("qi")))
        .select("query_id", "vec_id", "adc_dist")
      mapSideTopK(adcScored, k, scoreCol = "adc_dist", ascendingLong = true)
    } finally c.unpersist(false)
  }

  /** OPQ rotation training (Ge, He, Ke & Sun, "Optimized Product
    * Quantization", CVPR 2013 — the non-parametric alternation): repeat
    * { per-subspace k-means on the ROTATED sample → reconstruction Y;
    * orthogonal Procrustes R = U·Vᵀ from SVD(Xᵀ·Y) } so the learned
    * orthogonal pre-rotation aligns the data's principal structure with
    * the axis-aligned subspace splits PQ is stuck with — the standard
    * recall-per-byte win when variance straddles subspace boundaries.
    * Driver-side on the bounded fit sample (the [[lloydKMeans]]
    * contract): O(iters · (n·k·d + d³)) flops, d = embedding dim, tiny
    * next to one corpus pass. Breeze (shipped with Spark MLlib) does
    * the d×d SVD. */
  private[ext] def trainOpqRotation(sample: Array[Array[Double]], m: Int,
      codebookSize: Int, opqIters: Int, kmeansIters: Int,
      seed: Long): Array[Array[Double]] = {
    import breeze.linalg.{DenseMatrix, svd}
    val n = sample.length
    val d = sample(0).length
    val sub = d / m
    val x = DenseMatrix.zeros[Double](n, d)
    var i0 = 0
    while (i0 < n) {
      var j0 = 0
      while (j0 < d) { x(i0, j0) = sample(i0)(j0); j0 += 1 }
      i0 += 1
    }
    var r = DenseMatrix.eye[Double](d)
    var it = 0
    // one pool for every iteration's fits
    withFitPool(m) { pool =>
      while (it < opqIters) {
        val xr = x * r
        val y = DenseMatrix.zeros[Double](n, d)
        // per-subspace fits + reconstruction fills are independent (separate
        // seeds, disjoint column ranges of y) — thread-pooled, bit-identical
        parTabulate(m, pool) { s =>
          val pts = Array.tabulate(n)(i =>
            Array.tabulate(sub)(j => xr(i, s * sub + j)))
          val cents = lloydKMeans(pts, math.min(codebookSize, n),
            kmeansIters, seed + s)
          var i = 0
          while (i < n) {
            var best = 0; var bd = Double.MaxValue; var ci = 0
            while (ci < cents.length) {
              var dd = 0.0; var j = 0
              while (j < sub) {
                val df = cents(ci)(j) - pts(i)(j); dd += df * df; j += 1
              }
              if (dd < bd) { bd = dd; best = ci }
              ci += 1
            }
            var j = 0
            while (j < sub) { y(i, s * sub + j) = cents(best)(j); j += 1 }
            i += 1
          }
        }
        val svd.SVD(u, _, vt) = svd(x.t * y)
        r = u * vt
        it += 1
      }
    }
    Array.tabulate(d)(i => Array.tabulate(d)(j => r(i, j)))
  }

  /** Optimized-PQ ANN top-k: [[trainOpqRotation]]'s learned orthogonal
    * pre-rotation applied to corpus and queries, then the exact
    * [[pqTopK]] pipeline on the rotated vectors. Rotation preserves
    * dot products and norms, so cosine ranks are unchanged while the
    * per-subspace quantization error drops wherever the data's
    * variance straddled PQ's axis-aligned splits — same index bytes,
    * better recall (Ge et al. '13). `opqIterations = 0` pins R to the
    * exact identity (x·I is bit-identical in IEEE), making the
    * operator degenerate to [[pqTopK]] — with `reRank ≥ corpus` that
    * is the hash-checked exact mode (the q169 contract). Scale shape
    * unchanged: rotation is a broadcast d×d kernel on the existing
    * encode/query paths, one extra bounded sample collect to train. */
  def opqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, codebookSize: Int = 256,
      maxFitRows: Long = 100000L, reRank: Int = 0,
      opqIterations: Int = 3, maxQueries: Long = 100000L): DataFrame = {
    require(opqIterations >= 0, "opqTopK needs opqIterations >= 0")
    val cv = corpus.filter(col(vecCol).isNotNull)
      .select(transform(col(vecCol), x => x.cast("double")).as("cv"))
    val nRows = cv.count()
    if (nRows == 0 || opqIterations == 0)
      return pqTopK(corpus, queries, idCol, vecCol, k, m, codebookSize,
        maxFitRows, reRank, Some(nRows), maxQueries)
    val fit = if (nRows <= maxFitRows) cv
      else cv.sample(withReplacement = false,
        maxFitRows.toDouble / nRows, seed = 42L)
    val sample = fit.collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty)
      // Bernoulli sampling can (rarely) return zero rows even with
      // nRows > 0; identity rotation degrades gracefully to plain PQ
      // instead of an opaque index-out-of-bounds on sample(0)
      return pqTopK(corpus, queries, idCol, vecCol, k, m, codebookSize,
        maxFitRows, reRank, Some(nRows), maxQueries)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val rot = trainOpqRotation(sample, m,
      math.min(codebookSize, sample.length), opqIterations,
      kmeansIters = 10, seed = 42L)
    val bcR = corpus.sparkSession.sparkContext.broadcast(rot)
    def rotateOne(v: Array[Double], r: Array[Array[Double]]): Array[Double] = {
      val d = r.length
      require(v.length == d, s"vector dimension ${v.length} != $d")
      val out = new Array[Double](d)
      var j = 0
      while (j < d) {
        var acc = 0.0; var i = 0
        while (i < d) { acc += v(i) * r(i)(j); i += 1 }
        out(j) = acc; j += 1
      }
      out
    }
    val rotUdf = udf((v: Seq[Double]) => rotateOne(v.toArray, bcR.value))
    def rotate(df: DataFrame): DataFrame = df.withColumn(vecCol,
      when(col(vecCol).isNotNull,
        rotUdf(transform(col(vecCol), x => x.cast("double")))))
    // the OPQ training sample, rotated driver-side with the SAME kernel
    // (identical multiplication/summation order → bit-identical doubles),
    // IS the PQ codebook training set — hand it to pqTopK so it skips its
    // own sample-collect job (one fit sample trains both R and the books,
    // the Ge et al. '13 shape)
    val rotatedSample = sample.map(rotateOne(_, rot))
    pqTopK(rotate(corpus), rotate(queries), idCol, vecCol, k, m,
      codebookSize, maxFitRows, reRank, Some(nRows), maxQueries,
      fitSample = Some(rotatedSample))
  }
}
