package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lakehouse._
import graft.lakehouse.ext._

/** One registered query: the Spark-side implementation + (when
  * SQL-expressible) the equivalent DuckDB oracle SQL over the same parquet
  * tables. Column names/aliases must match between the two (the driver's
  * compare sorts columns by name before hashing).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Shared fixture/lakehouse plumbing for the query registry. */
object QFixtures {
  // Memoized per (session, path) DataFrame OBJECTS — plan reuse only,
  // never data: each spark.read.parquet call re-lists the path and
  // re-infers the schema from footers, which a 450-query bench pays
  // ~1800 times for the same immutable fixture files. Every action on
  // the memoized frame still scans the parquet from disk. Keyed by the
  // session OBJECT so a stopped-and-recreated session never hands out
  // frames bound to a dead context (identityHashCode alone could collide
  // across sessions). A memoized frame holds its session, so weak keys
  // would never let an entry go: a new session's first lookup drops the
  // entries of sessions whose context has stopped instead.
  private val frames = java.util.Collections.synchronizedMap(
    new java.util.HashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]])

  private def sessionFrames(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, DataFrame] = {
    val got = frames.get(spark)
    if (got != null) got
    else frames.synchronized {
      val again = frames.get(spark)
      if (again != null) again
      else {
        frames.keySet.removeIf(_.sparkContext.isStopped)
        val fresh =
          new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
        frames.put(spark, fresh)
        fresh
      }
    }
  }

  /** How many sessions hold memoized frames. */
  private[graft] def memoizedSessions: Int = frames.size

  /** Load a driver-generated fixture table (TESTDATA.md layout). */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    sessionFrames(spark).computeIfAbsent(s"$sfDir/$name.parquet",
      p => spark.read.parquet(p))

  /** events.parquet's ts encoding has drifted across driver regenerations
    * (NANOS rounds 1–3, MICROS-ntz round 4+) — always go through the
    * encoding-tolerant reader, never bare spark.read.parquet. */
  def ev(spark: SparkSession, sfDir: String): DataFrame =
    sessionFrames(spark).computeIfAbsent(s"$sfDir/events.parquet#nanots",
      _ => TableIO.readParquetNanoTs(spark, s"$sfDir/events.parquet"))

  private val lakehouses = scala.collection.mutable.HashMap.empty[String, LakehouseProps]

  /** Memoized local lakehouse seeded (once per JVM per sfDir) with a fixed
    * set of fixture tables, so catalog-path operators (selectTable,
    * readTable, getTables, writeTable) are exercised end-to-end. */
  def mainLakehouse(spark: SparkSession, sfDir: String): LakehouseProps = synchronized {
    lakehouses.getOrElseUpdate(s"main:$sfDir", {
      val sfName = new java.io.File(sfDir).getName
      val ws = Catalog.registerLocalWorkspace(
        s"/root/repo/target/graft_lh/$sfName", s"ws_$sfName", "main")
      val lh = ws.lakehouses.head
      Seq("customer", "orders", "nation", "part", "region").foreach { n =>
        TableIO.writeTable(spark, lh, n, t(spark, sfDir, n))
      }
      lh
    })
  }

  private val bucketedDbs = scala.collection.mutable.HashSet.empty[String]

  /** Memoized bucketed-fixture database (session catalog): orders and
    * customer both hash-bucketed on custkey into the same bucket count, so
    * the q104 join plans with zero exchange. One write per JVM per sfDir. */
  def bucketedDb(spark: SparkSession, sfDir: String): String = synchronized {
    val sfName = new java.io.File(sfDir).getName.replace('.', '_')
    val db = s"graft_bkt_$sfName"
    if (!bucketedDbs.contains(db)) {
      Bucketing.ensureDatabase(spark, db, s"/root/repo/target/graft_bkt/$sfName")
      Bucketing.writeBucketed(spark, db, "orders_b",
        t(spark, sfDir, "orders"), nBuckets = 8, Seq("o_custkey"))
      Bucketing.writeBucketed(spark, db, "customer_b",
        t(spark, sfDir, "customer"), nBuckets = 8, Seq("c_custkey"))
      bucketedDbs += db
    }
    db
  }

  /** Separate lakehouse for the write-roundtrip query (keeps getTables on
    * the main lakehouse deterministic). */
  def rtLakehouse(spark: SparkSession, sfDir: String): LakehouseProps = synchronized {
    lakehouses.getOrElseUpdate(s"rt:$sfDir", {
      val sfName = new java.io.File(sfDir).getName
      Catalog.registerLocalWorkspace(
        s"/root/repo/target/graft_lh_rt/$sfName", s"wsrt_$sfName", "rt")
        .lakehouses.head
    })
  }
}

/** The operator-inventory query registry (SURVEY.md §2). Grows every round;
  * SparkEntry exposes it to the driver harness. */
object Queries {
  import QFixtures._

  val all: Seq[Q] = Seq(

    // ---- §2.2 query entry / SQL execution ----------------------------------
    // Aggregates over doubles are summed in exact DECIMAL then cast back to
    // DOUBLE: the result is bit-identical across Spark and DuckDB (a plain
    // double sum is order-dependent and would flake the oracle hash).
    Q("q1_pricing_summary",
      (s, dir) => QueryApi.sqlQueryDataFrame(s, t(s, dir, "lineitem"), "lineitem",
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS sum_disc_price,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
          |  count(*)                                                    AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*)                                                    AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q2_sql_multi_view_join",
      (s, dir) => QueryApi.sqlQueryDataFrame(s,
        Seq(t(s, dir, "orders"), t(s, dir, "customer")), Seq("o_v", "c_v"),
        """SELECT c_v.c_mktsegment,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(o_v.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM o_v JOIN c_v ON o_v.o_custkey = c_v.c_custkey
          |GROUP BY c_v.c_mktsegment
          |ORDER BY c_v.c_mktsegment""".stripMargin),
      Some("""SELECT c.c_mktsegment,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin)),

    // ---- §2.1 scans / catalog ---------------------------------------------
    Q("q3_select_table",
      (s, dir) => TableIO.selectTable(s, mainLakehouse(s, dir), "customer",
        Some("""SELECT t.c_custkey, t.c_name, t.c_acctbal FROM {table} t
          |WHERE t.c_acctbal > 0 ORDER BY t.c_custkey""".stripMargin)),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 0 ORDER BY c_custkey""".stripMargin)),

    Q("q4_read_table",
      (s, dir) => TableIO.readTable(s, mainLakehouse(s, dir), "orders",
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        "o_totalprice > 150000").orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_totalprice > 150000 ORDER BY o_orderkey""".stripMargin)),

    Q("q5_get_cols_distinct",
      (s, dir) => TableIO.getColsFromTable(s, mainLakehouse(s, dir), "customer",
        Seq("c_mktsegment"), distinct = true).orderBy("c_mktsegment"),
      Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")),

    Q("q6_write_read_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "part_rt", t(s, dir, "part"))
        TableIO.selectTable(s, lh, "part_rt").orderBy("p_partkey")
      },
      Some("SELECT * FROM part ORDER BY p_partkey")),

    // MERGE (upsert) roundtrip: every 10th part gets a price bump via
    // mergeTable; the oracle computes the same end state declaratively.
    Q("q63_merge_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val part = t(s, dir, "part")
        TableIO.writeTable(s, lh, "part_merge", part)
        val updates = part.filter(col("p_partkey") % 10 === 0)
          .withColumn("p_retailprice", col("p_retailprice") + 1000.0)
        TableIO.mergeTable(s, lh, "part_merge", updates, Seq("p_partkey"))
        TableIO.selectTable(s, lh, "part_merge").orderBy("p_partkey")
      },
      Some("""SELECT * REPLACE (
        |  CASE WHEN p_partkey % 10 = 0 THEN p_retailprice + 1000.0
        |       ELSE p_retailprice END AS p_retailprice)
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // DELETE WHERE roundtrip: file-level row delete (only files containing
    // matches are rewritten), read back and compared to the SQL complement.
    Q("q68_delete_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_del",
          t(s, dir, "orders").select("o_orderkey", "o_custkey",
            "o_orderstatus", "o_totalprice"))
        TableIO.deleteFromTable(s, lh, "orders_del",
          "o_orderstatus = 'F' AND o_totalprice < 100000.0")
        TableIO.selectTable(s, lh, "orders_del").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
        |ORDER BY o_orderkey""".stripMargin)),

    // Stat-pruned range scan over a sortBy-clustered table: per-file
    // min/max in the manifest skip non-overlapping files; the residual
    // filter makes the result exactly the full-scan answer (hash-verified).
    Q("q69_pruned_scan",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_clustered",
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          sortBy = Seq("o_totalprice"))
        TableIO.prunedScan(s, lh, "orders_clustered", "o_totalprice",
          Some(100000.0), Some(150000.0))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >= 100000.0 AND o_totalprice <= 150000.0
        |ORDER BY o_orderkey""".stripMargin)),

    // MinHash signatures with a portable shingle hash + literal universal-
    // hash params: DuckDB recomputes the identical signatures, verifying
    // the min-over-hash-family algorithm (q30 keeps the rolling kernel).
    Q("q77_minhash_portable",
      (s, dir) => Dedup.portableMinHash(
          t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id", "sig_no"),
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(sha256(substring(text, CAST(p AS INT), 5)),
        |      1, 15))::UBIGINT AS BIGINT) % 2147483647 AS h
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 4)) AS t(p)
        |  WHERE length(text) >= 5)
        |SELECT doc_id, i.i AS sig_no,
        |  min(((2 * i.i + 1) * h + 1000003 * i.i) % 2147483647) AS sig
        |FROM g, (SELECT unnest(range(16)) AS i) i
        |GROUP BY doc_id, i.i
        |ORDER BY doc_id, sig_no""".stripMargin)),

    // SimHash with a portable (sha-256-derived) token hash: DuckDB re-runs
    // Charikar's sign aggregation independently, hash-verifying the
    // signature computation (q31 keeps the fast murmur kernel).
    Q("q76_simhash_portable",
      (s, dir) => Dedup.portableSimHash(
          t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tok AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(sha256(t.tok), 1, 15))::UBIGINT AS BIGINT) AS h
        |  FROM documents,
        |       unnest(string_split_regex(text, '\s+')) AS t(tok)
        |  WHERE t.tok <> ''),
        |bits AS (
        |  SELECT doc_id, j.j AS j,
        |    sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM tok, (SELECT unnest(range(60)) AS j) j
        |  GROUP BY doc_id, j.j)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END)
        |       AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Winnowing with a portable (sha-256) gram hash: DuckDB re-runs the
    // same k-gram -> window-min -> distinct selection independently, so the
    // fingerprint ALGORITHM is hash-verified (q28 keeps the fast rolling-
    // hash kernel; its selection logic is what this cross-checks).
    Q("q75_fingerprints_portable",
      (s, dir) => TextStats.portableFingerprints(
          t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id", "fp"),
      Some("""WITH g AS (
        |  SELECT doc_id, p,
        |    CAST(('0x' || substring(sha256(substring(text, CAST(p AS INT), 8)),
        |      1, 8))::UBIGINT AS BIGINT) AS h,
        |    length(text) AS len
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 7)) AS t(p)
        |  WHERE length(text) >= 11),
        |w AS (
        |  SELECT doc_id, p, len,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g)
        |SELECT DISTINCT doc_id, fp FROM w WHERE p <= len - 10
        |ORDER BY doc_id, fp""".stripMargin)),

    // GPT-style concat-and-chunk packing plan (documents may span packs):
    // the DuckDB oracle recomputes the identical global prefix sum with a
    // window, cross-verifying the distributed two-phase implementation.
    Q("q81_concat_chunk",
      (s, dir) => Packing.concatChunkPlan(
          t(s, dir, "documents").select(col("doc_id"),
            length(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 4096L)
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, CAST(coalesce(length(text), 0) AS BIGINT) AS n,
        |    CAST(sum(CAST(coalesce(length(text), 0) AS BIGINT)) OVER (
        |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM documents)
        |SELECT doc_id, n AS n_tokens,
        |  (cum - n) // 4096 AS start_pack,
        |  (cum - n + greatest(n, 1) - 1) // 4096 AS end_pack,
        |  (cum - n) % 4096 AS offset_in_start
        |FROM d ORDER BY doc_id""".stripMargin)),

    // Reproducible corpus ordering: the permutation is a pure function of
    // (id, seed) — DuckDB recomputes the identical keyed hash and order.
    Q("q73_deterministic_shuffle",
      (s, dir) => Packing.deterministicShuffle(
          t(s, dir, "documents").select("doc_id"), "doc_id", seed = 42L)
        .withColumn("shuffle_key", sha2(concat_ws("#",
          col("doc_id").cast("string"), lit("42")), 256)),
      Some("""SELECT doc_id,
        |  sha256(CAST(doc_id AS VARCHAR) || '#' || '42') AS shuffle_key
        |FROM documents ORDER BY shuffle_key""".stripMargin)),

    // Deterministic weighted split assignment: membership is a pure
    // function of (id, seed) — stable as the corpus grows, identical across
    // engines (cross-checked bucket arithmetic, not engine randomness).
    Q("q74_hash_split",
      (s, dir) => Packing.hashSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id", seed = 7L,
          weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id"),
      Some("""WITH u AS (
        |  SELECT doc_id,
        |    ('0x' || substring(sha256(CAST(doc_id AS VARCHAR) || '#' || '7'),
        |       1, 8))::UBIGINT / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin)),

    // Change data feed roundtrip: base write -> merge with updates+inserts
    // -> row-level feed; the oracle reconstructs the same events from the
    // source table arithmetically.
    Q("q79_change_feed",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val orders = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        TableIO.writeTable(s, lh, "orders_cdf",
          orders.filter(col("o_orderkey") % 2 === 0))
        TableIO.enableChangeFeed(s, lh, "orders_cdf")
        val v0 = Versioned.latestVersion(
          Catalog.tablePath(lh, "orders_cdf")).get
        TableIO.mergeTable(s, lh, "orders_cdf",
          orders.filter(col("o_orderkey") % 3 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          Seq("o_orderkey"))
        TableIO.readChangeFeed(s, lh, "orders_cdf", v0)
          .select("o_orderkey", "o_totalprice", "_change_type")
          .orderBy("o_orderkey", "_change_type")
      },
      Some("""SELECT o_orderkey, o_totalprice, 'update_preimage' AS _change_type
        |FROM orders WHERE o_orderkey % 6 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice * 2, 'update_postimage'
        |FROM orders WHERE o_orderkey % 6 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice * 2, 'insert'
        |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 1
        |ORDER BY o_orderkey, _change_type""".stripMargin)),

    // Stat-pruned top-k: ORDER BY + LIMIT over a clustered table reads only
    // the files whose range can reach the k-th value (per-file row counts
    // bound it); the final sort makes the result exactly the full answer.
    Q("q78_topk_pruned",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_topk",
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          sortBy = Seq("o_totalprice"))
        TableIO.prunedTopK(s, lh, "orders_topk", "o_totalprice", 100,
          ascending = true, tieBreak = Seq("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice IS NOT NULL
        |ORDER BY o_totalprice, o_orderkey LIMIT 100""".stripMargin)),

    // Bloom-indexed point lookup: high-cardinality key, unclustered table —
    // the bloom (not min/max) is what skips files; the probe key is derived
    // identically on both engines, and the residual filter keeps the result
    // exact under bloom false positives.
    Q("q72_bloom_point_lookup",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        TableIO.writeTable(s, lh, "orders_bloom", orders,
          bloomFilterFor = Seq("o_orderkey"))
        val probe = orders.filter(col("o_totalprice") > 100000.0)
          .agg(min("o_orderkey")).head.getLong(0)
        TableIO.prunedScanEq(s, lh, "orders_bloom", "o_orderkey", probe)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders
        |                    WHERE o_totalprice > 100000.0)
        |ORDER BY o_orderkey""".stripMargin)),

    // Incremental consumption: base write -> version pin -> append -> read
    // exactly the appended increment by file-manifest diff (O(new data)).
    Q("q71_changes_since",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        TableIO.writeTable(s, lh, "orders_inc",
          orders.filter(col("o_orderkey") % 4 === 0))
        val v = Versioned.latestVersion(Catalog.tablePath(lh, "orders_inc")).get
        TableIO.appendTable(s, lh, "orders_inc",
          orders.filter(col("o_orderkey") % 4 =!= 0))
        TableIO.readChangesSince(s, lh, "orders_inc", v).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 4 <> 0 ORDER BY o_orderkey""".stripMargin)),

    // Z-order clustered write -> two-dimension stat-pruned scan: both range
    // predicates contribute file skips (1-D sort could only serve one); the
    // residual filters make the result exactly the full-scan answer.
    Q("q70_zorder_scan",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_zorder",
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          zorderBy = Seq("o_custkey", "o_totalprice"))
        TableIO.prunedScanRanges(s, lh, "orders_zorder", Seq(
          ("o_custkey", Some(100L), Some(700L)),
          ("o_totalprice", Some(50000.0), Some(200000.0))))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey BETWEEN 100 AND 700
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0
        |ORDER BY o_orderkey""".stripMargin)),

    // Fragmented write -> compaction -> read-back: the maintenance half of
    // the versioned commit protocol; contents must be byte-identical to the
    // source table after the rewrite.
    Q("q56_compact_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "supplier_frag",
          t(s, dir, "supplier").repartition(16))
        TableIO.compactTable(s, lh, "supplier_frag")
        TableIO.selectTable(s, lh, "supplier_frag").orderBy("s_suppkey")
      },
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    // Views write/read roundtrip: materialize a denormalized view under
    // Views/, read it back through selectView with a query — the
    // previously-read-only half of the catalog surface (common.py:392,465).
    Q("q46_view_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val denorm = t(s, dir, "nation")
          .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
        TableIO.writeView(s, lh, "nation_region_v", denorm)
        TableIO.selectView(s, lh, "nation_region_v",
          Some("""SELECT t.n_nationkey, t.n_name, t.r_name FROM {table} t
            |ORDER BY t.n_nationkey""".stripMargin))
      },
      Some("""SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin)),

    Q("q7_get_tables",
      (s, dir) => {
        val lh = mainLakehouse(s, dir)
        val names = Catalog.getTables(lh)
        import s.implicits._
        names.toDF("table_name").orderBy("table_name")
      },
      Some("""SELECT * FROM (VALUES ('customer'),('nation'),('orders'),('part'),('region'))
        |AS t(table_name) ORDER BY table_name""".stripMargin)),

    // ---- §2.5 / §2.7 distinct+index, casts, null handling -----------------
    Q("q8_distinct_index_counts",
      (s, dir) => Transform.getDistinctValsFromDataRowsInt(
        t(s, dir, "customer"), Seq("c_mktsegment"), rowCountCol = Some("c_custkey")),
      Some("""SELECT row_number() OVER (ORDER BY c_mktsegment) AS indexcmktsegment,
        |  c_mktsegment, count(c_custkey) AS c_custkey
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("q9_distinct_index_plain",
      (s, dir) => Transform.getDistinctValsFromDataRowsInt(
        t(s, dir, "orders"), Seq("o_orderpriority", "o_orderstatus")),
      Some("""SELECT row_number() OVER (ORDER BY o_orderpriority, o_orderstatus)
        |    AS indexoorderpriorityoorderstatus,
        |  o_orderpriority, o_orderstatus
        |FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)),

    // l_quantity is integral-valued (1.0..50.0) so Spark's truncating
    // double->int cast and DuckDB's rounding cast agree.
    Q("q10_cast_columns_int",
      (s, dir) => Transform.castColumnsToInt(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        Seq("l_quantity")).orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS INTEGER) AS l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("q11_set_text_when_null",
      (s, dir) => Transform.setDFTextWhenNull(
        t(s, dir, "orders").select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_orderpriority"))
            .as("o_orderpriority")),
        "o_orderpriority", "None Supplied").orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'None Supplied' ELSE o_orderpriority END
        |    AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Q("q12_set_null_to_zero",
      (s, dir) => Transform.setNullToZero(
        t(s, dir, "customer").select(col("c_custkey"),
          when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_acctbal"))
            .as("c_acctbal")),
        Seq("c_acctbal", "no_such_column")).orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN 0 ELSE c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    Q("q13_create_extra_row",
      (s, dir) => Transform.createExtraRow(t(s, dir, "region"), -1, "NONE"),
      Some("""SELECT * FROM (SELECT * FROM region UNION ALL SELECT -1, 'NONE')
        |ORDER BY r_regionkey""".stripMargin)),

    Q("q14_rename_prefix",
      (s, dir) => Transform.renameColumnsWithPrefix(t(s, dir, "nation"), "dim")
        .orderBy("dim_n_nationkey"),
      Some("""SELECT n_nationkey AS dim_n_nationkey, n_name AS dim_n_name,
        |  n_regionkey AS dim_n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    Q("q15_rename_strip_prefix",
      (s, dir) => Transform.renameColumnsStripPrefix(
        Transform.renameColumnsWithPrefix(t(s, dir, "nation"), "dim"), Seq("dim"))
        .orderBy("n_nationkey"),
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    Q("q16_add_index_contiguous",
      (s, dir) => Transform.addIndexColContiguous(
        t(s, dir, "nation").orderBy("n_name"), "idx").orderBy("idx"),
      Some("""SELECT row_number() OVER (ORDER BY n_name) AS idx,
        |  n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY idx""".stripMargin)),

    // ---- §2.4 joins --------------------------------------------------------
    Q("q17_simple_map",
      (s, dir) => {
        val customer = t(s, dir, "customer")
        val map = Transform.getDistinctValsFromDataRowsInt(customer, Seq("c_mktsegment"))
        Joins.simpleMap(customer, map, "c_mktsegment").orderBy("c_custkey")
      },
      Some("""WITH m AS (
        |  SELECT row_number() OVER (ORDER BY c_mktsegment) AS indexcmktsegment,
        |    c_mktsegment
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
        |SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
        |  m.indexcmktsegment, c.c_mktsegment
        |FROM customer c JOIN m ON c.c_mktsegment IS NOT DISTINCT FROM m.c_mktsegment
        |ORDER BY c.c_custkey""".stripMargin)),

    Q("q18_simple_map_null_safe",
      (s, dir) => {
        val fact = t(s, dir, "orders").select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null)).otherwise(col("o_custkey"))
            .as("o_custkey"),
          col("o_totalprice"))
        val map = Transform.getDistinctValsFromDataRowsInt(fact, Seq("o_custkey"))
        Joins.simpleMap(fact, map, "o_custkey").orderBy("o_orderkey")
      },
      Some("""WITH f AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
        |    o_totalprice
        |  FROM orders),
        |m AS (
        |  SELECT row_number() OVER (ORDER BY o_custkey NULLS FIRST) AS indexocustkey,
        |    o_custkey
        |  FROM (SELECT DISTINCT o_custkey FROM f))
        |SELECT f.o_orderkey, m.indexocustkey, f.o_totalprice, f.o_custkey
        |FROM f JOIN m ON f.o_custkey IS NOT DISTINCT FROM m.o_custkey
        |ORDER BY f.o_orderkey""".stripMargin)),

    // ---- §2.8 scalar / string functions -----------------------------------
    Q("q19_garbage_clo",
      (s, dir) => t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 13 === 0, lit(" N/A "))
          .when(col("c_custkey") % 17 === 0, lit(null))
          .otherwise(col("c_mktsegment")).as("v"))
        .withColumn("is_garbage", Strings.garbageCLOCol(col("v")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, v, (v IS NULL OR v = '' OR lower(trim(v)) = 'n/a')
        |    AS is_garbage
        |FROM (SELECT c_custkey,
        |  CASE WHEN c_custkey % 13 = 0 THEN ' N/A '
        |       WHEN c_custkey % 17 = 0 THEN NULL
        |       ELSE c_mktsegment END AS v FROM customer)
        |ORDER BY c_custkey""".stripMargin)),

    // Scala-UDF surface, oracle-checked via the finite input domain each
    // query constructs: the oracle encodes the function's expected output
    // for exactly that domain (general semantics golden-tested in
    // StringsSpec). The input exercises every delimiter class: apostrophe,
    // hyphen, space, the de/of particle, an ALL-CAPS word, and a
    // lowercase word with an embedded non-delimiter ('#').
    Q("q20_custom_initcap",
      (s, dir) => t(s, dir, "customer").select(col("c_custkey"),
        concat(lit("o'neil-"), lower(col("c_name")), lit(" de "),
          col("c_mktsegment")).as("raw_name"))
        .withColumn("c_name_initcap", Strings.customInitcapUdf(col("raw_name")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        |  concat('o''neil-', lower(c_name), ' de ', c_mktsegment) AS raw_name,
        |  concat('O''Neil-', upper(substring(c_name, 1, 1)),
        |         substring(lower(c_name), 2), ' de ',
        |         upper(substring(c_mktsegment, 1, 1)),
        |         lower(substring(c_mktsegment, 2))) AS c_name_initcap
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // fixUpName("CUSTOMER#…42, building") = initcap → "Last, First" flip =
    // "Building Customer#…42"; the oracle computes the same flip directly.
    Q("q21_fix_up_name",
      (s, dir) => t(s, dir, "customer").select(col("c_custkey"),
        Strings.fixUpNameUdf(
          concat(upper(col("c_name")), lit(", "), lower(col("c_mktsegment"))))
          .as("fixed_name")).orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        |  concat(upper(substring(c_mktsegment, 1, 1)),
        |         lower(substring(c_mktsegment, 2)), ' ',
        |         upper(substring(c_name, 1, 1)),
        |         substring(lower(c_name), 2)) AS fixed_name
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // Domain {complted, DISCONTD, enrolled} → {Completed, Discontinued,
    // Enrolled}: Ratcliff–Obershelp snap verified by StringsSpec goldens;
    // the oracle encodes the expected mapping per input.
    Q("q22_fix_dodgy_statuses",
      (s, dir) => t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, lit("complted"))
          .when(col("o_orderkey") % 3 === 1, lit("DISCONTD"))
          .otherwise(lit("enrolled")).as("raw_status"))
        .withColumn("fixed_status", Strings.fixDodgyStatusesUdf(col("raw_status")))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'complted'
        |       WHEN o_orderkey % 3 = 1 THEN 'DISCONTD'
        |       ELSE 'enrolled' END AS raw_status,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'Completed'
        |       WHEN o_orderkey % 3 = 1 THEN 'Discontinued'
        |       ELSE 'Enrolled' END AS fixed_status
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // common.py:720-724 — the assess-level twin of q22 (the last __all__
    // member without a registered query). 'none' stays unsnapped (similarity
    // to both legit values < 0.6) — exercises the no-match path.
    Q("q45_fix_dodgy_assess_level",
      (s, dir) => t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, lit("consolidatd"))
          .when(col("o_orderkey") % 3 === 1, lit("DEMONSTRTD"))
          .otherwise(lit("none")).as("raw_level"))
        .withColumn("fixed_level", Strings.fixDodgyAssessLevelUdf(col("raw_level")))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'consolidatd'
        |       WHEN o_orderkey % 3 = 1 THEN 'DEMONSTRTD'
        |       ELSE 'none' END AS raw_level,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'Consolidated'
        |       WHEN o_orderkey % 3 = 1 THEN 'Demonstrated'
        |       ELSE 'None' END AS fixed_level
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- §2.10 relationship discovery -------------------------------------
    // m:1 edges over the star schema == the known FK graph (FIXTURES.md).
    // Oracle is the a-priori-known edge list; coverage/threshold semantics
    // exercised further in RelationshipsSpec.
    Q("q24_find_relationships",
      (s, dir) => {
        val tables = Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem").map(n => n -> t(s, dir, n))
        Relationships.findRelationshipsDF(s, tables, includeManyToMany = false)
          .drop("coverage")
          .orderBy("from_table", "from_column")
      },
      Some("""SELECT * FROM (VALUES
        |  ('customer','c_nationkey','nation','n_nationkey','m:1'),
        |  ('lineitem','l_orderkey','orders','o_orderkey','m:1'),
        |  ('lineitem','l_partkey','part','p_partkey','m:1'),
        |  ('lineitem','l_suppkey','supplier','s_suppkey','m:1'),
        |  ('nation','n_regionkey','region','r_regionkey','m:1'),
        |  ('orders','o_custkey','customer','c_custkey','m:1'),
        |  ('supplier','s_nationkey','nation','n_nationkey','m:1'))
        |AS t(from_table, from_column, to_table, to_column, multiplicity)
        |ORDER BY from_table, from_column""".stripMargin)),

    // Exact interpolated quantiles (both engines: linear interpolation on
    // the sorted set) — the distribution-stats view of a numeric column.
    Q("q66_quantiles",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.25)").as("p25"),
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.75)").as("p75"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"))
        .withColumn("p25", round(col("p25"), 6))
        .withColumn("p50", round(col("p50"), 6))
        .withColumn("p75", round(col("p75"), 6))
        .withColumn("p99", round(col("p99"), 6))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q23_df_shape",
      (s, dir) => {
        val (rows, cols, _) = TableIO.dfShape(t(s, dir, "lineitem"))
        import s.implicits._
        Seq((rows, cols)).toDF("row_count", "col_count")
      },
      Some("SELECT count(*) AS row_count, CAST(11 AS INT) AS col_count FROM lineitem")),

    // ==== extension tier: training-data pipeline operators ==================

    // ---- text analysis -----------------------------------------------------
    Q("q25_text_quality",
      (s, dir) => TextStats.withQualityMetrics(
        t(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text").orderBy("doc_id"),
      Some("""WITH m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct_count,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_count,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |        'that','for','on','with','as','at','by','be','this','are'], w)))
        |      AS DOUBLE) AS stop_hits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, n_tokens,
        |    CAST(n_chars AS DOUBLE) /
        |      (CASE WHEN n_tokens = 0 THEN 1.0 ELSE CAST(n_tokens AS DOUBLE) END) AS avg_token_len,
        |    CAST(punct_count AS DOUBLE) /
        |      (CASE WHEN n_chars = 0 THEN 1.0 ELSE CAST(n_chars AS DOUBLE) END) AS punct_ratio,
        |    CAST(digit_count AS DOUBLE) /
        |      (CASE WHEN n_chars = 0 THEN 1.0 ELSE CAST(n_chars AS DOUBLE) END) AS digit_ratio,
        |    stop_hits /
        |      (CASE WHEN n_tokens = 0 THEN 1.0 ELSE CAST(n_tokens AS DOUBLE) END) AS stopword_ratio
        |  FROM m)
        |SELECT doc_id, n_chars, n_tokens, avg_token_len, punct_ratio, digit_ratio,
        |  stopword_ratio,
        |  (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.25 ELSE 0.0 END)
        |  + least(stopword_ratio * 2.5, 0.25)
        |  + greatest(0.25 - punct_ratio * 2.5, 0.0)
        |  + (CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 12.0 THEN 0.25 ELSE 0.0 END)
        |    AS quality_score
        |FROM r ORDER BY doc_id""".stripMargin)),

    Q("q26_token_counts",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("ws_tokens"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("bpeish_tokens"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '${TextStats.BpeishPattern}')) AS BIGINT)
        |    AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic replicated in DuckDB list ops (stopword-profile
    // scores + CJK codepoint check + alphabetical tie-break) — a genuine
    // independent oracle of the same published heuristic.
    Q("q27_lang_id",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextStats.langIdUdf(col("text")).as("lang_pred")).orderBy("doc_id"),
      Some("""WITH s AS (
        |  SELECT doc_id, lang, text,
        |    len(regexp_extract_all(text,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS cjk,
        |    regexp_split_to_array(lower(text), '\s+') AS words
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang, text, cjk,
        |    len(list_filter(words, w -> list_contains(['der','die','das','und',
        |      'ist','nicht','ein','eine','zu','mit','von','auf','für','den',
        |      'im','sich'], w))) AS s_de,
        |    len(list_filter(words, w -> list_contains(['the','and','of','to',
        |      'in','is','it','that','for','on','with','as','at','by','this',
        |      'are'], w))) AS s_en,
        |    len(list_filter(words, w -> list_contains(['el','la','de','que',
        |      'y','en','los','del','las','un','una','por','con','para','es',
        |      'no'], w))) AS s_es,
        |    len(list_filter(words, w -> list_contains(['le','la','les','de',
        |      'des','et','en','un','une','du','que','est','pour','dans',
        |      'qui','pas'], w))) AS s_fr
        |  FROM s)
        |SELECT doc_id, lang,
        |  CASE WHEN text IS NULL OR length(text) = 0 THEN 'und'
        |       WHEN cjk * 50 >= length(text) THEN 'zh'
        |       WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // winnow_fp is dumped as a canonical comma-joined string (the array API
    // stays on TextStats.winnowingFingerprint): the driver's rows-only
    // compare sorts every column with pandas, which cannot sort list values.
    Q("q28_fingerprints",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        TextStats.contentFingerprint(col("text")).as("content_fp"),
        array_join(transform(TextStats.winnowingUdf(col("text")),
          x => x.cast("string")), ",").as("winnow_fp")).orderBy("doc_id"),
      None),

    // ---- deduplication -----------------------------------------------------
    // Injected exact copies (doc_id+100000 for doc_id%10==0) exercise the
    // keep-min-id semantics end-to-end; output == original table.
    Q("q29_dedup_exact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val copies = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
        Dedup.exactDedup(docs.unionByName(copies), Seq("text"), "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM aug) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // MinHash-LSH near-dup pairs over the raw table (the fixture plants
    // genuine near-duplicates); xxhash64 signatures are not DuckDB-
    // expressible -> rows-only; exactness covered by DedupSpec.
    Q("q30_dedup_minhash_lsh",
      (s, dir) => Dedup.minHashNearDupPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleK = 5, numHashes = 64, bands = 8,
        threshold = 0.8).orderBy("a", "b"),
      None),

    // Incremental ingest dedup: a batch of lightly-edited copies checked
    // against the corpus' persisted band index — the historical corpus is
    // never re-hashed. Rows-only (LSH recall, like q30); DedupSpec covers
    // planted copies.
    Q("q64_dedup_incremental",
      (s, dir) => {
        val corpus = t(s, dir, "documents").select("doc_id", "text")
        val index = Dedup.minHashBandIndex(corpus, "doc_id", "text")
        val batch = corpus.filter(col("doc_id") % 40 === 0)
          .withColumn("doc_id", col("doc_id") + 500000)
          .withColumn("text", concat(col("text"), lit(" ingest edit")))
        Dedup.nearDupsAgainstIndex(batch, corpus, index, "doc_id", "text",
          threshold = 0.8).orderBy("a", "b")
      },
      None),

    Q("q31_dedup_simhash",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val copies = docs.filter(col("doc_id") % 50 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
        Dedup.simHashNearDupPairs(docs.unionByName(copies), "doc_id", "text",
          maxDist = 3).orderBy("a", "b")
      },
      None),

    // Exact word-trigram Jaccard: fully oracle-expressible (no hashing).
    Q("q32_dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 20)
        .orderBy("a", "b"),
      Some("""WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(words[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(words) - 2, 1))]) AS gram
        |    FROM w)),
        |pruned AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 20) ok
        |  USING (gram)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
        |  FROM pruned l JOIN pruned r USING (gram)
        |  WHERE l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = a
        |JOIN sizes sb ON sb.doc_id = b
        |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.5
        |ORDER BY a, b""".stripMargin)),

    // LSH-bucketed near-dup pairs vs a brute-force all-pairs oracle: at
    // threshold 0.999999 only the planted exact copies qualify, and exact
    // copies share every LSH bucket, so bucketed == brute-force.
    Q("q33_dedup_embedding_cosine",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val copies = emb.filter(col("vec_id") % 100 === 0)
          .withColumn("vec_id", col("vec_id") + 100000)
        Dedup.embeddingNearDupPairs(emb.unionByName(copies), "vec_id",
          "embedding", threshold = 0.999999)
          .withColumn("cosine", round(col("cosine"), 6)).orderBy("a", "b")
      },
      Some("""WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM base),
        |p AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    list_sum(list_transform(list_zip(l.ve, r.ve), z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(l.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(r.ve, x -> x * x)))) AS cosine
        |  FROM v l JOIN v r ON l.vec_id < r.vec_id)
        |SELECT a, b, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.999999 ORDER BY a, b""".stripMargin)),

    // ---- similarity search -------------------------------------------------
    // Exact brute-force cosine top-k; oracle mirrors the double arithmetic
    // op-for-op (cast->multiply->sequential sum->sqrt->divide), cosine
    // rounded to 6dp on both sides.
    Q("q34_ann_cosine_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 4),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    list_sum(list_transform(list_zip(v.ve, q.qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM v, q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // IVF with ENGINE-PORTABLE training (fixed-point Lloyd, the q197
    // arithmetic): the oracle replays codebook training, cell
    // assignment, AND the recall-traded 3-of-8 probe subset bit-for-bit
    // — the probing variant itself hash-checks, not just the probe-all
    // degenerate mode (q67, which keeps the float trainer).
    Q("q44_ann_ivf_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopKPortable(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10, nLists = 8, nProbe = 3)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (
        |  SELECT vec_id, ve, list_transform(ve,
        |    x -> CAST(floor(x * 1024) + 1048576 AS BIGINT)) AS qv
        |  FROM v),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cidx, qv AS cv
        |  FROM qv ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c0 c)) WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a1)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c1 AS (
        |  SELECT c0.cidx, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 ON u1.cidx = c0.cidx),
        |a2 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c1 c)) WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a2)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c2 AS (
        |  SELECT c1.cidx, coalesce(u2.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN u2 ON u2.cidx = c1.cidx),
        |cells AS (
        |  SELECT vec_id, cluster AS cell FROM (
        |    SELECT vec_id, cluster, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c2 c)) WHERE rn = 1),
        |probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell, row_number() OVER (
        |      PARTITION BY query_id ORDER BY dist, cell) AS rn
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.cidx AS cell,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM (SELECT * FROM qv WHERE vec_id < 4) q, c2 c))
        |  WHERE rn <= 3),
        |s AS (
        |  SELECT p.query_id, cl.vec_id,
        |    list_sum(list_transform(list_zip(cv.ve, qe.ve), p2 -> p2[1] * p2[2])) /
        |    (sqrt(list_sum(list_transform(cv.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(qe.ve, x -> x * x)))) AS cosine
        |  FROM probe p
        |  JOIN cells cl ON cl.cell = p.cell
        |  JOIN v cv ON cv.vec_id = cl.vec_id
        |  JOIN v qe ON qe.vec_id = p.query_id),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // IVF with nProbe = nLists probes every cell, so it degenerates to exact
    // search: the result must HASH-MATCH the brute-force oracle (q34's SQL
    // verbatim), verifying the IVF machinery — k-means fit, cell assignment,
    // probing, ranking — end to end. The recall-spec'd probing variant (q44)
    // stays rows-only.
    Q("q67_ann_ivf_exact",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10, nLists = 8, nProbe = 8)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 4),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    list_sum(list_transform(list_zip(v.ve, q.qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM v, q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // LSH with ENGINE-PORTABLE bucketing: hyperplane components derive
    // from sha-256 (the q76 portable-SimHash trick) and bucket bits are
    // signs of exact integer dot products, so the oracle replays
    // bucketing, hamming-1 probing, and the candidate set bit-for-bit —
    // the recall-traded LSH ranking itself hash-checks (the float
    // variant with engine-private hyperplanes stays spec-covered).
    Q("q35_ann_lsh_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopKPortable(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10, numPlanes = 8)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (
        |  SELECT vec_id, ve,
        |    list_transform(ve, x -> CAST(floor(x * 1024) AS BIGINT)) AS qv
        |  FROM v),
        |planes AS (
        |  SELECT p.p, j.j,
        |    CAST(('0x' || substring(sha256(p.p || ':' || j.j), 1, 15))
        |      ::UBIGINT % 2001 AS BIGINT) - 1000 AS c
        |  FROM (SELECT unnest(range(8)) AS p) p,
        |       (SELECT unnest(range(64)) AS j) j),
        |dots AS (
        |  SELECT u.vec_id, pl.p, sum(u.v * pl.c) AS dot
        |  FROM (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS j,
        |        unnest(qv) AS v FROM qv) u
        |  JOIN planes pl ON pl.j = u.j
        |  GROUP BY 1, 2),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM dots GROUP BY 1),
        |probes AS (
        |  SELECT b.vec_id AS query_id, xor(b.bucket, f.f) AS bucket
        |  FROM buckets b,
        |    (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f) f
        |  WHERE b.vec_id < 4),
        |s AS (
        |  SELECT p.query_id, c.vec_id,
        |    list_sum(list_transform(list_zip(cv.ve, qe.ve), p2 -> p2[1] * p2[2])) /
        |    (sqrt(list_sum(list_transform(cv.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(qe.ve, x -> x * x)))) AS cosine
        |  FROM probes p
        |  JOIN buckets c ON c.bucket = p.bucket
        |  JOIN v cv ON cv.vec_id = c.vec_id
        |  JOIN v qe ON qe.vec_id = p.query_id),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // ---- event windows -----------------------------------------------------
    Q("q36_events_tumbling",
      (s, dir) => EventWindows.tumbling(ev(s, dir), "ts", "1 hour")
        .orderBy("window_start", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin)),

    Q("q37_events_sliding",
      (s, dir) => EventWindows.sliding(ev(s, dir), "ts", "1 hour", "30 minutes")
        .orderBy("window_start", "event_type"),
      Some("""WITH g AS (
        |  SELECT *, make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 * 1000000
        |    AS BIGINT)) AS grid
        |  FROM events),
        |u AS (
        |  SELECT event_type, value,
        |    unnest([grid, grid - INTERVAL 30 MINUTE]) AS window_start
        |  FROM g)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin)),

    Q("q38_events_sessions",
      (s, dir) => EventWindows.sessionizeBatch(ev(s, dir), "user_id", "ts",
        gapSeconds = 1800).orderBy("user_id", "session_id"),
      Some("""WITH o AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |    OR CAST(floor(epoch(ts)) AS BIGINT) -
        |       CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM o),
        |s AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM m)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q39_events_distinct_users",
      (s, dir) => ev(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HLL sketch values are engine-specific -> rows-only; exact twin above.
    Q("q40_events_approx_distinct",
      (s, dir) => ev(s, dir).groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("approx_users"))
        .orderBy("event_type"),
      None),

    // ---- multimodal plumbing ----------------------------------------------
    Q("q41_blob_metadata",
      (s, dir) => Multimodal.withBlobMetadata(
        Multimodal.asBlob(t(s, dir, "documents"), "text", "payload"), "payload")
        .select("doc_id", "byte_size", "content_sha256", "magic_hex")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_size,
        |  sha256(text) AS content_sha256,
        |  lower(hex(CAST(substring(text, 1, 4) AS BLOB))) AS magic_hex
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL image decode: deterministic PNGs (dims a pure function of doc_id)
    // are encoded distributed-side, decoded back through javax.imageio, and
    // aspect-capped — the oracle recomputes the expected dims arithmetically,
    // so the whole decode+resize path is hash-verified. Some dims exceed the
    // 256 cap so both resize branches execute. Integer truncation (Spark
    // double->int cast) == floor here: all values are positive.
    Q("q42_multimodal_decode",
      (s, dir) => {
        // PNG encode+decode is genuine per-row codec work (~0.4 ms/image);
        // a 10% sample keeps the bench proportional while still decoding
        // thousands of real images at sf0.1
        val imgs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 10 === 0)
          .withColumn("w", (col("doc_id") % 300 + 8).cast("int"))
          .withColumn("h", ((col("doc_id") * 7) % 300 + 8).cast("int"))
          .withColumn("payload", Multimodal.syntheticPngUdf(col("w"), col("h")))
        val decoded = Multimodal.decodeImages(imgs, "payload")
        Multimodal.resizeImages(decoded, "decoded", maxSide = 256)
          .select(col("doc_id"), col("decoded.width").as("width"),
            col("decoded.height").as("height"),
            col("decoded.channels").as("channels"),
            col("resized.width").as("r_width"), col("resized.height").as("r_height"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 300 + 8 AS INT) AS width,
        |    CAST((doc_id * 7) % 300 + 8 AS INT) AS height
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id, width, height, CAST(3 AS INT) AS channels,
        |  CASE WHEN greatest(width, height) <= 256 THEN width
        |    ELSE CAST(floor(width * 256.0 / greatest(width, height)) AS INT)
        |  END AS r_width,
        |  CASE WHEN greatest(width, height) <= 256 THEN height
        |    ELSE CAST(floor(height * 256.0 / greatest(width, height)) AS INT)
        |  END AS r_height
        |FROM d ORDER BY doc_id""".stripMargin)),

    // Frame fingerprints are sha-256 over byte-substring chunks — DuckDB
    // recomputes the identical chunking arithmetic and hashes, so the whole
    // explode+slice path is hash-verified cross-engine. (DuckDB has no BLOB
    // substring, so its side slices VARCHAR — byte-identical because the
    // fixture documents are pure ASCII, asserted at all SFs.)
    Q("q43_frame_sample",
      (s, dir) => Multimodal.sampleFrames(
        Multimodal.asBlob(t(s, dir, "documents"), "text", "payload"),
        "doc_id", "payload", frames = 4).orderBy("doc_id", "frame_no"),
      Some("""WITH b AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents)
        |SELECT doc_id, f.f AS frame_no,
        |  sha256(substring(text, CAST(1 + f.f * (len // 4) AS INT),
        |    CAST(greatest(len // 4, 1) AS INT))) AS frame_hash
        |FROM b, (SELECT unnest(range(4)) AS f) f
        |ORDER BY doc_id, frame_no""".stripMargin)),

    // REAL audio decode: deterministic RIFF/WAVE payloads (params a pure
    // function of doc_id) are encoded distributed-side and parsed back
    // through javax.sound — the oracle recomputes the expected metadata
    // arithmetically, hash-verifying the whole encode+decode path.
    Q("q80_audio_decode",
      (s, dir) => {
        val auds = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 10 === 0)
          .withColumn("rate", (lit(8000) + (col("doc_id") % 3) * 4000).cast("int"))
          .withColumn("n_frames", (col("doc_id") % 800 + 400).cast("int"))
          .withColumn("payload", Multimodal.syntheticWavUdf(
            col("rate"), col("n_frames"), (col("doc_id") % 7).cast("int")))
        Multimodal.decodeAudio(auds, "payload")
          .select(col("doc_id"), col("audio.frames").as("frames"),
            col("audio.sample_rate").as("sample_rate"),
            col("audio.channels").as("channels"),
            col("audio.bits").as("bits"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(doc_id % 800 + 400 AS BIGINT) AS frames,
        |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin)),

    // As-of join — the classic missing-Spark temporal operator, verified
    // against DuckDB's NATIVE ASOF LEFT JOIN (an independent
    // implementation, not a SQL re-spelling of ours). Purchases are
    // pre-aggregated per (user, ts) so the match is unique-keyed and both
    // engines are deterministic.
    Q("q57_asof_join",
      (s, dir) => {
        val e = ev(s, dir)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts", "value")
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("purchase_value"))
        TemporalJoins.asofJoin(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_value"))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, c.ts, c.value,
        |  p.purchase_value AS purchase_value_asof
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin)),

    // Range join over overlapping price bands — bin-bucketed equi-join vs
    // DuckDB's IEJoin of the same BETWEEN predicate.
    Q("q58_range_join_bands",
      (s, dir) => {
        val orders = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        val bands = s.range(0, 13).select(col("id").as("band_id"),
          (col("id") * 40000.0).as("lo"), (col("id") * 40000.0 + 60000.0).as("hi"))
        TemporalJoins.rangeJoin(orders, "o_totalprice", bands, "lo", "hi",
          binWidth = 20000.0)
          .groupBy("band_id")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"))
          .orderBy("band_id")
      },
      Some("""WITH bands AS (
        |  SELECT i AS band_id, i * 40000.0 AS lo, i * 40000.0 + 60000.0 AS hi
        |  FROM range(0, 13) t(i))
        |SELECT band_id, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin)),

    // ---- embedding preparation --------------------------------------------
    // Output exploded to scalar rows (vec_id, pos, val): the driver compare
    // cannot sort array columns (the q28 lesson), and DuckDB's zipped
    // parallel UNNEST expresses the same shape exactly.
    Q("q47_l2_normalize",
      (s, dir) => Embeddings.withL2Normalized(t(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"),
          posexplode(col("embedding_norm")).as(Seq("pos", "val")))
        .withColumn("val", round(col("val"), 6))
        .orderBy("vec_id", "pos"),
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, ve,
        |    sqrt(list_sum(list_transform(ve, x -> x * x))) AS nrm
        |  FROM v),
        |e AS (
        |  SELECT vec_id,
        |    UNNEST(range(len(ve))) AS pos,
        |    UNNEST(list_transform(ve,
        |      x -> CASE WHEN nrm = 0 THEN x ELSE x / nrm END)) AS val
        |  FROM n)
        |SELECT vec_id, CAST(pos AS INT) AS pos, round(val, 6) AS val
        |FROM e ORDER BY vec_id, pos""".stripMargin)),

    Q("q48_quantize_int8",
      (s, dir) => Embeddings.withInt8Quantized(t(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), round(col("q8_scale"), 9).as("scale"),
          posexplode(col("embedding_q8")).as(Seq("pos", "qval")))
        .orderBy("vec_id", "pos"),
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS mx
        |  FROM v),
        |e AS (
        |  SELECT vec_id, CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127 END AS scale,
        |    UNNEST(range(len(ve))) AS pos,
        |    UNNEST(list_transform(ve, x -> CASE WHEN mx = 0 THEN 0
        |      ELSE CAST(round(x * 127 / mx) AS INT) END)) AS qval
        |  FROM m)
        |SELECT vec_id, round(scale, 9) AS scale, CAST(pos AS INT) AS pos, qval
        |FROM e ORDER BY vec_id, pos""".stripMargin)),

    // ---- chunking & corpus composition ------------------------------------
    Q("q50_chunk_documents",
      (s, dir) => TextStats.chunkDocuments(t(s, dir, "documents"),
        "doc_id", "text", chunkSize = 200, overlap = 40)
        .orderBy("doc_id", "chunk_no"),
      Some("""WITH n AS (
        |  SELECT doc_id, text,
        |    greatest(CAST(ceil((length(text) - 40) / 160.0) AS BIGINT), 1) AS nc
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (
        |  SELECT doc_id, text, UNNEST(range(nc)) AS chunk_no FROM n)
        |SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
        |  substring(text, CAST(chunk_no * 160 AS INT) + 1, 200) AS chunk_text
        |FROM e ORDER BY doc_id, chunk_no""".stripMargin)),

    Q("q51_mixture_stats",
      (s, dir) => TextStats.mixtureStats(t(s, dir, "documents"),
        "source", "n_chars")
        .withColumn("token_share", round(col("token_share"), 9))
        .orderBy("source"),
      Some("""WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, tokens,
        |  round(CAST(tokens AS DOUBLE) /
        |    CAST((SELECT sum(tokens) FROM per) AS DOUBLE), 9) AS token_share
        |FROM per ORDER BY source""".stripMargin)),

    // One-pass table profile (int/string columns only in the oracle —
    // double-to-string canonical forms differ across engines). Numeric
    // columns report TYPED extremes (min/max of the value, rendered as
    // string), not lexicographic string order.
    Q("q62_profile_table",
      (s, dir) => Profile.profileTable(t(s, dir, "nation"))
        .orderBy("column_name"),
      Some("""SELECT 'n_name' AS column_name, count(*) AS n_rows,
        |  count(n_name) AS n_nonnull, count(DISTINCT n_name) AS n_distinct,
        |  min(CAST(n_name AS VARCHAR)) AS min_str,
        |  max(CAST(n_name AS VARCHAR)) AS max_str FROM nation
        |UNION ALL
        |SELECT 'n_nationkey', count(*), count(n_nationkey),
        |  count(DISTINCT n_nationkey),
        |  CAST(min(n_nationkey) AS VARCHAR), CAST(max(n_nationkey) AS VARCHAR)
        |FROM nation
        |UNION ALL
        |SELECT 'n_regionkey', count(*), count(n_regionkey),
        |  count(DISTINCT n_regionkey),
        |  CAST(min(n_regionkey) AS VARCHAR), CAST(max(n_regionkey) AS VARCHAR)
        |FROM nation
        |ORDER BY column_name""".stripMargin)),

    // BM25 ranking of the fixture corpus against a fixed query; scores
    // rounded to 6 dp (float accumulation order is the only divergence).
    Q("q61_bm25_topk",
      (s, dir) => TextStats.bm25TopK(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
        query = "spark shuffle join window", k = 20)
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy("rank"),
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |nz AS (SELECT doc_id, term FROM w WHERE length(term) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM nz GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM nz
        |  WHERE term IN ('spark', 'shuffle', 'join', 'window') GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * tf * (1.2 + 1.0) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
        |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), corpus),
        |sc AS (SELECT doc_id, sum(s) AS bm25 FROM s GROUP BY 1),
        |r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank, bm25
        |  FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, round(bm25, 6) AS bm25
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // Entropy rounded to 6 dp on both sides: the formula-vs-DuckDB-native
    // entropy() sums differ only in last-ulp float accumulation order.
    Q("q60_char_entropy",
      (s, dir) => TextStats.charEntropy(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .withColumn("entropy", round(col("entropy"), 6))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_chars,
        |  round(entropy(ch), 6) AS entropy
        |FROM (
        |  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
        |  FROM documents)
        |WHERE length(ch) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("q59_tfidf_top_terms",
      (s, dir) => TextStats.tfidfTopTerms(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text", k = 3)
        .withColumn("score", round(col("score"), 6))
        .orderBy("doc_id", "rank"),
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM w
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df_t FROM tf),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
        |s AS (
        |  SELECT doc_id, term,
        |    tf * (ln((n_docs + 1.0) / (df_t + 1.0)) + 1.0) AS score
        |  FROM d, n),
        |r AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rank
        |  FROM s)
        |SELECT doc_id, term, CAST(rank AS INT) AS rank, round(score, 6) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // ---- repetition & decontamination -------------------------------------
    Q("q52_repetition_metrics",
      (s, dir) => TextStats.repetitionMetrics(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id"),
      Some("""WITH l AS (
        |  SELECT doc_id, trim(UNNEST(string_split(text, chr(10)))) AS line
        |  FROM documents),
        |nl AS (SELECT doc_id, line FROM l WHERE length(line) > 0),
        |g AS (
        |  SELECT doc_id, line, count(*) AS cnt, length(line) AS len
        |  FROM nl GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_lines,
        |  CAST(count(*) AS BIGINT) AS distinct_lines,
        |  1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup_line_frac,
        |  CAST(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END) AS DOUBLE) /
        |    sum(cnt * len) AS dup_char_frac
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Transitive near-dup clustering: connected components over the (oracle-
    // proven) trigram-Jaccard pair list, checked against a DuckDB RECURSIVE
    // CTE computing min-reachable-id — an independent implementation of the
    // same closure.
    Q("q65_dedup_components",
      (s, dir) => Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, maxDocFreq = 20))
        .orderBy("id"),
      Some("""WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(words[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(words) - 2, 1))]) AS gram
        |    FROM w)),
        |pruned AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 20) ok
        |  USING (gram)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
        |prs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
        |  FROM pruned l JOIN pruned r USING (gram)
        |  WHERE l.doc_id < r.doc_id GROUP BY 1, 2),
        |jac AS (
        |  SELECT a, b FROM prs
        |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
        |    >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        |SELECT id, min(r) AS cc FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // Eval set = every 97th doc; self-pairs guarantee hits, planted near-dups
    // exercise the partial-containment path.
    Q("q53_contamination",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.ngramContamination(docs,
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text",
          n = 5, threshold = 0.5)
          .orderBy("train_id", "eval_id")
      },
      Some("""WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(words[i:i+4], ' ')
        |      for i in generate_series(1, greatest(len(words) - 4, 1))]) AS gram
        |    FROM w)),
        |e AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0),
        |esz AS (SELECT eval_id, count(*) AS eval_grams FROM e GROUP BY 1),
        |o AS (
        |  SELECT g.doc_id AS train_id, e.eval_id, count(*) AS overlap
        |  FROM g JOIN e USING (gram) GROUP BY 1, 2)
        |SELECT train_id, eval_id, CAST(overlap AS BIGINT) AS overlap,
        |  CAST(overlap AS DOUBLE) / eval_grams AS containment
        |FROM o JOIN esz USING (eval_id)
        |WHERE CAST(overlap AS DOUBLE) / eval_grams >= 0.5
        |ORDER BY train_id, eval_id""".stripMargin)),

    // ---- PII scrubbing -----------------------------------------------------
    // The fixture corpus has no PII, so both sides plant the same
    // deterministic contact block per doc, then the Spark side scrubs with
    // the library operator and the oracle applies the equivalent RE2 chain.
    Q("q54_scrub_pii",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextStats.scrubPII(concat(col("text"),
          lit(" Contact: user"), col("doc_id"), lit("@example.com or "),
          lit("https://example.com/u/"), col("doc_id"),
          lit(" or +1 555-000-"), format_string("%04d", col("doc_id"))))
          .as("clean_text"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' Contact: user' || doc_id || '@example.com or ' ||
        |          'https://example.com/u/' || doc_id || ' or +1 555-000-' ||
        |          format('{:04d}', doc_id),
        |        'https?://[^\s]+', '[URL]', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?[0-9][0-9\- ]{7,}[0-9]', '[PHONE]', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Seeded stratified sampling is engine-specific randomness -> rows-only;
    // PackingSpec asserts fraction accuracy and determinism.
    Q("q55_sample_mixture",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val strata = docs.select("source").distinct().collect()
          .map(_.getString(0)).sorted
        val fractions = strata.zipWithIndex
          .map { case (src, i) => src -> (0.2 + 0.15 * (i % 4)) }.toMap
        Packing.sampleMixture(docs, "source", fractions, seed = 7L)
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
          .orderBy("source")
      },
      None),

    // ---- sequence packing --------------------------------------------------
    // Greedy first-fit is stateful per partition — not SQL-expressible, so
    // rows-only; PackingSpec asserts the budget invariant and determinism.
    Q("q49_pack_sequences",
      (s, dir) => Packing.packSummary(
        Packing.packSequences(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", budget = 8192L), "n_chars")
        .orderBy("pack_id"),
      None),

    // ---- round 4: skipping on time, IN-lists, scoped OPTIMIZE, history ----
    // Automatic data skipping mined from a TIMESTAMP range condition: the
    // epoch-micros literals normalize into the stat domain, and over a
    // date-clustered table the one-year window provably skips most files
    // (DataSkippingSpec asserts the file count); the residual predicate
    // keeps the result hash-identical to the full scan.
    Q("q82_ts_skipping_readtable",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_bydate",
          t(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice"),
          sortBy = Seq("o_orderdate"))
        TableIO.readTable(s, lh, "orders_bydate", condition =
          "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND " +
            "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin)),

    // IN-list / OR-of-equalities mining: the disjunction flattens to one
    // point-lookup list over a bloom-indexed column — survivors are the
    // UNION of per-literal Eq survivor sets (min/max AND bloom bitsets
    // both consulted); the residual keeps the result exact.
    Q("q83_inlist_skipping",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_inlist",
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          sortBy = Seq("o_orderkey"), bloomFilterFor = Seq("o_custkey"))
        TableIO.readTable(s, lh, "orders_inlist",
          condition = "o_custkey IN (1, 5, 10) OR o_custkey = 19")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (1, 5, 10) OR o_custkey = 19
        |ORDER BY o_orderkey""".stripMargin)),

    // Partition-scoped OPTIMIZE (Delta's `OPTIMIZE ... WHERE`): only the
    // predicate's may-match files rewrite; everything else is inherited by
    // reference (FileLevelCommitSpec asserts untouched partitions keep
    // byte-identical paths). The read-back must equal the pre-compaction
    // table exactly.
    Q("q84_compact_where",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_cw",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionBy = Seq("o_orderstatus"))
        TableIO.compactTable(s, lh, "orders_cw",
          predicate = Some("o_orderstatus = 'F'"))
        TableIO.selectTable(s, lh, "orders_cw")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin)),

    // DESCRIBE HISTORY over a scripted commit sequence (write 1 file,
    // append 1 file, compact to 1 file): the version ledger's shape —
    // file counts and add/remove deltas — is deterministic once the file
    // counts are forced, so it hash-checks against a VALUES oracle
    // (timestamps and byte sizes are projected out).
    Q("q85_describe_history",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val part = t(s, dir, "part").select("p_partkey", "p_name", "p_retailprice")
        TableIO.dropTable(s, lh, "part_hist") // version numbering restarts
        TableIO.writeTable(s, lh, "part_hist", part.coalesce(1))
        TableIO.appendTable(s, lh, "part_hist",
          part.filter(col("p_partkey") <= 5).coalesce(1))
        TableIO.compactTable(s, lh, "part_hist")
        TableIO.describeHistory(s, lh, "part_hist")
          .select(col("version").cast("int").as("version"), col("operation"),
            col("n_files"), col("n_added"), col("n_removed"))
          .orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
        |  (1, 'WRITE', 1, 1, 0),
        |  (2, 'APPEND', 2, 1, 0),
        |  (3, 'OPTIMIZE', 1, 1, 2))
        |  AS t(version, operation, n_files, n_added, n_removed)
        |ORDER BY version""".stripMargin)),

    // RESTORE TO VERSION round trip: v1 = the part table, v2 = a mutated
    // overwrite, RESTORE 1 re-inherits v1's files metadata-only — the
    // read-back must hash-match the ORIGINAL table (proves the restored
    // manifest points at v1's untouched data files).
    Q("q86_restore_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val part = t(s, dir, "part")
        TableIO.dropTable(s, lh, "part_restore") // deterministic v1
        TableIO.writeTable(s, lh, "part_restore", part)
        TableIO.writeTable(s, lh, "part_restore",
          part.filter(col("p_partkey") % 2 === 0)
            .withColumn("p_retailprice", col("p_retailprice") * 2))
        TableIO.restoreTable(s, lh, "part_restore", 1L)
        TableIO.selectTable(s, lh, "part_restore").orderBy("p_partkey")
      },
      Some("SELECT * FROM part ORDER BY p_partkey")),

    // LSH ANN with exhaustive probing (every bucket visited ⇒ exact):
    // hash-matches the brute-force oracle (q34's SQL verbatim), verifying
    // the hyperplane bucketing, probe join, and ranking end-to-end — the
    // q67 pattern applied to LSH; the recall-spec'd multi-probe variant
    // (q35) stays rows-only.
    Q("q87_ann_lsh_exact",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10, numPlanes = 4, probeAll = true)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 4),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    list_sum(list_transform(list_zip(v.ve, q.qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM v, q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // Incremental materialized-view maintenance: snapshot a grouped
    // count+sum view, change the source (merge = updates + inserts, then
    // a delete), refresh by folding ONLY the change feed, and read the
    // view. The oracle recomputes the aggregate from the source's FINAL
    // state — hash-matching proves the O(changes) delta path lands exactly
    // where a full recompute would. DECIMAL keeps both sums exact.
    Q("q88_matview_refresh",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val orders = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        TableIO.dropTable(s, lh, "orders_mv_src") // deterministic history
        TableIO.dropTable(s, lh, "orders_mv")
        TableIO.writeTable(s, lh, "orders_mv_src",
          orders.filter(col("o_orderkey") % 2 === 0))
        TableIO.enableChangeFeed(s, lh, "orders_mv_src")
        MatView.createAggView(s, lh, "orders_mv", "orders_mv_src",
          Seq("o_custkey"), Seq("price"))
        TableIO.mergeTable(s, lh, "orders_mv_src",
          orders.filter(col("o_orderkey") % 3 === 0)
            .withColumn("price",
              (col("price") * 2).cast("decimal(18,2)")),
          Seq("o_orderkey"))
        TableIO.deleteFromTable(s, lh, "orders_mv_src", "o_orderkey % 5 = 0")
        MatView.refreshAggView(s, lh, "orders_mv")
        TableIO.selectTable(s, lh, "orders_mv")
          .select(col("o_custkey"), col("mv_count"),
            col("sum_price").cast("double").as("sum_price"))
          .orderBy("o_custkey")
      },
      Some("""WITH src AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT o_custkey, count(*) AS mv_count,
        |  CAST(sum(price) AS DOUBLE) AS sum_price
        |FROM src WHERE o_orderkey % 5 <> 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // SemDeDup semantic dedup, exact mode (nClusters=1 ⇒ the drop rule is
    // exhaustive: a vector dies iff ANY smaller-id vector is within the
    // cosine threshold) — the oracle replays that rule all-pairs. Planted
    // exact copies (id+100000) must all die; the clustered production
    // mode is spec-asserted (superset + copies-die invariants).
    Q("q89_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val copies = emb.filter(col("vec_id") % 100 === 0)
          .withColumn("vec_id", col("vec_id") + 100000)
        Dedup.semanticDedup(emb.unionByName(copies), "vec_id", "embedding",
          threshold = 0.95, nClusters = 1)
          .select("vec_id").orderBy("vec_id")
      },
      Some("""WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM base)
        |SELECT l.vec_id FROM v l WHERE NOT EXISTS (
        |  SELECT 1 FROM v r WHERE r.vec_id < l.vec_id AND
        |    list_sum(list_transform(list_zip(l.ve, r.ve), z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(l.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(r.ve, x -> x * x)))) >= 0.95)
        |ORDER BY vec_id""".stripMargin)),

    // Portable deterministic stratified sampling — the hash-verifiable
    // twin of q55 (whose engine-RNG membership is rows-only): membership
    // is sha-256(doc_id#seed) < fraction·2^60, recomputed identically by
    // the oracle. Fractions are multiples of 1/16 so both engines'
    // thresholds are bit-exact ((4+3·(rank%4))·2^56).
    Q("q90_portable_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val strata = docs.select("source").distinct().collect()
          .map(_.getString(0)).sorted
        val fractions = strata.zipWithIndex
          .map { case (src, i) => src -> (4 + 3 * (i % 4)) / 16.0 }.toMap
        Packing.portableSampleMixture(docs.select("doc_id", "source"),
          "doc_id", "source", fractions, seed = 7L)
          .orderBy("doc_id")
      },
      Some("""WITH ranked AS (
        |  SELECT source,
        |    (4 + 3 * ((row_number() OVER (ORDER BY source) - 1) % 4))
        |      * 72057594037927936 AS thr
        |  FROM (SELECT DISTINCT source FROM documents)),
        |h AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(('0x' || substring(sha256(CAST(d.doc_id AS VARCHAR)
        |      || '#' || '7'), 1, 15))::UBIGINT AS BIGINT) AS hv
        |  FROM documents d)
        |SELECT h.doc_id, h.source FROM h JOIN ranked USING (source)
        |WHERE h.hv < ranked.thr ORDER BY doc_id""".stripMargin)),

    // Incremental near-dup detection, portable twin of the q64 persisted-
    // index path: even docs are the published corpus, odds + planted
    // copies the incoming batch; a batch doc is a dup iff it shares any
    // minhash LSH band with the corpus. The oracle recomputes signatures,
    // banding, and the band join from scratch — hash-matching verifies
    // the whole incremental pipeline (copies MUST flag; identical sigs ⇒
    // identical bands).
    Q("q91_incremental_dedup_portable",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .unionByName(docs.filter(col("doc_id") % 100 === 0)
            .withColumn("doc_id", col("doc_id") + 200000))
        Dedup.portableIncrementalDups(corpus, batch, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH scope AS (
        |  SELECT doc_id, text, (doc_id % 2 = 0) AS in_corpus FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text, false FROM documents
        |  WHERE doc_id % 100 = 0),
        |g AS (
        |  SELECT doc_id, in_corpus,
        |    CAST(('0x' || substring(sha256(substring(text, CAST(p AS INT), 5)),
        |      1, 15))::UBIGINT AS BIGINT) % 2147483647 AS h
        |  FROM scope,
        |       unnest(generate_series(1, length(text) - 4)) AS t(p)
        |  WHERE length(text) >= 5),
        |sigs AS (
        |  SELECT doc_id, in_corpus, i.i AS sig_no,
        |    min(((2 * i.i + 1) * h + 1000003 * i.i) % 2147483647) AS sig
        |  FROM g, (SELECT unnest(range(16)) AS i) i
        |  GROUP BY doc_id, in_corpus, i.i),
        |bands AS (
        |  SELECT doc_id, in_corpus, sig_no // 4 AS band_no,
        |    string_agg(CAST(sig AS VARCHAR), '#' ORDER BY sig_no) AS bkey
        |  FROM sigs GROUP BY doc_id, in_corpus, sig_no // 4)
        |SELECT DISTINCT b.doc_id AS doc_id FROM bands b
        |JOIN bands c ON c.in_corpus AND NOT b.in_corpus
        |  AND b.band_no = c.band_no AND b.bkey = c.bkey
        |ORDER BY b.doc_id""".stripMargin)),

    // Real BPE (learned merges + rank-ordered encode): train 200 merges
    // on the corpus word-frequency dictionary, encode every document,
    // and hash-check the roundtrip invariant corpus-wide — concatenated
    // tokens must equal the normalized text for EVERY doc, which any
    // drop/duplicate/reorder bug in the merge loop or encoder breaks.
    // (BPE itself is not SQL-expressible; golden-vector merges and
    // encodings live in TokenizerSpec.)
    Q("q92_bpe_roundtrip",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val merges = Tokenizer.learnBpeMerges(docs, "text", numMerges = 200)
        Tokenizer.withBpeTokens(docs, "text", merges)
          .select(col("doc_id"),
            Tokenizer.roundtripOk(col("bpe_tokens"), col("text"))
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, true AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Min/max materialized view: inserts fold via least/greatest, and the
    // delete wave (every %5 orderkey) is guaranteed to remove some
    // groups' stored extrema — forcing the per-group rescan path — so a
    // hash-match against the full recompute verifies BOTH maintenance
    // strategies and the rescan trigger in one query.
    Q("q93_matview_minmax",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val orders = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        TableIO.dropTable(s, lh, "orders_mvx_src")
        TableIO.dropTable(s, lh, "orders_mvx")
        TableIO.writeTable(s, lh, "orders_mvx_src",
          orders.filter(col("o_orderkey") % 2 === 0))
        TableIO.enableChangeFeed(s, lh, "orders_mvx_src")
        MatView.createAggView(s, lh, "orders_mvx", "orders_mvx_src",
          Seq("o_custkey"), sumCols = Seq.empty,
          minCols = Seq("price"), maxCols = Seq("price"))
        TableIO.mergeTable(s, lh, "orders_mvx_src",
          orders.filter(col("o_orderkey") % 3 === 0)
            .withColumn("price", (col("price") * 2).cast("decimal(18,2)")),
          Seq("o_orderkey"))
        TableIO.deleteFromTable(s, lh, "orders_mvx_src", "o_orderkey % 5 = 0")
        MatView.refreshAggView(s, lh, "orders_mvx")
        TableIO.selectTable(s, lh, "orders_mvx")
          .select(col("o_custkey"), col("mv_count"),
            col("min_price").cast("double").as("min_price"),
            col("max_price").cast("double").as("max_price"))
          .orderBy("o_custkey")
      },
      Some("""WITH src AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT o_custkey, count(*) AS mv_count,
        |  CAST(min(price) AS DOUBLE) AS min_price,
        |  CAST(max(price) AS DOUBLE) AS max_price
        |FROM src WHERE o_orderkey % 5 <> 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // JSONL interchange: export a table snapshot as line-delimited JSON
    // (distributed, schema pinned separately) and read it back — the
    // hash-match against the original parquet proves bigint/double/
    // timestamp/varchar values survive the JSON round trip bit-exactly.
    Q("q94_jsonl_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val orders = t(s, dir, "orders")
        TableIO.dropTable(s, lh, "orders_export")
        TableIO.writeTable(s, lh, "orders_export",
          orders.filter(col("o_orderkey") % 4 === 0))
        val schema = TableIO.selectTable(s, lh, "orders_export").schema
        val out = TableIO.exportTableJsonl(s, lh, "orders_export")
        TableIO.importJsonl(s, out, schema).orderBy("o_orderkey")
      },
      Some("""SELECT * FROM orders WHERE o_orderkey % 4 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // The training-data pipeline END TO END in one verified query:
    // quality gate (q25's scoring) → language gate (q27's classifier) →
    // exact dedup on whitespace-normalized text (min-id survivor) →
    // deterministic 50% portable sample (q90's membership). Every stage
    // is individually hash-verified elsewhere; this chains them so stage
    // INTERACTIONS (filter order, null flow, survivor selection feeding
    // the sampler) are verified too. The oracle replays the whole
    // pipeline in SQL.
    Q("q95_pipeline_end_to_end",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "source", "text")
        val quality = TextStats.withQualityMetrics(docs, "text")
          .filter(col("quality_score") >= 0.5)
          .select("doc_id", "source", "text")
        val en = quality.filter(TextStats.langIdUdf(col("text")) === "en")
        val deduped = Dedup.exactDedup(
          en.withColumn("__norm",
            regexp_replace(lower(col("text")), "\\s+", " ")),
          Seq("__norm"), "doc_id")
        // strata from the RAW table (cheap column-distinct), not from
        // `deduped` — collecting at the end of the pipeline would execute
        // the whole UDF+shuffle chain twice (once for the driver collect,
        // again for the returned frame). Extra strata that end up empty
        // after filtering are harmless: their membership threshold simply
        // never matches. Same convention as q55/q90.
        val sources = docs.select("source").distinct().collect()
          .map(_.getString(0))
        Packing.portableSampleMixture(deduped.select("doc_id", "source"),
          "doc_id", "source", sources.map(_ -> 0.5).toMap, seed = 11L)
          .orderBy("doc_id")
      },
      Some("""WITH m AS (
        |  SELECT doc_id, source, text,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct_count,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |        'that','for','on','with','as','at','by','be','this','are'], w)))
        |      AS DOUBLE) AS stop_hits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, text, n_chars,
        |    CAST(n_chars AS DOUBLE) /
        |      (CASE WHEN n_tokens = 0 THEN 1.0 ELSE CAST(n_tokens AS DOUBLE) END) AS avg_token_len,
        |    CAST(punct_count AS DOUBLE) /
        |      (CASE WHEN n_chars = 0 THEN 1.0 ELSE CAST(n_chars AS DOUBLE) END) AS punct_ratio,
        |    stop_hits /
        |      (CASE WHEN n_tokens = 0 THEN 1.0 ELSE CAST(n_tokens AS DOUBLE) END) AS stopword_ratio
        |  FROM m),
        |quality AS (
        |  SELECT doc_id, source, text FROM r
        |  WHERE (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.25 ELSE 0.0 END)
        |      + least(stopword_ratio * 2.5, 0.25)
        |      + greatest(0.25 - punct_ratio * 2.5, 0.0)
        |      + (CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 12.0 THEN 0.25 ELSE 0.0 END)
        |      >= 0.5),
        |sc AS (
        |  SELECT doc_id, source, text,
        |    len(regexp_extract_all(text,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS cjk,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> list_contains(['der','die','das','und','ist','nicht','ein','eine',
        |        'zu','mit','von','auf','für','den','im','sich'], w))) AS s_de,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> list_contains(['the','and','of','to','in','is','it','that','for',
        |        'on','with','as','at','by','this','are'], w))) AS s_en,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> list_contains(['el','la','de','que','y','en','los','del','las',
        |        'un','una','por','con','para','es','no'], w))) AS s_es,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> list_contains(['le','la','les','de','des','et','en','un','une',
        |        'du','que','est','pour','dans','qui','pas'], w))) AS s_fr
        |  FROM quality),
        |lang AS (
        |  SELECT doc_id, source, text FROM sc
        |  WHERE NOT (text IS NULL OR length(text) = 0)
        |    AND cjk * 50 < length(text)
        |    AND greatest(s_de, s_en, s_es, s_fr) > 0
        |    AND s_en = greatest(s_de, s_en, s_es, s_fr)
        |    AND s_de < greatest(s_de, s_en, s_es, s_fr)),
        |dedup AS (
        |  SELECT doc_id, source FROM (
        |    SELECT doc_id, source, row_number() OVER (
        |      PARTITION BY regexp_replace(lower(text), '\s+', ' ', 'g')
        |      ORDER BY doc_id) AS rn
        |    FROM lang) t WHERE rn = 1)
        |SELECT doc_id, source FROM dedup
        |WHERE CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)
        |    || '#' || '11'), 1, 15))::UBIGINT AS BIGINT) < 576460752303423488
        |ORDER BY doc_id""".stripMargin)),

    // Ordered funnel (view → click → purchase): step k counts only
    // strictly after the user's earliest step-k-1 completion. One row
    // per user with the furthest step reached; the oracle replays the
    // chained min-after-previous-step logic.
    Q("q96_funnel",
      (s, dir) => EventWindows.funnel(ev(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      Some("""WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |  GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  CASE WHEN t3 IS NOT NULL THEN 3
        |       WHEN t2 IS NOT NULL THEN 2
        |       ELSE 1 END AS furthest_step
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin)),

    // ---- classic OLAP analytics (ext/Analytics) ----------------------------
    // ROLLUP subtotals in one pass; grouping_id disambiguates subtotal rows
    // from genuine NULL group values (same bit convention both engines).
    Q("q97_rollup_orders",
      (s, dir) => Analytics.rollupAgg(t(s, dir, "orders"),
          Seq("o_orderpriority", "o_orderstatus"), "o_totalprice")
        .orderBy(col("gid"), col("o_orderpriority"), col("o_orderstatus")),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        |  CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS INT) AS gid
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY gid, o_orderpriority NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin)),

    // Pivoted per-user event-type counts; the value list is explicit (an
    // implicit pivot would cost a distinct-scan and make the schema
    // data-dependent).
    Q("q98_pivot_events",
      (s, dir) => Analytics.pivotCounts(ev(s, dir), "user_id", "event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Weekly cohort retention (cohort = ISO week of first event; both
    // engines truncate weeks to Monday; DuckDB's date_trunc returns DATE so
    // the oracle casts back to TIMESTAMP to match Spark's schema).
    Q("q99_cohort_retention",
      (s, dir) => Analytics.cohortRetention(ev(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "week_offset"),
      Some("""WITH fs AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY user_id)
        |SELECT CAST(cw AS TIMESTAMP) AS cohort_week,
        |  CAST(date_diff('day', cw, date_trunc('week', e.ts)) // 7 AS INT)
        |    AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN fs USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Per-user sliding 1-hour mean of `value`: RANGE frame over epoch
    // micros (tie-safe, gap-safe). Exact decimal frame sum, then ONE
    // double/double division — bit-identical across engines.
    Q("q100_moving_average",
      (s, dir) => Analytics.movingAverage(ev(s, dir), "user_id", "ts",
          "value", windowMicros = 3600000000L)
        .select("event_id", "user_id", "avg_val")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / CAST(count(*) OVER w AS DOUBLE) AS avg_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // Exact heavy hitters (top-20 part keys by line count, deterministic
    // tie-break). The Misra-Gries candidate-pruned variant is spec-verified
    // equal to this on the same fixture (AnalyticsSpec).
    Q("q101_heavy_hitters",
      (s, dir) => Analytics.heavyHitters(t(s, dir, "lineitem"), "l_partkey", 20),
      Some("""SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 ORDER BY cnt DESC, l_partkey LIMIT 20""".stripMargin)),

    // ---- n-gram language model (ext/LangModel) -----------------------------
    // Bigram-LM junk scoring, integer-exact form: train the bigram set on
    // 80% of docs (doc_id % 5 != 0), score the held-out 20% by unseen-bigram
    // rate. The floating cross-entropy variant is spec-verified (log sums
    // aren't bit-portable across engines; counts are).
    Q("q102_bigram_surprise",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        LangModel.bigramSurprise(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |bg AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w AS w1,
        |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM tok) WHERE w2 IS NOT NULL),
        |model AS (SELECT DISTINCT w1, w2 FROM bg WHERE doc_id % 5 <> 0),
        |sc AS (
        |  SELECT bg.doc_id, m.w1 IS NOT NULL AS seen
        |  FROM bg LEFT JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        |  WHERE bg.doc_id % 5 = 0)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_unseen,
        |  CAST(sum(CASE WHEN seen THEN 0 ELSE 1 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS unseen_rate
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- shuffle-reduction joins -------------------------------------------
    // Bloom semi-join: the build side's key set rides a broadcast Bloom
    // filter that drops ~80% of fact rows BEFORE the shuffle; the real join
    // then removes false positives, so the result equals the plain join.
    Q("q103_bloom_semi_join",
      (s, dir) => Joins.bloomSemiJoin(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
          t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
            .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
          "l_orderkey", expectedKeys = 200000L)
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 400000.0
        |ORDER BY 1, 2""".stripMargin)),

    // Bucketed co-located join: both tables pre-hash-clustered on custkey
    // into the same bucket count, so join AND the keyed aggregation after
    // it plan with zero exchange (asserted in AnalyticsSpec with broadcast
    // disabled).
    Q("q104_bucketed_join",
      (s, dir) => {
        val db = bucketedDb(s, dir)
        Bucketing.table(s, db, "orders_b")
          .join(Bucketing.table(s, db, "customer_b"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Top-3 orders per priority by price; tie-break on orderkey makes the
    // top-N a total order (nondeterministic top-N is a silent-flake factory).
    Q("q105_topn_per_group",
      (s, dir) => Analytics.topNPerGroup(
          t(s, dir, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
          Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
        .orderBy("o_orderpriority", "rn"),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders QUALIFY rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin)),

    // Fixed-width price histogram: integer bin ids from floor division,
    // no float bin-edge comparisons to disagree on.
    Q("q106_histogram",
      (s, dir) => Analytics.histogram(t(s, dir, "orders"), "o_totalprice", 25000.0)
        .orderBy("bin"),
      Some("""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
        |  count(*) AS cnt,
        |  CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT)
        |    * 25000.0 AS DOUBLE) AS bin_lo
        |FROM orders WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Hourly forward-filled resampling per user, verified against DuckDB's
    // native ASOF LEFT JOIN (same-instant events pre-reduced with max so
    // both engines pick the same row).
    Q("q107_resample_ffill",
      (s, dir) => Analytics.resampleFFill(ev(s, dir), "user_id", "ts",
          "value", "1 HOUR")
        .orderBy("user_id", "ts"),
      Some("""WITH dedup AS (
        |  SELECT user_id, ts, max(value) AS value FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(date_trunc('hour', min(ts)),
        |    max(ts), INTERVAL 1 HOUR)) AS ts
        |  FROM events GROUP BY user_id)
        |SELECT g.user_id, g.ts, e.value AS value_asof
        |FROM grid g ASOF LEFT JOIN dedup e
        |  ON g.user_id = e.user_id AND e.ts <= g.ts
        |ORDER BY 1, 2""".stripMargin)),

    // Daily revenue with period-over-period change; the lag window runs
    // over one row per day (post-aggregation), not over raw orders.
    Q("q108_period_over_period",
      (s, dir) => Analytics.periodOverPeriod(t(s, dir, "orders"),
          "o_orderdate", "o_totalprice", "day")
        .orderBy("period"),
      Some("""WITH agg AS (
        |  SELECT date_trunc('day', o_orderdate) AS p,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1)
        |SELECT CAST(p AS TIMESTAMP) AS period, total,
        |  lag(total) OVER (ORDER BY p) AS prev_total,
        |  CASE WHEN lag(total) OVER (ORDER BY p) <> 0 THEN
        |    (total - lag(total) OVER (ORDER BY p))
        |      / lag(total) OVER (ORDER BY p) END AS pct_change
        |FROM agg ORDER BY period""".stripMargin)),

    // Decile stats over order price (ntile is SQL-standard: equal-count
    // buckets, remainder to the earlier buckets — identical both engines).
    Q("q109_ntile_deciles",
      (s, dir) => Analytics.ntileStats(t(s, dir, "orders"),
          "o_totalprice", "o_orderkey", 10)
        .orderBy("bucket"),
      Some("""WITH t AS (
        |  SELECT o_totalprice, CAST(ntile(10) OVER (
        |    ORDER BY o_totalprice, o_orderkey) AS INT) AS bucket
        |  FROM orders)
        |SELECT bucket, count(*) AS cnt, min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cumulative distinct users as a prefix sum of per-period first-seen
    // counts — running-distinct semantics with NO running-distinct state.
    Q("q110_running_distinct",
      (s, dir) => Analytics.runningDistinct(ev(s, dir), "user_id", "ts", "day")
        .orderBy("period"),
      Some("""WITH f AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS p
        |  FROM events GROUP BY 1),
        |g AS (SELECT p, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT CAST(p AS TIMESTAMP) AS period, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_users
        |FROM g ORDER BY period""".stripMargin)),

    // Hash-verifiable z-scores: exact decimal moments (Σx, Σx² as
    // decimal×decimal — never a double product cast to decimal), then
    // identical IEEE op order both engines.
    Q("q111_anomaly_zscore",
      (s, dir) => Analytics.anomalyZScore(ev(s, dir), "user_id", "ts",
          "value", windowMicros = 3600000000L, minN = 5)
        .select("event_id", "user_id", "z")
        .orderBy("event_id"),
      Some("""WITH t AS (
        |  SELECT event_id, user_id, value,
        |    count(value) OVER w AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))
        |      * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CASE WHEN n >= 5 AND (s2 - s1 * s1 / n) / n > 0
        |    THEN (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / n) END AS z
        |FROM t ORDER BY event_id""".stripMargin)),

    // Keyed snapshot reconciliation: the after-image drops every 7th order
    // and bumps every remaining 5th order's price; the diff must classify
    // exactly those as removed/changed and nothing else.
    Q("q112_table_diff",
      (s, dir) => {
        val before = t(s, dir, "orders")
        val after = before.filter(col("o_orderkey") % 7 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 100.0)
              .otherwise(col("o_totalprice")))
        Quality.diffSnapshots(before, after, Seq("o_orderkey"))
          .filter(col("change_type") =!= "unchanged")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'removed'
        |       ELSE 'changed' END AS change_type
        |FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // dbt-style expectation report: all row-local checks share one
    // scan-and-aggregate; unique adds a groupBy, the FK an anti-join.
    Q("q113_expectations",
      (s, dir) => Quality.expectations(t(s, dir, "orders"), Seq(
          Quality.NotNull("o_custkey"),
          Quality.InRange("o_totalprice", 0.0, 1000000.0),
          Quality.AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
          Quality.Unique(Seq("o_orderkey")),
          Quality.ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
        .orderBy("check"),
      Some("""SELECT 'not_null:o_custkey' AS "check",
        |  count(*) FILTER (o_custkey IS NULL) AS violations FROM orders
        |UNION ALL SELECT 'in_range:o_totalprice',
        |  count(*) FILTER (o_totalprice IS NOT NULL
        |    AND (o_totalprice < 0 OR o_totalprice > 1000000)) FROM orders
        |UNION ALL SELECT 'accepted_values:o_orderstatus',
        |  count(*) FILTER (o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('O', 'F', 'P')) FROM orders
        |UNION ALL SELECT 'unique:o_orderkey',
        |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM (
        |    SELECT count(*) AS n FROM orders GROUP BY o_orderkey
        |    HAVING count(*) > 1)
        |UNION ALL SELECT 'foreign_key:o_custkey',
        |  count(*) FROM orders o WHERE o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)
        |ORDER BY "check"""".stripMargin)),

    // Next-event transition matrix; the event_id tie-break makes lead()
    // deterministic under same-instant events, and p is one division of
    // exact counts.
    Q("q114_markov_transitions",
      (s, dir) => Analytics.markovTransitions(ev(s, dir), "user_id", "ts",
          "event_id", "event_type")
        .orderBy("from_type", "to_type"),
      Some("""WITH nx AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS cnt FROM nx
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |  CAST(cnt AS DOUBLE)
        |    / CAST(sum(cnt) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // Welch's t-test between even/odd user arms per event type — the
    // z-score portability pattern (exact decimal moments, fixed IEEE op
    // order) applied to experiment readouts.
    Q("q115_ab_welch",
      (s, dir) => Analytics.welchTTest(
          ev(s, dir).withColumn("arm", (col("user_id") % 2).cast("int")),
          Seq("event_type"), "arm", "value")
        .orderBy("event_type"),
      Some("""WITH t AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
        |    value FROM events),
        |a AS (
        |  SELECT event_type,
        |    count(CASE WHEN arm = 0 AND value IS NOT NULL THEN 1 END) AS n_a,
        |    count(CASE WHEN arm = 1 AND value IS NOT NULL THEN 1 END) AS n_b,
        |    CAST(CAST(sum(CASE WHEN arm = 0
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
        |      AS DOUBLE) AS s1a,
        |    CAST(CAST(sum(CASE WHEN arm = 0 THEN CAST(value AS DECIMAL(18,6))
        |      * CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
        |      AS DOUBLE) AS s2a,
        |    CAST(CAST(sum(CASE WHEN arm = 1
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
        |      AS DOUBLE) AS s1b,
        |    CAST(CAST(sum(CASE WHEN arm = 1 THEN CAST(value AS DECIMAL(18,6))
        |      * CAST(value AS DECIMAL(18,6)) END) AS VARCHAR)
        |      AS DOUBLE) AS s2b
        |  FROM t GROUP BY event_type)
        |SELECT event_type, n_a, n_b,
        |  s1a / n_a AS mean_a, s1b / n_b AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND
        |    ((s2a - s1a * s1a / n_a) / (n_a - 1.0)) / n_a
        |      + ((s2b - s1b * s1b / n_b) / (n_b - 1.0)) / n_b > 0
        |  THEN (s1a / n_a - s1b / n_b)
        |    / sqrt(((s2a - s1a * s1a / n_a) / (n_a - 1.0)) / n_a
        |      + ((s2b - s1b * s1b / n_b) / (n_b - 1.0)) / n_b) END AS t_stat
        |FROM a ORDER BY event_type""".stripMargin)),

    // Interval overlap join via bin replication + canonical-bin dedup — a
    // hash-joinable plan for the "overlapping processing windows" shape
    // (DuckDB's oracle plans the same predicate as an IEJoin).
    Q("q116_interval_overlap",
      (s, dir) => {
        def iv(filterMod: Int) = t(s, dir, "orders")
          .filter(col("o_orderkey") % 100 === filterMod)
          .select(col("o_orderpriority"), col("o_orderkey"),
            col("o_orderdate").as("start_ts"),
            expr("timestampadd(DAY, CAST((o_orderkey % 5 + 1) * 7 AS INT), o_orderdate)")
              .as("end_ts"))
        TemporalJoins.intervalOverlapJoin(iv(0), iv(1),
            Seq("o_orderpriority"), "start_ts", "end_ts",
            binMicros = 14L * 24 * 3600 * 1000000)
          .orderBy("o_orderkey", "o_orderkey_r")
      },
      Some("""WITH l AS (
        |  SELECT o_orderpriority, o_orderkey, o_orderdate AS start_ts,
        |    o_orderdate + (o_orderkey % 5 + 1) * 7 * INTERVAL 1 DAY AS end_ts
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |r AS (
        |  SELECT o_orderpriority, o_orderkey, o_orderdate AS start_ts,
        |    o_orderdate + (o_orderkey % 5 + 1) * 7 * INTERVAL 1 DAY AS end_ts
        |  FROM orders WHERE o_orderkey % 100 = 1)
        |SELECT l.o_orderpriority, l.o_orderkey, l.start_ts, l.end_ts,
        |  r.o_orderkey AS o_orderkey_r, r.start_ts AS start_ts_r,
        |  r.end_ts AS end_ts_r
        |FROM l JOIN r ON l.o_orderpriority = r.o_orderpriority
        |  AND l.start_ts <= r.end_ts AND r.start_ts <= l.end_ts
        |ORDER BY l.o_orderkey, r.o_orderkey""".stripMargin)),

    // Pearson r + OLS fit of extendedprice on quantity per return flag —
    // exact decimal cross-moments and fixed IEEE op order make corr/regr
    // hash-verifiable (the native float forms are partition-order-
    // dependent and would flake).
    Q("q117_corr_regression",
      (s, dir) => Analytics.corrRegression(t(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      Some("""WITH a AS (
        |  SELECT l_returnflag,
        |    count(CASE WHEN l_quantity IS NOT NULL
        |      AND l_extendedprice IS NOT NULL THEN 1 END) AS n,
    -- decimal sums cross to double VIA VARCHAR: DuckDB's direct
    -- decimal->double cast is off by 1 ULP for some mantissas, while
    -- string->double (strtod) and Spark's Decimal.toDouble both round
    -- correctly
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,6))) AS VARCHAR)
        |      AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR)
        |      AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
        |      * CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR)
        |      AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
        |      * CAST(l_quantity AS DECIMAL(19,6))) AS VARCHAR)
        |      AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))
        |      * CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR)
        |      AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CASE WHEN n >= 2 AND sxx - sx * sx / n > 0 AND syy - sy * sy / n > 0
        |    THEN (sxy - sx * sy / n)
        |      / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) END AS r,
        |  CASE WHEN n >= 2 AND sxx - sx * sx / n > 0
        |    THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) END AS slope,
        |  CASE WHEN n >= 2 AND sxx - sx * sx / n > 0
        |    THEN sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
        |      * (sx / n) END AS intercept
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    // Shallow CLONE end-to-end: zero-copy clone (the commit references the
    // source's files by absolute path — O(metadata) at any scale), then a
    // file-level DELETE diverges the clone while untouched files stay
    // foreign references. The oracle replays the visible semantics; the
    // zero-copy/no-rewrite mechanics are asserted in CloneSpec.
    Q("q118_shallow_clone",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val part = t(s, dir, "part")
        TableIO.dropTable(s, lh, "clone_src")
        TableIO.dropTable(s, lh, "clone_dst")
        TableIO.writeTable(s, lh, "clone_src", part)
        TableIO.cloneTable(s, lh, "clone_src", "clone_dst")
        TableIO.deleteFromTable(s, lh, "clone_dst", "p_size > 40")
        TableIO.selectTable(s, lh, "clone_dst").orderBy("p_partkey")
      },
      Some("SELECT * FROM part WHERE p_size <= 40 ORDER BY p_partkey")),

    // CUBE: all four grouping sets of (priority, status) in one pass.
    Q("q119_cube_orders",
      (s, dir) => Analytics.cubeAgg(t(s, dir, "orders"),
          Seq("o_orderpriority", "o_orderstatus"), "o_totalprice")
        .orderBy(col("gid"), col("o_orderpriority"), col("o_orderstatus")),
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        |  CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS INT) AS gid
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY gid, o_orderpriority NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin)),

    // Last-touch attribution: each purchase credited to the user's most
    // recent prior non-purchase event (carried by one ignore-nulls window,
    // no self-join). First purchases attribute to null on both engines.
    Q("q120_attribution",
      (s, dir) => EventWindows.lastTouchAttribution(ev(s, dir),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .orderBy("event_id"),
      Some("""WITH e AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch_id,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch_type
        |  FROM events)
        |SELECT user_id, event_id, ts, touch_id, touch_type, value
        |FROM e WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    // Per-document OOV rate vs the corpus top-16 vocabulary (count desc,
    // token asc tie-break): frequency table via partial agg, top-k of the
    // tiny distinct-token frame, broadcast membership join — the token
    // stream itself is never shuffled.
    Q("q121_oov_rate",
      (s, dir) => TextStats.oovRate(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", vocabSize = 16)
        .orderBy("doc_id"),
      Some("""WITH tok AS (
        |  SELECT doc_id, t.tok AS w
        |  FROM documents, unnest(string_split_regex(text, '\s+')) AS t(tok)
        |  WHERE t.tok <> ''),
        |vocab AS (
        |  SELECT w, true AS in_vocab FROM tok GROUP BY w
        |  ORDER BY count(*) DESC, w LIMIT 16)
        |SELECT doc_id, count(*) AS total_tokens,
        |  CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oov_tokens,
        |  CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS oov_rate
        |FROM tok LEFT JOIN vocab USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Perceptual image dedup over REAL decoded pixels: every class of
    // identical-pixel images is split across PNG and BMP containers, so
    // byte-level (sha-256) dedup finds nothing — the dHash pairs are
    // exactly the same-class pairs, which the oracle can enumerate from
    // the fixture construction. Exercises decode → integer luminance →
    // 9×8 area-average → gradient hash → hash-bucket self-join.
    Q("q122_image_dup_pairs",
      (s, dir) => {
        val imgs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 5 === 0)
          .withColumn("cls", expr("(doc_id div 5) % 25"))
          .withColumn("w", expr("CAST((cls % 5) * 13 + 8 AS INT)"))
          .withColumn("h", expr("CAST((cls div 5) * 11 + 8 AS INT)"))
          .withColumn("fmt",
            when(expr("(doc_id div 5) % 2 = 0"), "png").otherwise("bmp"))
          .withColumn("payload",
            Multimodal.syntheticImageUdf(col("w"), col("h"), col("fmt")))
        Multimodal.imageDupPairs(imgs, "doc_id", "payload")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, (doc_id // 5) % 25 AS cls
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM d a JOIN d b ON a.cls = b.cls AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin)),

    // Type-2 slowly-changing dimension from the change feed: a scripted
    // history (empty shell v1, CDF on v2, initial load v3, merge-update
    // v4, delete v5) becomes validity intervals in O(changes). The oracle
    // reconstructs the exact interval set from the same script — open
    // intervals (null valid_to) for current rows, the update closing the
    // old row at v4, the delete closing at v5.
    Q("q123_scd2_dimension",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        TableIO.dropTable(s, lh, "cust_scd") // deterministic versions
        TableIO.writeTable(s, lh, "cust_scd", cust.limit(0)) // v1
        TableIO.enableChangeFeed(s, lh, "cust_scd")          // v2
        TableIO.appendTable(s, lh, "cust_scd", cust)         // v3
        TableIO.mergeTable(s, lh, "cust_scd",                // v4
          cust.filter(col("c_custkey") % 4 === 0)
            .withColumn("c_acctbal", col("c_acctbal") + 100),
          Seq("c_custkey"))
        TableIO.deleteFromTable(s, lh, "cust_scd", "c_custkey % 10 = 0") // v5
        Scd2.fromChangeFeed(
          TableIO.readChangeFeed(s, lh, "cust_scd", 2L), Seq("c_custkey"))
          .orderBy("c_custkey", "valid_from")
      },
      Some("""WITH c AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |r AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal, 3 AS valid_from,
        |    CASE WHEN c_custkey % 4 = 0 THEN 4
        |         WHEN c_custkey % 10 = 0 THEN 5 END AS valid_to
        |  FROM c
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal + 100, 4,
        |    CASE WHEN c_custkey % 10 = 0 THEN 5 END
        |  FROM c WHERE c_custkey % 4 = 0)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(valid_from AS BIGINT) AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM r ORDER BY c_custkey, valid_from""".stripMargin)),

    // Column mapping end-to-end: rename + drop are metadata-only commits
    // (CloneSpec-style zero-rewrite asserted in ColumnMappingSpec); a
    // post-rename append writes the physical name so one read spans old
    // and new files. The oracle replays the visible schema surgery.
    Q("q124_rename_drop_columns",
      (s, dir) => {
        import s.implicits._
        val lh = rtLakehouse(s, dir)
        val sup = t(s, dir, "supplier")
        TableIO.dropTable(s, lh, "supp_cm")
        TableIO.writeTable(s, lh, "supp_cm", sup)
        TableIO.renameColumn(s, lh, "supp_cm", "s_acctbal", "balance")
        TableIO.dropColumn(s, lh, "supp_cm", "s_nationkey")
        TableIO.appendTable(s, lh, "supp_cm",
          Seq((-1L, "zzz", 0.0)).toDF("s_suppkey", "s_name", "balance"))
        TableIO.selectTable(s, lh, "supp_cm").orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, s_acctbal AS balance FROM supplier
        |UNION ALL SELECT -1, 'zzz', 0.0
        |ORDER BY s_suppkey""".stripMargin)),

    // Row-level sessionization: explicit per-user session sequence numbers
    // (30-minute gap), every event kept — the label downstream per-session
    // feature pipelines join on.
    Q("q125_sessionize",
      (s, dir) => Analytics.sessionize(ev(s, dir)
            .select("event_id", "user_id", "ts"),
          "user_id", "ts", "event_id", gapSeconds = 1800L)
        .orderBy("event_id"),
      Some("""WITH s AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, ts,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM s ORDER BY event_id""".stripMargin)),

    // Fixed-point PageRank (integer 1e-12 rank units, floor divisions)
    // over the undirected part–supplier co-occurrence graph: bit-identical
    // across engines where float PageRank is partition-order-dependent.
    // Vertex ids namespace the bipartite sides as 2·part / 2·supp+1.
    Q("q126_pagerank",
      (s, dir) => Graph.pageRankFixedPoint(
          t(s, dir, "lineitem").selectExpr(
            "l_partkey * 2 AS src", "l_suppkey * 2 + 1 AS dst").distinct(),
          "src", "dst", iterations = 3)
        .orderBy("v"),
      Some("""WITH e0 AS (
        |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src AS v, count(*) AS deg FROM e GROUP BY src),
        |n AS (SELECT count(*) AS c FROM deg),
        |r0 AS (SELECT v, 1000000000000 // (SELECT c FROM n) AS r FROM deg),
        |r1 AS (
        |  SELECT d.v, (15 * 1000000000000) // (100 * (SELECT c FROM n))
        |    + (85 * coalesce(i.in_u, 0)) // 100 AS r
        |  FROM deg d LEFT JOIN (
        |    SELECT e.dst AS v, CAST(sum(r0.r // deg.deg) AS BIGINT) AS in_u
        |    FROM e JOIN r0 ON e.src = r0.v JOIN deg ON e.src = deg.v
        |    GROUP BY e.dst) i ON d.v = i.v),
        |r2 AS (
        |  SELECT d.v, (15 * 1000000000000) // (100 * (SELECT c FROM n))
        |    + (85 * coalesce(i.in_u, 0)) // 100 AS r
        |  FROM deg d LEFT JOIN (
        |    SELECT e.dst AS v, CAST(sum(r1.r // deg.deg) AS BIGINT) AS in_u
        |    FROM e JOIN r1 ON e.src = r1.v JOIN deg ON e.src = deg.v
        |    GROUP BY e.dst) i ON d.v = i.v),
        |r3 AS (
        |  SELECT d.v, (15 * 1000000000000) // (100 * (SELECT c FROM n))
        |    + (85 * coalesce(i.in_u, 0)) // 100 AS r
        |  FROM deg d LEFT JOIN (
        |    SELECT e.dst AS v, CAST(sum(r2.r // deg.deg) AS BIGINT) AS in_u
        |    FROM e JOIN r2 ON e.src = r2.v JOIN deg ON e.src = deg.v
        |    GROUP BY e.dst) i ON d.v = i.v)
        |SELECT v, CAST(r AS BIGINT) AS rank_units,
        |  CAST(r AS DOUBLE) / 1000000000000 AS rank
        |FROM r3 ORDER BY v""".stripMargin)),

    // Fuzzy decontamination: train docs MinHash-band-colliding with any
    // eval doc are dropped (catches near-verbatim contamination q53's
    // exact containment misses). Eval band index broadcast; train side
    // scanned once. The oracle recomputes signatures, banding, and the
    // anti-join from scratch.
    Q("q127_fuzzy_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        Dedup.fuzzyDecontaminate(
            docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text")
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(sha256(substring(text, CAST(p AS INT), 5)),
        |      1, 15))::UBIGINT AS BIGINT) % 2147483647 AS h
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 4)) AS t(p)
        |  WHERE length(text) >= 5),
        |sigs AS (
        |  SELECT doc_id, i.i AS sig_no,
        |    min(((2 * i.i + 1) * h + 1000003 * i.i) % 2147483647) AS sig
        |  FROM g, (SELECT unnest(range(16)) AS i) i
        |  GROUP BY doc_id, i.i),
        |bands AS (
        |  SELECT doc_id, sig_no // 4 AS band_no,
        |    string_agg(CAST(sig AS VARCHAR), '#' ORDER BY sig_no) AS bkey
        |  FROM sigs GROUP BY doc_id, sig_no // 4),
        |flagged AS (
        |  SELECT DISTINCT t.doc_id FROM bands t
        |  JOIN bands e ON e.doc_id % 50 = 0 AND t.doc_id % 50 <> 0
        |    AND t.band_no = e.band_no AND t.bkey = e.bkey)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 50 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
        |ORDER BY d.doc_id""".stripMargin)),

    // Native mergeable top-k aggregate (TypedImperativeAggregate carrying
    // a bounded min-heap through partial aggregation): k values per
    // partition per group cross the exchange instead of every row — the
    // window-rank oracle ranks all rows and must agree value-for-value.
    Q("q128_native_topk_agg",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(graft.lakehouse.functions.VectorFunctions
          .graft_topk(col("o_totalprice"), 5).as("top"))
        .select(col("o_orderstatus"),
          posexplode(col("top")).as(Seq("rank0", "price")))
        .selectExpr("o_orderstatus", "CAST(rank0 + 1 AS INT) AS rank", "price")
        .orderBy("o_orderstatus", "rank"),
      Some("""SELECT o_orderstatus, CAST(rn AS INT) AS rank,
        |  o_totalprice AS price
        |FROM (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC) AS rn
        |  FROM orders)
        |WHERE rn <= 5 ORDER BY o_orderstatus, rank""".stripMargin)),

    // Partition evolution end-to-end: unpartitioned history + evolved
    // layout appends coexist in one table; the scan unions the layout
    // generations and the filter answer is exact. The metadata-only /
    // old-files-untouched mechanics are asserted in PartitionEvolutionSpec.
    Q("q129_partition_evolution",
      (s, dir) => {
        import s.implicits._
        val lh = rtLakehouse(s, dir)
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        TableIO.dropTable(s, lh, "orders_pevo")
        TableIO.writeTable(s, lh, "orders_pevo", orders)
        TableIO.evolvePartitioning(s, lh, "orders_pevo", Seq("o_orderstatus"))
        TableIO.appendTable(s, lh, "orders_pevo",
          Seq((-1L, "F", 1.0), (-2L, "O", 2.0)).toDF(
            "o_orderkey", "o_orderstatus", "o_totalprice"))
        TableIO.readTable(s, lh, "orders_pevo",
          condition = "o_orderstatus = 'F'").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL SELECT -1, 'F', 1.0
        |ORDER BY o_orderkey""".stripMargin)),

    // Deletion vectors: two row-level DELETEs that rewrite ZERO data files
    // (deleted positions live in sidecars; scans subtract them), then a
    // compaction that materializes the vectors — the read must equal plain
    // SQL deletes at every step. NULL conditions keep their rows.
    Q("q130_deletion_vectors",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_dv")
        TableIO.writeTable(s, lh, "orders_dv",
          t(s, dir, "orders").select("o_orderkey", "o_custkey",
            "o_orderstatus", "o_totalprice"))
        TableIO.deleteFromTable(s, lh, "orders_dv",
          "o_orderstatus = 'F' AND o_totalprice < 100000.0",
          deletionVectors = true)
        TableIO.deleteFromTable(s, lh, "orders_dv",
          "o_totalprice > 400000.0", deletionVectors = true)
        TableIO.compactTable(s, lh, "orders_dv")
        TableIO.selectTable(s, lh, "orders_dv").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
        |  AND NOT (o_totalprice > 400000.0)
        |ORDER BY o_orderkey""".stripMargin)),

    // Full conditional MERGE INTO (every Delta clause family in one
    // statement, first-match clause order): the oracle replays the exact
    // cascade arithmetically — matched+cheap updates, matched+expensive
    // deletes, unmatched sources insert, 'P'-status rows unmatched by
    // source are purged.
    Q("q131_merge_into",
      (s, dir) => {
        import s.implicits._
        import TableIO.MergeClause._
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_cm")
        TableIO.writeTable(s, lh, "orders_cm",
          t(s, dir, "orders").select("o_orderkey", "o_custkey",
            "o_orderstatus", "o_totalprice"))
        val src = t(s, dir, "orders")
          .filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") * 1.1).as("new_price"))
          .unionByName(Seq((-5L, 123.45)).toDF("o_orderkey", "new_price"))
        TableIO.mergeInto(s, lh, "orders_cm", src, Seq("o_orderkey"), Seq(
          MatchedUpdate(Map("o_totalprice" -> "s.new_price"),
            condition = Some("t.o_totalprice < 100000")),
          MatchedDelete(condition = Some("t.o_totalprice > 400000")),
          NotMatchedInsert(values = Some(Map(
            "o_orderkey" -> "s.o_orderkey", "o_custkey" -> "-1",
            "o_orderstatus" -> "'N'", "o_totalprice" -> "s.new_price"))),
          NotMatchedBySourceDelete(
            condition = Some("t.o_orderstatus = 'P'"))))
        TableIO.selectTable(s, lh, "orders_cm").orderBy("o_orderkey")
      },
      Some("""WITH src AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS new_price
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL SELECT -5, 123.45),
        |t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |      FROM orders),
        |j AS (
        |  SELECT t.*, s.new_price, s.o_orderkey IS NOT NULL AS m
        |  FROM t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey)
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN m AND o_totalprice < 100000 THEN new_price
        |       ELSE o_totalprice END AS o_totalprice
        |FROM j
        |WHERE NOT (m AND NOT (o_totalprice < 100000)
        |           AND o_totalprice > 400000)
        |  AND NOT (NOT m AND o_orderstatus = 'P')
        |UNION ALL
        |SELECT s.o_orderkey, -1, 'N', s.new_price
        |FROM src s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
        |WHERE t.o_orderkey IS NULL
        |ORDER BY o_orderkey""".stripMargin)),

    // Exact Jaccard similarity join via prefix filtering (AllPairs/PPJoin):
    // the DuckDB oracle brute-forces ALL token-sharing pairs — so it
    // verifies both the exact Jaccard arithmetic AND that the rarest-first
    // prefix candidate generation missed no qualifying pair. Injected
    // copies guarantee jaccard-1.0 pairs exist.
    Q("q132_prefix_jaccard_join",
      (s, dir) => {
        // 1-in-2 subset at threshold 0.95: the synthetic corpus is
        // template-generated, so MOST doc pairs are true near-dups — the
        // exact answer itself is quadratic in cluster size and no exact
        // algorithm can beat its own output size (at 1-in-5/0.8 the
        // answer was 144k pairs from 1.1k docs — 25% of ALL pairs). The
        // tight threshold keeps the RESULT bounded (near-identical sets
        // only) while the half-corpus input keeps the measured work
        // algorithmic on both engines — at the old 1-in-10 subset the
        // whole query fit inside Spark's per-job scheduling floor and the
        // bench compared overhead, not plans; the operator is unchanged.
        val docs = t(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0)
        val copies = docs.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
        Dedup.prefixFilterJaccardPairs(docs.unionByName(copies),
          "doc_id", "text", threshold = 0.95).orderBy("a", "b")
      },
      Some("""WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |d AS (
        |  SELECT doc_id, text FROM d0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM d0 WHERE doc_id % 20 = 0),
        |w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM d),
        |tok AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(words) AS w FROM w)
        |  WHERE w <> ''),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
        |  FROM tok l JOIN tok r USING (w)
        |  WHERE l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
        |    AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = a
        |JOIN sizes sb ON sb.doc_id = b
        |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
        |      >= 0.95
        |ORDER BY a, b""".stripMargin)),

    // File-level UPDATE WHERE (Delta UPDATE): only files holding matching
    // rows rewrite, SET expressions reference the row's own columns, NULL
    // conditions leave their rows alone.
    Q("q133_update_where",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_upd")
        TableIO.writeTable(s, lh, "orders_upd",
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus",
            "o_totalprice"))
        TableIO.updateTable(s, lh, "orders_upd",
          "o_orderstatus = 'F' AND o_totalprice < 50000.0",
          Map("o_totalprice" -> "o_totalprice * 2",
            "o_orderstatus" -> "'U'"))
        TableIO.selectTable(s, lh, "orders_upd").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' AND o_totalprice < 50000.0
        |       THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderstatus = 'F' AND o_totalprice < 50000.0
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Deterministic per-group bottom-k sampling: membership = the k
    // smallest sha-256(id#seed) per group — a pure function of (id, seed),
    // so DuckDB recomputes the identical sample (reservoir sampling could
    // never be cross-checked like this).
    Q("q134_sample_per_group",
      (s, dir) => Packing.samplePerGroup(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "lang", k = 25, seed = 11L)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || '11'),
        |               doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 25 ORDER BY doc_id""".stripMargin)),

    // CONVERT in place: a raw parquet directory (written OUTSIDE the
    // protocol) is adopted without rewriting a byte, gains per-file stats,
    // and the follow-up append is a file-level commit — the read equals
    // the original data plus the appended row.
    Q("q135_convert_in_place",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        import s.implicits._
        TableIO.dropTable(s, lh, "orders_conv")
        t(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .repartition(4)
          .write.parquet(Catalog.tablePath(lh, "orders_conv"))
        TableIO.convertToVersioned(s, lh, "orders_conv")
        TableIO.appendTable(s, lh, "orders_conv",
          Seq((-1L, 42.0)).toDF("o_orderkey", "o_totalprice"))
        TableIO.selectTable(s, lh, "orders_conv").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |UNION ALL SELECT -1, 42.0
        |ORDER BY o_orderkey""".stripMargin)),

    // CDC apply: a replica pinned at the snapshot version catches up to
    // the source by replaying its row-level change feed (net effect per
    // key, one atomic commit) — the replica must equal the source's final
    // state, which the oracle recomputes arithmetically.
    Q("q136_cdc_apply",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        import s.implicits._
        val base = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        TableIO.dropTable(s, lh, "orders_cdcs")
        TableIO.dropTable(s, lh, "orders_cdcr")
        TableIO.writeTable(s, lh, "orders_cdcs", base)
        TableIO.enableChangeFeed(s, lh, "orders_cdcs")
        val v0 = Versioned.latestVersion(
          Catalog.tablePath(lh, "orders_cdcs")).get
        TableIO.writeTable(s, lh, "orders_cdcr", base)
        TableIO.mergeTable(s, lh, "orders_cdcs",
          base.filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0),
          Seq("o_orderkey"))
        TableIO.deleteFromTable(s, lh, "orders_cdcs", "o_orderkey % 11 = 0")
        TableIO.applyChanges(s, lh, "orders_cdcr",
          TableIO.readChangeFeed(s, lh, "orders_cdcs", v0),
          Seq("o_orderkey"))
        TableIO.selectTable(s, lh, "orders_cdcr").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 11 <> 0
        |ORDER BY o_orderkey""".stripMargin)),

    // Boilerplate line removal (RefinedWeb/C4): lines whose trimmed form
    // appears in more than K distinct docs are dropped corpus-wide and
    // every document is rebuilt from its surviving lines in order — the
    // oracle replays the identical frequency table and reconstruction.
    Q("q137_drop_boilerplate",
      (s, dir) => TextStats.dropBoilerplateLines(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", maxDocFreq = 5)
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, i AS pos, lines[CAST(i AS INT)] AS ln
        |  FROM d, unnest(generate_series(1, len(lines))) AS t(i)),
        |ok AS (
        |  SELECT key FROM (
        |    SELECT DISTINCT doc_id, trim(ln) AS key FROM l)
        |  GROUP BY key HAVING count(*) <= 5),
        |kept AS (
        |  SELECT l.doc_id, l.pos, l.ln FROM l
        |  JOIN ok ON trim(l.ln) = ok.key),
        |rebuilt AS (
        |  SELECT doc_id,
        |    array_to_string(list(ln ORDER BY pos), chr(10)) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Keep-best dedup: near-dup clusters keep their LONGEST member
    // (argmax n_chars, ties to smallest id) instead of the arbitrary
    // min-id survivor — the oracle replays clustering (recursive CTE) and
    // the argmax.
    Q("q138_dedup_keep_best",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.dedupKeepBest(docs.select("doc_id", "n_chars"),
          "doc_id", "n_chars",
          Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            n = 3, threshold = 0.5, maxDocFreq = 20))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(words[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(words) - 2, 1))]) AS gram
        |    FROM w)),
        |pruned AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 20) ok
        |  USING (gram)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
        |prs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
        |  FROM pruned l JOIN pruned r USING (gram)
        |  WHERE l.doc_id < r.doc_id GROUP BY 1, 2),
        |jac AS (
        |  SELECT a, b FROM prs
        |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
        |    >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |cl AS (SELECT id, min(r) AS cc FROM reach GROUP BY id),
        |tagged AS (
        |  SELECT d.doc_id, d.n_chars, coalesce(cl.cc, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
        |SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars, row_number() OVER (
        |    PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM tagged)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Exact duplicated-span detection (Lee et al. 2022, arXiv:2107.06499):
    // every >= 12-token substring occurring at more than one (doc, pos)
    // in the corpus, reported as maximal merged per-document token spans.
    // The oracle replays the window/md5/island pipeline in SQL.
    Q("q139_dup_spans",
      (s, dir) => TextStats.duplicatedSpans(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", windowTokens = 12)
        .orderBy("doc_id", "span_start"),
      Some("""WITH d AS (
        |  SELECT doc_id, [t for t in
        |    regexp_split_to_array(coalesce(text, ''), '\s+') if t <> '']
        |    AS toks
        |  FROM documents),
        |sized AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 12),
        |g AS (
        |  SELECT doc_id, i AS start,
        |    md5(array_to_string(
        |      toks[CAST(i AS INT):CAST(i + 11 AS INT)], ' ')) AS g
        |  FROM sized, unnest(generate_series(1, len(toks) - 11)) AS u(i)),
        |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
        |hits AS (SELECT g.doc_id, g.start, g.start + 12 AS fin
        |  FROM g JOIN dup USING (g)),
        |isl AS (
        |  SELECT doc_id, start, fin,
        |    CASE WHEN max(fin) OVER (PARTITION BY doc_id ORDER BY start
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= start
        |    THEN 0 ELSE 1 END AS is_new
        |  FROM hits),
        |ids AS (
        |  SELECT doc_id, start, fin,
        |    sum(is_new) OVER (PARTITION BY doc_id ORDER BY start
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl)
        |SELECT doc_id, min(start) AS span_start, max(fin) AS span_end
        |FROM ids GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin)),

    // Duplicated-span REMOVAL: rebuild every document from the tokens
    // outside its duplicated spans (whitespace-normalized; empty docs and
    // all-duplicate docs come back as empty strings, never vanish).
    Q("q140_strip_dup_spans",
      (s, dir) => TextStats.stripDuplicatedSpans(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", windowTokens = 12)
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, [t for t in
        |    regexp_split_to_array(coalesce(text, ''), '\s+') if t <> '']
        |    AS toks
        |  FROM documents),
        |sized AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 12),
        |g AS (
        |  SELECT doc_id, i AS start,
        |    md5(array_to_string(
        |      toks[CAST(i AS INT):CAST(i + 11 AS INT)], ' ')) AS g
        |  FROM sized, unnest(generate_series(1, len(toks) - 11)) AS u(i)),
        |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
        |hits AS (SELECT g.doc_id, g.start, g.start + 12 AS fin
        |  FROM g JOIN dup USING (g)),
        |isl AS (
        |  SELECT doc_id, start, fin,
        |    CASE WHEN max(fin) OVER (PARTITION BY doc_id ORDER BY start
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= start
        |    THEN 0 ELSE 1 END AS is_new
        |  FROM hits),
        |ids AS (
        |  SELECT doc_id, start, fin,
        |    sum(is_new) OVER (PARTITION BY doc_id ORDER BY start
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, min(start) AS s, max(fin) AS e
        |  FROM ids GROUP BY doc_id, island),
        |tok AS (
        |  SELECT doc_id, i AS pos, toks[CAST(i AS INT)] AS tk
        |  FROM d, unnest(generate_series(1, len(toks))) AS u(i)),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.tk FROM tok
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = tok.doc_id
        |      AND tok.pos >= s.s AND tok.pos < s.e)),
        |rebuilt AS (
        |  SELECT doc_id, array_to_string(list(tk ORDER BY pos), ' ')
        |    AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM d LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Quality-weighted deterministic sampling: acceptance ∝ score², budget
    // frac 0.5 — the weight chain is IEEE multiply/floor only, so the
    // oracle replays it bit-exactly (no exp/pow whose libm rounding
    // varies). Score here = capped length quality (any score column works).
    Q("q141_quality_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("score",
            least(col("n_chars").cast("double") / lit(400.0), lit(1.0)))
        Packing.qualityWeightedSample(
          docs.select("doc_id", "source", "score"),
          "doc_id", "score", exponent = 2, frac = 0.5, seed = 11L)
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS score
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, score,
        |    least(greatest(score, 0.0), 1.0) AS sc,
        |    CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)
        |      || '#' || '11'), 1, 15))::UBIGINT AS BIGINT) AS hv
        |  FROM d)
        |SELECT doc_id, source, score FROM c
        |WHERE hv < CAST(floor((((sc * sc) * 0.5) * 3.0)
        |  * 1152921504606846976.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),

    // Mixture rebalance to target shares: largest feasible output with
    // source ratios 1:2:3 (cycling); rates derive from exact counts in a
    // tiny broadcast frame, acceptance via the 60-bit portable hash. The
    // oracle recomputes counts, the feasibility min, and the thresholds
    // with the identical IEEE arithmetic.
    Q("q142_rebalance_mixture",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        // shares derive IN-PLAN over the #strata counts frame (rank-
        // cycled 1:2:3) — no driver collect on the critical path; the
        // partition-less window is aggregate-bounded (#strata rows)
        Packing.rebalanceMixtureByShareCol(docs.select("doc_id", "source"),
          "doc_id", "source",
          (lit(1) + (row_number().over(Window.orderBy("source")) - 1) % 3)
            .cast("double"),
          seed = 13L)
          .orderBy("doc_id")
      },
      Some("""WITH shares AS (
        |  SELECT source, CAST(1 + (row_number() OVER (ORDER BY source) - 1)
        |    % 3 AS DOUBLE) AS share
        |  FROM (SELECT DISTINCT source FROM documents)),
        |counts AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY source),
        |tmin AS (
        |  SELECT min(CAST(n AS DOUBLE) / share) AS t
        |  FROM counts JOIN shares USING (source)),
        |rates AS (
        |  SELECT source, CAST(floor(((share * t) / CAST(n AS DOUBLE))
        |    * 1152921504606846976.0) AS BIGINT) AS thr
        |  FROM counts JOIN shares USING (source) CROSS JOIN tmin)
        |SELECT d.doc_id, d.source FROM documents d JOIN rates USING (source)
        |WHERE CAST(('0x' || substring(sha256(CAST(d.doc_id AS VARCHAR)
        |    || '#' || '13'), 1, 15))::UBIGINT AS BIGINT) < rates.thr
        |ORDER BY doc_id""".stripMargin)),

    // UNPIVOT / melt — pivot's inverse via Spark's native Dataset.unpivot:
    // four lineitem measures become (metric, value) rows, zero shuffle.
    Q("q143_unpivot_lineitem",
      (s, dir) => Analytics.unpivot(
          t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0),
          ids = Seq("l_orderkey", "l_linenumber"),
          values = Seq("l_quantity", "l_extendedprice", "l_discount",
            "l_tax"))
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""WITH src AS (
        |  SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |    CAST(l_quantity AS DOUBLE) AS value FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |    CAST(l_extendedprice AS DOUBLE) FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount',
        |    CAST(l_discount AS DOUBLE) FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax',
        |    CAST(l_tax AS DOUBLE) FROM src)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // Hilbert clustering (liquid-clustering's curve): OPTIMIZE along the
    // Hilbert index, then a two-dimensional stat-pruned range scan — the
    // q70 shape on the better-locality curve; contents must equal the
    // plain filter.
    Q("q144_hilbert_scan",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_hilbert")
        TableIO.writeTable(s, lh, "orders_hilbert",
          t(s, dir, "orders").select("o_orderkey", "o_custkey",
            "o_totalprice"))
        TableIO.compactTable(s, lh, "orders_hilbert",
          targetFileBytes = 256 * 1024,
          zorderBy = Seq("o_custkey", "o_totalprice"), hilbert = true)
        TableIO.prunedScanRanges(s, lh, "orders_hilbert", Seq(
          ("o_custkey", Some(100L), Some(700L)),
          ("o_totalprice", Some(50000.0), Some(200000.0))))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey BETWEEN 100 AND 700
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0
        |ORDER BY o_orderkey""".stripMargin)),

    // Incremental clustering maintenance: cluster, append new data, then
    // cluster ONLY the new files (O(new data), the liquid maintenance
    // loop); a pruned range scan over the whole table must still equal
    // the plain filter across both clustered generations.
    Q("q145_incremental_cluster",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_liquid")
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey",
          "o_totalprice")
        TableIO.writeTable(s, lh, "orders_liquid",
          o.filter(col("o_orderkey") % 2 === 0))
        TableIO.compactTable(s, lh, "orders_liquid",
          targetFileBytes = 256 * 1024,
          zorderBy = Seq("o_custkey", "o_totalprice"), hilbert = true)
        TableIO.appendTable(s, lh, "orders_liquid",
          o.filter(col("o_orderkey") % 2 === 1).repartition(4))
        TableIO.clusterIncremental(s, lh, "orders_liquid",
          Seq("o_custkey", "o_totalprice"),
          targetFileBytes = 256 * 1024, hilbert = true)
        TableIO.prunedScanRanges(s, lh, "orders_liquid", Seq(
          ("o_custkey", Some(100L), Some(700L)),
          ("o_totalprice", Some(50000.0), Some(200000.0))))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey BETWEEN 100 AND 700
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0
        |ORDER BY o_orderkey""".stripMargin)),

    // LIKE-prefix data skipping: the miner turns `LIKE 'prefix%'` into
    // the UTF-8 range [prefix, succ(prefix)) over string min/max stats —
    // the common string point-lookup shape (ids, urls, paths). Results
    // must equal the plain LIKE filter.
    Q("q146_like_prefix_scan",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "customer_like")
        TableIO.writeTable(s, lh, "customer_like",
          t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
          sortBy = Seq("c_name"))
        TableIO.readTable(s, lh, "customer_like",
          condition = "c_name LIKE 'Customer#0000001%'")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_name LIKE 'Customer#0000001%'
        |ORDER BY c_custkey""".stripMargin)),

    // Identity columns: GENERATED ALWAYS AS IDENTITY assignment over a
    // deterministically-ordered batch (single partition, sorted) — the
    // contiguous watermark ids then equal row_number(), which the oracle
    // replays. Two appends verify the watermark advances atomically.
    Q("q147_identity_append",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "supplier_id")
        val sup = t(s, dir, "supplier").select("s_suppkey", "s_name")
        TableIO.writeTable(s, lh, "supplier_id",
          sup.filter(col("s_suppkey") % 2 === 0)
            .orderBy("s_suppkey").coalesce(1))
        TableIO.setIdentityColumn(s, lh, "supplier_id", "row_id")
        TableIO.appendTable(s, lh, "supplier_id",
          sup.filter(col("s_suppkey") % 4 === 1)
            .orderBy("s_suppkey").coalesce(1))
        TableIO.appendTable(s, lh, "supplier_id",
          sup.filter(col("s_suppkey") % 4 === 3)
            .orderBy("s_suppkey").coalesce(1))
        TableIO.selectTable(s, lh, "supplier_id")
          .orderBy("s_suppkey")
      },
      Some("""WITH b1 AS (
        |  SELECT s_suppkey, s_name,
        |    row_number() OVER (ORDER BY s_suppkey) AS row_id
        |  FROM supplier WHERE s_suppkey % 4 = 1),
        |n1 AS (SELECT count(*) AS n FROM b1),
        |b2 AS (
        |  SELECT s_suppkey, s_name,
        |    row_number() OVER (ORDER BY s_suppkey) + n1.n AS row_id
        |  FROM supplier, n1 WHERE s_suppkey % 4 = 3)
        |SELECT s_suppkey, s_name, CAST(NULL AS BIGINT) AS row_id
        |FROM supplier WHERE s_suppkey % 2 = 0
        |UNION ALL SELECT s_suppkey, s_name, CAST(row_id AS BIGINT) FROM b1
        |UNION ALL SELECT s_suppkey, s_name, CAST(row_id AS BIGINT) FROM b2
        |ORDER BY s_suppkey""".stripMargin)),

    // Generated columns: a batch omitting the declared column gets it
    // computed at ingest; the oracle replays the expression.
    Q("q148_generated_append",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_gen")
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        TableIO.writeTable(s, lh, "orders_gen",
          o.filter(col("o_orderkey") % 3 === 0)
            .withColumn("price_band",
              floor(col("o_totalprice") / lit(50000.0)).cast("long")))
        TableIO.setGeneratedColumn(s, lh, "orders_gen", "price_band",
          "CAST(floor(o_totalprice / 50000.0) AS LONG)")
        TableIO.appendTable(s, lh, "orders_gen",
          o.filter(col("o_orderkey") % 3 === 1)) // no price_band: computed
        TableIO.selectTable(s, lh, "orders_gen").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
        |  CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS price_band
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |ORDER BY o_orderkey""".stripMargin)),

    // Salted skew join: the hot-key mitigation (fact rows salt uniformly,
    // the dimension explodes x salts, the join key becomes (key, salt) —
    // one hot key spreads over `salts` reducers). The contract is result
    // EQUALS the plain inner join, which is exactly what the oracle runs.
    Q("q149_salted_skew_join",
      (s, dir) => Joins.saltedSkewJoin(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
            "l_quantity"),
          t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
          "l_orderkey", salts = 8)
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
        |  o.o_orderstatus
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 300000.0
        |ORDER BY 1, 2""".stripMargin)),

    // Deep clone round trip: byte-copied files + verbatim stats, then the
    // SOURCE is dropped — the clone must keep serving (full detachment,
    // the guarantee shallow clones trade away). q118's shallow twin.
    Q("q150_deep_clone",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val part = t(s, dir, "part")
        TableIO.dropTable(s, lh, "dclone_src")
        TableIO.dropTable(s, lh, "dclone_dst")
        TableIO.writeTable(s, lh, "dclone_src", part)
        TableIO.cloneTable(s, lh, "dclone_src", "dclone_dst", deep = true)
        TableIO.dropTable(s, lh, "dclone_src") // clone must survive this
        TableIO.deleteFromTable(s, lh, "dclone_dst", "p_size > 40")
        TableIO.selectTable(s, lh, "dclone_dst").orderBy("p_partkey")
      },
      Some("SELECT * FROM part WHERE p_size <= 40 ORDER BY p_partkey")),

    // Full auto-maintenance round trip through the driver's gate: a
    // fragmented write with DV debt, two maintenance ticks (the second
    // must be an idempotent no-op), a vacuum — across delta-encoded
    // manifests, rebase-capable OPTIMIZE, and DV purge — and the content
    // must come out byte-equal to the declarative answer.
    Q("q151_maintenance_roundtrip",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "cust_maint",
          t(s, dir, "customer").repartition(16))
        TableIO.deleteFromTable(s, lh, "cust_maint", "c_acctbal < 0",
          deletionVectors = true)
        TableIO.maintainTable(s, lh, "cust_maint") // compacts smalls + DV
        TableIO.maintainTable(s, lh, "cust_maint") // idempotent second tick
        TableIO.selectTable(s, lh, "cust_maint").orderBy("c_custkey")
      },
      Some("""SELECT * FROM customer WHERE NOT (c_acctbal < 0.0)
        |ORDER BY c_custkey""".stripMargin)),

    // Dynamic file pruning (join-induced data skipping): the filtered
    // dimension's keys prune the clustered+bloomed fact table to the FILES
    // that can match before the scan; the residual IN keeps it exact —
    // result equals the plain star join.
    Q("q152_dynamic_file_pruning",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.writeTable(s, lh, "orders_dfp",
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          sortBy = Seq("o_custkey"), bloomFilterFor = Seq("o_custkey"))
        val dimKeys = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING" &&
            col("c_acctbal") > 9000.0)
          .select(col("c_custkey"))
        TableIO.readTableJoinPruned(s, lh, "orders_dfp", "o_custkey", dimKeys)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000.0)
        |ORDER BY o_orderkey""".stripMargin)),

    // LM-quality-stratified rebalance — the "sample by model score"
    // pipeline stage: held-out docs score integer-exact bigram surprise
    // (q102's op), bucket by integer arithmetic only (4*unseen div total),
    // then the mixture rebalances to equal bucket shares via the portable
    // 60-bit-hash acceptance (q142's op). Every stage is bit-portable, so
    // the oracle replays the WHOLE pipeline and the hash must match.
    Q("q153_surprise_bucket_rebalance",
      (s, dir) => {
        import org.apache.spark.sql.functions.expr
        val docs = t(s, dir, "documents")
        val scored = LangModel.bigramSurprise(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        val bucketed = scored.withColumn("bucket",
          expr("CAST((n_unseen * 4) div n_bigrams AS STRING)"))
        Packing.rebalanceMixture(bucketed.select("doc_id", "bucket"),
          "doc_id", "bucket",
          (0 to 4).map(i => i.toString -> 1.0).toMap, seed = 7L)
          .orderBy("doc_id")
      },
      Some("""WITH tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |bg AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w AS w1,
        |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM tok) WHERE w2 IS NOT NULL),
        |model AS (SELECT DISTINCT w1, w2 FROM bg WHERE doc_id % 5 <> 0),
        |sc AS (
        |  SELECT bg.doc_id, m.w1 IS NOT NULL AS seen
        |  FROM bg LEFT JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        |  WHERE bg.doc_id % 5 = 0),
        |surprise AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_unseen
        |  FROM sc GROUP BY doc_id),
        |bucketed AS (
        |  SELECT doc_id, CAST((n_unseen * 4) // n_bigrams AS VARCHAR) AS bucket
        |  FROM surprise),
        |counts AS (SELECT bucket, count(*) AS n FROM bucketed GROUP BY bucket),
        |tmin AS (SELECT min(CAST(n AS DOUBLE) / 1.0) AS t FROM counts),
        |rates AS (
        |  SELECT bucket, CAST(floor(((1.0 * t) / CAST(n AS DOUBLE))
        |    * 1152921504606846976.0) AS BIGINT) AS thr
        |  FROM counts CROSS JOIN tmin)
        |SELECT b.doc_id, b.bucket FROM bucketed b JOIN rates USING (bucket)
        |WHERE CAST(('0x' || substring(sha256(CAST(b.doc_id AS VARCHAR)
        |    || '#' || '7'), 1, 15))::UBIGINT AS BIGINT) < rates.thr
        |ORDER BY doc_id""".stripMargin)),

    // DESCRIBE DETAIL's deterministic projection (version sequencing,
    // metadata-derived row count, partitioning, constraint names, op
    // provenance); file counts/bytes are layout-dependent and stay
    // spec-side. Version 3 = write(1) + constraint(2) + delete(3).
    Q("q154_describe_detail",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "nation_detail") // version numbering restarts
        TableIO.writeTable(s, lh, "nation_detail", t(s, dir, "nation"),
          partitionBy = Seq("n_regionkey"))
        TableIO.addCheckConstraint(s, lh, "nation_detail", "key_nonneg",
          "n_nationkey >= 0")
        TableIO.deleteFromTable(s, lh, "nation_detail", "n_regionkey = 2")
        TableIO.describeDetail(s, lh, "nation_detail")
          .select("version", "num_rows", "partition_columns",
            "cdf_enabled", "check_constraints", "last_operation")
      },
      Some("""SELECT CAST(3 AS BIGINT) AS version,
        |  (SELECT count(*) FROM nation WHERE n_regionkey <> 2) AS num_rows,
        |  'n_regionkey' AS partition_columns,
        |  CAST(false AS BOOLEAN) AS cdf_enabled,
        |  'key_nonneg' AS check_constraints,
        |  'DELETE' AS last_operation""".stripMargin)),

    // COPY INTO (idempotent file ingestion): a two-batch CSV landing zone
    // loads incrementally — batch 1, a verbatim re-run (loads nothing),
    // then batch 2 after new files land. The final table must equal the
    // source exactly: the re-run contributed zero duplicate rows and the
    // incremental pass loaded only the new file. CSV round-trips the
    // comment strings (commas, quotes) through Spark's csv quoting.
    Q("q155_copy_into_csv",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val nation = t(s, dir, "nation")
        val src = Catalog.tablePath(lh, "nation_csv") + "_src"
        TableIO.dropTable(s, lh, "nation_csv") // fresh table AND ledger
        nation.filter(col("n_nationkey") < 13).coalesce(1)
          // overwrite truncates the landing dir from any prior run
          .write.option("header", "true").mode("overwrite").csv(src)
        Ingest.copyInto(s, lh, "nation_csv", src,
          schema = Some(nation.schema))
        Ingest.copyInto(s, lh, "nation_csv", src,
          schema = Some(nation.schema)) // idempotent re-run: no-op
        nation.filter(col("n_nationkey") >= 13).coalesce(1)
          .write.option("header", "true").mode("append").csv(src)
        Ingest.copyInto(s, lh, "nation_csv", src,
          schema = Some(nation.schema)) // loads ONLY the new file
        TableIO.selectTable(s, lh, "nation_csv").orderBy("n_nationkey")
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // COPY INTO from JSON: dates and floating-point survive the text
    // round trip exactly (Spark writes doubles via shortest-round-trip
    // representation; reading with the declared schema restores the
    // identical bits — no epsilon needed).
    Q("q156_copy_into_json",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val sub = t(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .filter(col("o_orderkey") % 50 === 0)
        val src = Catalog.tablePath(lh, "orders_json") + "_src"
        TableIO.dropTable(s, lh, "orders_json") // fresh table AND ledger
        sub.filter(col("o_orderkey") % 100 === 0).coalesce(1)
          .write.mode("overwrite").json(src)
        Ingest.copyInto(s, lh, "orders_json", src, format = "json",
          schema = Some(sub.schema))
        sub.filter(col("o_orderkey") % 100 =!= 0).coalesce(1)
          .write.mode("append").json(src)
        Ingest.copyInto(s, lh, "orders_json", src, format = "json",
          schema = Some(sub.schema))
        TableIO.selectTable(s, lh, "orders_json").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin)),

    // Multi-table atomic transaction: both tables are seeded with partial
    // data; an ABORTED transaction (with poisoned doubled prices) must
    // contribute nothing, and the committed transaction lands the missing
    // half of BOTH tables in one atomic decide. The join over the final
    // state only matches the oracle if abort dropped everything and
    // commit published everything.
    Q("q157_multi_table_txn",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "txn_orders")
        TableIO.dropTable(s, lh, "txn_cust")
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .filter(col("o_orderkey") % 100 === 0)
        val c = t(s, dir, "customer").select("c_custkey", "c_name")
        TableIO.writeTable(s, lh, "txn_orders",
          o.filter(col("o_orderkey") % 200 === 0))
        TableIO.writeTable(s, lh, "txn_cust",
          c.filter(col("c_custkey") % 2 === 0))
        val hAbort = Txn.begin(lh)
        Txn.write(hAbort, s, lh, "txn_orders",
          o.filter(col("o_orderkey") % 200 =!= 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2))
        Txn.abort(hAbort)
        val h = Txn.begin(lh)
        // two distinct tables: stage both commits concurrently (§2.6)
        Txn.writeAll(h, s, lh, Seq(
          "txn_orders" -> o.filter(col("o_orderkey") % 200 =!= 0),
          "txn_cust" -> c.filter(col("c_custkey") % 2 =!= 0)))
        Txn.commit(h)
        TableIO.selectTable(s, lh, "txn_orders")
          .join(TableIO.selectTable(s, lh, "txn_cust"),
            col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "c_name", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin)),

    // DSIR data selection (integer-quantized): score every document by
    // target-likeness of its unigram+bigram bag — target = the French
    // slice — and keep the top 50. The weight and score chains are pure
    // 64-bit integer multiply/divide (`div`), so the oracle replays them
    // term for term; sums are cast back to BIGINT (DuckDB sum() returns
    // HUGEINT, which pandas would mangle to float64).
    Q("q158_dsir_select",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dsir.selectTopK(docs.select("doc_id", "text"),
          docs.filter(col("lang") === "fr").select("doc_id", "text"),
          "doc_id", "text", k = 50)
      },
      Some("""WITH w0 AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(words) AS gram FROM w0
        |  UNION ALL
        |  SELECT doc_id, unnest([array_to_string(words[i:i+1], ' ')
        |    for i in generate_series(1, len(words) - 1)]) AS gram
        |  FROM w0 WHERE len(words) >= 2),
        |dg AS (SELECT doc_id, gram, count(*) AS cnt
        |  FROM grams GROUP BY 1, 2),
        |cs AS (SELECT gram, CAST(sum(cnt) AS BIGINT) AS cs
        |  FROM dg GROUP BY 1),
        |ct AS (SELECT gram, CAST(sum(cnt) AS BIGINT) AS ct FROM dg
        |  JOIN (SELECT doc_id FROM documents WHERE lang = 'fr') f
        |  USING (doc_id) GROUP BY 1),
        |wt AS (SELECT cs.gram,
        |    (1000 * (coalesce(ct.ct, 0) + 1)) // (cs.cs + 1) AS w
        |  FROM cs LEFT JOIN ct ON cs.gram = ct.gram),
        |sc AS (SELECT dg.doc_id,
        |    CAST((sum(dg.cnt * wt.w) * 1000) // sum(dg.cnt) AS BIGINT)
        |      AS score
        |  FROM dg JOIN wt ON dg.gram = wt.gram GROUP BY 1)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin)),

    // ---- round 5: portable pack rollup, ingest × txn × identity ----------
    // q49's greedy first-fit is stateful by design (order-dependent bins);
    // this is its PORTABLE twin: offset-based packing over the fixed
    // doc_id order — a doc belongs to the pack where its concatenated
    // span starts. Pack assignment is a pure function of the prefix sum,
    // so DuckDB replays it bit-exactly, and the Spark plan is the same
    // two-phase distributed prefix sum as q81 (no global single-partition
    // window — survives 100× scale-up).
    Q("q159_pack_offset_rollup",
      (s, dir) => Packing.concatChunkPlan(
          t(s, dir, "documents").select(col("doc_id"),
            col("n_chars")),
          "doc_id", "n_chars", budget = 8192L)
        .groupBy(col("start_pack").as("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("pack_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, CAST(coalesce(n_chars, 0) AS BIGINT) AS n,
        |    CAST(sum(CAST(coalesce(n_chars, 0) AS BIGINT)) OVER (
        |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM documents)
        |SELECT (cum - n) // 8192 AS pack_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY 1 ORDER BY pack_id""".stripMargin)),

    // Ingest × transactions × identity — the three newest subsystems
    // composed end-to-end: COPY INTO (dedup ledger) loads a landing zone
    // into a GENERATED ALWAYS AS IDENTITY table, then a multi-table
    // transaction appends the late batch + an audit row atomically. The
    // first transaction ABORTS after staging — watermark atomicity means
    // the retry assigns the SAME ids (9..20, not 21..32); a leaked
    // watermark would shift every txn-batch id and break the hash.
    Q("q160_copy_into_txn_identity",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "nat_id")
        TableIO.dropTable(s, lh, "nat_audit")
        val nation = t(s, dir, "nation").select("n_nationkey", "n_name")
        val src = Catalog.tablePath(lh, "nat_id") + "_land"
        nation.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 13)
          .orderBy("n_nationkey").coalesce(1)
          .write.option("header", "true").mode("overwrite").csv(src)
        TableIO.writeTable(s, lh, "nat_id",
          nation.filter(col("n_nationkey") < 5)
            .orderBy("n_nationkey").coalesce(1))
        TableIO.setIdentityColumn(s, lh, "nat_id", "row_id")
        // COPY INTO an identity table: ledger dedup and watermark advance
        // ride the same commit; the immediate re-run is a no-op
        Ingest.copyInto(s, lh, "nat_id", src, schema = Some(nation.schema))
        Ingest.copyInto(s, lh, "nat_id", src, schema = Some(nation.schema))
        val late = nation.filter(col("n_nationkey") >= 13)
          .orderBy("n_nationkey").coalesce(1)
        val hAbort = Txn.begin(lh)
        Txn.write(hAbort, s, lh, "nat_id", late)
        Txn.abort(hAbort) // staged ids must never publish
        val h = Txn.begin(lh)
        Txn.write(h, s, lh, "nat_id", late)
        Txn.write(h, s, lh, "nat_audit",
          late.agg(count(lit(1)).as("n_rows")))
        Txn.commit(h)
        TableIO.selectTable(s, lh, "nat_id").orderBy("n_nationkey")
      },
      Some("""WITH b1 AS (
        |  SELECT n_nationkey, n_name,
        |    row_number() OVER (ORDER BY n_nationkey) AS rid
        |  FROM nation WHERE n_nationkey >= 5 AND n_nationkey < 13),
        |n1 AS (SELECT count(*) AS n FROM b1),
        |b2 AS (
        |  SELECT n_nationkey, n_name,
        |    row_number() OVER (ORDER BY n_nationkey) + n1.n AS rid
        |  FROM nation, n1 WHERE n_nationkey >= 13)
        |SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS row_id
        |FROM nation WHERE n_nationkey < 5
        |UNION ALL SELECT n_nationkey, n_name, CAST(rid AS BIGINT) FROM b1
        |UNION ALL SELECT n_nationkey, n_name, CAST(rid AS BIGINT) FROM b2
        |ORDER BY n_nationkey""".stripMargin)),

    // COPY INTO from ORC: self-describing landing files (no declared
    // schema anywhere — the footer carries it), 2-batch incremental load.
    Q("q161_copy_into_orc",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val sub = t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .filter(col("o_orderkey") % 50 === 0)
        val src = Catalog.tablePath(lh, "orders_orc") + "_src"
        TableIO.dropTable(s, lh, "orders_orc") // fresh table AND ledger
        sub.filter(col("o_orderkey") % 100 === 0).coalesce(1)
          .write.mode("overwrite").orc(src)
        Ingest.copyInto(s, lh, "orders_orc", src, format = "orc")
        sub.filter(col("o_orderkey") % 100 =!= 0).coalesce(1)
          .write.mode("append").orc(src)
        Ingest.copyInto(s, lh, "orders_orc", src, format = "orc")
        TableIO.selectTable(s, lh, "orders_orc").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin)),

    // COPY INTO from raw text: log-shaped landing files land line-per-row
    // as `value` (Delta's text format), incremental by file.
    Q("q162_copy_into_text",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        val nation = t(s, dir, "nation")
        val src = Catalog.tablePath(lh, "nation_text") + "_src"
        TableIO.dropTable(s, lh, "nation_text")
        nation.filter(col("n_nationkey") < 13).select("n_name").coalesce(1)
          .write.mode("overwrite").text(src)
        Ingest.copyInto(s, lh, "nation_text", src, format = "text")
        Ingest.copyInto(s, lh, "nation_text", src, format = "text") // no-op
        nation.filter(col("n_nationkey") >= 13).select("n_name").coalesce(1)
          .write.mode("append").text(src)
        Ingest.copyInto(s, lh, "nation_text", src, format = "text")
        TableIO.selectTable(s, lh, "nation_text").orderBy("value")
      },
      Some("SELECT n_name AS value FROM nation ORDER BY value")),

    // Row tracking (Delta row IDs): enable backfills ids over existing
    // files, appends continue above the watermark, and a DELETE rewrite +
    // OPTIMIZE both preserve surviving rows' ids (the rewrites
    // materialize them physically). If any rewrite changed identity, the
    // id column would shift and the hash would break.
    Q("q163_row_tracking",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "sup_rt")
        val sup = t(s, dir, "supplier").select("s_suppkey", "s_name")
        TableIO.writeTable(s, lh, "sup_rt",
          sup.filter(col("s_suppkey") % 2 === 0)
            .orderBy("s_suppkey").coalesce(1))
        TableIO.enableRowTracking(s, lh, "sup_rt")
        TableIO.appendTable(s, lh, "sup_rt",
          sup.filter(col("s_suppkey") % 2 === 1)
            .orderBy("s_suppkey").coalesce(1))
        TableIO.deleteFromTable(s, lh, "sup_rt", "s_suppkey % 10 = 4")
        TableIO.compactTable(s, lh, "sup_rt")
        TableIO.selectTableWithRowIds(s, lh, "sup_rt").orderBy("s_suppkey")
      },
      Some("""WITH e AS (
        |  SELECT s_suppkey, s_name,
        |    row_number() OVER (ORDER BY s_suppkey) - 1 AS rid
        |  FROM supplier WHERE s_suppkey % 2 = 0),
        |ne AS (SELECT count(*) AS n FROM e),
        |o AS (
        |  SELECT s_suppkey, s_name,
        |    row_number() OVER (ORDER BY s_suppkey) - 1 + ne.n AS rid
        |  FROM supplier, ne WHERE s_suppkey % 2 = 1)
        |SELECT s_suppkey, s_name, CAST(rid AS BIGINT) AS _row_id
        |FROM (SELECT * FROM e UNION ALL SELECT * FROM o)
        |WHERE s_suppkey % 10 != 4
        |ORDER BY s_suppkey""".stripMargin)),

    // ---- classic TPC-H star joins (the analytics-engine bread and butter;
    // plans must be the Spark-right ones: filters pushed to every scan,
    // small dims broadcast, revenue in exact DECIMAL then one cast) ------
    // TPC-H Q3 shape: shipping-priority candidates — 3-way join, filters
    // on all three inputs, top-10 revenue. Fixture has no o_shippriority;
    // o_orderpriority stands in.
    Q("q164_tpch_q3",
      (s, dir) => {
        val rev = sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue")
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
          .join(t(s, dir, "orders")
              .filter(col("o_orderdate") < "1997-03-15")
              .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
            col("c_custkey") === col("o_custkey"))
          .join(t(s, dir, "lineitem")
              .filter(col("l_shipdate") > "1997-03-15")
              .select("l_orderkey", "l_extendedprice", "l_discount"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(rev)
          .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape: local supplier volume — 6-table snowflake where the
    // customer and supplier must share a nation; region/nation broadcast.
    Q("q165_tpch_q5",
      (s, dir) => {
        val rev = sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue")
        val asiaNations = broadcast(
          t(s, dir, "nation").join(
            broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name"))
        t(s, dir, "customer").select("c_custkey", "c_nationkey")
          .join(t(s, dir, "orders")
              .filter(col("o_orderdate") >= "1996-01-01" &&
                col("o_orderdate") < "1997-01-01")
              .select("o_orderkey", "o_custkey"),
            col("c_custkey") === col("o_custkey"))
          .join(t(s, dir, "lineitem")
              .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(rev)
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q10 shape: returned-item reporting — quarter of orders,
    // R-flagged lines, top-20 customers by lost revenue.
    Q("q166_tpch_q10",
      (s, dir) => {
        val rev = sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue")
        t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
          .join(t(s, dir, "orders")
              .filter(col("o_orderdate") >= "1997-10-01" &&
                col("o_orderdate") < "1998-01-01")
              .select("o_orderkey", "o_custkey"),
            col("c_custkey") === col("o_custkey"))
          .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
              .select("l_orderkey", "l_extendedprice", "l_discount"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(rev)
          .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)),

    // Type widening: a table born (int, float) widens to (long, double)
    // in two metadata-only commits — the original files are never
    // rewritten (they upcast natively at scan time) and the second batch
    // lands in the wide types. The oracle replays the per-batch type
    // history: first batch values go through REAL, second batch straight
    // — if the engine rewrote or double-converted anything, the float
    // path would diverge and the hash would break.
    Q("q167_type_widening",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_widen")
        val sub = t(s, dir, "orders").filter(col("o_orderkey") % 40 === 0)
          .select("o_orderkey", "o_totalprice")
        TableIO.writeTable(s, lh, "orders_widen",
          sub.filter(col("o_orderkey") % 80 === 0)
            .select(col("o_orderkey").cast("int").as("o_orderkey"),
              col("o_totalprice").cast("float").as("o_totalprice")))
        TableIO.widenColumnType(s, lh, "orders_widen", "o_orderkey",
          org.apache.spark.sql.types.LongType)
        TableIO.widenColumnType(s, lh, "orders_widen", "o_totalprice",
          org.apache.spark.sql.types.DoubleType)
        TableIO.appendTable(s, lh, "orders_widen",
          sub.filter(col("o_orderkey") % 80 =!= 0))
        TableIO.selectTable(s, lh, "orders_widen").orderBy("o_orderkey")
      },
      Some("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 80 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 40 = 0 AND o_orderkey % 80 != 0
        |ORDER BY o_orderkey""".stripMargin)),

    // Product-quantization ANN (Jégou'11) with ENGINE-PORTABLE training
    // and scoring: fixed-point Lloyd codebooks per subspace (all 8
    // trained in one fused pass per round), integer argmin codes, and
    // ADC as the exact integer distance Σ_s ‖q_s − c_{code_s}‖² — the
    // oracle replays training → encoding → LUT scoring end to end, so
    // the APPROXIMATE ranking itself hash-checks (the float-PQ
    // rerank-everything degenerate mode stays q169; recall: PqSpec).
    Q("q168_ann_pq_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqTopKPortable(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10, m = 8, codebookSize = 16)
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (
        |  SELECT vec_id, list_transform(ve,
        |    x -> CAST(floor(x * 1024) + 1048576 AS BIGINT)) AS qv
        |  FROM v),
        |sv AS (
        |  SELECT vec_id, s.s AS s,
        |    list_slice(qv, s.s * 8 + 1, s.s * 8 + 8) AS sv
        |  FROM qv, (SELECT unnest(range(8)) AS s) s),
        |c0 AS (
        |  SELECT s, cidx, cv FROM (
        |    SELECT s, CAST(row_number() OVER (PARTITION BY s
        |      ORDER BY vec_id) - 1 AS INT) AS cidx, sv AS cv
        |    FROM sv) WHERE cidx < 16),
        |a1 AS (
        |  SELECT vec_id, s, cluster, sv FROM (
        |    SELECT vec_id, s, cluster, sv, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, q.s, c.cidx AS cluster, q.sv,
        |        CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM sv q JOIN c0 c ON c.s = q.s)) WHERE rn = 1),
        |u1 AS (
        |  SELECT s, cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT s, cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT s, cluster, generate_subscripts(sv, 1) AS pos,
        |          unnest(sv) AS v FROM a1)
        |    GROUP BY s, cluster, pos) GROUP BY s, cluster),
        |c1 AS (
        |  SELECT c0.s, c0.cidx, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 ON u1.s = c0.s AND u1.cidx = c0.cidx),
        |a2 AS (
        |  SELECT vec_id, s, cluster, sv FROM (
        |    SELECT vec_id, s, cluster, sv, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, q.s, c.cidx AS cluster, q.sv,
        |        CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM sv q JOIN c1 c ON c.s = q.s)) WHERE rn = 1),
        |u2 AS (
        |  SELECT s, cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT s, cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT s, cluster, generate_subscripts(sv, 1) AS pos,
        |          unnest(sv) AS v FROM a2)
        |    GROUP BY s, cluster, pos) GROUP BY s, cluster),
        |c2 AS (
        |  SELECT c1.s, c1.cidx, coalesce(u2.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN u2 ON u2.s = c1.s AND u2.cidx = c1.cidx),
        |codes AS (
        |  SELECT vec_id, s, cluster FROM (
        |    SELECT vec_id, s, cluster, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, q.s, c.cidx AS cluster,
        |        CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM sv q JOIN c2 c ON c.s = q.s)) WHERE rn = 1),
        |adc AS (
        |  SELECT q.vec_id AS query_id, q.s, c.cidx,
        |    CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |  FROM (SELECT * FROM sv WHERE vec_id < 4) q
        |  JOIN c2 c ON c.s = q.s),
        |scored AS (
        |  SELECT a.query_id, kk.vec_id, CAST(sum(a.dist) AS BIGINT) AS adc_dist
        |  FROM codes kk JOIN adc a ON a.s = kk.s AND a.cidx = kk.cluster
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, vec_id) AS rank,
        |    adc_dist
        |  FROM scored)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // PQ two-stage retrieval in its verification mode: rerank bound ≥
    // corpus ⇒ every code is a candidate and the exact rescoring pass IS
    // brute force — the bucket/encode/ADC machinery must reproduce the
    // exact top-k bit-for-bit (q34/q67/q87's exact-twin pattern).
    Q("q169_ann_pq_exact",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10, m = 8, codebookSize = 64,
          maxFitRows = 4000, reRank = 1000000)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 4),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    list_sum(list_transform(list_zip(v.ve, q.qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM v, q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // TPC-H Q7 shape: bilateral trade volume — the two-role dimension
    // pattern (nation joins TWICE under different roles), year bucketing,
    // and a symmetric pair filter. Both nation legs broadcast.
    Q("q170_tpch_q7",
      (s, dir) => {
        val n1 = broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
        val n2 = broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" &&
            col("l_shipdate") < "1998-01-01")
          .select("l_orderkey", "l_suppkey", "l_extendedprice",
            "l_discount", "l_shipdate")
          .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(n1, col("s_nationkey") === col("s_nk"))
          .join(n2, col("c_nationkey") === col("c_nk"))
          .filter((col("supp_nation") === "NATION_3" &&
              col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" &&
              col("cust_nation") === "NATION_3"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') OR
        |       (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // TPC-H Q18 shape: large-volume customers — a HAVING subquery feeds a
    // left-semi join (never a distinct-materialize), then the detail
    // re-aggregates on top.
    Q("q171_tpch_q18",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        val big = li.groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
          .filter(col("q") > 250).select("l_orderkey")
        t(s, dir, "customer").select("c_custkey", "c_name")
          .join(t(s, dir, "orders")
              .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
            col("c_custkey") === col("o_custkey"))
          .join(li.join(big, "l_orderkey"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice")
          .agg(sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)),

    // Corpus-wide exact paragraph dedup: keep-first in (doc, position)
    // order, whitespace blocks survive as separators, docs rebuilt in
    // order. The oracle replays the whole keep-first window + rebuild.
    Q("q172_dedup_paragraphs",
      (s, dir) => TextStats.dedupParagraphs(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    unnest([{'pos': i - 1, 'para': ps[i]}
        |      for i in generate_series(1, len(ps))]) AS s
        |  FROM d),
        |pp AS (SELECT doc_id, s.pos AS pos, s.para AS para FROM p),
        |keep AS (
        |  SELECT doc_id, pos, para,
        |    (trim(para) = '' OR row_number() OVER (
        |      PARTITION BY trim(para) ORDER BY doc_id, pos) = 1) AS k
        |  FROM pp),
        |rebuilt AS (
        |  SELECT doc_id,
        |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM keep WHERE k GROUP BY doc_id)
        |SELECT d0.doc_id, coalesce(r.text, '') AS text
        |FROM documents d0 LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d0.doc_id""".stripMargin)),

    // ---- TPC-H anti-join family: the NOT IN / EXISTS / NOT EXISTS join
    // shapes (reference passes joinType through verbatim, common.py:932 —
    // left_anti/left_semi are in-surface). Fixture adaptations: no
    // partsupp table, so lineitem is the part↔supplier association; no
    // l_receiptdate/l_commitdate, so l_returnflag = 'R' stands in for
    // "late". The SHAPES — broadcast anti against an excluded dim,
    // self-semi + self-anti on the fact, nested semi chain with HAVING —
    // are the original queries'. -----------------------------------------
    // TPC-H Q16 shape: supplier count per part attribute, excluding
    // suppliers matching a name predicate via NOT IN (broadcast anti).
    Q("q173_tpch_q16",
      (s, dir) => {
        val excluded = broadcast(t(s, dir, "supplier")
          .filter(col("s_name").like("%7")).select("s_suppkey"))
        val parts = broadcast(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#3" &&
            !col("p_type").like("SMALL%") &&
            col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
          .select("p_partkey", "p_brand", "p_type", "p_size"))
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
          .join(parts, col("l_partkey") === col("p_partkey"))
          .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'SMALL%'
        |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q21 shape: suppliers who kept waiting — finished orders where
    // this supplier's flagged line has other suppliers' lines present
    // (EXISTS → left_semi) but no OTHER supplier flagged (NOT EXISTS →
    // left_anti), both self-joins on the fact with a non-equi residual.
    Q("q174_tpch_q21",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_returnflag")
        val flagged = li.filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_suppkey")
        val others = li.select(col("l_orderkey").as("lo2"),
          col("l_suppkey").as("ls2"))
        val flaggedOthers = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"))
        flagged
          .join(others, col("l_orderkey") === col("lo2") &&
            col("l_suppkey") =!= col("ls2"), "left_semi")
          .join(flaggedOthers, col("l_orderkey") === col("lo3") &&
            col("l_suppkey") =!= col("ls3"), "left_anti")
          .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some("""SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT * FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT * FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)),

    // TPC-H Q20 shape: suppliers with excess volume of name-filtered
    // parts in a ship year — nested semi-join chain (part semi inside a
    // grouped HAVING inside the supplier semi), exact DECIMAL quantity.
    Q("q175_tpch_q20",
      (s, dir) => {
        val largeParts = broadcast(t(s, dir, "part")
          .filter(col("p_name").like("large%")).select("p_partkey"))
        val qualified = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" &&
            col("l_shipdate") < "1997-01-01")
          .select("l_partkey", "l_suppkey", "l_quantity")
          .join(largeParts, col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy("l_suppkey", "l_partkey")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
          .filter(col("q") > 50)
          .select("l_suppkey")
        t(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
          .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_name", "s_acctbal")
          .orderBy("s_name")
      },
      Some("""SELECT s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_partkey IN (
        |      SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |ORDER BY s_name""".stripMargin)),

    // Column DEFAULT values (Delta ALTER TABLE ... SET DEFAULT): the
    // declaration is a metadata-only commit; the second append OMITS the
    // status column and ingest fills the constant; the third supplies it
    // (explicit values win). The oracle replays the literal per batch.
    Q("q176_column_default",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_def")
        val sub = t(s, dir, "orders").filter(col("o_orderkey") % 20 === 0)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        TableIO.writeTable(s, lh, "orders_def",
          sub.filter(col("o_orderkey") % 60 === 0))
        TableIO.setColumnDefault(s, lh, "orders_def", "o_orderstatus",
          "'BACKFILL'")
        TableIO.appendTable(s, lh, "orders_def",
          sub.filter(col("o_orderkey") % 60 =!= 0 &&
              col("o_orderkey") % 40 === 0)
            .select("o_orderkey", "o_totalprice"))
        TableIO.appendTable(s, lh, "orders_def",
          sub.filter(col("o_orderkey") % 60 =!= 0 &&
            col("o_orderkey") % 40 =!= 0))
        TableIO.selectTable(s, lh, "orders_def").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 60 != 0 AND o_orderkey % 40 = 0
        |       THEN 'BACKFILL' ELSE o_orderstatus END AS o_orderstatus
        |FROM orders WHERE o_orderkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // ---- The rest of the TPC-H suite (q177-q189): every remaining query
    // shape, adapted to the fixture star schema. The fixtures ship no
    // partsupp / l_commitdate / l_shipmode / c_phone / p_container, so the
    // missing inputs are derived (supply cost from lineitem unit price,
    // lateness from l_returnflag, country code from c_nationkey) — the
    // QUERY SHAPES (correlated scalar subqueries, grouped HAVING vs a
    // global scalar, outer-join distributions, disjunctive join
    // predicates, view + argmax) are the genuine articles, and DuckDB
    // runs the genuine SQL with subqueries intact. Float policy as the
    // rest of the family: exact DECIMAL accumulation, ONE double
    // cast/division at the end; doubles summed raw only where the addends
    // are integer-valued (exact at any order).

    // TPC-H Q2 shape: min-cost supplier per part in a region. Supply cost
    // := min unit price ever quoted for (part, supplier) in lineitem.
    // The correlated min subquery becomes a per-part min over the
    // region-qualified pairs, joined back on equality (the min is the
    // same IEEE double in both engines — l_extendedprice / l_quantity is
    // one division, min is order-free).
    Q("q177_tpch_q2",
      (s, dir) => {
        val eurSupp = t(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
          .join(broadcast(t(s, dir, "nation")
              .join(broadcast(t(s, dir, "region")
                  .filter(col("r_name") === "EUROPE")),
                col("n_regionkey") === col("r_regionkey"))
              .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
        // per-(part, supplier) min is unaffected by dropping OTHER parts,
        // and only LARGE-part pairs can survive the downstream joins — so
        // the part filter semi-joins the fact BEFORE the wide-key
        // aggregation, cutting the (partkey, suppkey) shuffle to the
        // qualifying slice (the oracle aggregates everything first;
        // results are identical). The correlated min then runs as a
        // per-part window over the already-EUROPE-qualified pairs —
        // no second aggregation, no join-back, no double evaluation of
        // the subtree.
        val ps = t(s, dir, "lineitem")
          .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
          .join(broadcast(t(s, dir, "part")
              .filter(col("p_type") === "LARGE").select("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .agg(min(col("l_extendedprice") / col("l_quantity"))
            .as("ps_supplycost"))
        val qualified = ps.join(broadcast(eurSupp),
          col("ps_suppkey") === col("s_suppkey"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("ps_partkey"))
        qualified
          .withColumn("mc_cost", min(col("ps_supplycost")).over(w))
          .filter(col("ps_supplycost") === col("mc_cost"))
          .join(broadcast(t(s, dir, "part")
              .filter(col("p_type") === "LARGE")
              .select("p_partkey", "p_brand")),
            col("ps_partkey") === col("p_partkey"))
          .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM part, supplier, ps, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_type = 'LARGE'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(ps2.ps_supplycost)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = part.p_partkey
        |      AND s2.s_suppkey = ps2.ps_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)),

    // TPC-H Q4 shape: order-priority checking — EXISTS against the fact
    // compiles to a left_semi; lateness stands in as a returned line.
    Q("q178_tpch_q4",
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderdate") >= "1997-01-01" &&
            col("o_orderdate") < "1997-04-01")
          .select("o_orderkey", "o_orderpriority")
          .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
              .select("l_orderkey"),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT * FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q6 shape: the forecasting-revenue-change scan — pure
    // filter + one global sum, the query whose whole cost is how little
    // the scan reads (PushedFilters + two-column ReadSchema).
    Q("q179_tpch_q6",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1997-01-01" &&
            col("l_shipdate") < "1998-01-01" &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              col("l_discount").cast("decimal(18,2)"))
            .cast("double").as("revenue")),
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q8 shape: national market share — the full 8-relation join
    // with nation in two roles (customer's region gate, supplier's
    // nationality) and a conditional-share aggregation per year.
    Q("q180_tpch_q8",
      (s, dir) => {
        val vol = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
          .join(broadcast(t(s, dir, "part")
              .filter(col("p_type") === "ECONOMY").select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .join(t(s, dir, "orders")
              .filter(col("o_orderdate") >= "1996-01-01" &&
                col("o_orderdate") < "1998-01-01")
              .select("o_orderkey", "o_custkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")
              .join(broadcast(t(s, dir, "region")
                  .filter(col("r_name") === "AMERICA")),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey").as("cn_nationkey"))),
            col("c_nationkey") === col("cn_nationkey"))
          .join(broadcast(t(s, dir, "supplier")
              .select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")
              .select(col("n_nationkey").as("sn_nationkey"),
                col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_nationkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_7", vol)
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double")
              .as("nation_volume"),
            sum(vol).cast("double").as("total_volume"))
          .withColumn("mkt_share",
            col("nation_volume") / col("total_volume"))
          .select("o_year", "mkt_share")
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin)),

    // TPC-H Q9 shape: product-type profit by nation and year. Supply
    // cost := p_retailprice per unit (the fixture's stand-in), so
    // profit = revenue - retail * quantity, all in exact DECIMAL.
    Q("q181_tpch_q9",
      (s, dir) => {
        val profit = sum(
          col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)")) -
          col("p_retailprice").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_profit")
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount")
          .join(broadcast(t(s, dir, "part")
              .filter(col("p_name").like("%widget%"))
              .select("p_partkey", "p_retailprice")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(t(s, dir, "supplier")
              .select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")
              .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(profit)
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,2))) -
        |      CAST(p_retailprice AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin)),

    // TPC-H Q11 shape: important stock — per-part value of ASIA-supplied
    // lines, kept only where it exceeds a FRACTION OF THE GLOBAL TOTAL
    // (grouped HAVING against a scalar subquery; the scalar broadcasts).
    Q("q182_tpch_q11",
      (s, dir) => {
        val vol = sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
        val asiaLines = t(s, dir, "lineitem")
          .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(broadcast(t(s, dir, "supplier")
              .join(broadcast(t(s, dir, "nation")
                  .join(broadcast(t(s, dir, "region")
                      .filter(col("r_name") === "ASIA")),
                    col("n_regionkey") === col("r_regionkey"))
                  .select("n_nationkey")),
                col("s_nationkey") === col("n_nationkey"))
              .select("s_suppkey")),
            col("l_suppkey") === col("s_suppkey"))
        val perPart = asiaLines.groupBy("l_partkey")
          .agg(vol.as("value_dec"))
        val total = asiaLines.agg(vol.as("total_dec"))
        perPart.crossJoin(broadcast(total))
          .filter(col("value_dec").cast("double") >
            col("total_dec").cast("double") * 0.001)
          .select(col("l_partkey"),
            col("value_dec").cast("double").as("value"))
          .orderBy(col("value").desc, col("l_partkey"))
      },
      Some("""SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS value
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY l_partkey
        |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) > (
        |  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) * 0.001
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA')
        |ORDER BY value DESC, l_partkey""".stripMargin)),

    // TPC-H Q12 shape: shipping-mode priority counts — fact-to-orders
    // join with two conditional counts per group; l_returnflag stands in
    // for the missing l_shipmode.
    Q("q183_tpch_q12",
      (s, dir) => {
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1997-01-01" &&
            col("l_shipdate") < "1998-01-01" &&
            col("l_returnflag").isin("A", "R"))
          .select("l_orderkey", "l_returnflag")
          .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(
            sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_returnflag IN ('A', 'R')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    // join with the filter INSIDE the join condition (kept customers with
    // zero qualifying orders count as c_count = 0), then a distribution
    // over the counts.
    Q("q184_tpch_q13",
      (s, dir) =>
        t(s, dir, "customer").select("c_custkey")
          .join(t(s, dir, "orders")
              .filter(col("o_orderpriority") =!= "5-LOW")
              .select("o_orderkey", "o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q14 shape: promotion-revenue share for a ship month — one
    // conditional/total aggregation pair, one double division.
    Q("q185_tpch_q14",
      (s, dir) => {
        val vol = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1997-03-01" &&
            col("l_shipdate") < "1997-04-01")
          .select("l_partkey", "l_extendedprice", "l_discount")
          .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", vol)
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double")
              .as("promo_vol"),
            sum(vol).cast("double").as("total_vol"))
          .select((lit(100.0) * col("promo_vol") / col("total_vol"))
            .as("promo_revenue"))
      },
      Some("""SELECT 100.0 *
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)),

    // TPC-H Q15 shape: top supplier — a revenue "view" (quarter
    // aggregation per supplier) joined against its own argmax; the max
    // scalar is a 1-row broadcast, equality tested on the EXACT decimal
    // before any double cast.
    Q("q186_tpch_q15",
      (s, dir) => {
        val revenue = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1997-01-01" &&
            col("l_shipdate") < "1997-04-01")
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount").cast("decimal(18,2)")))
            .as("total_dec"))
        val maxRev = revenue.agg(max(col("total_dec")).as("max_dec"))
        t(s, dir, "supplier").select("s_suppkey", "s_name")
          .join(revenue, col("s_suppkey") === col("supplier_no"))
          .join(broadcast(maxRev), col("total_dec") === col("max_dec"))
          .select(col("s_suppkey"), col("s_name"),
            col("total_dec").cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_dec AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_dec = (SELECT max(total_dec) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q17 shape: small-quantity-order revenue — the correlated
    // per-part average quantity subquery, decorrelated into an
    // aggregate + join-back. Quantities are integer-valued doubles, so
    // their sum is exact at any order; the avg is one IEEE division.
    Q("q187_tpch_q17",
      (s, dir) => {
        val brandLines = t(s, dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(t(s, dir, "part")
              .filter(col("p_brand") === "Brand#5").select("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
        val partAvg = t(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pa_partkey"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        brandLines
          .join(partAvg, col("l_partkey") === col("pa_partkey"))
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg((sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double") / 7.0).as("avg_yearly"))
      },
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#5'
        |  AND l_quantity < (
        |    SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin)),

    // TPC-H Q19 shape: discounted revenue under a DISJUNCTION of
    // (brand, size, quantity) conjunct groups — the partkey equi-join
    // carries the OR as a residual (hash join + filter, never a nested
    // loop; plan-asserted).
    Q("q188_tpch_q19",
      (s, dir) => {
        val cond =
          (col("p_brand") === "Brand#12" &&
            col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" &&
            col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" &&
            col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30))
        t(s, dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
          .join(broadcast(t(s, dir, "part")
              .select("p_partkey", "p_brand", "p_size")),
            col("l_partkey") === col("p_partkey") && cond)
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"))
      },
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q22 shape: global sales opportunity — positive-balance
    // average as a broadcast scalar, NOT EXISTS as a left_anti against
    // qualifying orders, country code derived from c_nationkey. The
    // threshold is sum-exact-decimal / count in ONE double division so
    // both engines agree on the boundary bit-for-bit.
    Q("q189_tpch_q22",
      (s, dir) => {
        val codes = Seq(1, 3, 5, 7, 9, 11, 13)
        val cust = t(s, dir, "customer")
          .filter(col("c_nationkey").isin(codes: _*))
          .select(col("c_custkey"),
            lpad(col("c_nationkey").cast("string"), 2, "0")
              .as("cntrycode"),
            col("c_acctbal"))
        val thresh = cust.filter(col("c_acctbal") > 0.0)
          .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
            count(lit(1)).cast("double")).as("avg_bal"))
        cust.crossJoin(broadcast(thresh))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(t(s, dir, "orders")
              .filter(col("o_orderpriority") === "1-URGENT" &&
                col("o_orderdate") >= "1999-01-01")
              .select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("cntrycode")
          .agg(count(lit(1)).as("numcust"),
            sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
              .as("totacctbal"))
          .orderBy("cntrycode")
      },
      Some("""SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM (SELECT lpad(CAST(c_nationkey AS VARCHAR), 2, '0')
        |    AS cntrycode, c_custkey, c_acctbal
        |  FROM customer
        |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)) cust
        |WHERE c_acctbal > (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE)
        |  FROM customer
        |  WHERE c_acctbal > 0.0
        |    AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
        |AND NOT EXISTS (SELECT * FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin)),

    // Model-based quality filtering (fastText/DCLM-style): train a hashed
    // bag-of-grams logistic classifier on a text-derived label (docs with
    // more 'fast' than 'slow' occurrences), score the corpus, emit the
    // keep decision. Training is engine-specific (sigmoid/exp) → rows-only;
    // the tokenize→sha-hash→accumulate path it shares with q191 is
    // hash-verified there. Bounded for the bench: 10 GD iterations over a
    // ≤1500-row sample at dim 512 (operator defaults are larger).
    Q("q190_quality_classifier",
      (s, dir) => {
        val toksCol = split(lower(col("text")), "[^a-z0-9]+")
        val labeled = t(s, dir, "documents").select(col("doc_id"), col("text"),
          (size(filter(toksCol, x => x === "fast")) >
            size(filter(toksCol, x => x === "slow"))).cast("double")
            .as("label"))
        val model = QualityModel.train(labeled, "text", "label",
          dim = 512, iters = 10, lr = 4.0, maxFitRows = 1500)
        QualityModel.score(labeled, "doc_id", "text", model)
          .select(col("doc_id"),
            (col("quality_prob") >= 0.5).cast("int").as("keep"))
          .orderBy("doc_id")
      },
      None),

    // Portable fixed-weight classifier scoring: raw integer gram counts ×
    // a pure integer weight formula ⇒ exact BIGINT logits. DuckDB replays
    // the WHOLE feature path — ascii tokens, '_'-joined bigrams, 60-bit
    // sha-256 feature index mod 64, the weight formula, and the sum —
    // hash-verifying the kernel q190's trained scorer shares.
    Q("q191_quality_score_portable",
      (s, dir) => QualityModel.scoreLogitsPortable(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", dim = 64, bias = 7L)
        .orderBy("doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(ts) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || '_' || ts[i + 1])) AS g FROM toks),
        |scored AS (
        |  SELECT doc_id, sum(
        |    CAST((((('0x' || substring(sha256(g), 1, 15))::UBIGINT % 64)
        |      * 2654435761) % 2000003) % 1001 AS BIGINT) - 500) AS s
        |  FROM grams GROUP BY doc_id)
        |SELECT d.doc_id,
        |  7 + COALESCE(CAST(s AS BIGINT), 0) AS logit_fp
        |FROM documents d LEFT JOIN scored USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Portable HyperLogLog registers (q40's approx_count_distinct keeps
    // the engine-private HLL++ sketch; THIS sketch's state is
    // integer-exact and cross-engine): 60-bit sha-256 value hash, top 6
    // bits pick the bucket, rho = first-set-bit position of the rest.
    // Pure built-ins (sha2/conv/bin), one aggregation — DuckDB rebuilds
    // the identical register table. The cardinality estimate is a closed
    // formula over these registers (Sketches.hllEstimate, spec-side:
    // the harmonic mean's float sum is order-sensitive, registers
    // are not).
    Q("q192_portable_hll",
      (s, dir) => Sketches.portableHllRegisters(
          ev(s, dir), "user_id", m = 64, groupCols = Seq("event_type"))
        .orderBy("event_type", "bucket"),
      Some("""SELECT event_type,
        |  CAST(h // 18014398509481984 AS INT) AS bucket,
        |  CAST(max(CASE WHEN h % 18014398509481984 = 0 THEN 55
        |    ELSE 55 - length(bin(h % 18014398509481984)) END) AS INT) AS r
        |FROM (SELECT event_type,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1,
        |      15))::UBIGINT AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL) t
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin)),

    // CDF chaining: the source's merge+delete history folds into a
    // CDF-enabled replica through applyChanges (ONE keyed-replace
    // commit), and the REPLICA'S OWN change feed — staged atomically by
    // the keyed replace — carries the per-key net events: update pairs
    // for surviving changes, deletes for vanished keys (including keys
    // the source updated then deleted: the replica never saw the
    // transient value), inserts for new keys. The oracle replays the
    // scripted history per key.
    Q("q193_cdf_chain",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "src_chain")
        TableIO.dropTable(s, lh, "rep_chain")
        val sub = t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
          .select("o_orderkey", "o_totalprice")
        TableIO.writeTable(s, lh, "src_chain", sub)
        TableIO.enableChangeFeed(s, lh, "src_chain")
        val srcDir = graft.lakehouse.Catalog.tablePath(lh, "src_chain")
        val v0 = graft.lakehouse.Versioned.latestVersion(srcDir).get
        TableIO.writeTable(s, lh, "rep_chain",
          TableIO.selectTable(s, lh, "src_chain"))
        TableIO.enableChangeFeed(s, lh, "rep_chain")
        val repDir = graft.lakehouse.Catalog.tablePath(lh, "rep_chain")
        val repV0 = graft.lakehouse.Versioned.latestVersion(repDir).get
        val updates = sub.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + 1).as("o_totalprice"))
        val inserts = sub.filter(col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + 7).as("o_orderkey"),
            (col("o_totalprice") * 2).as("o_totalprice"))
        TableIO.mergeTable(s, lh, "src_chain",
          updates.unionByName(inserts), Seq("o_orderkey"))
        TableIO.deleteFromTable(s, lh, "src_chain", "o_orderkey % 150 = 0")
        TableIO.applyChanges(s, lh, "rep_chain",
          TableIO.readChangeFeed(s, lh, "src_chain", v0), Seq("o_orderkey"))
        TableIO.readChangeFeed(s, lh, "rep_chain", repV0)
          .select("o_orderkey", "o_totalprice", "_change_type")
          .orderBy("o_orderkey", "_change_type")
      },
      Some("""WITH sub AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
        |  WHERE o_orderkey % 50 = 0)
        |SELECT * FROM (
        |  SELECT k AS o_orderkey, p AS o_totalprice,
        |    'update_preimage' AS _change_type
        |  FROM sub WHERE k % 100 = 0 AND k % 300 <> 0
        |  UNION ALL
        |  SELECT k, p + 1, 'update_postimage'
        |  FROM sub WHERE k % 100 = 0 AND k % 300 <> 0
        |  UNION ALL
        |  SELECT k + 7, p * 2, 'insert' FROM sub WHERE k % 100 = 0
        |  UNION ALL
        |  SELECT k, p, 'delete' FROM sub WHERE k % 150 = 0) ev
        |ORDER BY o_orderkey, _change_type""".stripMargin)),

    // Portable Count-Min sketch end to end: counters built in ONE
    // aggregation (at most depth x width cells cross the exchange; the
    // event stream never shuffles), then point estimates for a fixed
    // probe slice via min-over-rows against the broadcast counter table.
    // DuckDB rebuilds the identical integer counter table from the same
    // 60-bit sha-256 slices and replays the min — the whole sketch
    // algebra is hash-verified, the waiver-upgrade pattern of q192.
    Q("q194_count_min_sketch",
      (s, dir) => {
        val events = ev(s, dir)
        val counters = Sketches.portableCmsCounters(
          events, "user_id", depth = 4, width = 256)
        val probes = events.select("user_id")
          .filter(col("user_id") % 7 === 0)
        Sketches.cmsPointEstimates(counters, probes, "user_id",
          depth = 4, width = 256).orderBy("user_id")
      },
      Some("""WITH h AS (
        |  SELECT user_id,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1,
        |      15))::UBIGINT AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |cells AS (
        |  SELECT i.i AS hrow,
        |    CAST((h // (1::BIGINT << (i.i * 15))) % 256 AS INT) AS bucket,
        |    count(*) AS cnt
        |  FROM h, (SELECT unnest(range(4)) AS i) i
        |  GROUP BY 1, 2),
        |probes AS (
        |  SELECT DISTINCT user_id, h FROM h WHERE user_id % 7 = 0),
        |pc AS (
        |  SELECT user_id, i.i AS hrow,
        |    CAST((h // (1::BIGINT << (i.i * 15))) % 256 AS INT) AS bucket
        |  FROM probes, (SELECT unnest(range(4)) AS i) i)
        |SELECT pc.user_id,
        |  CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
        |FROM pc LEFT JOIN cells USING (hrow, bucket)
        |GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // Exact triangle counting over the part co-purchase graph (parts
    // sharing an order are adjacent): degree-ordered wedge closing —
    // Suri & Vassilvitskii's MR node-iterator — bounds wedge volume at
    // O(E^1.5) regardless of hub skew. The DuckDB oracle replays the
    // SAME orientation and wedge joins, so the count and the
    // orientation algebra are both hash-verified, zero-filled vertices
    // included.
    Q("q195_triangle_counts",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 5 === 0)
          .select("l_orderkey", "l_partkey")
        // '<' (not '!=') halves the self-join output: each unordered pair
        // surfaces once, pre-canonical, so the distinct inside
        // triangleCounts shuffles half the volume for the same edge set
        val pairs = li.as("x").join(li.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        Graph.triangleCounts(pairs, "src", "dst").orderBy("v")
      },
      Some("""WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 5 = 0),
        |e0 AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |    greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |  WHERE x.l_partkey <> y.l_partkey),
        |deg AS (SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
        |o AS (
        |  SELECT
        |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a ELSE e0.b
        |      END AS u,
        |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b ELSE e0.a
        |      END AS w,
        |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN db.d ELSE da.d
        |      END AS dw
        |  FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
        |tri AS (
        |  SELECT e1.u, e1.w AS x, e2.w AS y
        |  FROM o e1 JOIN o e2 ON e1.u = e2.u
        |    AND (e1.dw, e1.w) < (e2.dw, e2.w)
        |  JOIN o e3 ON e3.u = e1.w AND e3.w = e2.w),
        |pv AS (SELECT v, count(*) AS t FROM (
        |    SELECT u AS v FROM tri UNION ALL SELECT x FROM tri
        |    UNION ALL SELECT y FROM tri) GROUP BY v)
        |SELECT CAST(deg.v AS BIGINT) AS v,
        |  CAST(coalesce(pv.t, 0) AS BIGINT) AS triangles
        |FROM deg LEFT JOIN pv USING (v) ORDER BY v""".stripMargin)),

    // Exact asymmetric containment join (excerpt detection): injected
    // 220-char excerpts must score containment ~1.0 against their source
    // documents while Jaccard would miss them entirely. The DuckDB
    // oracle brute-forces ALL token-sharing pairs, verifying both the
    // containment arithmetic and that the probe-prefix/full-index
    // candidate generation missed no qualifying pair.
    Q("q196_containment_join",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
        val excerpts = docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 300000).as("doc_id"),
            substring(col("text"), 1, 220).as("text"))
        Dedup.containmentPairs(docs.unionByName(excerpts),
          "doc_id", "text", threshold = 0.9).orderBy("a", "b")
      },
      Some("""WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |d AS (
        |  SELECT doc_id, text FROM d0
        |  UNION ALL
        |  SELECT doc_id + 300000, substring(text, 1, 220) FROM d0
        |  WHERE doc_id % 25 = 0),
        |w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM d),
        |tok AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(words) AS w FROM w)
        |  WHERE w <> ''),
        |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
        |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b,
        |  CAST(p.common AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
        |FROM pairs p JOIN sz sa ON sa.doc_id = p.a
        |WHERE CAST(p.common AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.9
        |ORDER BY a, b""".stripMargin)),

    // Fixed-point k-means: every quantity integral (quantized vectors,
    // exact integer squared distances, floor-division centroid means),
    // so DuckDB replays the ENTIRE two-round Lloyd trajectory —
    // init-from-smallest-ids, both assignment argmins incl. tie-breaks,
    // both centroid updates — and must land on bit-identical clusters
    // and distances. Float k-means could never be cross-checked this
    // way: its centroid sums are partition-order-dependent.
    Q("q197_kmeans_fixed_point",
      (s, dir) => {
        // 16 deterministically-shifted copies: the fixture embedding
        // table is small enough that a bare run measures per-job
        // scheduling floor, not the clustering plan — the expansion
        // keeps the measured work algorithmic on both engines (the
        // oracle replays the identical construction)
        val corpus = t(s, dir, "embeddings")
          .select(col("vec_id"), explode(expr("sequence(0, 15)")).as("r"),
            col("embedding"))
          .select((col("vec_id") * 16 + col("r")).as("vec_id"),
            expr("transform(embedding, " +
              "x -> cast(x as double) + r * 0.01d)").as("embedding"))
        Clustering.kmeansFixedPoint(corpus, "vec_id", "embedding",
          k = 4, iterations = 2).orderBy("vec_id")
      },
      Some("""WITH corpus AS (
        |  SELECT vec_id * 16 + r.r AS vec_id,
        |    list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) + r.r * CAST(0.01 AS DOUBLE))
        |      AS embedding
        |  FROM embeddings, (SELECT unnest(range(16)) AS r) r),
        |qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024) + 1048576 AS BIGINT))
        |    AS qv
        |  FROM corpus WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cidx, qv AS cv
        |  FROM qv ORDER BY vec_id LIMIT 4),
        |a1 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c0 c)) WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a1)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c1 AS (
        |  SELECT c0.cidx, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 ON u1.cidx = c0.cidx),
        |a2 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c1 c)) WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a2)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c2 AS (
        |  SELECT c1.cidx, coalesce(u2.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN u2 ON u2.cidx = c1.cidx)
        |SELECT vec_id, cluster, dist FROM (
        |  SELECT vec_id, cluster, dist, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |  FROM (
        |    SELECT q.vec_id, c.cidx AS cluster,
        |      CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |    FROM qv q, c2 c)) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin)),

    // Portable KMV (bottom-k) distinct sketch: per event_type the 64
    // smallest distinct 60-bit sha-256 user hashes, carried through
    // partial aggregation by the native graft_bottomk aggregate (≤ k
    // longs per group per partition cross the exchange; the user stream
    // never shuffles). DuckDB rebuilds the identical sketch rows from
    // the same hash — the register-level verification pattern of q192.
    Q("q198_kmv_sketch",
      (s, dir) => Sketches.kmvSketch(
          ev(s, dir), "user_id", k = 64, groupCols = Seq("event_type"))
        .select(col("event_type"),
          posexplode(col("kmv")).as(Seq("pos", "h")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("h"))
        .orderBy("event_type", "rank"),
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1,
        |      15))::UBIGINT AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rank
        |  FROM h)
        |SELECT event_type, CAST(rank AS INT) AS rank, h
        |FROM r WHERE rank <= 64 ORDER BY event_type, rank""".stripMargin)),

    // KMV set algebra — what the sketch family gains over HLL registers:
    // sketches are uniform samples of the distinct hash space, so they
    // MERGE (bottom-k of two sketches is the sketch of the unioned
    // stream) and INTERSECT (Beyer et al. SIGMOD'07: count merged-sketch
    // members both sides contain, scale by the union estimate). Every
    // estimate is integral (decimal div), so DuckDB replays the whole
    // algebra: per-pair union sketches, saturation-aware estimates, the
    // ρ membership count, and the (ρ·U) div k intersection — exact
    // integer equality across engines, not approximate agreement.
    Q("q199_kmv_set_ops",
      (s, dir) => {
        val k = 64
        val sk = Sketches.kmvSketch(
          ev(s, dir), "user_id", k, groupCols = Seq("event_type"))
        val a = sk.select(col("event_type").as("ta"), col("kmv").as("ka"))
        val b = sk.select(col("event_type").as("tb"), col("kmv").as("kb"))
        a.join(b, col("ta") < col("tb"))
          .select(col("ta"), col("tb"),
            Sketches.kmvEstimateCol(col("ka"), k).as("est_a"),
            Sketches.kmvEstimateCol(col("kb"), k).as("est_b"),
            Sketches.kmvEstimateCol(
              Sketches.kmvMergedCol(col("ka"), col("kb"), k), k)
              .as("est_union"),
            Sketches.kmvIntersectionCol(col("ka"), col("kb"), k)
              .as("est_intersect"))
          .orderBy("ta", "tb")
      },
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1,
        |      15))::UBIGINT AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rank
        |  FROM h),
        |sk AS (SELECT event_type, h, rank FROM r WHERE rank <= 64),
        |est AS (
        |  SELECT event_type,
        |    CASE WHEN count(*) < 64 THEN count(*)
        |      ELSE CAST(CAST(63 AS HUGEINT) *
        |        CAST(1152921504606846976 AS HUGEINT) //
        |        CAST(max(CASE WHEN rank = 64 THEN h END) AS HUGEINT)
        |        AS BIGINT)
        |    END AS est
        |  FROM sk GROUP BY 1),
        |types AS (SELECT DISTINCT event_type AS t FROM sk),
        |pairs AS (
        |  SELECT a.t AS ta, b.t AS tb
        |  FROM types a JOIN types b ON a.t < b.t),
        |uni AS (
        |  SELECT ta, tb, h,
        |    row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rank
        |  FROM (
        |    SELECT DISTINCT p.ta, p.tb, s.h
        |    FROM pairs p JOIN sk s
        |      ON s.event_type = p.ta OR s.event_type = p.tb)),
        |usk AS (SELECT ta, tb, h, rank FROM uni WHERE rank <= 64),
        |uest AS (
        |  SELECT ta, tb, count(*) AS usize,
        |    CASE WHEN count(*) < 64 THEN count(*)
        |      ELSE CAST(CAST(63 AS HUGEINT) *
        |        CAST(1152921504606846976 AS HUGEINT) //
        |        CAST(max(CASE WHEN rank = 64 THEN h END) AS HUGEINT)
        |        AS BIGINT)
        |    END AS est_union
        |  FROM usk GROUP BY 1, 2),
        |rho AS (
        |  SELECT u.ta, u.tb, count(*) AS rho
        |  FROM usk u
        |  JOIN sk sa ON sa.event_type = u.ta AND sa.h = u.h
        |  JOIN sk sb ON sb.event_type = u.tb AND sb.h = u.h
        |  GROUP BY 1, 2)
        |SELECT p.ta, p.tb, ea.est AS est_a, eb.est AS est_b, ue.est_union,
        |  CAST(CAST(coalesce(rho.rho, 0) AS HUGEINT) *
        |    CAST(ue.est_union AS HUGEINT) // CAST(ue.usize AS HUGEINT)
        |    AS BIGINT) AS est_intersect
        |FROM pairs p
        |JOIN est ea ON ea.event_type = p.ta
        |JOIN est eb ON eb.event_type = p.tb
        |JOIN uest ue ON ue.ta = p.ta AND ue.tb = p.tb
        |LEFT JOIN rho ON rho.ta = p.ta AND rho.tb = p.tb
        |ORDER BY p.ta, p.tb""".stripMargin)),

    // Fixed-point Johnson–Lindenstrauss projection (Achlioptas ±1 matrix
    // from sha-256 parity, components floor-quantized to integers): every
    // output coordinate is an exact signed integer sum, so DuckDB
    // re-derives the SAME matrix from (i, j) hashes and replays the whole
    // projection — the portable twin pattern for an op whose float form
    // could never hash-match. Pure per-row kernel: zero shuffle.
    Q("q200_jl_projection",
      (s, dir) => Embeddings.withJlProjection(
          t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
            .select("vec_id", "embedding"),
          "embedding", outDim = 16, dim = 64)
        .select(col("vec_id"),
          posexplode(col("embedding_jl")).as(Seq("i", "c")))
        .select(col("vec_id"), col("i").cast("int").as("i"), col("c"))
        .orderBy("vec_id", "i"),
      Some("""WITH q AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS qv
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |s AS (
        |  SELECT i.i, j.j,
        |    CASE WHEN CAST(('0x' || substring(sha256(
        |        CAST(i.i AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)),
        |        1, 15))::UBIGINT AS BIGINT) % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT unnest(range(16)) AS i) i,
        |       (SELECT unnest(range(64)) AS j) j)
        |SELECT q.vec_id, CAST(s.i AS INT) AS i,
        |  CAST(sum(s.sgn * q.qv) AS BIGINT) AS c
        |FROM q JOIN s ON s.j = q.j
        |GROUP BY 1, 2 ORDER BY vec_id, i""".stripMargin)),

    // Anti-entropy replica verification (Dynamo/Cassandra Merkle repair,
    // one level): both tables summarize to 256 order-independent bucket
    // fingerprints (count + bit_xor of 60-bit sha row digests, keyed by
    // the key digest mod buckets) and only disagreeing buckets surface —
    // an O(buckets) exchange regardless of table size. The replica here
    // diverges by a scripted perturbation (status flips + dropped rows);
    // DuckDB rebuilds both fingerprint tables from the same hashes and
    // replays the full-outer diff.
    Q("q201_anti_entropy",
      (s, dir) => {
        val src = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        val rep = src
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 997 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
          .filter(col("o_orderkey") % 1499 =!= 0)
        Integrity.checksumDiff(src, rep,
          col("o_orderkey").cast("string"),
          concat_ws("#", col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus")),
          buckets = 256).orderBy("bucket")
      },
      Some("""WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
        |rep AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 997 = 0 THEN 'X'
        |      ELSE o_orderstatus END AS o_orderstatus
        |  FROM src WHERE o_orderkey % 1499 <> 0),
        |fa AS (
        |  SELECT CAST(hkey % 256 AS INT) AS bucket,
        |    count(*) AS n_a, bit_xor(hrow) AS checksum_a
        |  FROM (
        |    SELECT
        |      CAST(('0x' || substring(sha256(CAST(o_orderkey AS VARCHAR)),
        |        1, 15))::UBIGINT AS BIGINT) AS hkey,
        |      CAST(('0x' || substring(sha256(concat_ws('#', o_orderkey,
        |        o_custkey, o_orderstatus)), 1, 15))::UBIGINT AS BIGINT)
        |        AS hrow
        |    FROM src) GROUP BY 1),
        |fb AS (
        |  SELECT CAST(hkey % 256 AS INT) AS bucket,
        |    count(*) AS n_b, bit_xor(hrow) AS checksum_b
        |  FROM (
        |    SELECT
        |      CAST(('0x' || substring(sha256(CAST(o_orderkey AS VARCHAR)),
        |        1, 15))::UBIGINT AS BIGINT) AS hkey,
        |      CAST(('0x' || substring(sha256(concat_ws('#', o_orderkey,
        |        o_custkey, o_orderstatus)), 1, 15))::UBIGINT AS BIGINT)
        |        AS hrow
        |    FROM rep) GROUP BY 1)
        |SELECT coalesce(fa.bucket, fb.bucket) AS bucket,
        |  coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |  coalesce(checksum_a, 0) AS checksum_a,
        |  coalesce(checksum_b, 0) AS checksum_b
        |FROM fa FULL OUTER JOIN fb ON fa.bucket = fb.bucket
        |WHERE coalesce(n_a, 0) <> coalesce(n_b, 0)
        |  OR coalesce(checksum_a, 0) <> coalesce(checksum_b, 0)
        |ORDER BY bucket""".stripMargin)),

    // UNIQUE constraints end to end: declared as a validated metadata
    // commit (feature-gated), a disjoint-key append lands, and a
    // violating append is rejected ATOMICALLY — the in-query require
    // proves the rejection, and the hash-matched final state proves
    // nothing from the rejected batch leaked in. The against-table probe
    // is stats-pruned: single-column keys only scan files whose min/max
    // range intersects the batch's.
    Q("q202_unique_constraint",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "uniq_orders")
        val base = t(s, dir, "orders").filter(col("o_orderkey") % 40 === 0)
          .select("o_orderkey", "o_totalprice")
        TableIO.writeTable(s, lh, "uniq_orders", base)
        TableIO.addUniqueConstraint(s, lh, "uniq_orders", "pk",
          Seq("o_orderkey"))
        TableIO.appendTable(s, lh, "uniq_orders",
          base.select((col("o_orderkey") + 1).as("o_orderkey"),
            (col("o_totalprice") * 2).as("o_totalprice")))
        val rejected =
          try { TableIO.appendTable(s, lh, "uniq_orders", base.limit(10)); false }
          catch { case _: IllegalArgumentException => true }
        require(rejected, "duplicate-key append must be rejected")
        TableIO.selectTable(s, lh, "uniq_orders")
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 40 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 40 = 0)
        |ORDER BY o_orderkey""".stripMargin)),

    // Semi-structured extraction end to end: the events.props JSON column
    // is schema-inferred from a bounded seeded sample (driver holds only
    // the schema), shredded with codegen'd from_json, and the extracted
    // typed field aggregates per event_type — integer-exact, so DuckDB's
    // independent JSON extraction must land on the same counts and sums.
    Q("q203_json_shred",
      (s, dir) => {
        val flat = Semistructured.flattenJson(s, ev(s, dir), "props")
        flat.groupBy("event_type")
          .agg(count(col("k")).as("n_k"),
            sum(col("k")).as("sum_k"),
            countDistinct(col("k")).as("distinct_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
        |  count(CAST(props->>'k' AS BIGINT)) AS n_k,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(count(DISTINCT CAST(props->>'k' AS BIGINT)) AS BIGINT)
        |    AS distinct_k
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Declared FOREIGN KEY + on-demand referential audit: the parent
    // drops a third of its keys, the FK declares NOT VALID (recording
    // intent without the audit — the lakehouse-standard informational
    // constraint), and validateForeignKey returns the distinct orphaned
    // child keys via one anti join. DuckDB replays the anti join.
    Q("q204_fk_audit",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "fk_parent")
        TableIO.dropTable(s, lh, "fk_child")
        TableIO.writeTable(s, lh, "fk_parent",
          t(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
            .select("c_custkey", "c_name"))
        TableIO.writeTable(s, lh, "fk_child",
          t(s, dir, "orders").filter(col("o_orderkey") % 20 === 0)
            .select("o_orderkey", "o_custkey"))
        TableIO.addForeignKey(s, lh, "fk_child", "fk_cust",
          Seq("o_custkey"), "fk_parent", Seq("c_custkey"),
          validate = false)
        TableIO.validateForeignKey(s, lh, "fk_child", Seq("o_custkey"),
          "fk_parent", Seq("c_custkey")).orderBy("o_custkey")
      },
      Some("""SELECT DISTINCT o_custkey
        |FROM orders
        |WHERE o_orderkey % 20 = 0 AND o_custkey IS NOT NULL
        |  AND o_custkey NOT IN (
        |    SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0)
        |ORDER BY o_custkey""".stripMargin)),

    // Expectation-gated ingestion (DLT expect_or_quarantine): a perturbed
    // orders batch splits through one codegen'd gate pass — passing rows
    // land in the gold table, failing rows in the quarantine table with
    // their failed checks recorded (declaration order) — and the query
    // reads BOTH destinations back tagged. The oracle replays the split
    // and the reason strings, so the routing and the why are both
    // hash-verified.
    Q("q205_quarantine_ingest",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "gold_orders")
        TableIO.dropTable(s, lh, "gold_orders_quarantine")
        val batch = t(s, dir, "orders")
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 70 === 0, lit(null).cast("bigint"))
              .otherwise(col("o_custkey")).as("o_custkey"),
            when(col("o_orderkey") % 90 === 0, -col("o_totalprice"))
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        graft.lakehouse.Ingest.appendWithQuarantine(s, lh, "gold_orders",
          "gold_orders_quarantine", batch, Seq(
            Quality.NotNull("o_custkey"),
            Quality.InRange("o_totalprice", 0.0, 1e9)))
        TableIO.selectTable(s, lh, "gold_orders")
          .select(lit("gold").as("dest"), col("o_orderkey"),
            lit("").as("failed_checks"))
          .unionByName(TableIO.selectTable(s, lh, "gold_orders_quarantine")
            .select(lit("quarantine").as("dest"), col("o_orderkey"),
              col("failed_checks")))
          .orderBy("dest", "o_orderkey")
      },
      Some("""WITH batch AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 70 = 0 THEN NULL
        |      ELSE o_custkey END AS ck,
        |    CASE WHEN o_orderkey % 90 = 0 THEN -o_totalprice
        |      ELSE o_totalprice END AS tp
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |tagged AS (
        |  SELECT o_orderkey,
        |    concat_ws(',',
        |      CASE WHEN ck IS NULL THEN 'not_null:o_custkey' END,
        |      CASE WHEN tp IS NOT NULL AND (tp < 0 OR tp > 1e9)
        |        THEN 'in_range:o_totalprice' END) AS failed
        |  FROM batch)
        |SELECT CASE WHEN failed = '' THEN 'gold'
        |    ELSE 'quarantine' END AS dest,
        |  o_orderkey, failed AS failed_checks
        |FROM tagged ORDER BY dest, o_orderkey""".stripMargin)),

    // Windowed co-occurrence counts (the PMI / word2vec numerator):
    // unordered token pairs within 3 positions, generated INSIDE each
    // row (position zipped against its next-3 slice — zero shuffle
    // before the single pair-count aggregation), canonicalized so both
    // orders accumulate together. DuckDB replays with a positional
    // self-join — integer-exact counts, top-200 by (count desc, pair).
    Q("q206_cooccurrence",
      (s, dir) => LangModel.cooccurrenceCounts(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", window = 3, minCount = 5L)
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(200),
      Some("""WITH tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
        |      AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents WHERE doc_id % 5 = 0),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |pairs AS (
        |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3),
        |counted AS (
        |  SELECT w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2
        |  HAVING count(*) >= 5)
        |SELECT w1, w2, CAST(n AS BIGINT) AS n FROM counted
        |ORDER BY n DESC, w1, w2 LIMIT 200""".stripMargin)),

    // Exact phrase search from a positional inverted index (index once,
    // query many): the corpus shuffles ONCE into (token, doc, positions)
    // postings; each phrase answers via broadcast joins plus per-document
    // shifted-intersection algebra — a doc matches at start s iff
    // token_j sits at s + j for every offset. Overlapping occurrences
    // count. DuckDB replays relationally: a start matches when all k
    // offsets hit (HAVING count = phrase length).
    Q("q207_phrase_search",
      (s, dir) => {
        val idx = Search.positionalIndex(
          t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
          "doc_id", "text")
        Search.phraseMatches(idx, "doc_id", Seq(
            "table value", "fast key scan", "window stream",
            "spark order data"))
          .orderBy("phrase", "doc_id")
      },
      Some("""WITH tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
        |      AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents WHERE doc_id % 4 = 0),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |q(phrase, off, w) AS (VALUES
        |  ('table value', 0, 'table'), ('table value', 1, 'value'),
        |  ('fast key scan', 0, 'fast'), ('fast key scan', 1, 'key'),
        |  ('fast key scan', 2, 'scan'),
        |  ('window stream', 0, 'window'), ('window stream', 1, 'stream'),
        |  ('spark order data', 0, 'spark'),
        |  ('spark order data', 1, 'order'),
        |  ('spark order data', 2, 'data')),
        |hits AS (
        |  SELECT q.phrase, t.doc_id, t.pos - q.off AS start
        |  FROM q JOIN tok t ON t.w = q.w),
        |full_hits AS (
        |  SELECT phrase, doc_id, start FROM hits
        |  GROUP BY phrase, doc_id, start
        |  HAVING count(*) = (SELECT count(*) FROM q q2
        |    WHERE q2.phrase = hits.phrase))
        |SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_matches
        |FROM full_hits GROUP BY 1, 2 ORDER BY phrase, doc_id""".stripMargin)),

    // Integer-exact PMI association ranking: log-free score
    // scale·n·N² div (c_a·c_b·n_pairs) ranks identically to float PMI
    // (log is monotone) and is bit-identical on every engine — DuckDB
    // replays the co-occurrence counts, the unigram counts, and the
    // HUGEINT division, so the whole association mine is hash-verified.
    Q("q208_pmi_rank",
      (s, dir) => LangModel.pmiRank(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", window = 3, minCount = 5L)
        .orderBy(col("score").desc, col("w1"), col("w2"))
        .limit(100),
      Some("""WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents WHERE doc_id % 5 = 0),
        |toks AS (SELECT w FROM tok WHERE w <> ''),
        |pos AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
        |      AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents WHERE doc_id % 5 = 0),
        |ptok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM pos WHERE w <> ''),
        |pairs AS (
        |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
        |  FROM ptok a JOIN ptok b
        |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3),
        |counted AS (
        |  SELECT w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2
        |  HAVING count(*) >= 5),
        |uni AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n_tokens FROM toks),
        |ptot AS (SELECT sum(n) AS n_pairs FROM counted)
        |SELECT c.w1, c.w2, CAST(c.n AS BIGINT) AS n,
        |  CAST(CAST(1000000 AS HUGEINT) * c.n * t.n_tokens * t.n_tokens
        |    // (CAST(ua.c AS HUGEINT) * ub.c * p.n_pairs) AS BIGINT)
        |    AS score
        |FROM counted c
        |JOIN uni ua ON ua.w = c.w1
        |JOIN uni ub ON ub.w = c.w2, tot t, ptot p
        |ORDER BY score DESC, c.w1, c.w2 LIMIT 100""".stripMargin)),

    // REAL video container metadata: deterministic spec-conformant
    // ISO-BMFF fixtures (ftyp/moov/mvhd/trak/tkhd/mdia/hdlr boxes) are
    // generated per row, then parsed back by the pure-JVM box walker —
    // brand, movie timescale/duration, track count, video dimensions
    // (16.16 fixed point), audio track count. DuckDB recomputes every
    // expected value from the same doc_id arithmetic (the q80
    // synthetic-WAV pattern): the parse round-trip is hash-verified.
    Q("q209_video_container_meta",
      (s, dir) => {
        val vids = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 9 === 0)
          .withColumn("ts_hz", (lit(1000) + (col("doc_id") % 4) * 500).cast("long"))
          .withColumn("dur_ticks", ((col("doc_id") % 500 + 100) * 100).cast("long"))
          .withColumn("w", (lit(320) + (col("doc_id") % 5) * 160).cast("int"))
          .withColumn("h", (lit(180) + (col("doc_id") % 5) * 90).cast("int"))
          .withColumn("n_audio", (col("doc_id") % 3).cast("int"))
          .withColumn("n_samples", (col("doc_id") % 20 + 5).cast("int"))
          .withColumn("sample_bytes",
            ((col("doc_id") % 11 + 1) * 100).cast("int"))
          .withColumn("payload", Multimodal.syntheticMp4Udf(
            col("ts_hz"), col("dur_ticks"), col("w"), col("h"),
            col("n_audio"), col("n_samples"), col("sample_bytes")))
        Multimodal.decodeVideoContainer(vids, "payload")
          .select(col("doc_id"), col("video.brand").as("brand"),
            col("video.timescale").as("timescale"),
            col("video.duration_ms").as("duration_ms"),
            col("video.tracks").as("tracks"),
            col("video.video_width").as("video_width"),
            col("video.video_height").as("video_height"),
            col("video.audio_tracks").as("audio_tracks"),
            col("video.video_samples").as("video_samples"),
            col("video.video_bytes").as("video_bytes"),
            col("video.video_avg_bitrate_bps").as("video_avg_bitrate_bps"),
            col("video.has_chunk_offsets").as("has_chunk_offsets"))
          .orderBy("doc_id")
      },
      // the oracle reproduces every parsed field from the fixture
      // arithmetic — incl. the stts/stsz-derived sample count, byte
      // total, and integer avg bitrate (bytes*8000 // duration_ms)
      Some("""WITH f AS (
        |  SELECT doc_id,
        |    CAST(1000 + (doc_id % 4) * 500 AS BIGINT) AS timescale,
        |    CAST(((doc_id % 500 + 100) * 100 * 1000)
        |      // (1000 + (doc_id % 4) * 500) AS BIGINT) AS duration_ms,
        |    CAST(doc_id % 20 + 5 AS BIGINT) AS n_samples,
        |    CAST((doc_id % 11 + 1) * 100 AS BIGINT) AS sample_bytes
        |  FROM documents WHERE doc_id % 9 = 0)
        |SELECT doc_id, 'isom' AS brand, timescale, duration_ms,
        |  CAST(1 + doc_id % 3 AS INT) AS tracks,
        |  CAST(320 + (doc_id % 5) * 160 AS INT) AS video_width,
        |  CAST(180 + (doc_id % 5) * 90 AS INT) AS video_height,
        |  CAST(doc_id % 3 AS INT) AS audio_tracks,
        |  n_samples AS video_samples,
        |  n_samples * sample_bytes AS video_bytes,
        |  (n_samples * sample_bytes * 8000) // duration_ms
        |    AS video_avg_bitrate_bps,
        |  TRUE AS has_chunk_offsets
        |FROM f ORDER BY doc_id""".stripMargin)),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // ranking (q61's machinery, k=50) and the cosine vector ranking
    // (q34's machinery, query = embedding 0, k=50) — integer-exact
    // contributions (scale div (k0 + rank)), so DuckDB replays BOTH
    // retrievers AND the fusion bit-for-bit. doc_id and vec_id share the
    // same id space by fixture construction.
    Q("q210_rrf_fusion",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val bm = TextStats.bm25TopK(docs.select("doc_id", "text"), "doc_id",
            "text", query = "spark shuffle join window", k = 50)
          .select(col("doc_id").as("id"), col("rank"))
        val cos = Similarity.cosineTopK(emb, emb.filter(col("vec_id") === 0),
            "vec_id", "embedding", k = 50)
          .select(col("vec_id").as("id"), col("rank"))
        Retrieval.rrfFuse(Seq(bm, cos), "id", "rank", k = 25)
          .orderBy("rank")
      },
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |nz AS (SELECT doc_id, term FROM w WHERE length(term) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM nz GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM nz
        |  WHERE term IN ('spark', 'shuffle', 'join', 'window') GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        |sb AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * tf * (1.2 + 1.0) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
        |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), corpus),
        |sc AS (SELECT doc_id, sum(s) AS bm25 FROM sb GROUP BY 1),
        |b50 AS (
        |  SELECT id, rank FROM (
        |    SELECT doc_id AS id,
        |      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        |    FROM sc) WHERE rank <= 50),
        |v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT ve AS qv FROM v WHERE vec_id = 0),
        |sv AS (
        |  SELECT v.vec_id,
        |    list_sum(list_transform(list_zip(v.ve, q.qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM v, q),
        |c50 AS (
        |  SELECT id, rank FROM (
        |    SELECT vec_id AS id,
        |      row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank
        |    FROM sv) WHERE rank <= 50),
        |u AS (SELECT * FROM b50 UNION ALL SELECT * FROM c50),
        |f AS (
        |  SELECT id,
        |    CAST(sum(CAST(1000000000000 AS BIGINT) // (60 + rank)) AS BIGINT)
        |      AS rrf_score,
        |    count(*) AS n_systems
        |  FROM u GROUP BY 1),
        |r AS (
        |  SELECT id, row_number() OVER (
        |      ORDER BY rrf_score DESC, n_systems DESC, id) AS rank,
        |    rrf_score, n_systems
        |  FROM f)
        |SELECT id, CAST(rank AS INT) AS rank, rrf_score,
        |  CAST(n_systems AS BIGINT) AS n_systems
        |FROM r WHERE rank <= 25 ORDER BY rank""".stripMargin)),

    // Portable fixed-grid rank sketch over order totals, grouped by
    // status: the per-cell counts ARE the sketch state — integer-exact,
    // mergeable by addition, and recomputed bit-for-bit by DuckDB from
    // the same fixed-point clamp + integer-div arithmetic.
    Q("q211_quantile_sketch",
      (s, dir) => Sketches.quantileSketch(t(s, dir, "orders"),
          "o_totalprice", lo = 0L, hi = 5000000000L, buckets = 128,
          scale = 10000L, groupCols = Seq("o_orderstatus"))
        .orderBy("o_orderstatus", "bucket"),
      Some("""WITH b AS (
        |  SELECT o_orderstatus,
        |    CAST(((LEAST(GREATEST(CAST(floor(o_totalprice * 10000.0) AS BIGINT),
        |      0), 4999999999) - 0) * 128) // 5000000000 AS INT) AS bucket
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT o_orderstatus, bucket, count(*) AS cnt
        |FROM b GROUP BY 1, 2 ORDER BY o_orderstatus, bucket""".stripMargin)),

    // Quantile ANSWERS from the sketch: rank = ceil(n·p/1000) over the
    // cumulative cell counts, answer = the reached cell's lower edge in
    // scaled units — all integer arithmetic, hash-verified end to end
    // (grid resolution is the documented contract; exact quantiles are
    // q66).
    Q("q212_quantile_sketch_answer",
      (s, dir) => Sketches.quantilesFromSketch(
          Sketches.quantileSketch(t(s, dir, "orders"), "o_totalprice",
            lo = 0L, hi = 5000000000L, buckets = 128, scale = 10000L,
            groupCols = Seq("o_orderstatus")),
          permilles = Seq(500, 900, 990), lo = 0L, hi = 5000000000L,
          buckets = 128, groupCols = Seq("o_orderstatus"))
        .orderBy("o_orderstatus", "p"),
      Some("""WITH b AS (
        |  SELECT o_orderstatus,
        |    CAST(((LEAST(GREATEST(CAST(floor(o_totalprice * 10000.0) AS BIGINT),
        |      0), 4999999999) - 0) * 128) // 5000000000 AS INT) AS bucket
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |sk AS (
        |  SELECT o_orderstatus, bucket, count(*) AS cnt
        |  FROM b GROUP BY 1, 2),
        |c AS (
        |  SELECT o_orderstatus, bucket,
        |    sum(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM sk),
        |e AS (
        |  SELECT o_orderstatus, bucket, cum, n, p
        |  FROM c, (SELECT unnest([500, 900, 990]) AS p)),
        |hit AS (
        |  SELECT o_orderstatus, p, min(bucket) AS bucket
        |  FROM e WHERE cum >= (n * p + 999) // 1000
        |  GROUP BY 1, 2)
        |SELECT o_orderstatus, CAST(p AS INT) AS p, bucket,
        |  CAST(0 + (bucket * 5000000000) // 128 AS BIGINT) AS value_scaled
        |FROM hit ORDER BY o_orderstatus, p""".stripMargin)),

    // Structural privacy audit: quasi-identifier equivalence classes
    // below k — exact integer counting, null quasi values group
    // null-safe on both engines.
    Q("q213_k_anonymity",
      (s, dir) => Privacy.kAnonymityViolations(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 5L)
        .orderBy("c_nationkey", "c_mktsegment"),
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 5
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // l-diversity: classes whose sensitive attribute barely varies (the
    // homogeneity attack k-anonymity misses); nulls count as one value.
    Q("q214_l_diversity",
      (s, dir) => Privacy.lDiversityViolations(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", l = 3L)
        .orderBy("c_nationkey", "c_mktsegment"),
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |  CAST(count(DISTINCT c_acctbal) +
        |    max(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS distinct_sensitive
        |FROM customer GROUP BY 1, 2
        |HAVING distinct_sensitive < 3
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // One-row anonymity posture (the release-gate number): actual k,
    // rows at risk, exact integer permille share.
    Q("q215_k_anonymity_summary",
      (s, dir) => Privacy.kAnonymitySummary(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 5L),
      Some("""WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS cs
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(cs) AS BIGINT) AS n_rows,
        |  count(*) AS n_classes,
        |  CAST(min(cs) AS BIGINT) AS min_class_size,
        |  CAST(coalesce(sum(CASE WHEN cs < 5 THEN cs END), 0) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST((coalesce(sum(CASE WHEN cs < 5 THEN cs END), 0) * 1000)
        |    // sum(cs) AS BIGINT) AS at_risk_permille
        |FROM c""".stripMargin)),

    // Retrieval evaluation: recall@k (integer permille) and the MRR
    // numerator (scale div first-relevant-rank) of the BM25 ranking
    // against a deterministic qrel set — DuckDB replays the retriever
    // AND the metrics, so the evaluation itself is hash-verified.
    Q("q216_retrieval_metrics",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ranking = TextStats.bm25TopK(docs.select("doc_id", "text"),
            "doc_id", "text", query = "spark shuffle join window", k = 20)
          .withColumn("query_id", lit("q1"))
        val qrels = docs.filter(col("doc_id") % 13 === 5)
          .select(lit("q1").as("query_id"), col("doc_id"))
        Retrieval.retrievalMetrics(ranking, qrels, "query_id", "doc_id",
            "rank", k = 20)
          .orderBy("query_id")
      },
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |nz AS (SELECT doc_id, term FROM w WHERE length(term) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM nz GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM nz
        |  WHERE term IN ('spark', 'shuffle', 'join', 'window') GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        |sb AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * tf * (1.2 + 1.0) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
        |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), corpus),
        |sc AS (SELECT doc_id, sum(s) AS bm25 FROM sb GROUP BY 1),
        |rk AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS rank FROM sc),
        |top AS (SELECT doc_id, rank FROM rk WHERE rank <= 20),
        |qr AS (SELECT doc_id FROM documents WHERE doc_id % 13 = 5),
        |nr AS (SELECT count(*) AS n_rel FROM qr),
        |h AS (
        |  SELECT count(*) AS hits, min(rank) AS first_rank
        |  FROM top JOIN qr USING (doc_id))
        |SELECT 'q1' AS query_id, CAST(n_rel AS BIGINT) AS n_rel,
        |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
        |  CAST((coalesce(hits, 0) * 1000) // n_rel AS BIGINT)
        |    AS recall_permille,
        |  CAST(CASE WHEN hits > 0 THEN 1000000000000 // first_rank
        |    ELSE 0 END AS BIGINT) AS rr_scaled
        |FROM nr, h""".stripMargin)),

    // Unicode NFC canonicalization through the native codegen'd
    // expression; the fixture text is ASCII (NFC-trivial), so the input
    // is first salted with decomposed e+COMBINING ACUTE pairs, which NFC
    // must compose back to U+00E9 — both engines implement UAX #15, so
    // the full normalized text hash-matches.
    Q("q217_nfc_normalize",
      (s, dir) => TextNorm.normalizeDocuments(
          t(s, dir, "documents").select(col("doc_id"),
            regexp_replace(col("text"), "e", "e\u0301").as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS t
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t) AS text_norm,
        |  CAST(length(t) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(t)) AS BIGINT) AS len_norm,
        |  (length(t) - length(nfc_normalize(t))) <> 0 AS changed
        |FROM d ORDER BY doc_id""".stripMargin)),

    // Stratified split with EXACT per-stratum permille proportions (the
    // property q74's per-row Bernoulli split only hits in expectation) —
    // rank-by-keyed-hash inside each (lang, source) stratum, integer cut
    // points, bit-portable across engines.
    Q("q218_stratified_split",
      (s, dir) => Packing.stratifiedSplit(
          t(s, dir, "documents").select("doc_id", "lang", "source"),
          "doc_id", Seq("lang", "source"), seed = 11L,
          permille = Seq("train" -> 800, "val" -> 100, "test" -> 100))
        .orderBy("doc_id"),
      Some("""WITH r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || '11'),
        |        doc_id) AS r,
        |    count(*) OVER (PARTITION BY lang, source) AS n
        |  FROM documents)
        |SELECT doc_id, lang, source,
        |  CASE WHEN r <= (n * 800) // 1000 THEN 'train'
        |       WHEN r <= (n * 900) // 1000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Unicode script histogram + homoglyph/mixed-script flag; every third
    // document gets its 'a's replaced with Cyrillic 'д' so the profile is
    // non-trivial. Counts via regex subtraction stay codegen'd built-ins.
    Q("q219_script_mix",
      (s, dir) => TextNorm.scriptProfile(
          t(s, dir, "documents").select(col("doc_id"),
            when(col("doc_id") % 3 === 0,
              regexp_replace(col("text"), "a", "\u0434"))
              .otherwise(col("text")).as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN replace(text, 'a', chr(1076)) ELSE text END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(t) - length(regexp_replace(t, '\p{Latin}', '', 'g'))
        |      AS BIGINT) AS latin_n,
        |    CAST(length(t) - length(regexp_replace(t, '\p{Cyrillic}', '', 'g'))
        |      AS BIGINT) AS cyrillic_n,
        |    CAST(length(t) - length(regexp_replace(t, '\p{Han}', '', 'g'))
        |      AS BIGINT) AS han_n,
        |    CAST(length(t) - length(regexp_replace(t, '\p{Greek}', '', 'g'))
        |      AS BIGINT) AS greek_n,
        |    CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
        |      AS BIGINT) AS digit_n
        |  FROM d)
        |SELECT doc_id, latin_n, cyrillic_n, han_n, greek_n, digit_n,
        |  CASE WHEN greatest(latin_n, cyrillic_n, han_n, greek_n) = 0
        |         THEN 'none'
        |       WHEN cyrillic_n >= greatest(greek_n, han_n, latin_n)
        |         THEN 'cyrillic'
        |       WHEN greek_n >= greatest(han_n, latin_n) THEN 'greek'
        |       WHEN han_n >= latin_n THEN 'han'
        |       ELSE 'latin' END AS dominant_script,
        |  ((CASE WHEN latin_n > 0 THEN 1 ELSE 0 END +
        |    CASE WHEN cyrillic_n > 0 THEN 1 ELSE 0 END +
        |    CASE WHEN han_n > 0 THEN 1 ELSE 0 END +
        |    CASE WHEN greek_n > 0 THEN 1 ELSE 0 END) >= 2) AS mixed_script
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Content-defined chunking: boundaries keyed on local md5 content,
    // not absolute position — the oracle rebuilds every boundary, chunk
    // membership, and chunk hash from the same arithmetic.
    Q("q220_cdc_chunks",
      (s, dir) => Packing.contentDefinedChunks(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", windowTokens = 4, divisor = 8)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH arr AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS a
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos,
        |    len(a) AS n
        |  FROM arr),
        |g AS (
        |  SELECT doc_id, pos, tok, n,
        |    string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS gram
        |  FROM tok),
        |b AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN pos >= 4 AND pos < n AND
        |      ('0x' || substr(md5(gram), 1, 8))::UBIGINT % 8 = 0
        |    THEN 1 ELSE 0 END AS boundary
        |  FROM g),
        |ch AS (
        |  SELECT doc_id, pos, tok,
        |    coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_idx
        |  FROM b)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
        |FROM ch GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // One-row corpus dataset card: volume, nullity, diversity, exact-dup
    // count — every figure integer-exact, permille mean via integer
    // division.
    Q("q221_corpus_report",
      (s, dir) => TextStats.corpusReport(
          t(s, dir, "documents"), "doc_id", "text", "lang", "source"),
      Some("""WITH d AS (
        |  SELECT doc_id, text, lang, source,
        |    len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '')) AS ntok
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_text,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(text) - count(DISTINCT md5(text)) AS BIGINT)
        |    AS exact_dup_docs,
        |  CAST(max(ntok) AS BIGINT) AS max_doc_tokens,
        |  CAST(min(ntok) AS BIGINT) AS min_doc_tokens,
        |  CAST((sum(ntok) * 1000) // count(*) AS BIGINT)
        |    AS mean_tokens_permille
        |FROM d""".stripMargin)),

    // Edit-distance-1 token pairs via the SymSpell deletion index — the
    // fixture vocabulary has no natural neighbors, so every 7th document
    // is salted with four deterministic typo forms (insert, delete,
    // double-letter, substitution); the oracle finds the SAME pairs by
    // brute-force levenshtein over the vocabulary, so the index's
    // completeness is what's being verified.
    Q("q222_fuzzy_token_pairs",
      (s, dir) => FuzzyJoin.editDistanceOnePairs(
          t(s, dir, "documents").select(
            when(col("doc_id") % 7 === 0,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                col("text"), "join", "joiin"), "scan", "scn"),
                "sort", "sortt"), "key", "kay"))
              .otherwise(col("text")).as("text")),
          "text")
        .orderBy("a", "b"),
      Some("""WITH d AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN
        |    replace(replace(replace(replace(text, 'join', 'joiin'),
        |      'scan', 'scn'), 'sort', 'sortt'), 'key', 'kay')
        |  ELSE text END AS text FROM documents),
        |tok AS (
        |  SELECT unnest(list_filter(string_split_regex(
        |    lower(trim(coalesce(text, ''))), '\s+'), x -> x <> '')) AS term
        |  FROM d),
        |v AS (SELECT term, count(*) AS n FROM tok GROUP BY 1)
        |SELECT x.term AS a, y.term AS b, x.n AS n_a, y.n AS n_b
        |FROM v x JOIN v y
        |  ON x.term < y.term AND levenshtein(x.term, y.term) = 1
        |ORDER BY a, b""".stripMargin)),

    // PII inventory per source (the audit complement of q54's scrubber):
    // every 5th doc gets an email, the next fifth a URL, the next a phone
    // number; counts and the affected-docs permille are integer-exact.
    Q("q223_pii_inventory",
      (s, dir) => Privacy.piiInventory(
          t(s, dir, "documents").select(col("source"),
            when(col("doc_id") % 5 === 0, concat(col("text"),
              lit(" mail user"), col("doc_id"), lit("@example.com")))
            .when(col("doc_id") % 5 === 1, concat(col("text"),
              lit(" see https://example.com/d/"), col("doc_id")))
            .when(col("doc_id") % 5 === 2, concat(col("text"),
              lit(" call +1 555-000-"), format_string("%04d", col("doc_id"))))
            .otherwise(col("text")).as("text")),
          "text", "source")
        .orderBy("source"),
      Some("""WITH d AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |           text || ' mail user' || doc_id || '@example.com'
        |         WHEN doc_id % 5 = 1 THEN
        |           text || ' see https://example.com/d/' || doc_id
        |         WHEN doc_id % 5 = 2 THEN
        |           text || ' call +1 555-000-' || format('{:04d}', doc_id)
        |         ELSE text END AS text
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    len(regexp_extract_all(coalesce(text, ''),
        |      'https?://[^\s]+')) AS u,
        |    len(regexp_extract_all(coalesce(text, ''),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
        |    len(regexp_extract_all(coalesce(text, ''),
        |      '\+?[0-9][0-9\- ]{7,}[0-9]')) AS p
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(u) AS BIGINT) AS n_urls,
        |  CAST(sum(e) AS BIGINT) AS n_emails,
        |  CAST(sum(p) AS BIGINT) AS n_phones,
        |  CAST(sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_with_url,
        |  CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_with_email,
        |  CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_with_phone,
        |  CAST(sum(CASE WHEN u + e + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_with_pii,
        |  CAST((sum(CASE WHEN u + e + p > 0 THEN 1 ELSE 0 END) * 1000)
        |    // count(*) AS BIGINT) AS pii_docs_permille
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // N-gram novelty of a 20% "new batch" against the other 80% as
    // reference corpus: per-doc distinct-window anti-join membership,
    // exact integer permille.
    Q("q224_ngram_novelty",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextStats.ngramNovelty(
          docs.filter(col("doc_id") % 10 < 2).select("doc_id", "text"),
          docs.filter(col("doc_id") % 10 >= 2).select("doc_id", "text"),
          "doc_id", "text", windowTokens = 5)
          .orderBy("doc_id")
      },
      Some("""WITH arr AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |    coalesce(text, ''), '\s+'), x -> x <> '') AS a
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos
        |  FROM arr),
        |g AS (
        |  SELECT doc_id, pos,
        |    md5(string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS gram
        |  FROM tok),
        |valid AS (SELECT DISTINCT doc_id, gram FROM g WHERE pos >= 5),
        |refg AS (SELECT DISTINCT gram FROM valid WHERE doc_id % 10 >= 2),
        |newg AS (SELECT doc_id, gram FROM valid WHERE doc_id % 10 < 2),
        |cnt AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN gram NOT IN (SELECT gram FROM refg)
        |        THEN 1 ELSE 0 END) AS n_novel
        |  FROM newg GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(cnt.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(cnt.n_novel, 0) AS BIGINT) AS n_novel,
        |  CASE WHEN coalesce(cnt.n_grams, 0) > 0
        |    THEN CAST((cnt.n_novel * 1000) // cnt.n_grams AS BIGINT)
        |  END AS novelty_permille
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 < 2) d
        |LEFT JOIN cnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Paragraph-level language segmentation: the q27 heuristic per
    // blank-line paragraph, summarized per document with a
    // token-weighted dominant language and a mixed-language flag. The
    // fixture is single-paragraph, so every 4th doc gains a Spanish
    // paragraph and the next fourth a French one.
    Q("q225_lang_segments",
      (s, dir) => TextStats.langSegments(
          t(s, dir, "documents").select(col("doc_id"),
            when(col("doc_id") % 4 === 0, concat(col("text"),
              lit("\n\nel la de que y en los del las un una por")))
            .when(col("doc_id") % 4 === 1, concat(col("text"),
              lit("\n\nle la les de des et en un une du que est")))
            .otherwise(col("text")).as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || chr(10) || chr(10) ||
        |           'el la de que y en los del las un una por'
        |         WHEN doc_id % 4 = 1 THEN text || chr(10) || chr(10) ||
        |           'le la les de des et en un une du que est'
        |         ELSE text END AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, para FROM (
        |    SELECT doc_id, unnest(string_split_regex(coalesce(text, ''),
        |      '\n{2,}')) AS para FROM d)
        |  WHERE length(trim(para)) > 0),
        |s AS (
        |  SELECT doc_id, para,
        |    len(regexp_extract_all(para,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS cjk,
        |    regexp_split_to_array(lower(para), '\s+') AS words,
        |    len(list_filter(string_split_regex(trim(para), '\s+'),
        |      x -> x <> '')) AS ptok
        |  FROM p),
        |sc0 AS (
        |  SELECT doc_id, ptok, cjk, para,
        |    len(list_filter(words, w -> list_contains(['der','die','das',
        |      'und','ist','nicht','ein','eine','zu','mit','von','auf',
        |      'für','den','im','sich'], w))) AS s_de,
        |    len(list_filter(words, w -> list_contains(['the','and','of',
        |      'to','in','is','it','that','for','on','with','as','at','by',
        |      'this','are'], w))) AS s_en,
        |    len(list_filter(words, w -> list_contains(['el','la','de',
        |      'que','y','en','los','del','las','un','una','por','con',
        |      'para','es','no'], w))) AS s_es,
        |    len(list_filter(words, w -> list_contains(['le','la','les',
        |      'de','des','et','en','un','une','du','que','est','pour',
        |      'dans','qui','pas'], w))) AS s_fr
        |  FROM s),
        |sc AS (
        |  SELECT doc_id, ptok,
        |    CASE WHEN cjk * 50 >= length(para) THEN 'zh'
        |         WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |         ELSE 'fr' END AS para_lang
        |  FROM sc0),
        |bl AS (
        |  SELECT doc_id, para_lang, count(*) AS np, sum(ptok) AS lt
        |  FROM sc GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_paras,
        |    count(*) AS n_langs, CAST(sum(lt) AS BIGINT) AS n_tokens
        |  FROM bl GROUP BY 1),
        |dom AS (
        |  SELECT doc_id, para_lang AS dominant_lang FROM (
        |    SELECT doc_id, para_lang, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY lt DESC, para_lang) AS rn
        |    FROM bl) WHERE rn = 1)
        |SELECT agg.doc_id, n_paras, n_langs, dominant_lang, n_tokens,
        |  n_langs > 1 AS mixed_lang
        |FROM agg JOIN dom USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Tokenizer fertility per language: BPE-ish subwords per whitespace
    // word in exact permille; every 3rd doc gains a punctuation/digit
    // suffix so fertility varies.
    Q("q226_token_fertility",
      (s, dir) => TextStats.tokenFertility(
          t(s, dir, "documents").select(col("lang"),
            when(col("doc_id") % 3 === 0,
              concat(col("text"), lit(" v2.0-beta!")))
              .otherwise(col("text")).as("text")),
          "text", "lang")
        .orderBy("lang"),
      Some(s"""WITH d AS (
        |  SELECT lang, CASE WHEN doc_id % 3 = 0 THEN text || ' v2.0-beta!'
        |    ELSE text END AS text
        |  FROM documents),
        |c AS (
        |  SELECT lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws,
        |    len(regexp_extract_all(text, '${TextStats.BpeishPattern}')) AS bp
        |  FROM d)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |  CAST(sum(bp) AS BIGINT) AS bpeish_tokens,
        |  CAST(CASE WHEN sum(ws) > 0 THEN (sum(bp) * 1000) // sum(ws) END
        |    AS BIGINT) AS fertility_permille
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin)),

    // Embedding class-separation diagnostic: pairwise signed squared
    // cosine between per-label fixed-point centroid directions, all
    // integer/DECIMAL arithmetic (no sqrt, no float sums) so DuckDB
    // replays every figure exactly.
    Q("q227_label_separation",
      (s, dir) => Embeddings.labelCentroidSeparation(
          t(s, dir, "embeddings"), "embedding", "label")
        .orderBy("label_a", "label_b"),
      Some("""WITH q AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS d,
        |    CAST(floor(unnest(embedding) * 1048576) AS BIGINT) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (SELECT label, d, sum(v) AS s FROM q GROUP BY 1, 2),
        |n AS (
        |  SELECT label, count(*) AS n FROM embeddings
        |  WHERE embedding IS NOT NULL GROUP BY 1),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    sum(CAST(a.s AS HUGEINT) * b.s) AS dot,
        |    sum(CAST(a.s AS HUGEINT) * a.s) AS na2,
        |    sum(CAST(b.s AS HUGEINT) * b.s) AS nb2
        |  FROM s a JOIN s b ON a.d = b.d AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b, na.n AS n_a, nb.n AS n_b,
        |  CAST(dot AS BIGINT) AS dot,
        |  CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
        |    ((dot * dot * 1000) // (na2 * nb2)) AS BIGINT)
        |    AS cos2_signed_permille
        |FROM p
        |JOIN n na ON na.label = p.label_a
        |JOIN n nb ON nb.label = p.label_b
        |ORDER BY label_a, label_b""".stripMargin)),

    // Right-to-be-forgotten flow: row-level DELETE across two versioned
    // tables + the per-table audit report with a post-erasure residual
    // re-count; the oracle derives the same audit arithmetically from
    // the source tables.
    Q("q228_forget_flow",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "forget_cust")
        TableIO.dropTable(s, lh, "forget_orders")
        TableIO.writeTable(s, lh, "forget_cust",
          t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey"))
        TableIO.writeTable(s, lh, "forget_orders",
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"))
        Erasure.eraseWhere(s, lh, Seq(
          "forget_cust" -> "c_custkey % 97 = 3",
          "forget_orders" -> "o_custkey % 97 = 3"))
          .orderBy("table_name")
      },
      Some("""WITH c AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN c_custkey % 97 = 3 THEN 1 ELSE 0 END) AS d
        |  FROM customer),
        |o AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN o_custkey % 97 = 3 THEN 1 ELSE 0 END) AS d
        |  FROM orders)
        |SELECT 'forget_cust' AS table_name, n AS rows_before,
        |  CAST(d AS BIGINT) AS rows_deleted,
        |  CAST(n - d AS BIGINT) AS rows_after,
        |  CAST(0 AS BIGINT) AS residual_rows
        |FROM c
        |UNION ALL
        |SELECT 'forget_orders', n, CAST(d AS BIGINT), CAST(n - d AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM o
        |ORDER BY table_name""".stripMargin)),

    // Event-time hygiene audit (the watermark-sizing number): every 97th
    // event block has five members arriving ~50 sequence positions late,
    // so the per-key preceding-max comparison finds a real late
    // population; all figures integer-exact.
    Q("q229_event_time_audit",
      (s, dir) => EventWindows.eventTimeAudit(
          ev(s, dir).withColumn("arrival_seq",
            col("event_id") * 100L +
              when(col("event_id") % 97 < 5, 4999L).otherwise(0L)),
          "user_id", "arrival_seq", "ts"),
      Some("""WITH e AS (
        |  SELECT user_id, ts,
        |    event_id * 100 + CASE WHEN event_id % 97 < 5 THEN 4999
        |      ELSE 0 END AS arrival_seq
        |  FROM events),
        |w AS (
        |  SELECT user_id, ts,
        |    max(ts) OVER (PARTITION BY user_id ORDER BY arrival_seq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM e)
        |SELECT count(*) AS n_events,
        |  CAST(sum(CASE WHEN ts < pm THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(count(DISTINCT CASE WHEN ts < pm THEN user_id END) AS BIGINT)
        |    AS n_keys_affected,
        |  CAST(coalesce(max(CASE WHEN ts < pm
        |    THEN epoch_us(pm) - epoch_us(ts) END), 0) AS BIGINT)
        |    AS max_regression_us,
        |  CAST((sum(CASE WHEN ts < pm THEN 1 ELSE 0 END) * 1000) // count(*)
        |    AS BIGINT) AS late_permille
        |FROM w""".stripMargin)),

    // Feature engineering: min-max scaling into integer micro-units —
    // one broadcast 1-row fit, a per-row transform, no exchange.
    Q("q230_minmax_scale",
      (s, dir) => Features.minMaxScale(
          t(s, dir, "customer").select("c_custkey", "c_acctbal"),
          Seq("c_acctbal"))
        .orderBy("c_custkey"),
      Some("""WITH st AS (
        |  SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer)
        |SELECT c_custkey, c_acctbal,
        |  CASE WHEN c_acctbal IS NULL THEN NULL
        |       WHEN hi > lo THEN CAST(floor((c_acctbal - lo) * 1000000.0 /
        |         (hi - lo)) AS BIGINT)
        |       ELSE 0 END AS c_acctbal_scaled
        |FROM customer, st ORDER BY c_custkey""".stripMargin)),

    // Deterministic category dictionary (frequency desc, value asc) —
    // the window runs over the aggregated vocabulary, never the corpus.
    Q("q231_string_index",
      (s, dir) => Features.indexCategories(t(s, dir, "part"), "p_type")
        .orderBy("idx"),
      Some("""WITH v AS (
        |  SELECT p_type AS value, count(*) AS n FROM part
        |  WHERE p_type IS NOT NULL GROUP BY 1)
        |SELECT value, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, value) - 1 AS BIGINT)
        |    AS idx
        |FROM v ORDER BY idx""".stripMargin)),

    // Smoothed target encoding in integer arithmetic (empirical-Bayes
    // shrinkage toward the global mean, prior weight 10) over
    // account-balance cents per nation.
    Q("q232_target_encode",
      (s, dir) => Features.targetEncode(
          t(s, dir, "customer").select(col("c_nationkey"),
            floor(col("c_acctbal") * 100).cast("long").as("bal_cents")),
          "c_nationkey", "bal_cents", m = 10L)
        .orderBy("category"),
      Some("""WITH t AS (
        |  SELECT c_nationkey, CAST(floor(c_acctbal * 100) AS BIGINT)
        |    AS bal_cents
        |  FROM customer
        |  WHERE c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL),
        |g AS (
        |  SELECT sum(bal_cents)::HUGEINT AS gs, count(*) AS gn FROM t),
        |c AS (
        |  SELECT c_nationkey AS category, count(*) AS n,
        |    sum(bal_cents)::HUGEINT AS s
        |  FROM t GROUP BY 1)
        |SELECT category, n,
        |  CAST((s + (gs // gn) * 10) // (n + 10) AS BIGINT) AS encoded
        |FROM c, g ORDER BY category""".stripMargin)),

    // Incremental positional-index maintenance: a batch of NEW docs plus
    // RE-INGESTED docs (modified text) folds into the standing index —
    // old postings retire by anti join, only the batch re-tokenizes.
    // Phrase search over the updated index must equal a from-scratch
    // build over the effective corpus, which is what the oracle replays.
    Q("q233_index_update",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val idx = Search.positionalIndex(
          docs.filter(col("doc_id") % 4 === 0).select("doc_id", "text"),
          "doc_id", "text")
        val batch = docs.filter(col("doc_id") % 4 === 1)
          .select("doc_id", "text")
          .unionByName(docs.filter(col("doc_id") % 8 === 0)
            .select(col("doc_id"),
              concat(col("text"), lit(" spark order data")).as("text")))
        val updated = Search.updatePositionalIndex(idx, batch,
          "doc_id", "text")
        Search.phraseMatches(updated, "doc_id",
            Seq("table value", "spark order data"))
          .orderBy("phrase", "doc_id")
      },
      Some("""WITH eff AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || ' spark order data' FROM documents
        |  WHERE doc_id % 8 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
        |tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
        |      AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM eff),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |q(phrase, off, w) AS (VALUES
        |  ('table value', 0, 'table'), ('table value', 1, 'value'),
        |  ('spark order data', 0, 'spark'),
        |  ('spark order data', 1, 'order'),
        |  ('spark order data', 2, 'data')),
        |hits AS (
        |  SELECT q.phrase, t.doc_id, t.pos - q.off AS start
        |  FROM q JOIN tok t ON t.w = q.w),
        |full_hits AS (
        |  SELECT phrase, doc_id, start FROM hits
        |  GROUP BY phrase, doc_id, start
        |  HAVING count(*) = (SELECT count(*) FROM q q2
        |    WHERE q2.phrase = hits.phrase))
        |SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_matches
        |FROM full_hits GROUP BY 1, 2 ORDER BY phrase, doc_id""".stripMargin)),

    // Quarantine replay: the q205 gate's dead-letter rows get a fix
    // (null keys default to 1), re-gate through the SAME expectations,
    // recovered rows append to gold, the quarantine overwrites down to
    // what still fails — the full dead-letter loop, auditable as
    // ordinary versioned commits.
    Q("q234_quarantine_replay",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "replay_orders")
        TableIO.dropTable(s, lh, "replay_orders_quarantine")
        val batch = t(s, dir, "orders")
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 70 === 0, lit(null).cast("bigint"))
              .otherwise(col("o_custkey")).as("o_custkey"),
            when(col("o_orderkey") % 90 === 0, -col("o_totalprice"))
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        val checks = Seq(
          Quality.NotNull("o_custkey"),
          Quality.InRange("o_totalprice", 0.0, 1e9))
        graft.lakehouse.Ingest.appendWithQuarantine(s, lh, "replay_orders",
          "replay_orders_quarantine", batch, checks)
        graft.lakehouse.Ingest.replayQuarantine(s, lh, "replay_orders",
          "replay_orders_quarantine",
          df => df.withColumn("o_custkey",
            coalesce(col("o_custkey"), lit(1L))),
          checks)
        TableIO.selectTable(s, lh, "replay_orders")
          .select(lit("gold").as("dest"), col("o_orderkey"),
            col("o_custkey"), lit("").as("failed_checks"))
          .unionByName(
            TableIO.selectTable(s, lh, "replay_orders_quarantine")
              .select(lit("quarantine").as("dest"), col("o_orderkey"),
                col("o_custkey"), col("failed_checks")))
          .orderBy("dest", "o_orderkey")
      },
      Some("""WITH b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 70 = 0 THEN NULL
        |      ELSE o_custkey END AS c,
        |    CASE WHEN o_orderkey % 90 = 0 THEN -o_totalprice
        |      ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT 'gold' AS dest, o_orderkey, coalesce(c, 1) AS o_custkey,
        |  '' AS failed_checks
        |FROM b WHERE p >= 0
        |UNION ALL
        |SELECT 'quarantine', o_orderkey, coalesce(c, 1),
        |  'in_range:o_totalprice'
        |FROM b WHERE p < 0
        |ORDER BY dest, o_orderkey""".stripMargin)),

    // Distribution-drift report between two corpus snapshots: per
    // (source, length-bucket) key, each side's share of its own total
    // in exact permille and the signed delta — the integer-exact PSI
    // stand-in for data monitoring.
    Q("q235_share_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("key", concat_ws("#", col("source"),
            expr("n_chars div 64")))
        Analytics.shareDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "key")
          .orderBy("key")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source || '#' || (n_chars // 64) AS key
        |  FROM documents),
        |ca AS (SELECT key, count(*) AS n_a FROM d WHERE doc_id % 2 = 0
        |  GROUP BY 1),
        |cb AS (SELECT key, count(*) AS n_b FROM d WHERE doc_id % 2 = 1
        |  GROUP BY 1),
        |t AS (
        |  SELECT sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ta,
        |    sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS tb
        |  FROM d),
        |j AS (
        |  SELECT key,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb USING (key))
        |SELECT key, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST((n_a * 1000) // ta AS BIGINT) AS share_a_permille,
        |  CAST((n_b * 1000) // tb AS BIGINT) AS share_b_permille,
        |  CAST((n_b * 1000) // tb - (n_a * 1000) // ta AS BIGINT)
        |    AS delta_permille
        |FROM j, t ORDER BY key""".stripMargin)),

    // Dedup-detector evaluation: precision/recall of the q132 threshold
    // join against exact-duplicate ground truth (md5 of normalized
    // text) over the same planted-copy corpus — recall must be total
    // (identical token sets always clear any Jaccard threshold), and
    // precision reports how many near-dup extras the detector admits.
    // The oracle replays detector, truth, AND the evaluation fold.
    Q("q236_dedup_eval",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        val copies = docs.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
        val corpus = docs.unionByName(copies)
        val predicted = Dedup.prefixFilterJaccardPairs(corpus,
          "doc_id", "text", threshold = 0.95).select("a", "b")
        val keyed = corpus.select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
        val truth = keyed.select(col("h"), col("doc_id").as("ida"))
          .join(keyed.select(col("h"), col("doc_id").as("idb")), "h")
          .where(col("ida") < col("idb"))
          .select(col("ida").as("a"), col("idb").as("b"))
        Retrieval.pairSetEval(predicted, truth)
      },
      Some("""WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |d AS (
        |  SELECT doc_id, text FROM d0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM d0 WHERE doc_id % 20 = 0),
        |w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM d),
        |tok AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(words) AS w FROM w)
        |  WHERE w <> ''),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |pairs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
        |  FROM tok l JOIN tok r USING (w)
        |  WHERE l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT a, b FROM pairs
        |  JOIN sizes sa ON sa.doc_id = a
        |  JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(common AS DOUBLE) /
        |    CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.95),
        |k AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM d WHERE text IS NOT NULL),
        |tr AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM k x JOIN k y ON x.h = y.h AND x.doc_id < y.doc_id),
        |u AS (
        |  SELECT CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS ip,
        |    CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END AS it
        |  FROM pred p FULL OUTER JOIN tr t ON p.a = t.a AND p.b = t.b)
        |SELECT CAST(sum(ip) AS BIGINT) AS n_pred,
        |  CAST(sum(it) AS BIGINT) AS n_truth,
        |  CAST(sum(ip * it) AS BIGINT) AS tp,
        |  CASE WHEN sum(ip) > 0
        |    THEN CAST((sum(ip * it) * 1000) // sum(ip) AS BIGINT)
        |  END AS precision_permille,
        |  CASE WHEN sum(it) > 0
        |    THEN CAST((sum(ip * it) * 1000) // sum(it) AS BIGINT)
        |  END AS recall_permille
        |FROM u""".stripMargin)),

    // Temperature mixture rebalance (target share ∝ sqrt(n), the
    // multilingual-pretraining flattening): shares derive from IEEE
    // square roots (correctly rounded, hence engine-identical), the
    // keep decisions from the portable sha threshold — DuckDB replays
    // the whole derivation.
    Q("q237_temperature_rebalance",
      (s, dir) => Packing.temperatureRebalance(
          // skew the corpus (src0 shrunk to a quarter) so the sqrt
          // temperature genuinely downsamples the big strata
          t(s, dir, "documents").select("doc_id", "source")
            .filter(col("source") =!= "src0" || col("doc_id") % 3 === 0),
          "doc_id", "source", alphaPermille = 500, seed = 17L)
        .orderBy("doc_id"),
      Some("""WITH base AS (
        |  SELECT doc_id, source FROM documents
        |  WHERE source <> 'src0' OR doc_id % 3 = 0),
        |counts AS (
        |  SELECT source, count(*) AS n FROM base
        |  WHERE source IS NOT NULL GROUP BY source),
        |shares AS (
        |  SELECT source, sqrt(CAST(n AS DOUBLE)) AS share FROM counts),
        |tmin AS (
        |  SELECT min(CAST(n AS DOUBLE) / share) AS t
        |  FROM counts JOIN shares USING (source)),
        |rates AS (
        |  SELECT source, CAST(floor(((share * t) / CAST(n AS DOUBLE))
        |    * 1152921504606846976.0) AS BIGINT) AS thr
        |  FROM counts JOIN shares USING (source) CROSS JOIN tmin)
        |SELECT d.doc_id, d.source FROM base d JOIN rates USING (source)
        |WHERE CAST(('0x' || substring(sha256(CAST(d.doc_id AS VARCHAR)
        |    || '#' || '17'), 1, 15))::UBIGINT AS BIGINT) < rates.thr
        |ORDER BY doc_id""".stripMargin)),

    // Split manifest over a version-pinned table: per split, the row
    // count, an order-independent id-set fingerprint (bit_xor of 60-bit
    // sha prefixes), and the id range — the reproducibility receipt a
    // training run staples next to (table version, seed).
    Q("q238_split_manifest",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "manifest_cust")
        TableIO.writeTable(s, lh, "manifest_cust",
          t(s, dir, "customer").select("c_custkey", "c_mktsegment"))
        val at = TableIO.selectTableVersion(s, lh, "manifest_cust", 1L)
        Packing.splitManifest(at, "c_custkey", Seq("c_mktsegment"),
            seed = 5L, permille = Seq("train" -> 900, "test" -> 100))
          .orderBy("split")
      },
      Some("""WITH r AS (
        |  SELECT c_custkey,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY sha256(CAST(c_custkey AS VARCHAR) || '#' || '5'),
        |        c_custkey) AS r,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer),
        |sp AS (
        |  SELECT c_custkey,
        |    CASE WHEN r <= (n * 900) // 1000 THEN 'train'
        |         ELSE 'test' END AS split
        |  FROM r)
        |SELECT split, count(*) AS n_rows,
        |  CAST(bit_xor(('0x' || substring(sha256(
        |    CAST(c_custkey AS VARCHAR)), 1, 15))::UBIGINT) AS BIGINT)
        |    AS id_xor,
        |  CAST(min(c_custkey) AS BIGINT) AS min_id,
        |  CAST(max(c_custkey) AS BIGINT) AS max_id
        |FROM sp GROUP BY split ORDER BY split""".stripMargin)),

    // Per-key interval coverage: events become (ts, ts + 1..7 min)
    // intervals; overlapping-or-touching intervals merge into islands
    // and the covered time collapses double-counted overlap — exact
    // integer microseconds end to end.
    Q("q239_interval_coverage",
      (s, dir) => TemporalJoins.intervalCoverage(
          ev(s, dir).select(col("user_id"), col("ts").as("start_ts"),
            expr("timestampadd(MINUTE, CAST(event_id % 7 + 1 AS INT), ts)")
              .as("end_ts")),
          "user_id", "start_ts", "end_ts")
        .orderBy("user_id"),
      Some("""WITH iv AS (
        |  SELECT user_id, ts AS s,
        |    ts + (CAST(event_id % 7 + 1 AS INT) * INTERVAL 1 MINUTE) AS e
        |  FROM events WHERE ts IS NOT NULL),
        |w AS (
        |  SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |f AS (
        |  SELECT user_id, s, e,
        |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM w),
        |i AS (
        |  SELECT user_id, island, count(*) AS n, min(s) AS s, max(e) AS e
        |  FROM f GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        |  count(*) AS n_islands,
        |  CAST(sum(epoch_us(e) - epoch_us(s)) AS BIGINT) AS covered_us,
        |  CAST(max(epoch_us(e)) - min(epoch_us(s)) AS BIGINT) AS span_us
        |FROM i GROUP BY user_id ORDER BY user_id NULLS FIRST""".stripMargin)),

    // Robust outliers by median absolute deviation (the z-score's
    // 50%-breakdown-point complement): exact interpolated medians on
    // integer char counts, IEEE threshold both engines share.
    Q("q240_mad_outliers",
      (s, dir) => Analytics.madOutliers(
          // every 50th doc's length is inflated 20x (a concatenation bug
          // in the synthetic upstream) so the detector has a real tail
          t(s, dir, "documents").select(col("doc_id"),
            (col("n_chars") * when(col("doc_id") % 50 === 0, 20L)
              .otherwise(1L)).as("n_chars")),
          "doc_id", "n_chars", kPermille = 2500L)
        .orderBy("doc_id"),
      Some("""WITH base AS (
        |  SELECT doc_id, n_chars * CASE WHEN doc_id % 50 = 0 THEN 20
        |    ELSE 1 END AS n_chars
        |  FROM documents),
        |m AS (
        |  SELECT quantile_cont(n_chars, 0.5) AS med FROM base
        |  WHERE n_chars IS NOT NULL),
        |d AS (
        |  SELECT doc_id, n_chars, med,
        |    abs(CAST(n_chars AS DOUBLE) - med) AS dev
        |  FROM base, m WHERE n_chars IS NOT NULL),
        |md AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
        |SELECT doc_id, n_chars, med AS median, mad, dev AS deviation
        |FROM d, md
        |WHERE dev > 2.5 * mad
        |ORDER BY doc_id""".stripMargin)),

    // Token-budget allocation by integer water-filling: per-source
    // supplies are skewed 1x-20x (scaled by the source suffix) so the
    // fixed budget saturates the small sources and splits the rest —
    // allocations sum to min(budget, supply) exactly, remainder to the
    // smallest unsaturated strata first.
    Q("q241_budget_allocation",
      (s, dir) => Packing.budgetAllocation(
          t(s, dir, "documents").select(col("source"),
            (col("n_chars") *
              (expr("cast(substring(source, 4) as int)") + 1)).as("toks")),
          "source", "toks", budget = 1000000L)
        .orderBy("stratum"),
      Some("""WITH toks AS (
        |  SELECT source AS stratum,
        |    n_chars * (CAST(substring(source, 4) AS INT) + 1) AS t
        |  FROM documents WHERE source IS NOT NULL),
        |sup AS (
        |  SELECT stratum, CAST(sum(t) AS BIGINT) AS supply
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n, sum(supply) AS total FROM sup),
        |r AS (
        |  SELECT stratum, supply, n, total,
        |    row_number() OVER (ORDER BY supply, stratum) AS i,
        |    sum(supply) OVER (ORDER BY supply, stratum
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
        |  FROM sup, tot),
        |s AS (
        |  SELECT *,
        |    (supply * (n - i + 1) + (prefix - supply) <= 1000000) AS sat
        |  FROM r),
        |agg AS (
        |  SELECT sum(CASE WHEN sat THEN 1 ELSE 0 END) AS satc,
        |    coalesce(sum(CASE WHEN sat THEN supply END), 0) AS sats
        |  FROM s)
        |SELECT stratum, supply,
        |  CAST(CASE WHEN 1000000 >= total OR sat THEN supply
        |    ELSE (1000000 - sats) // (n - satc) +
        |      (CASE WHEN i - satc <= (1000000 - sats) % (n - satc)
        |       THEN 1 ELSE 0 END)
        |  END AS BIGINT) AS allocation
        |FROM s, agg ORDER BY stratum""".stripMargin)),

    // Content-addressed corpus diff: snapshot B removes every 7th doc,
    // edits every 5th, re-keys every 9th (+500000, same bytes), and
    // adds the doc_id%10==9 slice — the one-row report separates
    // genuine churn from id renumbering.
    Q("q242_corpus_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val a = docs.filter(col("doc_id") % 10 < 8)
        val bKept = a.filter(col("doc_id") % 7 =!= 0)
          .filter(col("doc_id") % 9 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" edited")))
              .otherwise(col("text")).as("text"))
        val bRekeyed = a.filter(col("doc_id") % 9 === 0 &&
            col("doc_id") % 7 =!= 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text"))
        val bAdded = docs.filter(col("doc_id") % 10 === 9)
        Quality.corpusDiff(a,
          bKept.unionByName(bRekeyed).unionByName(bAdded),
          "doc_id", "text")
      },
      Some("""WITH a AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
        |b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' edited'
        |      ELSE text END AS text
        |  FROM a WHERE doc_id % 7 <> 0 AND doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT doc_id + 500000, text FROM a
        |  WHERE doc_id % 9 = 0 AND doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9),
        |ka AS (SELECT doc_id AS id, md5(coalesce(text, '')) AS ha FROM a),
        |kb AS (SELECT doc_id AS id, md5(coalesce(text, '')) AS hb FROM b),
        |j AS (SELECT ka.ha, kb.hb FROM ka FULL OUTER JOIN kb USING (id)),
        |base AS (
        |  SELECT
        |    CAST(sum(CASE WHEN ha = hb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unchanged,
        |    CAST(sum(CASE WHEN ha IS NOT NULL AND hb IS NOT NULL
        |      AND ha <> hb THEN 1 ELSE 0 END) AS BIGINT) AS n_edited,
        |    CAST(sum(CASE WHEN hb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    CAST(sum(CASE WHEN ha IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_added
        |  FROM j),
        |rk AS (
        |  SELECT count(*) AS n_rekeyed FROM j
        |  WHERE hb IS NULL AND ha IN (SELECT hb FROM j WHERE ha IS NULL))
        |SELECT * FROM base, rk""".stripMargin)),

    // PERSISTED ANN index (index once / query many / fold batches in —
    // the q233 pattern for vectors): codebooks train on batch 1 and
    // freeze as a versioned table; batch 2 encodes ONLY itself against
    // them and appends; the query runs over the persisted,
    // incrementally-updated index in exact mode (reRank ≥ corpus), so
    // it must hash-match the from-scratch brute-force oracle — q169's
    // SQL verbatim. Incremental-encode behavior (codebooks frozen,
    // O(batch) append, update == rebuild) is spec-proven in AnnIndexSpec.
    Q("q243_ann_index_persisted",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "ann_idx")
        TableIO.dropTable(s, lh, "ann_idx_codebooks")
        val emb = t(s, dir, "embeddings")
        AnnIndex.buildPqIndex(s, lh, "ann_idx",
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
        AnnIndex.appendPqIndex(s, lh, "ann_idx",
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
        AnnIndex.queryPqIndex(s, lh, "ann_idx",
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          k = 10, reRank = 1000000)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 4),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    list_sum(list_transform(list_zip(v.ve, q.qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM v, q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // PERSISTED IVF index, incremental: cell centroids train on batch 1
    // (even ids) with fixed-point Lloyd and FREEZE; batch 2 (odd ids)
    // cell-assigns only itself and appends; the query probes 3 of 8
    // frozen cells over the persisted corpus. The oracle replays
    // training-on-batch-1, BOTH batches' cell assignment, and the probe
    // subset bit-for-bit — the q44 oracle with the fit restricted to
    // the first batch.
    Q("q244_ann_ivf_index_persisted",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "ivf_idx")
        TableIO.dropTable(s, lh, "ivf_idx_centroids")
        val emb = t(s, dir, "embeddings")
        AnnIndex.buildIvfIndex(s, lh, "ivf_idx",
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          nLists = 8)
        AnnIndex.appendIvfIndex(s, lh, "ivf_idx",
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
        AnnIndex.queryIvfIndex(s, lh, "ivf_idx",
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          k = 10, nProbe = 3)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (
        |  SELECT vec_id, ve, list_transform(ve,
        |    x -> CAST(floor(x * 1024) + 1048576 AS BIGINT)) AS qv
        |  FROM v),
        |fitv AS (SELECT * FROM qv WHERE vec_id % 2 = 0),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cidx, qv AS cv
        |  FROM fitv ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM fitv q, c0 c)) WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a1)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c1 AS (
        |  SELECT c0.cidx, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 ON u1.cidx = c0.cidx),
        |a2 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM fitv q, c1 c)) WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a2)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c2 AS (
        |  SELECT c1.cidx, coalesce(u2.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN u2 ON u2.cidx = c1.cidx),
        |cells AS (
        |  SELECT vec_id, cluster AS cell FROM (
        |    SELECT vec_id, cluster, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c2 c)) WHERE rn = 1),
        |probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell, row_number() OVER (
        |      PARTITION BY query_id ORDER BY dist, cell) AS rn
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.cidx AS cell,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM (SELECT * FROM qv WHERE vec_id < 4) q, c2 c))
        |  WHERE rn <= 3),
        |s AS (
        |  SELECT p.query_id, cl.vec_id,
        |    list_sum(list_transform(list_zip(cv.ve, qe.ve), p2 -> p2[1] * p2[2])) /
        |    (sqrt(list_sum(list_transform(cv.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(qe.ve, x -> x * x)))) AS cosine
        |  FROM probe p
        |  JOIN cells cl ON cl.cell = p.cell
        |  JOIN v cv ON cv.vec_id = cl.vec_id
        |  JOIN v qe ON qe.vec_id = p.query_id),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // PERSISTED incremental KMV sketch table: two batch folds (even then
    // odd event ids) into a versioned per-event-type sketch state; the
    // oracle rebuilds the bottom-64 sketch from the WHOLE history in one
    // shot (q198's SQL verbatim) — exact equality because bottom-k merge
    // is associative, proving the fold loses nothing vs a full rescan.
    Q("q245_kmv_sketch_table_incremental",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "kmv_state")
        val events = ev(s, dir)
        Sketches.kmvSketchTableUpdate(s, lh, "kmv_state",
          events.filter(col("event_id") % 2 === 0), "user_id", k = 64,
          groupCols = Seq("event_type"))
        Sketches.kmvSketchTableUpdate(s, lh, "kmv_state",
          events.filter(col("event_id") % 2 =!= 0), "user_id", k = 64,
          groupCols = Seq("event_type"))
        TableIO.selectTable(s, lh, "kmv_state")
          .select(col("event_type"), posexplode(col("kmv")).as(Seq("pos", "h")))
          .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
            col("h"))
          .orderBy("event_type", "rank")
      },
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1,
        |      15))::UBIGINT AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rank
        |  FROM h)
        |SELECT event_type, CAST(rank AS INT) AS rank, h
        |FROM r WHERE rank <= 64 ORDER BY event_type, rank""".stripMargin)),

    // License/compliance inventory — the legal release gate next to the
    // PII one (q223): fixed-string marker scan per family, ONE
    // fixed-width aggregation, |families|+1 rows out. The fixture text
    // carries no license markers, so the query salts declarations in
    // deterministically (doc_id mod 7/11/13 — overlaps make dual-marked
    // docs) and the oracle replays salt + detection + integer permille.
    Q("q246_license_inventory",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .withColumn("text", concat(coalesce(col("text"), lit("")),
            when(col("doc_id") % 7 === 0,
              lit(" Licensed under the MIT License.")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              lit(" Apache License 2.0 applies.")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0,
              lit(" All rights reserved.")).otherwise(lit(""))))
        Privacy.licenseInventory(docs, "text").orderBy("license")
      },
      Some("""WITH d AS (
        |  SELECT lower(coalesce(text, '') ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' Licensed under the MIT License.' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' Apache License 2.0 applies.' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN ' All rights reserved.' ELSE '' END) AS t
        |  FROM documents),
        |f AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(CASE WHEN contains(t, 'mit license')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS mit,
        |    CAST(sum(CASE WHEN contains(t, 'apache license')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS apache,
        |    CAST(sum(CASE WHEN contains(t, 'gnu general public license')
        |      OR contains(t, 'gpl-2.0') OR contains(t, 'gpl-3.0')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS gpl,
        |    CAST(sum(CASE WHEN contains(t, 'bsd license')
        |      OR contains(t, 'bsd 3-clause') OR contains(t, 'bsd 2-clause')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bsd,
        |    CAST(sum(CASE WHEN contains(t, 'creative commons')
        |      OR contains(t, 'cc by') OR contains(t, 'cc0')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS creative_commons,
        |    CAST(sum(CASE WHEN contains(t, 'public domain')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS public_domain,
        |    CAST(sum(CASE WHEN contains(t, 'all rights reserved')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS all_rights_reserved,
        |    CAST(sum(CASE WHEN NOT (contains(t, 'mit license')
        |      OR contains(t, 'apache license')
        |      OR contains(t, 'gnu general public license')
        |      OR contains(t, 'gpl-2.0') OR contains(t, 'gpl-3.0')
        |      OR contains(t, 'bsd license') OR contains(t, 'bsd 3-clause')
        |      OR contains(t, 'bsd 2-clause')
        |      OR contains(t, 'creative commons') OR contains(t, 'cc by')
        |      OR contains(t, 'cc0') OR contains(t, 'public domain')
        |      OR contains(t, 'all rights reserved'))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS unmarked
        |  FROM d),
        |u AS (
        |  SELECT 'mit' AS license, mit AS n_docs_with, n_docs FROM f
        |  UNION ALL SELECT 'apache', apache, n_docs FROM f
        |  UNION ALL SELECT 'gpl', gpl, n_docs FROM f
        |  UNION ALL SELECT 'bsd', bsd, n_docs FROM f
        |  UNION ALL SELECT 'creative_commons', creative_commons, n_docs FROM f
        |  UNION ALL SELECT 'public_domain', public_domain, n_docs FROM f
        |  UNION ALL SELECT 'all_rights_reserved', all_rights_reserved, n_docs FROM f
        |  UNION ALL SELECT 'unmarked', unmarked, n_docs FROM f)
        |SELECT license, n_docs_with,
        |  (n_docs_with * 1000) // n_docs AS docs_permille
        |FROM u ORDER BY license""".stripMargin)),

    // HTML text extraction — the first step of web-scrape ingestion:
    // script/style/comment blocks drop wholesale, tags become word
    // boundaries, the six high-frequency entities decode (amp last),
    // whitespace collapses. Pure codegen'd regexp chain in the RE2-safe
    // discipline, so DuckDB replays the extraction character-for-
    // character on the same salted markup.
    Q("q247_html_extract",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .filter(col("doc_id") % 4 === 0)
          .withColumn("html", concat(
            lit("<html><head><style>p{color:red}</style>" +
              "<script>var x = 1 < 2;</script></head>" +
              "<body><!-- note --><p id=\"t\">"),
            coalesce(col("text"), lit("")),
            lit("</p><div>tail &amp; more &lt;tags&gt;&nbsp;here</div>" +
              "</body></html>")))
        TextStats.withHtmlText(docs, "html")
          .select("doc_id", "text_clean")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style>' ||
        |    '<script>var x = 1 < 2;</script></head>' ||
        |    '<body><!-- note --><p id="t">' || coalesce(text, '') ||
        |    '</p><div>tail &amp; more &lt;tags&gt;&nbsp;here</div>' ||
        |    '</body></html>' AS html
        |  FROM documents WHERE doc_id % 4 = 0),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      html,
        |      '<script[^>]*>.*?</script>', ' ', 'gis'),
        |      '<style[^>]*>.*?</style>', ' ', 'gis'),
        |      '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]+>', ' ', 'g') AS t
        |  FROM d),
        |e AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(t,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
        |  FROM c)
        |SELECT doc_id,
        |  trim(regexp_replace(t, '[ \t\r\n]+', ' ', 'g')) AS text_clean
        |FROM e ORDER BY doc_id""".stripMargin)),

    // Fixed-point mean pooling of grouped embeddings (chunk -> document
    // / label-centroid aggregation): quantize once, per-dimension
    // integer sum div n — the float mean is partition-order-dependent,
    // this is bit-portable; only |groups|*dim partial-agg cells cross
    // the exchange.
    Q("q248_embedding_mean_pool",
      (s, dir) => Embeddings.meanPoolFixedPoint(
          t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("group", "pos"),
      Some("""WITH u AS (
        |  SELECT label, generate_subscripts(q, 1) - 1 AS pos,
        |    unnest(q) AS qv
        |  FROM (
        |    SELECT label, list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
        |    FROM embeddings WHERE embedding IS NOT NULL))
        |SELECT label AS "group", CAST(pos AS INT) AS pos,
        |  CAST(sum(qv) // count(*) AS BIGINT) AS v, count(*) AS n
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // END-TO-END curation pipeline — the composition story in one
    // registered query: salted-HTML extraction (q247's op) → exact
    // dedup on the cleaned text (q29's op) → length quality gate →
    // stratified train/heldout split (q218's op). Every stage is
    // individually hash-verified elsewhere; this entry verifies the
    // COMPOSITION — the oracle replays all four stages end to end, so
    // a change that breaks any interface between them (column
    // contracts, dedup-before-split ordering, filter placement) fails
    // the hash even if each unit test still passes.
    Q("q249_curation_pipeline",
      (s, dir) => {
        val raw = t(s, dir, "documents")
          .select("doc_id", "lang", "source", "text")
          .withColumn("html", concat(lit("<div id=\"d\"><p>"),
            coalesce(col("text"), lit("")),
            lit("</p></div><script>var t = 1;</script><!-- c -->&nbsp;tail")))
        val extracted = TextStats.withHtmlText(raw, "html")
        val deduped = Dedup.exactDedup(
          extracted.withColumn("__k", md5(col("text_clean"))),
          Seq("__k"), "doc_id").drop("__k")
        val filtered = deduped.filter(length(col("text_clean")) >= 50)
        Packing.stratifiedSplit(
            filtered.select("doc_id", "lang", "source", "text_clean"),
            "doc_id", Seq("lang"), seed = 7L,
            permille = Seq("train" -> 900, "heldout" -> 100))
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text_clean")).as("clean_chars"), col("split"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang, source,
        |    '<div id="d"><p>' || coalesce(text, '') ||
        |    '</p></div><script>var t = 1;</script><!-- c -->&nbsp;tail'
        |      AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, source,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      html,
        |      '<script[^>]*>.*?</script>', ' ', 'gis'),
        |      '<style[^>]*>.*?</style>', ' ', 'gis'),
        |      '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]+>', ' ', 'g') AS t
        |  FROM d),
        |e AS (
        |  SELECT doc_id, lang, source,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(t,
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '[ \t\r\n]+', ' ', 'g')) AS tc
        |  FROM c),
        |dd AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(tc)
        |    ORDER BY doc_id) AS rn
        |  FROM e),
        |k AS (
        |  SELECT doc_id, lang, source, tc FROM dd
        |  WHERE rn = 1 AND length(tc) >= 50),
        |r AS (
        |  SELECT doc_id, lang, source, tc,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || '7'),
        |        doc_id) AS r,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM k)
        |SELECT doc_id, lang, source, CAST(length(tc) AS INT) AS clean_chars,
        |  CASE WHEN r <= (n * 900) // 1000 THEN 'train'
        |       ELSE 'heldout' END AS split
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Dedup-at-ingest — the continuous-crawl operator: dedup happens when
    // data ARRIVES (one anti-join per batch against the gold table's
    // pruned key column + ONE crash-consistent append), not in a later
    // O(corpus) sweep. First-seen-wins across batches; the salt plants
    // cross- and within-batch duplicate keys and the oracle replays
    // arrival-order semantics as rank by (batch, id) within key.
    Q("q250_dedup_ingest_incremental",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "gold_dedup")
        val docs = t(s, dir, "documents")
          .withColumn("k", when(col("doc_id") % 5 === 0,
            concat(lit("dup-"), (col("doc_id") % 17).cast("string")))
            .otherwise(concat(lit("u-"), col("doc_id").cast("string"))))
          .select("doc_id", "lang", "k")
        Dedup.dedupIngest(s, lh, "gold_dedup",
          docs.filter(col("doc_id") % 2 === 0), Seq("k"), "doc_id")
        Dedup.dedupIngest(s, lh, "gold_dedup",
          docs.filter(col("doc_id") % 2 =!= 0), Seq("k"), "doc_id")
        TableIO.selectTable(s, lh, "gold_dedup")
          .select("doc_id", "k", "lang")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'dup-' || CAST(doc_id % 17 AS VARCHAR)
        |      ELSE 'u-' || CAST(doc_id AS VARCHAR) END AS k
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, k, row_number() OVER (
        |    PARTITION BY k ORDER BY doc_id % 2, doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, k, lang FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)),

    // Corpus-trained rare-trigram score — the model-free gibberish
    // filter: top-128 code-point trigrams form the common core, each doc
    // scores the permille of its trigram occurrences outside it.
    Q("q251_rare_gram_score",
      (s, dir) => TextStats.rareGramScore(
        t(s, dir, "documents"), "doc_id", "text", topK = 128)
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest([substring(t, i, 3)
        |    for i in generate_series(1, len(t) - 2)]) AS gram
        |  FROM d WHERE len(t) >= 3),
        |cf AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
        |topk AS (SELECT gram FROM cf ORDER BY c DESC, gram ASC LIMIT 128),
        |sc AS (
        |  SELECT doc_id, count(*) AS total,
        |    sum(CASE WHEN gram IN (SELECT gram FROM topk)
        |      THEN 1 ELSE 0 END) AS com
        |  FROM g GROUP BY 1)
        |SELECT doc_id, CAST(total AS BIGINT) AS total_grams,
        |  CAST((total - com) * 1000 // total AS BIGINT) AS rare_permille
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // Cross-split contamination audit — after the stratified split, the
    // per-lang fraction of heldout docs sharing a word 5-gram with ANY
    // train doc: the "can I trust the heldout metric" gate. The oracle
    // replays split assignment AND the gram semi-join end to end.
    Q("q252_split_contamination",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
        val split = Packing.stratifiedSplit(docs, "doc_id", Seq("lang"),
          seed = 7L, permille = Seq("train" -> 900, "heldout" -> 100))
        Dedup.crossSplitLeakage(split, "doc_id", "text", "split",
          "train", "heldout", n = 5, groupCols = Seq("lang"))
          .orderBy("lang")
      },
      Some("""WITH r AS (
        |  SELECT doc_id, lang, text,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || '7'),
        |        doc_id) AS r,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN r <= (n * 900) // 1000 THEN 'train'
        |         ELSE 'heldout' END AS split
        |  FROM r),
        |w AS (
        |  SELECT doc_id, lang, split, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM s),
        |g AS (
        |  SELECT DISTINCT doc_id, lang, split, gram FROM (
        |    SELECT doc_id, lang, split,
        |      unnest([array_to_string(words[i:i+4], ' ')
        |        for i in generate_series(1, greatest(len(words) - 4, 1))])
        |        AS gram
        |    FROM w)),
        |tg AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
        |hc AS (
        |  SELECT DISTINCT doc_id, lang FROM g
        |  WHERE split = 'heldout' AND gram IN (SELECT gram FROM tg)),
        |h AS (SELECT doc_id, lang FROM s WHERE split = 'heldout')
        |SELECT h.lang, CAST(count(*) AS BIGINT) AS n_heldout,
        |  CAST(count(hc.doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(count(hc.doc_id) * 1000 // count(*) AS BIGINT)
        |    AS leak_permille
        |FROM h LEFT JOIN hc ON h.doc_id = hc.doc_id AND h.lang = hc.lang
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // URL canonicalization — the web-corpus alias collapser (fragment
    // drop, prefix-only lowercase, default-port strip, utm_* removal
    // with survivor order preserved). The salt plants mixed-case
    // scheme/host vs case-sensitive path, both default ports, ADJACENT
    // utm params (the global-regex trap), utm-only query strings
    // (dangling '?'), and fragments; the oracle replays the rule chain
    // character-for-character.
    Q("q253_url_normalize",
      (s, dir) => {
        val urls = t(s, dir, "documents").select("doc_id")
          .withColumn("url", concat(
            when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.Site"))
              .otherwise(lit("http://Blog")),
            (col("doc_id") % 7).cast("string"), lit(".Example.COM"),
            when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")),
            lit("/Articles/Item-"), col("doc_id").cast("string"),
            when(col("doc_id") % 3 === 0,
              concat(lit("?utm_source=feed&utm_medium=rss&page="),
                (col("doc_id") % 5).cast("string")))
              .when(col("doc_id") % 3 === 1, lit("?utm_campaign=x"))
              .otherwise(lit("")),
            when(col("doc_id") % 4 === 0, lit("#Section-2"))
              .otherwise(lit(""))))
        urls.select(col("doc_id"),
            TextStats.normalizeUrl(col("url")).as("url_norm"))
          .withColumn("domain", TextStats.urlDomain(col("url_norm")))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Site'
        |         ELSE 'http://Blog' END ||
        |    CAST(doc_id % 7 AS VARCHAR) || '.Example.COM' ||
        |    CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END ||
        |    '/Articles/Item-' || CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '?utm_source=feed&utm_medium=rss&page=' ||
        |        CAST(doc_id % 5 AS VARCHAR)
        |      WHEN doc_id % 3 = 1 THEN '?utm_campaign=x' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '#Section-2' ELSE '' END AS url
        |  FROM documents),
        |f AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM u),
        |p AS (
        |  SELECT doc_id, nf,
        |    regexp_extract(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*') AS pre
        |  FROM f),
        |l AS (
        |  SELECT doc_id,
        |    lower(pre) || substring(nf, length(pre) + 1) AS lo
        |  FROM p),
        |np AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(lo,
        |    '^(https://[^/:?]+):443([/?]|$)', '\1\2'),
        |    '^(http://[^/:?]+):80([/?]|$)', '\1\2') AS v
        |  FROM l),
        |n AS (
        |  SELECT doc_id, regexp_replace(v, '\?.*', '') AS base,
        |    list_filter(string_split(regexp_extract(v, '\?(.*)', 1), '&'),
        |      x -> len(x) > 0 AND NOT starts_with(x, 'utm_')) AS ps
        |  FROM np),
        |o AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ps) > 0
        |      THEN base || '?' || array_to_string(ps, '&')
        |      ELSE base END AS url_norm
        |  FROM n)
        |SELECT doc_id, url_norm,
        |  regexp_extract(url_norm, '^[a-z][a-z0-9+.-]*://([^/:?]+)', 1)
        |    AS domain
        |FROM o ORDER BY doc_id""".stripMargin)),

    // Portable hashed bag-of-words embeddings (feature hashing,
    // Weinberger '09): integer +-1 counts at md5-derived positions —
    // bit-portable, no external model, and the cells feed the same
    // cosine/ANN operators a model embedding column does. Pure codegen'd
    // SQL expressions, sparse (id, pos, v) out.
    Q("q254_hashed_bow_embed",
      (s, dir) => Embeddings.hashedBowEmbed(
        t(s, dir, "documents"), "doc_id", "text", dim = 64)
        .orderBy("doc_id", "pos"),
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |nz AS (SELECT doc_id, md5(tok) AS h FROM w WHERE length(tok) > 0),
        |cells AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(h, 1, 8))::UBIGINT % 64 AS INT) AS pos,
        |    CASE WHEN ('0x' || substring(h, 9, 1))::UBIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM nz)
        |SELECT doc_id, pos, CAST(sum(s) AS BIGINT) AS v
        |FROM cells GROUP BY 1, 2 ORDER BY doc_id, pos""".stripMargin)),

    // Exact top-k retrieval by integer dot product over the hashed-BoW
    // cells — the brute-force baseline of the ANN family on
    // self-contained text vectors; all-integer scores, bit-portable
    // ranking. The recall-traded 100 TB path is the persisted PQ/IVF
    // index (q243/q244).
    Q("q255_hashed_bow_topk",
      (s, dir) => Embeddings.hashedBowTopKFor(
        t(s, dir, "documents"), "doc_id", "text", Seq(7L, 123L, 250L),
        k = 10).orderBy("query_id", "rank"),
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |nz AS (SELECT doc_id, md5(tok) AS h FROM w WHERE length(tok) > 0),
        |cells AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(h, 1, 8))::UBIGINT % 64 AS INT) AS pos,
        |    CASE WHEN ('0x' || substring(h, 9, 1))::UBIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM nz),
        |v AS (
        |  SELECT doc_id, pos, CAST(sum(s) AS BIGINT) AS v
        |  FROM cells GROUP BY 1, 2),
        |q AS (
        |  SELECT doc_id AS query_id, pos, v AS vq FROM v
        |  WHERE doc_id IN (7, 123, 250)),
        |d AS (
        |  SELECT q.query_id, c.doc_id, CAST(sum(c.v * q.vq) AS BIGINT)
        |    AS dot
        |  FROM v c JOIN q ON c.pos = q.pos
        |  WHERE c.doc_id <> q.query_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, dot, row_number() OVER (
        |    PARTITION BY query_id ORDER BY dot DESC, doc_id ASC) AS rank
        |  FROM d)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, dot
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // Hard-negative mining (the DPR recipe): per query, top-BM25 docs
    // that are NOT relevance-labeled become ranked negatives. Integer
    // ranks only cross the operator — the float score stays inside the
    // retriever.
    Q("q256_hard_negatives",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val ranking = TextStats.bm25TopK(docs, "doc_id", "text",
            query = "spark shuffle join window", k = 20)
          .withColumn("query_id", lit("q1"))
          .unionByName(TextStats.bm25TopK(docs, "doc_id", "text",
            query = "language model training data", k = 20)
            .withColumn("query_id", lit("q2")))
        val qrels = t(s, dir, "documents")
          .filter(col("doc_id") % 13 === 5)
          .select(lit("q1").as("query_id"), col("doc_id"))
          .unionByName(t(s, dir, "documents")
            .filter(col("doc_id") % 11 === 3)
            .select(lit("q2").as("query_id"), col("doc_id")))
        Retrieval.hardNegatives(ranking, qrels, "query_id", "doc_id",
          "rank").orderBy("query_id", "neg_rank")
      },
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |nz AS (SELECT doc_id, term FROM w WHERE length(term) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM nz GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |qt AS (
        |  SELECT 'q1' AS query_id,
        |    unnest(['spark', 'shuffle', 'join', 'window']) AS term
        |  UNION ALL
        |  SELECT 'q2', unnest(['language', 'model', 'training', 'data'])),
        |tf AS (
        |  SELECT qt.query_id, nz.doc_id, nz.term, count(*) AS tf
        |  FROM nz JOIN qt ON nz.term = qt.term GROUP BY 1, 2, 3),
        |dft AS (
        |  SELECT query_id, term, count(*) AS df_t FROM tf GROUP BY 1, 2),
        |sb AS (
        |  SELECT tf.query_id, tf.doc_id,
        |    ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * tf * (1.2 + 1.0) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
        |  FROM tf JOIN dft USING (query_id, term) JOIN dl USING (doc_id),
        |    corpus),
        |sc AS (
        |  SELECT query_id, doc_id, sum(s) AS bm25 FROM sb GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM sc),
        |neg AS (
        |  SELECT query_id, doc_id, rank FROM rk
        |  WHERE rank <= 20 AND NOT (
        |    (query_id = 'q1' AND doc_id % 13 = 5) OR
        |    (query_id = 'q2' AND doc_id % 11 = 3))),
        |rr AS (
        |  SELECT query_id, doc_id, rank, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rank ASC, doc_id ASC)
        |    AS neg_rank
        |  FROM neg)
        |SELECT query_id, CAST(neg_rank AS INT) AS neg_rank, doc_id,
        |  CAST(rank AS INT) AS orig_rank
        |FROM rr ORDER BY query_id, neg_rank""".stripMargin)),

    // PERSISTED incremental per-source corpus card — additive counters
    // folded batch by batch (O(batch) + O(|sources|) merge, history
    // never rescanned); the oracle rebuilds the card from the whole
    // corpus in one shot.
    Q("q257_corpus_stats_incremental",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "corpus_stats")
        val docs = t(s, dir, "documents")
        TextStats.corpusStatsTableUpdate(s, lh, "corpus_stats",
          docs.filter(col("doc_id") % 2 === 0), "text", "source")
        TextStats.corpusStatsTableUpdate(s, lh, "corpus_stats",
          docs.filter(col("doc_id") % 2 =!= 0), "text", "source")
        TableIO.selectTable(s, lh, "corpus_stats").orderBy("source")
      },
      Some("""WITH d AS (
        |  SELECT source, text,
        |    len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '')) AS ntok
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_text,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars,
        |  CAST(max(ntok) AS BIGINT) AS max_doc_tokens,
        |  CAST(min(ntok) AS BIGINT) AS min_doc_tokens
        |FROM d GROUP BY 1 ORDER BY source""".stripMargin)),

    // Metadata-only column profile: count(*)/nulls/min/max answered from
    // the manifest's per-file stats in O(files) with ZERO data scanned
    // (Delta's stats-based query answering) — the oracle recomputes the
    // same answers the slow way, over the data.
    Q("q258_manifest_stats",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "mstats_li")
        val src = t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_date"))
        TableIO.writeTable(s, lh, "mstats_li",
          src.filter(col("l_orderkey") % 2 === 0))
        TableIO.appendTable(s, lh, "mstats_li",
          src.filter(col("l_orderkey") % 2 =!= 0))
        TableIO.manifestColumnStats(s, lh, "mstats_li",
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "ship_date")).orderBy("col_name")
      },
      Some("""WITH src AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
        |    CAST(l_shipdate AS DATE) AS ship_date FROM lineitem),
        |p AS (
        |  SELECT 'l_orderkey' AS col_name,
        |    CAST(min(l_orderkey) AS VARCHAR) AS mn,
        |    CAST(max(l_orderkey) AS VARCHAR) AS mx,
        |    count(l_orderkey) AS nn FROM src
        |  UNION ALL
        |  SELECT 'l_partkey', CAST(min(l_partkey) AS VARCHAR),
        |    CAST(max(l_partkey) AS VARCHAR), count(l_partkey) FROM src
        |  UNION ALL
        |  SELECT 'l_suppkey', CAST(min(l_suppkey) AS VARCHAR),
        |    CAST(max(l_suppkey) AS VARCHAR), count(l_suppkey) FROM src
        |  UNION ALL
        |  SELECT 'l_linenumber', CAST(min(l_linenumber) AS VARCHAR),
        |    CAST(max(l_linenumber) AS VARCHAR), count(l_linenumber)
        |  FROM src
        |  UNION ALL
        |  SELECT 'ship_date', CAST(min(ship_date) AS VARCHAR),
        |    CAST(max(ship_date) AS VARCHAR), count(ship_date) FROM src),
        |n AS (SELECT count(*) AS n_rows FROM src)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_rows - nn AS BIGINT) AS n_nulls,
        |  mn AS min_val, mx AS max_val
        |FROM p, n ORDER BY col_name""".stripMargin)),

    // Gopher repetition signals: per doc, the most frequent 2/3/4-gram
    // and the permille of normalized chars its occurrences account for —
    // catches in-line degenerate repetition the dup-LINE metrics (q52)
    // can't see.
    Q("q259_top_ngram_repetition",
      (s, dir) => TextStats.topNgramRepetition(
        t(s, dir, "documents"), "doc_id", "text", ns = Seq(2, 3, 4))
        .orderBy("doc_id", "n"),
      Some("""WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(
        |    coalesce(text, ''), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, toks,
        |    length(array_to_string(toks, ' ')) AS tlen FROM w),
        |g AS (
        |  SELECT doc_id, tlen, n,
        |    unnest([array_to_string(toks[i:i+n-1], ' ')
        |      for i in range(1, len(toks) - n + 2)]) AS gram
        |  FROM base, (SELECT unnest([2, 3, 4]) AS n) ns
        |  WHERE len(toks) >= n),
        |c AS (
        |  SELECT doc_id, tlen, n, gram, count(*) AS occurrences
        |  FROM g GROUP BY ALL),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |    ORDER BY occurrences DESC, gram ASC) AS rn FROM c)
        |SELECT doc_id, CAST(n AS INT) AS n, gram AS top_gram,
        |  CAST(occurrences AS BIGINT) AS occurrences,
        |  CAST((length(gram) * occurrences * 1000) // tlen AS BIGINT)
        |    AS char_permille
        |FROM r WHERE rn = 1 ORDER BY doc_id, n""".stripMargin)),

    // Token-balanced serpentine shard assignment (greedy-LPT made
    // rank-expressible): deterministic total order + boustrophedon deal,
    // every shard within one max-document of every other.
    Q("q260_balanced_shards",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"),
          size(expr("filter(split(coalesce(text, ''), '\\\\s+'), " +
            "t -> t <> '')")).as("n_tokens"))
        Packing.balancedShards(docs, "doc_id", "n_tokens", numShards = 8)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
        |  SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(
        |    coalesce(text, ''), '\s+'), t -> t <> '')) AS INT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens, row_number() OVER (
        |    ORDER BY n_tokens DESC, doc_id ASC) - 1 AS rk FROM w)
        |SELECT doc_id, n_tokens,
        |  CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
        |    ELSE 7 - (rk % 8) END AS INT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Deterministic proportional mixture interleave (WFQ virtual finish
    // times in exact integers): one global training order where each
    // weighted source holds its share of EVERY prefix; sources without a
    // weight drop. First 400 positions shown; the full order is one
    // distributed range-partitioned sort.
    Q("q261_mixture_interleave",
      (s, dir) => Packing.mixtureInterleave(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 600, "src1" -> 300, "src2" -> 100), seed = 42L)
        .orderBy("interleave_key", "source", "src_rank").limit(400),
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 600 WHEN 'src1' THEN 300
        |      WHEN 'src2' THEN 100 END AS w,
        |    sha256(CAST(doc_id AS VARCHAR) || '#' || '42') AS sk
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2')),
        |r AS (
        |  SELECT doc_id, source, w, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY sk, doc_id) AS INT) AS src_rank
        |  FROM d)
        |SELECT doc_id, source, src_rank,
        |  CAST((CAST(src_rank AS BIGINT) * 1000000) // w AS BIGINT)
        |    AS interleave_key
        |FROM r
        |ORDER BY interleave_key, source, src_rank LIMIT 400""".stripMargin)),

    // Cross-source near-dup containment matrix over the portable MinHash
    // bands: "how much of source A already lives inside source B" —
    // the mixture-design overlap census. Never all-pairs: the build side
    // collapses to per-(band, source) counts before the join.
    Q("q262_source_overlap_matrix",
      (s, dir) => Dedup.sourceOverlapMatrix(
        t(s, dir, "documents").select("doc_id", "text", "source"),
        "doc_id", "text", "source").orderBy("src_a", "src_b"),
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(sha256(substring(text, CAST(p AS INT), 5)),
        |      1, 15))::UBIGINT AS BIGINT) % 2147483647 AS h
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 4)) AS t(p)
        |  WHERE length(text) >= 5),
        |sig AS (
        |  SELECT doc_id, i.i AS sig_no,
        |    min(((2 * i.i + 1) * h + 1000003 * i.i) % 2147483647) AS sig
        |  FROM g, (SELECT unnest(range(16)) AS i) i
        |  GROUP BY doc_id, i.i),
        |bands AS (
        |  SELECT doc_id, sig_no // 4 AS band_no,
        |    string_agg(CAST(sig AS VARCHAR), '#' ORDER BY sig_no)
        |      AS band_key
        |  FROM sig GROUP BY doc_id, sig_no // 4),
        |bs AS (
        |  SELECT b.doc_id, d.source AS src, b.band_no, b.band_key
        |  FROM bands b JOIN documents d USING (doc_id)),
        |ks AS (
        |  SELECT band_no, band_key, src AS src_b, count(*) AS n
        |  FROM bs GROUP BY ALL),
        |hits AS (
        |  SELECT DISTINCT b.src AS src_a, k.src_b, b.doc_id
        |  FROM bs b JOIN ks k USING (band_no, band_key)
        |  WHERE k.src_b <> b.src OR k.n >= 2),
        |ov AS (
        |  SELECT src_a, src_b, count(*) AS n_overlap FROM hits
        |  GROUP BY ALL),
        |tot AS (SELECT source AS s, count(*) AS n FROM documents
        |  GROUP BY 1),
        |m AS (SELECT a.s AS src_a, b.s AS src_b, a.n AS n_docs_a
        |  FROM tot a, tot b)
        |SELECT m.src_a, m.src_b, CAST(m.n_docs_a AS BIGINT) AS n_docs_a,
        |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST((coalesce(ov.n_overlap, 0) * 1000) // m.n_docs_a AS BIGINT)
        |    AS overlap_permille
        |FROM m LEFT JOIN ov USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin)),

    // Quality-filter threshold sweep: the retained-docs/tokens curve per
    // candidate cutoff, computed from ONE per-score aggregation — adding
    // thresholds never re-reads the corpus.
    Q("q263_filter_sweep",
      (s, dir) => {
        val d = t(s, dir, "documents").select(
          col("doc_id"),
          least(col("n_chars"), lit(1000L)).cast("int").as("score"),
          size(expr("filter(split(coalesce(text, ''), '\\\\s+'), " +
            "t -> t <> '')")).cast("long").as("ntok"))
        Quality.filterSweep(d, "score", "ntok",
          thresholds = Seq(0, 200, 400, 600, 800, 1000))
          .orderBy("threshold")
      },
      Some("""WITH d AS (
        |  SELECT least(n_chars, 1000) AS score,
        |    len(list_filter(regexp_split_to_array(coalesce(text, ''),
        |      '\s+'), t -> t <> '')) AS ntok
        |  FROM documents),
        |tot AS (SELECT count(*) AS ad, sum(ntok) AS at FROM d),
        |t AS (SELECT unnest([0, 200, 400, 600, 800, 1000]) AS threshold),
        |r AS (
        |  SELECT t.threshold, count(d.score) AS n_docs,
        |    coalesce(sum(d.ntok), 0) AS n_tokens
        |  FROM t LEFT JOIN d ON d.score IS NOT NULL
        |    AND d.score >= t.threshold
        |  GROUP BY t.threshold)
        |SELECT CAST(threshold AS INT) AS threshold,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((n_docs * 1000) // ad AS BIGINT) AS docs_permille,
        |  CAST((n_tokens * 1000) // at AS BIGINT) AS tokens_permille
        |FROM r, tot ORDER BY threshold""".stripMargin)),

    // Per-domain curation scorecard (the RefinedWeb step where filtering
    // moves from documents to domains): doc/token totals, exact-dup share
    // and mean length per canonical web domain. URLs are salted onto the
    // fixture deterministically (the q253 pattern) so domain extraction
    // is itself under test; the oracle derives the domain independently
    // from the salt arithmetic.
    Q("q264_domain_scorecard",
      (s, dir) => {
        val urls = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .withColumn("url", concat(
            when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.Site"))
              .otherwise(lit("http://Blog")),
            (col("doc_id") % 7).cast("string"), lit(".Example.COM"),
            when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")),
            lit("/Articles/Item-"), col("doc_id").cast("string"),
            when(col("doc_id") % 4 === 0, lit("#Section-2"))
              .otherwise(lit(""))))
        TextStats.domainScorecard(urls, "doc_id", "url", "text")
          .orderBy("domain")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'www.site' || CAST(doc_id % 7 AS VARCHAR) ||
        |        '.example.com'
        |      ELSE 'blog' || CAST(doc_id % 7 AS VARCHAR) ||
        |        '.example.com' END AS domain,
        |    len(list_filter(regexp_split_to_array(coalesce(text, ''),
        |      '\s+'), t -> t <> '')) AS ntok,
        |    md5(coalesce(text, '')) AS h
        |  FROM documents),
        |dc AS (SELECT h, count(*) AS copies FROM d GROUP BY 1),
        |j AS (SELECT d.*, dc.copies FROM d JOIN dc USING (h))
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST((sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) * 1000) //
        |    count(*) AS BIGINT) AS dup_permille,
        |  CAST((sum(ntok) * 1000) // count(*) AS BIGINT)
        |    AS tokens_per_doc_permille
        |FROM j GROUP BY domain ORDER BY domain""".stripMargin)),

    // SHOW PARTITIONS with row counts from the manifest alone — and it
    // stays EXACT under deletion vectors (a single-value file's deleted
    // rows can only have carried that value). The oracle replays the
    // delete over the data.
    Q("q265_manifest_partition_counts",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "mparts_li")
        TableIO.writeTable(s, lh, "mparts_li",
          t(s, dir, "lineitem").select("l_orderkey", "l_quantity",
            "l_returnflag"),
          partitionBy = Seq("l_returnflag"))
        TableIO.deleteFromTable(s, lh, "mparts_li", "l_quantity <= 5",
          deletionVectors = true)
        TableIO.manifestPartitionCounts(s, lh, "mparts_li", "l_returnflag")
          .orderBy("partition_value")
      },
      Some("""SELECT l_returnflag AS partition_value,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem WHERE l_quantity > 5
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CCNet-style perplexity quality filter, oracle-portable: bits per
    // bigram under an add-one bigram LM of a clean reference source
    // (src0), with per-bigram IEEE doubles replicated op-for-op and the
    // SUM carried in exact DECIMAL so partitioning can't reorder floats.
    Q("q266_perplexity_score",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val train = t(s, dir, "documents")
          .filter(col("source") === "src0").select("doc_id", "text")
        LangModel.crossEntropyPortable(train, docs, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
        |      AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |bg AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w AS w1,
        |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM tok) WHERE w2 IS NOT NULL),
        |trainbg AS (
        |  SELECT bg.w1, bg.w2 FROM bg JOIN documents d USING (doc_id)
        |  WHERE d.source = 'src0'),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM trainbg GROUP BY 1, 2),
        |uni AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY 1),
        |v AS (
        |  SELECT count(DISTINCT tok.w) AS vocab
        |  FROM tok JOIN documents d USING (doc_id)
        |  WHERE d.source = 'src0'),
        |sb AS (
        |  SELECT bg.doc_id,
        |    CAST(-(ln(CAST(coalesce(big.c12, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(uni.c1, 0) + vocab AS DOUBLE)) / ln(2.0))
        |      AS DECIMAL(38,18)) AS bits
        |  FROM bg LEFT JOIN big USING (w1, w2)
        |    LEFT JOIN uni USING (w1), v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS bits_per_bigram
        |FROM sb GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Padding-waste report: what concat packing buys at seq_len 512 vs
    // one-doc-per-sequence — one corpus aggregation, one row out.
    Q("q267_padding_waste",
      (s, dir) => Packing.paddingWasteReport(
        t(s, dir, "documents").select("n_chars"), "n_chars", seqLen = 512L),
      Some("""WITH d AS (
        |  SELECT CAST(coalesce(n_chars, 0) AS BIGINT) AS t FROM documents),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(t) AS BIGINT) AS total_tokens,
        |    CAST(sum((t + 511) // 512) AS BIGINT) AS n_seq_padded,
        |    CAST(sum(((t + 511) // 512) * 512 - t) AS BIGINT)
        |      AS waste_padded
        |  FROM d)
        |SELECT n_docs, total_tokens, n_seq_padded, waste_padded,
        |  CAST(CASE WHEN n_seq_padded > 0 THEN (waste_padded * 1000) //
        |    (n_seq_padded * 512) ELSE 0 END AS BIGINT) AS waste_permille,
        |  CAST((total_tokens + 511) // 512 AS BIGINT) AS n_seq_concat,
        |  CAST(CASE WHEN n_seq_padded > 0 THEN ((n_seq_padded -
        |    (total_tokens + 511) // 512) * 1000) // n_seq_padded
        |    ELSE 0 END AS BIGINT) AS seq_saved_permille
        |FROM a""".stripMargin)),

    // Dedup-savings census: cluster-size histogram over the near-dup
    // connected components — how many docs a keep-one dedup removes and
    // how skewed the duplicate mass is. Oracle replays pairs + closure
    // (the q65 recursive CTE) then aggregates.
    Q("q268_dedup_savings_census",
      (s, dir) => Dedup.clusterCensus(
        Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id",
            "text", n = 3, threshold = 0.5, maxDocFreq = 20)), "cc")
        .orderBy("cluster_size"),
      Some("""WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS words
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(words[i:i+2], ' ')
        |      for i in generate_series(1, greatest(len(words) - 2, 1))]) AS gram
        |    FROM w)),
        |pruned AS (
        |  SELECT g.doc_id, g.gram FROM g
        |  JOIN (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 20) ok
        |  USING (gram)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
        |prs AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
        |  FROM pruned l JOIN pruned r USING (gram)
        |  WHERE l.doc_id < r.doc_id GROUP BY 1, 2),
        |jac AS (
        |  SELECT a, b FROM prs
        |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE)
        |    >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |comp AS (SELECT id, min(r) AS cc FROM reach GROUP BY id),
        |cs AS (SELECT cc, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
        |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // DECODE-FREE PNG container metadata: real chunk-walk over real
    // ImageIO-encoded bytes (the q209 ISO-BMFF pattern for images) —
    // geometry from ~30 header bytes, never inflating a pixel. The
    // oracle recomputes the salt arithmetic; encoder-dependent fields
    // (chunk census, IDAT bytes) are spec-tested instead.
    Q("q269_png_container_meta",
      (s, dir) => {
        val imgs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 6 === 0)
          .withColumn("w", (lit(16) + col("doc_id") % 13).cast("int"))
          .withColumn("h", (lit(8) + col("doc_id") % 7).cast("int"))
          .withColumn("payload",
            Multimodal.syntheticPngUdf(col("w"), col("h")))
        Multimodal.decodePngHeaders(imgs, "payload")
          .select(col("doc_id"), col("png.width").as("width"),
            col("png.height").as("height"),
            col("png.bit_depth").as("bit_depth"),
            col("png.color_type").as("color_type"),
            col("png.interlace").as("interlace"),
            col("png.has_iend").as("has_iend"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(16 + doc_id % 13 AS BIGINT) AS width,
        |  CAST(8 + doc_id % 7 AS BIGINT) AS height,
        |  CAST(8 AS INT) AS bit_depth,
        |  CAST(2 AS INT) AS color_type,
        |  CAST(0 AS INT) AS interlace,
        |  true AS has_iend
        |FROM documents WHERE doc_id % 6 = 0 ORDER BY doc_id""".stripMargin)),

    // Graded nDCG@10, oracle-portable via decimal-exact DCG/IDCG sums
    // (the q266 recipe). The ranking fixture is a deterministic
    // sha-ordered top-20 per query (TakeOrdered, never a global window).
    Q("q270_ndcg",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents").select("doc_id")
        def rankFor(qid: String) = {
          val key = sha2(concat_ws("#", col("doc_id").cast("string"),
            lit(qid)), 256)
          docs.withColumn("__k", key)
            .orderBy(col("__k"), col("doc_id")).limit(20)
            .withColumn("rank",
              row_number().over(Window.orderBy(col("__k"), col("doc_id"))))
            .select(lit(qid).as("query_id"), col("doc_id"), col("rank"))
        }
        val ranking = rankFor("q1").unionByName(rankFor("q2"))
        val qrels = docs.filter(col("doc_id") % 5 === 0)
          .select(lit("q1").as("query_id"), col("doc_id"),
            (col("doc_id") % 3 + 1).cast("long").as("grade"))
          .unionByName(docs.filter(col("doc_id") % 7 === 0)
            .select(lit("q2").as("query_id"), col("doc_id"),
              (col("doc_id") % 4).cast("long").as("grade")))
        Retrieval.ndcgAtK(ranking, qrels, "query_id", "doc_id", "rank",
          "grade", k = 10).orderBy("query_id")
      },
      Some("""WITH d AS (SELECT doc_id FROM documents),
        |r1 AS (
        |  SELECT 'q1' AS query_id, doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 'q1'),
        |    doc_id) AS rank
        |  FROM d QUALIFY rank <= 20),
        |r2 AS (
        |  SELECT 'q2' AS query_id, doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 'q2'),
        |    doc_id) AS rank
        |  FROM d QUALIFY rank <= 20),
        |rk AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |q AS (
        |  SELECT 'q1' AS query_id, doc_id, doc_id % 3 + 1 AS g FROM d
        |  WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'q2', doc_id, doc_id % 4 FROM d WHERE doc_id % 7 = 0),
        |dc AS (
        |  SELECT rk.query_id, count(*) AS n_ranked,
        |    sum(CAST(CAST(coalesce(q.g, 0) AS DOUBLE) /
        |      (ln(CAST(rk.rank AS DOUBLE) + 1.0) / ln(2.0))
        |      AS DECIMAL(38,18))) AS dcg
        |  FROM rk LEFT JOIN q USING (query_id, doc_id)
        |  WHERE rk.rank <= 10 GROUP BY 1),
        |iq AS (
        |  SELECT query_id, g, row_number() OVER (PARTITION BY query_id
        |    ORDER BY g DESC, doc_id ASC) AS ir FROM q),
        |ic AS (
        |  SELECT query_id,
        |    sum(CAST(CAST(g AS DOUBLE) /
        |      (ln(CAST(ir AS DOUBLE) + 1.0) / ln(2.0))
        |      AS DECIMAL(38,18))) AS idcg
        |  FROM iq WHERE ir <= 10 GROUP BY 1)
        |SELECT dc.query_id, CAST(n_ranked AS BIGINT) AS n_ranked,
        |  CAST(dcg AS DOUBLE) AS dcg,
        |  coalesce(CAST(idcg AS DOUBLE), 0.0) AS idcg,
        |  CASE WHEN coalesce(idcg, 0) > 0
        |    THEN CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END AS ndcg
        |FROM dc LEFT JOIN ic USING (query_id)
        |ORDER BY query_id""".stripMargin)),

    // Exact dedup WITH PROVENANCE: the surviving id plus the sorted
    // '#'-joined ids it absorbed — the lineage right-to-be-forgotten and
    // dedup audits need.
    Q("q271_dedup_provenance",
      (s, dir) => Dedup.exactDedupWithProvenance(
        t(s, dir, "documents")
          .withColumn("h", md5(coalesce(col("text"), lit(""))))
          .select("h", "doc_id"),
        Seq("h"), "doc_id").orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT md5(coalesce(text, '')) AS h, doc_id FROM documents),
        |g AS (
        |  SELECT h, min(doc_id) AS doc_id, count(*) AS n,
        |    list(doc_id ORDER BY doc_id) AS ids
        |  FROM d GROUP BY h)
        |SELECT h, doc_id, CAST(n - 1 AS BIGINT) AS n_absorbed,
        |  coalesce(array_to_string(list_transform(ids[2:],
        |    x -> CAST(x AS VARCHAR)), '#'), '') AS absorbed_ids
        |FROM g ORDER BY doc_id""".stripMargin)),

    // Schema drift between two crawl batches: per top-level JSON key,
    // presence counts/shares and added/removed/stable status. The JSON is
    // salted onto the fixture deterministically (legacy key only in batch
    // A, new_field only in batch B) so all three statuses are exercised;
    // the oracle rebuilds the same payloads and re-derives the report.
    Q("q272_json_field_drift",
      (s, dir) => {
        val salted = ev(s, dir).select("event_id")
          .withColumn("j", concat(
            lit("{\"k\": "), (col("event_id") % 100).cast("string"),
            when(col("event_id") % 3 === 0, lit(", \"v\": 1"))
              .otherwise(lit("")),
            when(col("event_id") % 2 === 0, lit(", \"legacy\": true"))
              .otherwise(when(col("event_id") % 5 === 0,
                lit(", \"new_field\": 0")).otherwise(lit(""))),
            lit("}")))
        Semistructured.jsonFieldDrift(
          salted.filter(col("event_id") % 2 === 0).select("j"),
          salted.filter(col("event_id") % 2 =!= 0).select("j"), "j")
          .orderBy("key")
      },
      Some("""WITH e AS (
        |  SELECT event_id,
        |    '{"k": ' || CAST(event_id % 100 AS VARCHAR) ||
        |    CASE WHEN event_id % 3 = 0 THEN ', "v": 1' ELSE '' END ||
        |    CASE WHEN event_id % 2 = 0 THEN ', "legacy": true'
        |         WHEN event_id % 5 = 0 THEN ', "new_field": 0'
        |         ELSE '' END || '}' AS j
        |  FROM events),
        |ka AS (SELECT unnest(json_keys(j)) AS key FROM e
        |  WHERE event_id % 2 = 0),
        |kb AS (SELECT unnest(json_keys(j)) AS key FROM e
        |  WHERE event_id % 2 <> 0),
        |ca AS (SELECT key, count(*) AS n_a FROM ka GROUP BY 1),
        |cb AS (SELECT key, count(*) AS n_b FROM kb GROUP BY 1),
        |ta AS (SELECT count(*) AS total_a FROM e WHERE event_id % 2 = 0),
        |tb AS (SELECT count(*) AS total_b FROM e WHERE event_id % 2 <> 0)
        |SELECT key,
        |  CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
        |  CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
        |  CAST((coalesce(n_a, 0) * 1000) // greatest(total_a, 1)
        |    AS BIGINT) AS share_a_permille,
        |  CAST((coalesce(n_b, 0) * 1000) // greatest(total_b, 1)
        |    AS BIGINT) AS share_b_permille,
        |  CASE WHEN n_a IS NULL THEN 'added'
        |       WHEN n_b IS NULL THEN 'removed'
        |       ELSE 'stable' END AS status,
        |  CAST((coalesce(n_b, 0) * 1000) // greatest(total_b, 1) -
        |    (coalesce(n_a, 0) * 1000) // greatest(total_a, 1) AS BIGINT)
        |    AS drift_permille
        |FROM ca FULL OUTER JOIN cb USING (key), ta, tb
        |ORDER BY key""".stripMargin)),

    // Distinctive terms per source (fixed-point Monroe-style excess
    // share): the top-5 tokens each source over-uses vs the corpus —
    // one (group, token) aggregation; every total derives from it.
    Q("q273_distinctive_terms",
      (s, dir) => TextStats.distinctiveTerms(
        t(s, dir, "documents").select("text", "source"), "text",
        "source", k = 5).orderBy("source", "rank"),
      Some("""WITH w AS (
        |  SELECT source AS grp, unnest(string_split_regex(
        |    lower(coalesce(text, '')), '\s+')) AS token
        |  FROM documents),
        |nz AS (SELECT grp, token FROM w WHERE token <> ''),
        |gt AS (SELECT grp, token, count(*) AS n_gt FROM nz GROUP BY 1, 2),
        |g AS (SELECT grp, sum(n_gt) AS n_g FROM gt GROUP BY 1),
        |tt AS (SELECT token, sum(n_gt) AS n_t FROM gt GROUP BY 1),
        |al AS (SELECT sum(n_gt) AS n_all FROM gt),
        |sc AS (
        |  SELECT gt.grp, gt.token, n_gt,
        |    (n_gt * 1000) // n_g - (n_t * 1000) // n_all AS excess
        |  FROM gt JOIN g USING (grp) JOIN tt USING (token), al),
        |r AS (
        |  SELECT grp, token, n_gt, excess, row_number() OVER (
        |    PARTITION BY grp ORDER BY excess DESC, token ASC) AS rank
        |  FROM sc)
        |SELECT grp AS source, CAST(rank AS INT) AS rank, token,
        |  CAST(n_gt AS BIGINT) AS n_gt, CAST(excess AS BIGINT)
        |    AS excess_permille
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // DECODE-FREE JPEG metadata — the q269 pattern for the other
    // dominant web image container: real ImageIO-encoded bytes, marker
    // walk up to SOS, oracle replays the salt arithmetic.
    Q("q274_jpeg_container_meta",
      (s, dir) => {
        val imgs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 7 === 0)
          .withColumn("w", (lit(24) + col("doc_id") % 11).cast("int"))
          .withColumn("h", (lit(12) + col("doc_id") % 5).cast("int"))
          .withColumn("payload", Multimodal.syntheticImageUdf(
            col("w"), col("h"), lit("jpg")))
        Multimodal.decodeJpegHeaders(imgs, "payload")
          .select(col("doc_id"), col("jpeg.width").as("width"),
            col("jpeg.height").as("height"),
            col("jpeg.precision").as("precision"),
            col("jpeg.components").as("components"),
            col("jpeg.progressive").as("progressive"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(24 + doc_id % 11 AS INT) AS width,
        |  CAST(12 + doc_id % 5 AS INT) AS height,
        |  CAST(8 AS INT) AS precision,
        |  CAST(3 AS INT) AS components,
        |  false AS progressive
        |FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin)),

    // Manifest-answered SUM — the third of the metadata-aggregate family
    // (count q258/q265, min/max q258, now SUM): exact DECIMAL(38,0)
    // per-file sums folded in O(files), zero data scanned. The oracle
    // recomputes over the data.
    Q("q275_manifest_sums",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "msums_li")
        val src = t(s, dir, "lineitem").select("l_orderkey", "l_partkey",
          "l_suppkey", "l_linenumber")
        TableIO.writeTable(s, lh, "msums_li",
          src.filter(col("l_orderkey") % 2 === 0))
        TableIO.appendTable(s, lh, "msums_li",
          src.filter(col("l_orderkey") % 2 =!= 0))
        TableIO.manifestSums(s, lh, "msums_li",
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
          .orderBy("col_name")
      },
      Some("""SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name,
        |    CAST(count(l_orderkey) AS BIGINT) AS n_nonnull,
        |    CAST(sum(l_orderkey) AS VARCHAR) AS sum_val FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', CAST(count(l_partkey) AS BIGINT),
        |    CAST(sum(l_partkey) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', CAST(count(l_suppkey) AS BIGINT),
        |    CAST(sum(l_suppkey) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linenumber', CAST(count(l_linenumber) AS BIGINT),
        |    CAST(sum(l_linenumber) AS VARCHAR) FROM lineitem)
        |ORDER BY col_name""".stripMargin)),

    // CCNet perplexity bucketing: equal-count head/middle/tail tiers by
    // reference-LM bits-per-bigram (head reads most like the reference;
    // CCNet pretrains on head+middle). Deterministic integer cuts over
    // a distributed sort; min/max doubles are portable (no float sums).
    Q("q276_perplexity_buckets",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val train = t(s, dir, "documents")
          .filter(col("source") === "src0").select("doc_id", "text")
        LangModel.perplexityBuckets(train, docs, "doc_id", "text",
            buckets = 3)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            min("bits_per_bigram").as("min_bits"),
            max("bits_per_bigram").as("max_bits"))
          .orderBy("bucket")
      },
      Some("""WITH tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
        |      AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |bg AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w AS w1,
        |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM tok) WHERE w2 IS NOT NULL),
        |trainbg AS (
        |  SELECT bg.w1, bg.w2 FROM bg JOIN documents d USING (doc_id)
        |  WHERE d.source = 'src0'),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM trainbg GROUP BY 1, 2),
        |uni AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY 1),
        |v AS (
        |  SELECT count(DISTINCT tok.w) AS vocab
        |  FROM tok JOIN documents d USING (doc_id)
        |  WHERE d.source = 'src0'),
        |sb AS (
        |  SELECT bg.doc_id,
        |    CAST(-(ln(CAST(coalesce(big.c12, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(uni.c1, 0) + vocab AS DOUBLE)) / ln(2.0))
        |      AS DECIMAL(38,18)) AS bits
        |  FROM bg LEFT JOIN big USING (w1, w2)
        |    LEFT JOIN uni USING (w1), v),
        |sc AS (
        |  SELECT doc_id, CAST(sum(bits) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS bpb
        |  FROM sb GROUP BY doc_id),
        |rk AS (
        |  SELECT doc_id, bpb,
        |    row_number() OVER (ORDER BY bpb ASC, doc_id ASC) - 1 AS r
        |  FROM sc),
        |n AS (SELECT count(*) AS n FROM sc),
        |bk AS (SELECT CAST((3 * r) // n AS INT) AS bucket, bpb FROM rk, n)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(bpb) AS min_bits, max(bpb) AS max_bits
        |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Time-travel metadata profile: a version IS its manifest, so stats
    // as-of v read one older sidecar — zero scan either way. The oracle
    // replays both versions' content from the commit recipe.
    Q("q277_manifest_stats_time_travel",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "mtt_li")
        val src = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        TableIO.writeTable(s, lh, "mtt_li",
          src.filter(col("l_orderkey") % 2 === 0))
        TableIO.appendTable(s, lh, "mtt_li",
          src.filter(col("l_orderkey") % 2 =!= 0))
        val v1 = TableIO.manifestColumnStats(s, lh, "mtt_li",
            Seq("l_orderkey", "l_partkey"), asOfVersion = Some(1L))
          .withColumn("version", lit(1))
        val v2 = TableIO.manifestColumnStats(s, lh, "mtt_li",
            Seq("l_orderkey", "l_partkey"))
          .withColumn("version", lit(2))
        v1.unionByName(v2).orderBy("version", "col_name")
      },
      Some("""WITH src AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        |  SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(l_orderkey) AS n_nulls,
        |    CAST(min(l_orderkey) AS VARCHAR) AS min_val,
        |    CAST(max(l_orderkey) AS VARCHAR) AS max_val, 1 AS version
        |  FROM src WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
        |    CAST(min(l_partkey) AS VARCHAR),
        |    CAST(max(l_partkey) AS VARCHAR), 1
        |  FROM src WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'l_orderkey', count(*), count(*) - count(l_orderkey),
        |    CAST(min(l_orderkey) AS VARCHAR),
        |    CAST(max(l_orderkey) AS VARCHAR), 2 FROM src
        |  UNION ALL
        |  SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
        |    CAST(min(l_partkey) AS VARCHAR),
        |    CAST(max(l_partkey) AS VARCHAR), 2 FROM src)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nulls AS BIGINT) AS n_nulls, min_val, max_val,
        |  CAST(version AS INT) AS version
        |FROM p ORDER BY version, col_name""".stripMargin)),

    // Corpus diversity diagnostic: cosine histogram over a deterministic
    // random pairing of the embedding corpus — duplication piles mass
    // into the top buckets. Exact over n/2 pairs, O(n), sample-free.
    Q("q278_pair_cosine_histogram",
      (s, dir) => Embeddings.pairCosineHistogram(
        t(s, dir, "embeddings"), "vec_id", "embedding", seed = 11L)
        .orderBy("bucket"),
      Some("""WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
        |    sha256(CAST(vec_id AS VARCHAR) || '#' || '11') AS k
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |r AS (
        |  SELECT ve, row_number() OVER (ORDER BY k, vec_id) - 1 AS r
        |  FROM v),
        |p AS (SELECT r // 2 AS pair, r % 2 AS side, ve FROM r),
        |j AS (
        |  SELECT a.ve AS va, b.ve AS vb
        |  FROM (SELECT pair, ve FROM p WHERE side = 0) a
        |  JOIN (SELECT pair, ve FROM p WHERE side = 1) b USING (pair)),
        |c AS (
        |  SELECT list_sum(list_transform(list_zip(va, vb),
        |      z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(va, x -> x * x))) *
        |     sqrt(list_sum(list_transform(vb, x -> x * x)))) AS cos
        |  FROM j)
        |SELECT CAST(floor(round(cos, 6) * 10) AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // LSH threshold calibration: exact-Jaccard deciles of the MinHash
    // band candidates — the curve that decides the dedup threshold and
    // band shape. Oracle replays minhash -> bands -> candidates -> exact
    // shingle Jaccard end to end.
    Q("q279_lsh_calibration_histogram",
      (s, dir) => Dedup.candidateJaccardHistogram(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
        .orderBy("decile"),
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(sha256(substring(text, CAST(p AS INT), 5)),
        |      1, 15))::UBIGINT AS BIGINT) % 2147483647 AS h
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 4)) AS t(p)
        |  WHERE length(text) >= 5),
        |sig AS (
        |  SELECT doc_id, i.i AS sig_no,
        |    min(((2 * i.i + 1) * h + 1000003 * i.i) % 2147483647) AS sig
        |  FROM g, (SELECT unnest(range(16)) AS i) i
        |  GROUP BY doc_id, i.i),
        |bands AS (
        |  SELECT doc_id, sig_no // 4 AS band_no,
        |    string_agg(CAST(sig AS VARCHAR), '#' ORDER BY sig_no)
        |      AS band_key
        |  FROM sig GROUP BY doc_id, sig_no // 4),
        |pr AS (
        |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM bands l JOIN bands r USING (band_no, band_key)
        |  WHERE l.doc_id < r.doc_id),
        |cd AS (SELECT a AS doc_id FROM pr UNION SELECT b FROM pr),
        |gr AS (
        |  SELECT DISTINCT doc_id,
        |    substring(text, CAST(p AS INT), 5) AS gram
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 4)) AS t(p)
        |  WHERE length(text) >= 5
        |    AND doc_id IN (SELECT doc_id FROM cd)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY 1),
        |cm AS (
        |  SELECT pr.a, pr.b, count(*) AS common
        |  FROM pr JOIN gr ga ON ga.doc_id = pr.a
        |  JOIN gr gb ON gb.doc_id = pr.b AND gb.gram = ga.gram
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT (coalesce(cm.common, 0) * 1000) //
        |    (sa.sz + sb.sz - coalesce(cm.common, 0)) AS jp
        |  FROM pr LEFT JOIN cm USING (a, b)
        |  JOIN sz sa ON sa.doc_id = pr.a
        |  JOIN sz sb ON sb.doc_id = pr.b)
        |SELECT CAST(jp // 100 AS INT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY 1 ORDER BY decile""".stripMargin)),

    // PERSISTED incremental bigram LM: the reference model folds in two
    // batches (additive counts — any fold order == the one-shot model),
    // then documents score against the FROZEN tables; scoring a batch
    // is O(batch + model), never O(reference corpus). The oracle is
    // q266's from-scratch replay — persisted-and-folded must equal
    // trained-from-scratch bit-for-bit.
    Q("q280_perplexity_persisted_lm",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "reflm_bigrams")
        TableIO.dropTable(s, lh, "reflm_tokens")
        val train = t(s, dir, "documents")
          .filter(col("source") === "src0").select("doc_id", "text")
        LangModel.lmTableUpdate(s, lh, "reflm",
          train.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        LangModel.lmTableUpdate(s, lh, "reflm",
          train.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
        LangModel.scoreAgainstLmTable(s, lh, "reflm",
          t(s, dir, "documents").select("doc_id", "text"), "doc_id",
          "text").orderBy("doc_id")
      },
      Some("""WITH tok0 AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
        |      AS rawpos,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
        |  FROM tok0 WHERE w <> ''),
        |bg AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w AS w1,
        |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM tok) WHERE w2 IS NOT NULL),
        |trainbg AS (
        |  SELECT bg.w1, bg.w2 FROM bg JOIN documents d USING (doc_id)
        |  WHERE d.source = 'src0'),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM trainbg GROUP BY 1, 2),
        |uni AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY 1),
        |v AS (
        |  SELECT count(DISTINCT tok.w) AS vocab
        |  FROM tok JOIN documents d USING (doc_id)
        |  WHERE d.source = 'src0'),
        |sb AS (
        |  SELECT bg.doc_id,
        |    CAST(-(ln(CAST(coalesce(big.c12, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(uni.c1, 0) + vocab AS DOUBLE)) / ln(2.0))
        |      AS DECIMAL(38,18)) AS bits
        |  FROM bg LEFT JOIN big USING (w1, w2)
        |    LEFT JOIN uni USING (w1), v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS bits_per_bigram
        |FROM sb GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Schema-evolution timeline from the manifests alone: creation,
    // a type widening, a no-change append (contributes nothing), and an
    // overwrite that adds a column — the oracle states the commit
    // recipe's expected rows directly.
    Q("q281_schema_timeline",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "st_orders")
        val sub = t(s, dir, "orders").filter(col("o_orderkey") % 40 === 0)
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_totalprice").cast("float").as("o_totalprice"))
        TableIO.writeTable(s, lh, "st_orders", sub) // v1
        TableIO.widenColumnType(s, lh, "st_orders", "o_orderkey",
          org.apache.spark.sql.types.LongType) // v2
        TableIO.appendTable(s, lh, "st_orders", // v3: schema unchanged
          sub.filter(col("o_orderkey") % 80 === 0)
            .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
              col("o_totalprice")))
        TableIO.writeTable(s, lh, "st_orders", // v4: adds a column
          sub.select(col("o_orderkey").cast("bigint").as("o_orderkey"),
            col("o_totalprice"), lit("x").as("o_flag")))
        TableIO.schemaTimeline(s, lh, "st_orders").orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS INT),
        |    'o_orderkey#o_totalprice', '', ''),
        |  (CAST(2 AS BIGINT), CAST(2 AS INT), '', '',
        |    'o_orderkey:int->bigint'),
        |  (CAST(4 AS BIGINT), CAST(3 AS INT), 'o_flag', '', ''))
        |  AS t(version, n_cols, added_cols, removed_cols, changed_cols)
        |ORDER BY version""".stripMargin)),

    // DECODE-FREE MP3 metadata — the container-walker family's audio
    // member (PNG/JPEG images, MP4 video, WAV/MP3 audio): real
    // spec-shaped frame headers walked frame by frame, ID3v2 skipped by
    // synchsafe size; the oracle replays the salt arithmetic through the
    // public bitrate/sample-rate tables.
    Q("q282_mp3_container_meta",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 8 === 0)
          .withColumn("payload", Multimodal.syntheticMp3Udf(
            (lit(1) + col("doc_id") % 14).cast("int"),
            (col("doc_id") % 3).cast("int"),
            col("doc_id") % 2 === 0,
            (lit(3) + col("doc_id") % 9).cast("int"),
            when(col("doc_id") % 4 === 0, lit(16)).otherwise(lit(-1))))
        Multimodal.decodeMp3Headers(clips, "payload")
          .select(col("doc_id"),
            col("mp3.bitrate_kbps").as("bitrate_kbps"),
            col("mp3.sample_rate").as("sample_rate"),
            col("mp3.channels").as("channels"),
            col("mp3.n_frames").as("n_frames"),
            col("mp3.duration_ms").as("duration_ms"),
            col("mp3.has_id3").as("has_id3"))
          .orderBy("doc_id")
      },
      Some("""WITH brt(idx, kbps) AS (VALUES (1,32),(2,40),(3,48),(4,56),
        |  (5,64),(6,80),(7,96),(8,112),(9,128),(10,160),(11,192),
        |  (12,224),(13,256),(14,320)),
        |srt(idx, hz) AS (VALUES (0,44100),(1,48000),(2,32000)),
        |d AS (
        |  SELECT doc_id, CAST(1 + doc_id % 14 AS INT) AS bi,
        |    CAST(doc_id % 3 AS INT) AS si,
        |    doc_id % 2 = 0 AS mono,
        |    CAST(3 + doc_id % 9 AS BIGINT) AS frames,
        |    doc_id % 4 = 0 AS has_id3
        |  FROM documents WHERE doc_id % 8 = 0)
        |SELECT doc_id, CAST(kbps AS INT) AS bitrate_kbps,
        |  CAST(hz AS INT) AS sample_rate,
        |  CAST(CASE WHEN mono THEN 1 ELSE 2 END AS INT) AS channels,
        |  frames AS n_frames,
        |  CAST(frames * 1152 * 1000 // hz AS BIGINT) AS duration_ms,
        |  has_id3
        |FROM d JOIN brt ON brt.idx = d.bi JOIN srt ON srt.idx = d.si
        |ORDER BY doc_id""".stripMargin)),

    // Chi-squared homogeneity test: is the language mix the same across
    // sources? ONE count aggregation into a |lang|x|source| grid
    // (zero cells completed), per-cell (o-e)^2/e in a fixed IEEE op
    // order, exact decimal fold — the quantitative gate under the
    // drift reports.
    Q("q283_chi_squared_drift",
      (s, dir) => StatTests.chiSquaredDrift(
        t(s, dir, "documents"), "lang", "source"),
      Some("""WITH obs AS (
        |  SELECT lang AS cat, source AS arm, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT c.cat, a.arm, coalesce(obs.o, 0) AS o
        |  FROM (SELECT DISTINCT cat FROM obs) c
        |  CROSS JOIN (SELECT DISTINCT arm FROM obs) a
        |  LEFT JOIN obs ON obs.cat = c.cat AND obs.arm = a.arm),
        |tot AS (
        |  SELECT cat, arm, o,
        |    sum(o) OVER (PARTITION BY cat) AS rt,
        |    sum(o) OVER (PARTITION BY arm) AS ct,
        |    sum(o) OVER () AS n
        |  FROM grid),
        |terms AS (
        |  SELECT cat, arm, n,
        |    CAST((CAST(o AS DOUBLE)
        |        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(o AS DOUBLE)
        |        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(38,18)) AS contrib
        |  FROM tot)
        |SELECT CAST(CAST(sum(contrib) AS VARCHAR) AS DOUBLE) AS chi2,
        |  CAST((count(DISTINCT cat) - 1) * (count(DISTINCT arm) - 1)
        |    AS BIGINT) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM terms""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov D between even- and odd-id documents
    // over the length distribution — EXACT in integers
    // (max |cum0*n1 - cum1*n0|), one aggregation per distinct value,
    // cumulative windows over the bounded value frame only.
    Q("q284_ks_statistic",
      (s, dir) => StatTests.ksStatistic(
        t(s, dir, "documents")
          .withColumn("arm", (col("doc_id") % 2).cast("int")),
        "n_chars", "arm"),
      Some("""WITH a AS (
        |  SELECT n_chars AS v,
        |    count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS c0,
        |    count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS c1
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT
        |    sum(c0) OVER (ORDER BY v) AS cum0,
        |    sum(c1) OVER (ORDER BY v) AS cum1,
        |    sum(c0) OVER () AS n0,
        |    sum(c1) OVER () AS n1
        |  FROM a)
        |SELECT CAST(max(abs(cum0 * n1 - cum1 * n0)) AS BIGINT) AS d_num,
        |  CAST(max(n0) AS BIGINT) AS n0,
        |  CAST(max(n1) AS BIGINT) AS n1,
        |  CAST(max(abs(cum0 * n1 - cum1 * n0)) * 1000
        |    // (max(n0) * max(n1)) AS BIGINT) AS d_permille
        |FROM c""".stripMargin)),

    // Mutual information I(lang; source) + marginal entropies, in bits:
    // one joint-count aggregation, marginals by windows over the bounded
    // joint frame, per-cell p*log2 terms op-for-op identical across
    // engines (ln/ln(2)), exact decimal fold.
    Q("q285_mutual_information",
      (s, dir) => StatTests.mutualInformation(
        t(s, dir, "documents"), "lang", "source"),
      Some("""WITH j AS (
        |  SELECT lang AS x, source AS y, count(*) AS cxy
        |  FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT cxy,
        |    sum(cxy) OVER (PARTITION BY x) AS cx,
        |    sum(cxy) OVER (PARTITION BY y) AS cy,
        |    sum(cxy) OVER () AS n
        |  FROM j),
        |terms AS (
        |  SELECT n,
        |    CAST((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (ln(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)
        |          / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) / ln(2.0))
        |      AS DECIMAL(38,18)) AS mi_t,
        |    CAST(0.0 - (CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)) / ln(2.0))
        |      * (CAST(cxy AS DOUBLE) / CAST(cx AS DOUBLE))
        |      AS DECIMAL(38,18)) AS hx_t,
        |    CAST(0.0 - (CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) / ln(2.0))
        |      * (CAST(cxy AS DOUBLE) / CAST(cy AS DOUBLE))
        |      AS DECIMAL(38,18)) AS hy_t
        |  FROM t)
        |SELECT CAST(CAST(sum(mi_t) AS VARCHAR) AS DOUBLE) AS mi_bits,
        |  CAST(CAST(sum(hx_t) AS VARCHAR) AS DOUBLE) AS h_x,
        |  CAST(CAST(sum(hy_t) AS VARCHAR) AS DOUBLE) AS h_y,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM terms""".stripMargin)),

    // Zipf power-law fit over the token-frequency spectrum: least-squares
    // ln(freq)-on-ln(rank) for the top 500 tokens; one vocabulary
    // aggregation, rank window bounded by the Aggregate, exact decimal
    // moment sums — a one-row corpus-health diagnostic (natural text
    // fits slope near -1).
    Q("q286_zipf_fit",
      (s, dir) => StatTests.zipfFit(t(s, dir, "documents"), "text", 500),
      Some("""WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents),
        |cnts AS (
        |  SELECT tok, count(*) AS cnt FROM tok WHERE tok <> '' GROUP BY 1),
        |rk AS (
        |  SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank
        |  FROM cnts QUALIFY rank <= 500),
        |m AS (
        |  SELECT count(*) AS n_terms,
        |    CAST(CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(ln(CAST(rank AS DOUBLE))
        |        * ln(CAST(cnt AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(CAST(ln(CAST(rank AS DOUBLE))
        |        * ln(CAST(rank AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sxx
        |  FROM rk)
        |SELECT CAST(n_terms AS BIGINT) AS n_terms,
        |  (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS slope,
        |  (sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
        |    / CAST(n_terms AS DOUBLE) AS intercept
        |FROM m""".stripMargin)),

    // k-core peeling over the part-supplier graph: 3 explicit rounds of
    // "drop vertices with degree < 3" (the pagerank replay contract —
    // any engine re-runs the identical rounds); each round is ONE degree
    // aggregation + two semi-joins, O(E).
    Q("q287_kcore",
      (s, dir) => Graph.kCorePeel(
          t(s, dir, "lineitem").selectExpr(
            "l_partkey * 2 AS src", "l_suppkey * 2 + 1 AS dst"),
          "src", "dst", k = 3, rounds = 3)
        .orderBy("v"),
      Some("""WITH e0 AS (
        |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem),
        |sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |d1 AS (SELECT src AS v FROM sym GROUP BY src HAVING count(*) >= 3),
        |p1 AS (SELECT s.src, s.dst FROM sym s
        |  JOIN d1 a ON s.src = a.v JOIN d1 b ON s.dst = b.v),
        |d2 AS (SELECT src AS v FROM p1 GROUP BY src HAVING count(*) >= 3),
        |p2 AS (SELECT s.src, s.dst FROM p1 s
        |  JOIN d2 a ON s.src = a.v JOIN d2 b ON s.dst = b.v),
        |d3 AS (SELECT src AS v FROM p2 GROUP BY src HAVING count(*) >= 3),
        |p3 AS (SELECT s.src, s.dst FROM p2 s
        |  JOIN d3 a ON s.src = a.v JOIN d3 b ON s.dst = b.v)
        |SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
        |FROM p3 GROUP BY src ORDER BY v""".stripMargin)),

    // Adamic-Adar link prediction: top-50 non-adjacent pairs by
    // summed 1/ln(deg) over shared neighbors. Wedges generated IN-ROW
    // from sorted adjacency arrays (never an edge-list self-join),
    // immediately partial-aggregated on the canonical pair key; hub
    // centers past the degree cap are skipped (documented, ~0 score
    // mass); top-N is TakeOrdered. The oracle replays wedges by self-join
    // and the same exact-decimal fold.
    Q("q288_adamic_adar",
      (s, dir) => Graph.adamicAdarTopPairs(
          t(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
            .selectExpr("l_partkey * 2 AS src", "l_suppkey * 2 + 1 AS dst"),
          "src", "dst", topN = 50, maxDeg = 1024)
        .orderBy(col("aa_score").desc, col("u"), col("v")),
      Some("""WITH e0 AS (
        |  SELECT DISTINCT least(l_partkey * 2, l_suppkey * 2 + 1) AS a,
        |    greatest(l_partkey * 2, l_suppkey * 2 + 1) AS b
        |  FROM lineitem WHERE l_orderkey % 7 = 0),
        |sym AS (SELECT a AS w, b AS n FROM e0
        |  UNION ALL SELECT b AS w, a AS n FROM e0),
        |dg AS (SELECT w, count(*) AS dg FROM sym GROUP BY w),
        |wed AS (
        |  SELECT s1.n AS u, s2.n AS v, s1.w
        |  FROM sym s1 JOIN sym s2 ON s1.w = s2.w AND s1.n < s2.n
        |  JOIN dg ON dg.w = s1.w AND dg.dg BETWEEN 2 AND 1024),
        |aa AS (
        |  SELECT u, v,
        |    sum(CAST(floor(1000000000000.0
        |      / ln(CAST(dg.dg AS DOUBLE))) AS BIGINT)) AS sc
        |  FROM wed JOIN dg ON dg.w = wed.w
        |  GROUP BY u, v),
        |na AS (
        |  SELECT aa.u, aa.v, aa.sc FROM aa
        |  LEFT JOIN e0 ON e0.a = aa.u AND e0.b = aa.v
        |  WHERE e0.a IS NULL)
        |SELECT u, v, CAST(sc AS DOUBLE) / 1000000000000.0 AS aa_score
        |FROM na ORDER BY sc DESC, u, v LIMIT 50""".stripMargin)),

    // MMR diversified re-ranking: greedy 3-of-8 selection maximizing
    // lambda*rel - (1-lambda)*max-sim-to-selected, all INTEGER (quantized
    // vectors, integer dots, permille lambda) so the greedy replays
    // bit-identically; the oracle unrolls the three selection steps as
    // chained CTEs. Candidate generation is the one corpus-sized job;
    // the greedy is a bounded per-query kernel.
    Q("q289_mmr_rerank",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Retrieval.mmrRerank(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", candK = 8, selectK = 3,
          lambdaPermille = 700)
          .orderBy("query_id", "sel_rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |vn AS (
        |  SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nn
        |  FROM v),
        |q AS (SELECT vec_id AS query_id, qv AS qvec, nn AS qq
        |  FROM vn WHERE vec_id < 3),
        |rel AS (
        |  SELECT q.query_id, c.vec_id, c.qv AS cvec, c.nn AS cc,
        |    CASE WHEN c.nn = 0 OR q.qq = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor(1000.0
        |        * CAST(list_sum(list_transform(list_zip(c.qv, q.qvec),
        |            p -> p[1] * p[2])) AS DOUBLE)
        |        / (sqrt(CAST(c.nn AS DOUBLE)) * sqrt(CAST(q.qq AS DOUBLE))))
        |        AS BIGINT) END AS rel
        |  FROM vn c, q),
        |cand AS (
        |  SELECT query_id, vec_id, cvec, cc, rel
        |  FROM rel
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY rel DESC, vec_id) <= 8),
        |s1 AS (
        |  SELECT query_id, vec_id, cvec, cc, rel,
        |    CAST(700 * rel AS BIGINT) AS score
        |  FROM cand
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY 700 * rel DESC, vec_id) = 1),
        |r2 AS (
        |  SELECT c.query_id, c.vec_id, c.cvec, c.cc, c.rel,
        |    CASE WHEN c.cc = 0 OR s.cc = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor(1000.0
        |        * CAST(list_sum(list_transform(list_zip(c.cvec, s.cvec),
        |            p -> p[1] * p[2])) AS DOUBLE)
        |        / (sqrt(CAST(c.cc AS DOUBLE)) * sqrt(CAST(s.cc AS DOUBLE))))
        |        AS BIGINT) END AS sim1
        |  FROM cand c JOIN s1 s USING (query_id)
        |  WHERE c.vec_id <> s.vec_id),
        |s2 AS (
        |  SELECT query_id, vec_id, cvec, cc, rel, sim1,
        |    CAST(700 * rel - 300 * sim1 AS BIGINT) AS score
        |  FROM r2
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY 700 * rel - 300 * sim1 DESC, vec_id) = 1),
        |r3 AS (
        |  SELECT r2.query_id, r2.vec_id, r2.rel,
        |    greatest(r2.sim1,
        |      CASE WHEN r2.cc = 0 OR s2.cc = 0 THEN CAST(0 AS BIGINT)
        |        ELSE CAST(floor(1000.0
        |          * CAST(list_sum(list_transform(list_zip(r2.cvec, s2.cvec),
        |              p -> p[1] * p[2])) AS DOUBLE)
        |          / (sqrt(CAST(r2.cc AS DOUBLE)) * sqrt(CAST(s2.cc AS DOUBLE))))
        |          AS BIGINT) END) AS msim
        |  FROM r2 JOIN s2 USING (query_id)
        |  WHERE r2.vec_id <> s2.vec_id),
        |s3 AS (
        |  SELECT query_id, vec_id,
        |    CAST(700 * rel - 300 * msim AS BIGINT) AS score
        |  FROM r3
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY 700 * rel - 300 * msim DESC, vec_id) = 1)
        |SELECT query_id, CAST(1 AS INT) AS sel_rank, vec_id, score
        |  AS mmr_score FROM s1
        |UNION ALL SELECT query_id, CAST(2 AS INT), vec_id, score FROM s2
        |UNION ALL SELECT query_id, CAST(3 AS INT), vec_id, score FROM s3
        |ORDER BY query_id, sel_rank""".stripMargin)),

    // GIF container metadata — the animated-image member of the
    // container-walker family (PNG/JPEG/TIFF images, MP4 video, WAV/MP3/
    // FLAC audio): logical screen descriptor + block walk over real
    // spec-shaped fixtures; the oracle replays the salt arithmetic.
    Q("q290_gif_container_meta",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 6 === 0)
          .withColumn("payload", Multimodal.syntheticGifUdf(
            (lit(16) + col("doc_id") % 32).cast("int"),
            (lit(8) + col("doc_id") % 16).cast("int"),
            (lit(1) + col("doc_id") % 4).cast("int"),
            when(col("doc_id") % 3 === 0, lit(5)).otherwise(lit(0)),
            (col("doc_id") % 3).cast("int")))
        Multimodal.decodeGifHeaders(clips, "payload")
          .select(col("doc_id"),
            col("gif.width").as("width"),
            col("gif.height").as("height"),
            col("gif.gct_entries").as("gct_entries"),
            col("gif.n_frames").as("n_frames"),
            col("gif.n_extensions").as("n_extensions"),
            col("gif.animated").as("animated"),
            col("gif.has_trailer").as("has_trailer"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(16 + doc_id % 32 AS INT) AS width,
        |  CAST(8 + doc_id % 16 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 32 ELSE 0 END AS INT)
        |    AS gct_entries,
        |  CAST(1 + doc_id % 4 AS INT) AS n_frames,
        |  CAST(doc_id % 3 AS INT) AS n_extensions,
        |  doc_id % 4 > 0 AS animated,
        |  TRUE AS has_trailer
        |FROM documents WHERE doc_id % 6 = 0 ORDER BY doc_id""".stripMargin)),

    // FLAC STREAMINFO metadata — lossless audio joins the walker family:
    // bit-packed 64-bit tail (20-bit rate / 3-bit channels / 5-bit bps /
    // 36-bit sample count) unpacked exactly, block census to the
    // last-block flag; integer duration replayed by the oracle.
    Q("q291_flac_streaminfo",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 10 === 0)
          .withColumn("payload", Multimodal.syntheticFlacUdf(
            (lit(8000) * (lit(1) + col("doc_id") % 11)).cast("int"),
            (lit(1) + col("doc_id") % 4).cast("int"),
            when(col("doc_id") % 2 === 0, lit(16)).otherwise(lit(24)),
            lit(1000L) + (col("doc_id") * 441) % 100000,
            (col("doc_id") % 3).cast("int")))
        Multimodal.decodeFlacHeaders(clips, "payload")
          .select(col("doc_id"),
            col("flac.sample_rate").as("sample_rate"),
            col("flac.channels").as("channels"),
            col("flac.bits_per_sample").as("bits_per_sample"),
            col("flac.total_samples").as("total_samples"),
            col("flac.duration_ms").as("duration_ms"),
            col("flac.n_blocks").as("n_blocks"),
            col("flac.saw_last_block").as("saw_last_block"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CAST(8000 * (1 + doc_id % 11) AS INT) AS sample_rate,
        |    CAST(1 + doc_id % 4 AS INT) AS channels,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END AS INT)
        |      AS bits_per_sample,
        |    CAST(1000 + (doc_id * 441) % 100000 AS BIGINT) AS total_samples,
        |    CAST(doc_id % 3 AS INT) AS pad
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id, sample_rate, channels, bits_per_sample,
        |  total_samples,
        |  CAST(total_samples * 1000 // sample_rate AS BIGINT) AS duration_ms,
        |  CAST(1 + pad AS INT) AS n_blocks,
        |  TRUE AS saw_last_block
        |FROM d ORDER BY doc_id""".stripMargin)),

    // TIFF IFD0 metadata in both byte orders — the EXIF carrier format:
    // endianness-honoring entry walk (SHORT/LONG inline values), EXIF
    // sub-IFD pointer detection; oracle replays the salts.
    Q("q292_tiff_meta",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 9 === 0)
          .withColumn("payload", Multimodal.syntheticTiffUdf(
            col("doc_id") % 2 === 0,
            lit(100L) + col("doc_id") % 900,
            lit(50L) + col("doc_id") % 500,
            (lit(1) + col("doc_id") % 8).cast("int"),
            col("doc_id") % 3 === 0))
        Multimodal.decodeTiffHeaders(clips, "payload")
          .select(col("doc_id"),
            col("tiff.little_endian").as("little_endian"),
            col("tiff.n_entries").as("n_entries"),
            col("tiff.width").as("width"),
            col("tiff.height").as("height"),
            col("tiff.orientation").as("orientation"),
            col("tiff.has_exif_ifd").as("has_exif_ifd"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  doc_id % 2 = 0 AS little_endian,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END AS INT)
        |    AS n_entries,
        |  CAST(100 + doc_id % 900 AS BIGINT) AS width,
        |  CAST(50 + doc_id % 500 AS BIGINT) AS height,
        |  CAST(1 + doc_id % 8 AS INT) AS orientation,
        |  doc_id % 3 = 0 AS has_exif_ifd
        |FROM documents WHERE doc_id % 9 = 0 ORDER BY doc_id""".stripMargin)),

    // Group-aware K-fold + leakage audit: a row-hash split leaks customer
    // groups across folds; the group-keyed split audits to zero by
    // construction. One (group -> folds) aggregation per scheme, one
    // report row each.
    Q("q293_group_kfold_leakage",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val naive = Packing.groupKFold(orders, "o_orderkey", seed = 7L, k = 3)
        val grouped = Packing.groupKFold(orders, "o_custkey", seed = 7L, k = 3)
        Packing.splitLeakageAudit(naive, "o_custkey", "fold")
          .withColumn("scheme", lit("row_hash"))
          .unionByName(
            Packing.splitLeakageAudit(grouped, "o_custkey", "fold")
              .withColumn("scheme", lit("group_hash")))
          .orderBy("scheme")
      },
      Some("""WITH naive AS (
        |  SELECT o_custkey,
        |    ('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR) || '#7'),
        |      1, 8))::UBIGINT % 3 AS fold
        |  FROM orders),
        |gn AS (
        |  SELECT o_custkey, count(DISTINCT fold) AS n_folds,
        |    count(*) AS n_rows
        |  FROM naive GROUP BY 1),
        |a1 AS (
        |  SELECT 'row_hash' AS scheme, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(count(CASE WHEN n_folds > 1 THEN 1 END) AS BIGINT)
        |      AS n_leaking_groups,
        |    CAST(max(n_folds) AS INT) AS max_folds_per_group,
        |    CAST(coalesce(sum(CASE WHEN n_folds > 1 THEN n_rows END), 0)
        |      AS BIGINT) AS rows_in_leaking_groups
        |  FROM gn),
        |grp AS (
        |  SELECT o_custkey,
        |    ('0x' || substr(sha256(CAST(o_custkey AS VARCHAR) || '#7'),
        |      1, 8))::UBIGINT % 3 AS fold
        |  FROM orders),
        |gg AS (
        |  SELECT o_custkey, count(DISTINCT fold) AS n_folds,
        |    count(*) AS n_rows
        |  FROM grp GROUP BY 1),
        |a2 AS (
        |  SELECT 'group_hash' AS scheme, CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(count(CASE WHEN n_folds > 1 THEN 1 END) AS BIGINT)
        |      AS n_leaking_groups,
        |    CAST(max(n_folds) AS INT) AS max_folds_per_group,
        |    CAST(coalesce(sum(CASE WHEN n_folds > 1 THEN n_rows END), 0)
        |      AS BIGINT) AS rows_in_leaking_groups
        |  FROM gg)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |ORDER BY scheme""".stripMargin)),

    // Temporal split with an embargo gap: train strictly before
    // cut - 2 days, test at/after the cut, the gap excluded from both
    // (the purged time-series CV discipline). Pure per-row expression +
    // one aggregation.
    Q("q294_temporal_embargo_split",
      (s, dir) => Packing.temporalEmbargoSplit(ev(s, dir), "ts",
          "2024-01-20 00:00:00", 2L * 86400)
        .groupBy("role")
        .agg(count(lit(1)).as("n"), min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"))
        .orderBy("role"),
      Some("""WITH r AS (
        |  SELECT ts,
        |    CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 2 DAY
        |        THEN 'train'
        |      WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 'test'
        |      ELSE 'embargo' END AS role
        |  FROM events)
        |SELECT role, CAST(count(*) AS BIGINT) AS n, min(ts) AS min_ts,
        |  max(ts) AS max_ts
        |FROM r GROUP BY role ORDER BY role""".stripMargin)),

    // The hashing trick for categorical crosses: fixed 64-bucket feature
    // space from a keyed portable hash — no vocabulary fit, no
    // train/serve skew; the report shows per-bucket load and collision
    // census. Per-row bucket kernel + ONE aggregation.
    Q("q295_feature_hash_cross",
      (s, dir) => Features.hashCross(
          t(s, dir, "lineitem").withColumn("supp_mod",
            (col("l_suppkey") % 10).cast("string")),
          Seq("l_returnflag", "l_linestatus", "supp_mod"), 64)
        .groupBy("feature_bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(concat_ws("#", col("l_returnflag"),
            col("l_linestatus"), col("supp_mod"))).as("n_crosses"))
        .orderBy("feature_bucket"),
      Some("""WITH b AS (
        |  SELECT ('0x' || substr(sha256(l_returnflag || '#' ||
        |      l_linestatus || '#' || CAST(l_suppkey % 10 AS VARCHAR)),
        |      1, 8))::UBIGINT % 64 AS feature_bucket,
        |    l_returnflag || '#' || l_linestatus || '#' ||
        |      CAST(l_suppkey % 10 AS VARCHAR) AS cross_key
        |  FROM lineitem)
        |SELECT CAST(feature_bucket AS INT) AS feature_bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT cross_key) AS BIGINT) AS n_crosses
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Markdown -> prose (htmlToText's sibling): salted CommonMark
    // decorations (header, blockquote, list, fence, link, inline code,
    // emphasis) stripped by the codegen'd regex chain; the oracle
    // replays the same chain in RE2.
    Q("q296_markdown_strip",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .filter(col("doc_id") % 5 === 0)
          .withColumn("md", concat(
            lit("# Doc "), col("doc_id").cast("string"),
            lit("\n\n> quoted intro\n\n- item one\n- item *two*\n\n```\ncode "),
            col("doc_id").cast("string"),
            lit("\n```\n\nSee [docs](http://x/"),
            col("doc_id").cast("string"),
            lit(") and ![fig](img.png) plus `inline` and _emph_ "),
            coalesce(col("text"), lit(""))))
        TextStats.withMarkdownText(docs, "md")
          .select(col("doc_id"), col("text_clean"),
            length(col("md")).cast("long").as("n_chars_md"),
            length(col("text_clean")).cast("long").as("n_chars_clean"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
        |    '> quoted intro' || chr(10) || chr(10) ||
        |    '- item one' || chr(10) || '- item *two*' || chr(10) ||
        |    chr(10) || '```' || chr(10) || 'code ' ||
        |    CAST(doc_id AS VARCHAR) || chr(10) || '```' || chr(10) ||
        |    chr(10) || 'See [docs](http://x/' || CAST(doc_id AS VARCHAR) ||
        |    ') and ![fig](img.png) plus `inline` and _emph_ ' ||
        |    coalesce(text, '') AS md
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (
        |  SELECT doc_id, md,
        |    trim(regexp_replace(
        |      regexp_replace(
        |      regexp_replace(
        |      regexp_replace(
        |      regexp_replace(
        |      regexp_replace(
        |      regexp_replace(
        |      regexp_replace(md,
        |        '```.*?```', ' ', 'gs'),
        |        '`([^`]*)`', '\1', 'g'),
        |        '!\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |        '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |        '(?m)^#{1,6}[ \t]+', '', 'g'),
        |        '(?m)^[ \t]*(>[ \t]?|[-*+][ \t]+|[0-9]+\.[ \t]+)', '', 'g'),
        |        '[*_]{1,3}', '', 'g'),
        |        '[ \t\r\n]+', ' ', 'g')) AS text_clean
        |  FROM d)
        |SELECT doc_id, text_clean,
        |  CAST(length(md) AS BIGINT) AS n_chars_md,
        |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Compaction planning from the file manifest alone: stage orders
    // partitioned by month (one file per month), then plan
    // cumulative-fill merge bins PER YEAR (files in different partitions
    // never merge) at a row target — metadata-only, the window runs over
    // the manifest, not the data. The oracle recomputes per-month counts
    // and replays the deterministic (weight desc, key) fill.
    Q("q297_compaction_plan",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "cp_orders")
        val src = t(s, dir, "orders")
          .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
        TableIO.writeTable(s, lh, "cp_orders", src.repartition(col("om")),
          partitionBy = Seq("om"))
        val files = TableIO.filesTable(s, lh, "cp_orders")
          .withColumn("om", regexp_extract(col("path"), "om=([^/]+)", 1))
          .withColumn("yr", substring(col("om"), 1, 4))
        Packing.cumulativeFillBins(files, Seq("yr"), "num_rows", "om",
            target = 800L)
          .groupBy("yr", "bin")
          .agg(count(lit(1)).as("n_files"),
            sum("num_rows").cast("long").as("total_rows"))
          .orderBy("yr", "bin")
      },
      Some("""WITH pf AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS om,
        |    count(*) AS num_rows
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT substr(om, 1, 4) AS yr, om, num_rows,
        |    sum(num_rows) OVER (PARTITION BY substr(om, 1, 4)
        |      ORDER BY num_rows DESC, om) AS cum
        |  FROM pf)
        |SELECT yr, CAST((cum - num_rows) // 800 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(num_rows) AS BIGINT) AS total_rows
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Incremental drift monitor: the chi-squared input counts are
    // ADDITIVE, so the monitor folds per-batch (cat, arm) counts (the
    // q280 persisted-LM contract — fold order irrelevant) and recomputes
    // the statistic from the folded state, never rescanning the corpus.
    // The oracle is the from-scratch replay: folded must equal one-shot
    // bit-for-bit.
    Q("q298_drift_monitor_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("arm", (col("doc_id") % 2).cast("int"))
        val b1 = docs.filter(col("doc_id") % 3 === 0)
        val b2 = docs.filter(col("doc_id") % 3 =!= 0)
        StatTests.chiSquaredFromCounts(StatTests.foldCategoryCounts(Seq(
          StatTests.categoryCounts(b1, "lang", "arm"),
          StatTests.categoryCounts(b2, "lang", "arm"))))
      },
      Some("""WITH obs AS (
        |  SELECT lang AS cat, CAST(doc_id % 2 AS INT) AS arm, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT c.cat, a.arm, coalesce(obs.o, 0) AS o
        |  FROM (SELECT DISTINCT cat FROM obs) c
        |  CROSS JOIN (SELECT DISTINCT arm FROM obs) a
        |  LEFT JOIN obs ON obs.cat = c.cat AND obs.arm = a.arm),
        |tot AS (
        |  SELECT cat, arm, o,
        |    sum(o) OVER (PARTITION BY cat) AS rt,
        |    sum(o) OVER (PARTITION BY arm) AS ct,
        |    sum(o) OVER () AS n
        |  FROM grid),
        |terms AS (
        |  SELECT cat, arm, n,
        |    CAST((CAST(o AS DOUBLE)
        |        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(o AS DOUBLE)
        |        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(38,18)) AS contrib
        |  FROM tot)
        |SELECT CAST(CAST(sum(contrib) AS VARCHAR) AS DOUBLE) AS chi2,
        |  CAST((count(DISTINCT cat) - 1) * (count(DISTINCT arm) - 1)
        |    AS BIGINT) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM terms""".stripMargin)),

    // Matrix-free first principal direction by 2-round power iteration,
    // fully engine-portable: integer-quantized matrix, exact-decimal
    // A^T(Av) aggregations, fixed-IEEE renormalization per round (the
    // pageRank explicit-replay contract). One O(n*d) pass per round;
    // only d rows cross the exchange.
    Q("q299_power_iteration_pca",
      (s, dir) => Embeddings.powerIterationTopComponent(
          t(s, dir, "embeddings"), "embedding", iterations = 2)
        .orderBy("pos"),
      Some("""WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |u AS (
        |  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS pos,
        |    unnest(qv) AS x
        |  FROM q),
        |av1 AS (
        |  SELECT vec_id, CAST(sum(x * 1024) AS BIGINT) AS av
        |  FROM u GROUP BY 1),
        |s1 AS (
        |  SELECT pos, CAST(sum(CAST(x * av AS DECIMAL(18,0)))
        |    AS DECIMAL(18,0)) AS s
        |  FROM u JOIN av1 USING (vec_id) GROUP BY pos),
        |n1 AS (
        |  SELECT sqrt(CAST(CAST(sum(CAST(s AS DECIMAL(19,0)) * s)
        |    AS VARCHAR) AS DOUBLE)) AS nrm
        |  FROM s1),
        |v1 AS (
        |  SELECT pos, CAST(floor(1024.0 * CAST(CAST(s AS VARCHAR) AS DOUBLE)
        |    / nrm) AS BIGINT) AS v
        |  FROM s1, n1),
        |av2 AS (
        |  SELECT u.vec_id, CAST(sum(u.x * v1.v) AS BIGINT) AS av
        |  FROM u JOIN v1 USING (pos) GROUP BY 1),
        |s2 AS (
        |  SELECT pos, CAST(sum(CAST(x * av AS DECIMAL(18,0)))
        |    AS DECIMAL(18,0)) AS s
        |  FROM u JOIN av2 USING (vec_id) GROUP BY pos),
        |n2 AS (
        |  SELECT sqrt(CAST(CAST(sum(CAST(s AS DECIMAL(19,0)) * s)
        |    AS VARCHAR) AS DOUBLE)) AS nrm
        |  FROM s2)
        |SELECT CAST(pos AS INT) AS pos,
        |  CAST(floor(1024.0 * CAST(CAST(s AS VARCHAR) AS DOUBLE) / n2.nrm)
        |    AS BIGINT) AS component
        |FROM s2, n2 ORDER BY pos""".stripMargin)),

    // Order-3 next-event training examples: (3 preceding event types ->
    // this type) aggregated to the transition table a sequence model
    // trains on — markov transitions generalized to order k. One
    // per-user window shuffle, one vocabulary^k-bounded aggregation.
    Q("q300_next_event_examples",
      (s, dir) => Analytics.nextEventExamples(ev(s, dir), "user_id", "ts",
          "event_id", "event_type", k = 3)
        .orderBy("context", "label"),
      Some("""WITH c AS (
        |  SELECT event_type AS label,
        |    list(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx
        |  FROM events),
        |f AS (
        |  SELECT array_to_string(ctx, '>') AS context, label
        |  FROM c WHERE len(ctx) = 3)
        |SELECT context, label, CAST(count(*) AS BIGINT) AS n
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Benford first-digit goodness-of-fit over order totals: the
    // one-sample chi-squared against a DECLARED distribution (the
    // category universe comes from the expectation, so missing digits
    // still contribute); floor() before the digit extraction because
    // double->int CAST rounds half-even in DuckDB but truncates in
    // Spark.
    Q("q301_benford_goodness_of_fit",
      (s, dir) => StatTests.chiSquaredGoodnessOfFit(
        t(s, dir, "orders").select(
          substring(floor(col("o_totalprice")).cast("long").cast("string"),
            1, 1).as("digit")),
        "digit",
        Seq("1" -> 301, "2" -> 176, "3" -> 125, "4" -> 97, "5" -> 79,
          "6" -> 67, "7" -> 58, "8" -> 51, "9" -> 46)),
      Some("""WITH d AS (
        |  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS cat
        |  FROM orders),
        |exp(cat, permille) AS (VALUES ('1', 301), ('2', 176), ('3', 125),
        |  ('4', 97), ('5', 79), ('6', 67), ('7', 58), ('8', 51),
        |  ('9', 46)),
        |obs AS (SELECT cat, count(*) AS o FROM d GROUP BY 1),
        |grid AS (
        |  SELECT e.cat, e.permille, coalesce(obs.o, 0) AS o
        |  FROM exp e LEFT JOIN obs ON obs.cat = e.cat),
        |tot AS (SELECT permille, o, sum(o) OVER () AS n FROM grid),
        |terms AS (
        |  SELECT n,
        |    CAST((CAST(o AS DOUBLE)
        |        - CAST(n AS DOUBLE) * CAST(permille AS DOUBLE) / 1000.0)
        |      * (CAST(o AS DOUBLE)
        |        - CAST(n AS DOUBLE) * CAST(permille AS DOUBLE) / 1000.0)
        |      / (CAST(n AS DOUBLE) * CAST(permille AS DOUBLE) / 1000.0)
        |      AS DECIMAL(38,18)) AS contrib
        |  FROM tot)
        |SELECT CAST(CAST(sum(contrib) AS VARCHAR) AS DOUBLE) AS chi2,
        |  CAST(count(*) - 1 AS BIGINT) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM terms""".stripMargin)),

    // Calibration reliability table for a permille confidence score:
    // per-bin support, mean predicted confidence, observed positive
    // rate, and the calibration gap — all integer permille, one
    // aggregation. Score and label are salted deterministically (the
    // label is score-correlated so the curve is non-trivial).
    Q("q302_calibration_reliability",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        val scored = t(s, dir, "documents").select("doc_id")
          .withColumn("score", h("s"))
          .withColumn("label",
            (h("s") * 2 + h("l") > 1000).cast("int"))
        Quality.calibrationReliability(scored, "score", "label", bins = 10)
          .orderBy("bin")
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (
        |  SELECT CAST(least(score * 10 // 1000, 9) AS INT) AS bin,
        |    score, label
        |  FROM d)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(score) // count(*) AS BIGINT) AS mean_score_permille,
        |  CAST(sum(label) * 1000 // count(*) AS BIGINT)
        |    AS observed_permille,
        |  CAST(abs(sum(score) // count(*)
        |    - sum(label) * 1000 // count(*)) AS BIGINT) AS gap_permille
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // Cohen's kappa between two heuristic quality labelers: ONE
    // confusion aggregation, marginal products over the label universe,
    // kappa from exact integer counts in a fixed IEEE op order.
    Q("q303_cohens_kappa",
      (s, dir) => StatTests.cohensKappa(
        t(s, dir, "documents").select(
          (col("n_chars") > 200).as("rater_a"),
          (size(filter(split(col("text"), "\\s+"),
            x => x =!= "")) > 35).as("rater_b")),
        "rater_a", "rater_b"),
      Some("""WITH r AS (
        |  SELECT CAST(n_chars > 200 AS VARCHAR) AS a,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) > 35 AS VARCHAR) AS b
        |  FROM documents),
        |conf AS (SELECT a, b, count(*) AS o FROM r GROUP BY 1, 2),
        |labels AS (SELECT a AS k FROM conf UNION SELECT b FROM conf),
        |ra AS (SELECT a AS k, sum(o) AS ra FROM conf GROUP BY 1),
        |cb AS (SELECT b AS k, sum(o) AS cb FROM conf GROUP BY 1),
        |diag AS (
        |  SELECT CAST(sum(CAST(coalesce(ra.ra, 0) AS DECIMAL(38,0))
        |    * coalesce(cb.cb, 0)) AS DECIMAL(38,0)) AS sum_racb
        |  FROM labels LEFT JOIN ra USING (k) LEFT JOIN cb USING (k)),
        |agree AS (
        |  SELECT coalesce(sum(o), 0) AS agree FROM conf WHERE a = b),
        |tot AS (SELECT sum(o) AS n FROM conf)
        |SELECT
        |  CASE WHEN CAST(CAST(sum_racb AS VARCHAR) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
        |    THEN (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(CAST(sum_racb AS VARCHAR) AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      / (1.0 - CAST(CAST(sum_racb AS VARCHAR) AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END AS kappa,
        |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |  CAST(CAST(sum_racb AS VARCHAR) AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe,
        |  CAST(n AS BIGINT) AS n
        |FROM tot, agree, diag""".stripMargin)),

    // Join-key skew profile — the pre-flight check before a large join:
    // per-key loads (partial-agg, only distinct keys shuffle), top-20
    // heaviest keys with permille share and skew multiple via
    // TakeOrdered.
    Q("q304_join_key_skew",
      (s, dir) => Analytics.joinKeySkewProfile(
        t(s, dir, "lineitem"), "l_suppkey", topK = 20),
      Some("""WITH loads AS (
        |  SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS load
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(load) AS total, count(*) AS n_keys FROM loads)
        |SELECT key, CAST(load AS BIGINT) AS load,
        |  CAST(load * 1000 // total AS BIGINT) AS share_permille,
        |  CAST(load * n_keys * 1000 // total AS BIGINT) AS skew_x_permille
        |FROM loads, t ORDER BY load DESC, key LIMIT 20""".stripMargin)),

    // Greedy k-center coreset (Gonzalez farthest-point traversal):
    // 5 diversity-maximizing exemplars in exact integer squared
    // euclidean; one least()-update pass + one TakeOrdered(1) per round.
    // The oracle unrolls the 5 rounds as chained CTEs.
    Q("q305_kcenter_coreset",
      (s, dir) => Clustering.kCenterCoreset(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
        .orderBy("round"),
      Some("""WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |vn AS (
        |  SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nn
        |  FROM v),
        |c1 AS (SELECT vec_id, qv, nn FROM vn
        |  QUALIFY row_number() OVER (ORDER BY vec_id) = 1),
        |m1 AS (
        |  SELECT vn.vec_id, vn.qv, vn.nn,
        |    vn.nn + c1.nn - 2 * CAST(list_sum(list_transform(
        |      list_zip(vn.qv, c1.qv), p -> p[1] * p[2])) AS BIGINT) AS mind
        |  FROM vn, c1 WHERE vn.vec_id <> c1.vec_id),
        |c2 AS (SELECT * FROM m1
        |  QUALIFY row_number() OVER (ORDER BY mind DESC, vec_id) = 1),
        |m2 AS (
        |  SELECT m1.vec_id, m1.qv, m1.nn,
        |    least(m1.mind, m1.nn + c2.nn - 2 * CAST(list_sum(list_transform(
        |      list_zip(m1.qv, c2.qv), p -> p[1] * p[2])) AS BIGINT)) AS mind
        |  FROM m1, c2 WHERE m1.vec_id <> c2.vec_id),
        |c3 AS (SELECT * FROM m2
        |  QUALIFY row_number() OVER (ORDER BY mind DESC, vec_id) = 1),
        |m3 AS (
        |  SELECT m2.vec_id, m2.qv, m2.nn,
        |    least(m2.mind, m2.nn + c3.nn - 2 * CAST(list_sum(list_transform(
        |      list_zip(m2.qv, c3.qv), p -> p[1] * p[2])) AS BIGINT)) AS mind
        |  FROM m2, c3 WHERE m2.vec_id <> c3.vec_id),
        |c4 AS (SELECT * FROM m3
        |  QUALIFY row_number() OVER (ORDER BY mind DESC, vec_id) = 1),
        |m4 AS (
        |  SELECT m3.vec_id, m3.qv, m3.nn,
        |    least(m3.mind, m3.nn + c4.nn - 2 * CAST(list_sum(list_transform(
        |      list_zip(m3.qv, c4.qv), p -> p[1] * p[2])) AS BIGINT)) AS mind
        |  FROM m3, c4 WHERE m3.vec_id <> c4.vec_id),
        |c5 AS (SELECT * FROM m4
        |  QUALIFY row_number() OVER (ORDER BY mind DESC, vec_id) = 1)
        |SELECT CAST(1 AS INT) AS round, vec_id, CAST(0 AS BIGINT) AS dist2
        |  FROM c1
        |UNION ALL SELECT CAST(2 AS INT), vec_id, CAST(mind AS BIGINT) FROM c2
        |UNION ALL SELECT CAST(3 AS INT), vec_id, CAST(mind AS BIGINT) FROM c3
        |UNION ALL SELECT CAST(4 AS INT), vec_id, CAST(mind AS BIGINT) FROM c4
        |UNION ALL SELECT CAST(5 AS INT), vec_id, CAST(mind AS BIGINT) FROM c5
        |ORDER BY round""".stripMargin)),

    // Rank normalization within sources: n_chars -> permille rank inside
    // each source (rank(), so ties share a value — deterministic with no
    // tie-break column); the order-preserving map that makes per-source
    // score scales comparable before mixing.
    Q("q306_rank_normalize",
      (s, dir) => Features.rankNormalize(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source, n_chars,
        |  CAST(((rank() OVER (PARTITION BY source ORDER BY n_chars) - 1)
        |    * 1000) // greatest(count(*) OVER (PARTITION BY source) - 1, 1)
        |    AS BIGINT) AS rank_permille
        |FROM documents WHERE n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin)),

    // Frequent 2-itemsets over order baskets (the A-priori pair census):
    // baskets aggregate once to sorted item arrays, pairs generate
    // IN-ROW (never a basket self-join), one partial-aggregated support
    // count. The oracle replays via a basket self-join — same pairs.
    Q("q307_frequent_item_pairs",
      (s, dir) => Analytics.frequentItemPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L)
        .orderBy("item_a", "item_b"),
      Some("""WITH t AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |sz AS (
        |  SELECT b FROM t GROUP BY b
        |  HAVING count(*) BETWEEN 2 AND 1024),
        |p AS (
        |  SELECT a.i AS item_a, c.i AS item_b
        |  FROM t a JOIN t c ON a.b = c.b AND a.i < c.i
        |  JOIN sz ON sz.b = a.b)
        |SELECT CAST(item_a AS BIGINT) AS item_a,
        |  CAST(item_b AS BIGINT) AS item_b,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin)),

    // Poisson-bootstrap 95% CI for the mean document length: keyed-hash
    // Poisson(1) multiplicities (inverse-CDF thresholds on a permille
    // uniform — deterministic, engine-portable), exact-decimal replicate
    // means, order-statistic CI pick. One exploded pass, 40-row
    // replicate frame, one fold.
    Q("q308_bootstrap_mean_ci",
      (s, dir) => StatTests.poissonBootstrapMeanCI(
        t(s, dir, "documents"), "doc_id", "n_chars", b = 40, seed = 7L),
      Some("""WITH r AS (
        |  SELECT d.doc_id, d.n_chars, g.b,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#7#'
        |      || CAST(g.b AS VARCHAR)), 1, 8))::UBIGINT % 1000 AS u
        |  FROM documents d, (SELECT unnest(range(40)) AS b) g
        |  WHERE n_chars IS NOT NULL),
        |w AS (
        |  SELECT b, n_chars,
        |    CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
        |      WHEN u < 920 THEN 2 WHEN u < 981 THEN 3
        |      WHEN u < 996 THEN 4 ELSE 5 END AS w
        |  FROM r),
        |m AS (
        |  SELECT b,
        |    CAST(CAST(sum(CAST(w * CAST(n_chars AS DECIMAL(18,6))
        |      AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
        |      / CAST(sum(w) AS DOUBLE) AS mean_b
        |  FROM w GROUP BY b HAVING sum(w) > 0),
        |s AS (
        |  SELECT list_sort(list(mean_b)) AS ms, count(*) AS n_reps FROM m)
        |SELECT ms[2] AS ci_lo, ms[40] AS ci_hi,
        |  CAST(n_reps AS BIGINT) AS n_reps
        |FROM s""".stripMargin)),

    // CUSUM change-point over the daily event series: cumulative
    // deviation from the global mean, EXACT in integers (deviations
    // scaled by the day count); the calendar-bounded daily frame is the
    // only window input, argmax with earliest-day tie-break.
    Q("q309_cusum_changepoint",
      (s, dir) => Analytics.cusumChangepoint(ev(s, dir), "ts")
        // ISO string for the compare: Spark dumps DATE as date32, DuckDB
        // fetches DATE as datetime — same day, different physical reprs
        .withColumn("change_day", col("change_day").cast("string")),
      Some("""WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, c, sum(c) OVER () AS total,
        |    count(*) OVER () AS days
        |  FROM d),
        |s AS (
        |  SELECT day, sum(c * days - total) OVER (ORDER BY day) AS s,
        |    total, days
        |  FROM t)
        |SELECT strftime(day, '%Y-%m-%d') AS change_day,
        |  CAST(s AS BIGINT) AS cusum_scaled,
        |  CAST(total AS BIGINT) AS n_events, CAST(days AS BIGINT) AS n_days
        |FROM s ORDER BY abs(s) DESC, day LIMIT 1""".stripMargin)),

    // Heaps' law fit: vocabulary growth V(n) ~ K*n^beta in doc_id order —
    // two token aggregations, cumulative checkpoints on the |docs|-
    // bounded frame, exact-decimal ln-ln least squares.
    Q("q310_heaps_law",
      (s, dir) => StatTests.heapsFit(t(s, dir, "documents"), "doc_id",
        "text"),
      Some("""WITH tok AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc, tok FROM tok WHERE tok <> ''),
        |per_doc AS (SELECT doc, count(*) AS toks FROM tk GROUP BY 1),
        |fs AS (
        |  SELECT doc, count(*) AS vnew FROM (
        |    SELECT tok, min(doc) AS doc FROM tk GROUP BY 1)
        |  GROUP BY 1),
        |pts AS (
        |  SELECT
        |    sum(toks) OVER (ORDER BY per_doc.doc) AS n,
        |    sum(coalesce(vnew, 0)) OVER (ORDER BY per_doc.doc) AS v
        |  FROM per_doc LEFT JOIN fs ON fs.doc = per_doc.doc),
        |f AS (SELECT n, v FROM pts WHERE n > 0 AND v > 0),
        |m AS (
        |  SELECT count(*) AS n_points,
        |    CAST(CAST(sum(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(ln(CAST(v AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(ln(CAST(n AS DOUBLE))
        |        * ln(CAST(v AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(CAST(ln(CAST(n AS DOUBLE))
        |        * ln(CAST(n AS DOUBLE)) AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS sxx
        |  FROM f)
        |SELECT CAST(n_points AS BIGINT) AS n_points,
        |  (CAST(n_points AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_points AS DOUBLE) * sxx - sx * sx) AS beta,
        |  (sy - ((CAST(n_points AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_points AS DOUBLE) * sxx - sx * sx)) * sx)
        |    / CAST(n_points AS DOUBLE) AS ln_k
        |FROM m""".stripMargin)),

    // Per-language accuracy with Wilson 95% intervals: one conditional
    // aggregation per slice, closed-form interval from exact integer
    // counts in a fixed IEEE op order; the deterministic "prediction"
    // salt makes the per-slice counts non-trivial.
    Q("q311_wilson_slice_eval",
      (s, dir) => StatTests.sliceAccuracyWilson(
          t(s, dir, "documents")
            .withColumn("correct", col("doc_id") % 10 < 7),
          "lang", "correct")
        .orderBy("slice"),
      Some("""WITH a AS (
        |  SELECT lang AS slice, count(*) AS n,
        |    count(CASE WHEN doc_id % 10 < 7 THEN 1 END) AS k
        |  FROM documents GROUP BY 1)
        |SELECT slice, CAST(n AS BIGINT) AS n,
        |  CAST(k * 1000 // n AS BIGINT) AS acc_permille,
        |  (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
        |    / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
        |  - (1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      + 3.8415999999999997
        |        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        |    / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)) AS wilson_lo,
        |  (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
        |    / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE))
        |  + (1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      + 3.8415999999999997
        |        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        |    / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)) AS wilson_hi
        |FROM a ORDER BY slice""".stripMargin)),

    // NEAREST-within-tolerance as-of join (asof's symmetric sibling):
    // sampled events match their closest other-event reading per user
    // within 30 minutes, either direction, ties to the earlier right
    // row. Hash-joinable via tolerance-bin replication (never a BNLJ);
    // the oracle replays the naive join + QUALIFY argmin.
    Q("q312_asof_nearest",
      (s, dir) => {
        val all = ev(s, dir)
        TemporalJoins.asofJoinNearest(
            all.filter(col("event_id") % 5 === 0)
              .select("event_id", "user_id", "ts"),
            all.filter(col("event_id") % 5 =!= 0)
              .select("user_id", "ts", "value"),
            Seq("user_id"), "event_id", "ts", Seq("value"),
            toleranceMicros = 1800000000L)
          // nullable BIGINT/TIMESTAMP cross pandas as MinValue/NaT
          // sentinels in engine-specific units — pin no-match to -1 and
          // surface the matched time as epoch micros
          .withColumn("delta_micros", coalesce(col("delta_micros"), lit(-1L)))
          .withColumn("ts_near_us",
            coalesce(expr("unix_micros(ts_near)"), lit(-1L)))
          .select("event_id", "user_id", "value_near", "ts_near_us",
            "delta_micros")
          .orderBy("event_id")
      },
      Some("""WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_id % 5 = 0),
        |r AS (
        |  SELECT user_id, ts AS rts, value
        |  FROM events WHERE event_id % 5 <> 0),
        |c AS (
        |  SELECT l.event_id, l.user_id, r.rts, r.value,
        |    abs(epoch_us(l.ts) - epoch_us(r.rts)) AS d
        |  FROM l JOIN r ON l.user_id = r.user_id
        |  WHERE abs(epoch_us(l.ts) - epoch_us(r.rts)) <= 1800000000),
        |b AS (
        |  SELECT * FROM c QUALIFY row_number() OVER (
        |    PARTITION BY user_id, event_id ORDER BY d, rts) = 1)
        |SELECT l.event_id, l.user_id, b.value AS value_near,
        |  CAST(coalesce(epoch_us(b.rts), -1) AS BIGINT) AS ts_near_us,
        |  CAST(coalesce(b.d, -1) AS BIGINT) AS delta_micros
        |FROM l LEFT JOIN b ON b.event_id = l.event_id
        |ORDER BY l.event_id""".stripMargin)),

    // Population Stability Index between even- and odd-id documents over
    // the length distribution: declared fixed grid (any engine bins
    // identically), add-one smoothing, per-bin ln terms folded as exact
    // decimals — the industry drift score next to KS (q284) and
    // chi-squared (q283).
    Q("q313_population_stability",
      (s, dir) => StatTests.populationStabilityIndex(
        t(s, dir, "documents")
          .withColumn("arm", (col("doc_id") % 2).cast("int")),
        "n_chars", "arm", bins = 10, lo = 0L, hi = 2000L),
      Some("""WITH d AS (
        |  SELECT n_chars, CAST(doc_id % 2 AS INT) AS arm
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (
        |  SELECT least(greatest((n_chars - 0) // 200, 0), 9) AS bin, arm
        |  FROM d),
        |c AS (
        |  SELECT bin,
        |    count(CASE WHEN arm = 0 THEN 1 END) AS c0,
        |    count(CASE WHEN arm = 1 THEN 1 END) AS c1
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT bin, c0, c1, sum(c0) OVER () AS n0, sum(c1) OVER () AS n1
        |  FROM c),
        |terms AS (
        |  SELECT n0, n1,
        |    CAST(((CAST(c0 AS DOUBLE) + 1.0) / (CAST(n0 AS DOUBLE) + 10.0)
        |        - (CAST(c1 AS DOUBLE) + 1.0) / (CAST(n1 AS DOUBLE) + 10.0))
        |      * ln(((CAST(c0 AS DOUBLE) + 1.0) / (CAST(n0 AS DOUBLE) + 10.0))
        |        / ((CAST(c1 AS DOUBLE) + 1.0) / (CAST(n1 AS DOUBLE) + 10.0)))
        |      AS DECIMAL(38,18)) AS term
        |  FROM t)
        |SELECT CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS psi,
        |  CAST(max(n0) AS BIGINT) AS n0, CAST(max(n1) AS BIGINT) AS n1,
        |  CAST(count(*) AS BIGINT) AS n_occupied_bins
        |FROM terms""".stripMargin)),

    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-Res):
    // top-50 orders by ln(u)/weight with a keyed-hash uniform — the
    // one-pass distributed weighted draw, deterministic and
    // engine-portable; TakeOrdered, never a global sort.
    Q("q314_weighted_sample",
      (s, dir) => Packing.weightedSampleWithoutReplacement(
          t(s, dir, "orders").select(col("o_orderkey"),
            floor(col("o_totalprice")).cast("long").as("w")),
          "o_orderkey", "w", k = 50, seed = 7L)
        .orderBy(col("sample_score").desc, col("o_orderkey")),
      Some("""WITH t AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS w
        |  FROM orders),
        |k AS (
        |  SELECT o_orderkey, w,
        |    ln((('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR)
        |        || '#7'), 1, 8))::UBIGINT % 1000 + 0.5) / 1000.0)
        |      / CAST(w AS DOUBLE) AS sample_score
        |  FROM t WHERE w IS NOT NULL AND w > 0)
        |SELECT o_orderkey, w, sample_score
        |FROM k ORDER BY sample_score DESC, o_orderkey
        |LIMIT 50""".stripMargin)),

    // Kaplan-Meier survival over user lifetimes: durations first->last
    // activity, censoring within 7 days of observation end; risk table
    // on the duration-bounded frame; survival reported as ln S(d) (per-
    // term fixed-IEEE ln, exact-decimal cumulative fold — exp is NOT
    // portable across libms, ln S is).
    Q("q315_kaplan_meier",
      (s, dir) => Analytics.kaplanMeier(ev(s, dir), "user_id", "ts",
          churnGapDays = 7)
        .orderBy("duration"),
      Some("""WITH u AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS f,
        |    max(CAST(ts AS DATE)) AS l
        |  FROM events GROUP BY 1),
        |u2 AS (
        |  SELECT user_id, date_diff('day', f, l) AS duration,
        |    date_diff('day', l, (SELECT max(l) FROM u)) > 7 AS churned
        |  FROM u),
        |t AS (
        |  SELECT duration,
        |    count(CASE WHEN churned THEN 1 END) AS n_events,
        |    count(CASE WHEN NOT churned THEN 1 END) AS n_censored,
        |    count(*) AS total
        |  FROM u2 GROUP BY 1),
        |r AS (
        |  SELECT duration, n_events, n_censored,
        |    sum(total) OVER ()
        |      - coalesce(sum(total) OVER (ORDER BY duration
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM t),
        |s AS (
        |  SELECT duration, n_risk, n_events, n_censored,
        |    CASE WHEN n_events = 0 THEN CAST(0 AS DECIMAL(38,18))
        |      WHEN n_events < n_risk
        |        THEN CAST(ln(CAST(n_risk - n_events AS DOUBLE)
        |          / CAST(n_risk AS DOUBLE)) AS DECIMAL(38,18))
        |      END AS term
        |  FROM r)
        |SELECT CAST(duration AS INT) AS duration,
        |  CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_censored AS BIGINT) AS n_censored,
        |  CAST(CAST(sum(term) OVER (ORDER BY duration
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
        |    AS DOUBLE) AS ln_surv
        |FROM s ORDER BY duration""".stripMargin)),

    // EXACT ROC AUC by the Mann-Whitney rank statistic over the salted
    // score/label pair (q302's calibration fixture): one aggregation per
    // distinct score + a cumulative window over that bounded frame,
    // AUC = (2*wins + ties)/(2*n+*n-) entirely in integers.
    Q("q316_roc_auc",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        StatTests.rocAuc(
          t(s, dir, "documents").select("doc_id")
            .withColumn("score", h("s"))
            .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int")),
          "score", "label")
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |a AS (
        |  SELECT score AS v,
        |    count(CASE WHEN label = 1 THEN 1 END) AS p,
        |    count(CASE WHEN label = 0 THEN 1 END) AS q
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT p, q,
        |    coalesce(sum(q) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS negs_below
        |  FROM a),
        |m AS (
        |  SELECT sum(p * negs_below) AS wins, sum(p * q) AS ties,
        |    sum(p) AS n_pos, sum(q) AS n_neg
        |  FROM c)
        |SELECT CAST(wins * 2 + ties AS BIGINT) AS auc_num,
        |  CAST(n_pos * n_neg * 2 AS BIGINT) AS auc_denom,
        |  CAST((wins * 2 + ties) * 1000 // (n_pos * n_neg * 2) AS BIGINT)
        |    AS auc_permille,
        |  CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg
        |FROM m""".stripMargin)),

    // Truncation-loss planning report: per source, how much content a
    // 1200-char context cutoff discards — docs truncated, units lost,
    // integer-permille share. One aggregation; the complement of the
    // padding-waste report.
    Q("q317_truncation_loss",
      (s, dir) => TextStats.truncationLossReport(
          t(s, dir, "documents"), "n_chars", "source", cutoff = 1200L)
        .orderBy("group"),
      Some("""SELECT source AS "group",
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN n_chars > 1200 THEN 1 END) AS BIGINT)
        |    AS n_truncated,
        |  CAST(sum(n_chars) AS BIGINT) AS units_total,
        |  CAST(sum(greatest(n_chars - 1200, 0)) AS BIGINT) AS units_lost,
        |  CAST(sum(greatest(n_chars - 1200, 0)) * 1000 // sum(n_chars)
        |    AS BIGINT) AS lost_permille
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY source ORDER BY source""".stripMargin)),

    // Expected calibration error — the calibration table folded to one
    // integer-permille dashboard number: ECE = sum(n_b * gap_b) div N.
    Q("q318_expected_calibration_error",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        Quality.expectedCalibrationError(
          t(s, dir, "documents").select("doc_id")
            .withColumn("score", h("s"))
            .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int")),
          "score", "label", bins = 10)
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (
        |  SELECT CAST(least(score * 10 // 1000, 9) AS INT) AS bin,
        |    score, label
        |  FROM d),
        |g AS (
        |  SELECT bin, count(*) AS n,
        |    abs(sum(score) // count(*)
        |      - sum(label) * 1000 // count(*)) AS gap
        |  FROM b GROUP BY bin)
        |SELECT CAST(sum(n * gap) // sum(n) AS BIGINT) AS ece_permille,
        |  CAST(sum(n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_occupied_bins
        |FROM g""".stripMargin)),

    // Cramer's V effect size for the lang-by-source association: the
    // [0,1]-normalized chi-squared that stays comparable as n grows —
    // q283's exact machinery plus one dimension count and a fixed-IEEE
    // sqrt.
    Q("q319_cramers_v",
      (s, dir) => StatTests.cramersV(
        t(s, dir, "documents"), "lang", "source"),
      Some("""WITH obs AS (
        |  SELECT lang AS cat, source AS arm, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT c.cat, a.arm, coalesce(obs.o, 0) AS o
        |  FROM (SELECT DISTINCT cat FROM obs) c
        |  CROSS JOIN (SELECT DISTINCT arm FROM obs) a
        |  LEFT JOIN obs ON obs.cat = c.cat AND obs.arm = a.arm),
        |tot AS (
        |  SELECT cat, arm, o,
        |    sum(o) OVER (PARTITION BY cat) AS rt,
        |    sum(o) OVER (PARTITION BY arm) AS ct,
        |    sum(o) OVER () AS n
        |  FROM grid),
        |terms AS (
        |  SELECT n,
        |    CAST((CAST(o AS DOUBLE)
        |        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(o AS DOUBLE)
        |        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(38,18)) AS contrib
        |  FROM tot),
        |x AS (
        |  SELECT CAST(CAST(sum(contrib) AS VARCHAR) AS DOUBLE) AS chi2,
        |    CAST(max(n) AS BIGINT) AS n
        |  FROM terms),
        |dims AS (
        |  SELECT CAST(count(DISTINCT cat) AS BIGINT) AS r,
        |    CAST(count(DISTINCT arm) AS BIGINT) AS c
        |  FROM obs)
        |SELECT sqrt(chi2 / (CAST(n AS DOUBLE)
        |    * CAST(least(r, c) - 1 AS DOUBLE))) AS v,
        |  chi2, n, r, c
        |FROM x, dims""".stripMargin)),

    // Cliff's delta — ordinal effect size for "are English documents
    // longer?": exact integer rank statistic from value-grouped counts,
    // never the n1*n0 pair join.
    Q("q320_cliffs_delta",
      (s, dir) => StatTests.cliffsDelta(
        t(s, dir, "documents")
          .withColumn("arm", (col("lang") === "en").cast("int")),
        "n_chars", "arm"),
      Some("""WITH d AS (
        |  SELECT n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS arm
        |  FROM documents WHERE n_chars IS NOT NULL),
        |a AS (
        |  SELECT v,
        |    count(CASE WHEN arm = 0 THEN 1 END) AS c0,
        |    count(CASE WHEN arm = 1 THEN 1 END) AS c1
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT c0, c1,
        |    coalesce(sum(c0) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below0,
        |    sum(c0) OVER () AS n0
        |  FROM a),
        |m AS (
        |  SELECT sum(c1 * below0) AS wins,
        |    sum(c1 * (n0 - below0 - c0)) AS losses,
        |    sum(c1) AS n1, max(n0) AS n0
        |  FROM c)
        |SELECT CAST(wins - losses AS BIGINT) AS delta_num,
        |  CAST(n1 * n0 AS BIGINT) AS delta_denom,
        |  CAST((CASE WHEN wins > losses THEN 1
        |      WHEN wins < losses THEN -1 ELSE 0 END)
        |    * (abs(wins - losses) * 1000 // (n1 * n0)) AS BIGINT)
        |    AS delta_permille,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0
        |FROM m""".stripMargin)),

    // Spearman rank correlation between line-item quantity and extended
    // price: tie-averaged ranks held exactly as 2x-scaled integers,
    // decimal moments, one IEEE division at the very end.
    Q("q321_spearman_rho",
      (s, dir) => StatTests.spearmanRho(
        t(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
      Some("""WITH b AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |vx AS (SELECT x AS v, count(*) AS c FROM b GROUP BY 1),
        |rx AS (
        |  SELECT v,
        |    2 * coalesce(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c + 1 AS r2
        |  FROM vx),
        |vy AS (SELECT y AS v, count(*) AS c FROM b GROUP BY 1),
        |ry AS (
        |  SELECT v,
        |    2 * coalesce(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c + 1 AS r2
        |  FROM vy),
        |j AS (
        |  SELECT rx.r2 AS r2x, ry.r2 AS r2y
        |  FROM b JOIN rx ON b.x = rx.v JOIN ry ON b.y = ry.v),
        |m AS (
        |  SELECT count(*)::HUGEINT AS n,
        |    sum(r2x::HUGEINT) AS sx, sum(r2y::HUGEINT) AS sy,
        |    sum(r2x::HUGEINT * r2y) AS sxy,
        |    sum(r2x::HUGEINT * r2x) AS sxx,
        |    sum(r2y::HUGEINT * r2y) AS syy
        |  FROM j)
        |SELECT CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    END AS rho,
        |  CAST(n AS BIGINT) AS n
        |FROM m""".stripMargin)),

    // Kruskal-Wallis H: does document length differ across languages?
    // Exact 2x-scaled tie-averaged ranks; one IEEE division per group
    // term; exact decimal fold.
    Q("q322_kruskal_wallis",
      (s, dir) => StatTests.kruskalWallis(
        t(s, dir, "documents"), "n_chars", "lang"),
      Some("""WITH b AS (
        |  SELECT n_chars AS v, lang AS g FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |vc AS (SELECT v, count(*) AS c FROM b GROUP BY 1),
        |rk AS (
        |  SELECT v,
        |    2 * coalesce(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c + 1 AS r2
        |  FROM vc),
        |tie AS (SELECT sum(c * c * c - c) AS tie_num, sum(c) AS n FROM vc),
        |pg AS (
        |  SELECT g, sum(r2) AS s2, count(*) AS nj
        |  FROM b JOIN rk USING (v) GROUP BY 1),
        |terms AS (
        |  SELECT CAST(CAST(s2::HUGEINT * s2 AS DOUBLE)
        |    / CAST(nj AS DOUBLE) AS DECIMAL(38,18)) AS term
        |  FROM pg),
        |t2 AS (
        |  SELECT CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS sum_terms,
        |    count(*) AS k
        |  FROM terms)
        |SELECT
        |  3.0 * sum_terms / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |    - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
        |  CASE WHEN tie_num < n * n * n - n THEN
        |    (3.0 * sum_terms / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |    / (1.0 - CAST(tie_num AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE)))
        |    END AS h_corrected,
        |  CAST(k - 1 AS BIGINT) AS dof,
        |  CAST(n AS BIGINT) AS n
        |FROM t2, tie""".stripMargin)),

    // Gini concentration of document length per source: exact integer
    // identity 2*sum(i*x_i) - (n+1)*sum(x), tie-order invariant.
    Q("q323_gini_concentration",
      (s, dir) => StatTests.giniConcentration(
          t(s, dir, "documents"), "n_chars", "source")
        .orderBy("group"),
      Some("""WITH r AS (
        |  SELECT source AS grp, n_chars AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i
        |  FROM documents WHERE n_chars IS NOT NULL),
        |a AS (
        |  SELECT grp, count(*) AS n, sum(v) AS total, sum(i * v) AS ws
        |  FROM r GROUP BY 1)
        |SELECT grp AS "group", CAST(n AS BIGINT) AS n,
        |  CAST(total AS BIGINT) AS total,
        |  CAST((2 * ws - (n + 1) * total) * 1000 // (n * total) AS BIGINT)
        |    AS gini_permille
        |FROM a WHERE total > 0 ORDER BY "group"""".stripMargin)),

    // Mann-Kendall trend on daily ingest volume: exact integer S and
    // 18x-scaled tie-corrected variance over the bounded day frame.
    Q("q324_mann_kendall",
      (s, dir) => StatTests.mannKendallTrend(
        ev(s, dir).groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events"),
      Some("""WITH d AS (
        |  SELECT date_trunc('day', ts) AS t, count(*) AS v
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT a.va, b.vb
        |  FROM (SELECT t AS ta, v AS va FROM d) a
        |  JOIN (SELECT t AS tb, v AS vb FROM d) b ON a.ta < b.tb),
        |sgn AS (
        |  SELECT coalesce(sum(CASE WHEN vb > va THEN 1
        |    WHEN vb < va THEN -1 ELSE 0 END), 0) AS s
        |  FROM p),
        |tie AS (
        |  SELECT sum(c * (c - 1) * (2 * c + 5)) AS tie18, sum(c) AS m
        |  FROM (SELECT v, count(*) AS c FROM d GROUP BY 1)),
        |x AS (
        |  SELECT s, m, m * (m - 1) * (2 * m + 5) - tie18 AS var18
        |  FROM sgn, tie)
        |SELECT CAST(s AS BIGINT) AS s, CAST(m AS BIGINT) AS m,
        |  CAST(var18 AS BIGINT) AS var18,
        |  CASE WHEN var18 <= 0 THEN NULL
        |    WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS z
        |FROM x""".stripMargin)),

    // Jensen-Shannon divergence of the language mix between even- and
    // odd-numbered sources: symmetric, always-finite drift distance.
    Q("q325_jensen_shannon",
      (s, dir) => StatTests.jensenShannon(
        t(s, dir, "documents").withColumn("arm",
          substring(col("source"), 4, 10).cast("int") % 2),
        "lang", "arm"),
      Some("""WITH d AS (
        |  SELECT lang AS cat, CAST(substr(source, 4) AS INT) % 2 AS arm
        |  FROM documents WHERE lang IS NOT NULL),
        |c AS (
        |  SELECT cat,
        |    count(CASE WHEN arm = 0 THEN 1 END) AS c0,
        |    count(CASE WHEN arm = 1 THEN 1 END) AS c1
        |  FROM d GROUP BY 1),
        |w AS (
        |  SELECT cat, c0, c1, sum(c0) OVER () AS n0, sum(c1) OVER () AS n1
        |  FROM c),
        |terms AS (
        |  SELECT CAST(
        |    (CASE WHEN c0 > 0 THEN
        |      0.5 * (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |      * (ln((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |        / ((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |          + CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 2.0))
        |        / ln(2.0))
        |      ELSE 0.0 END)
        |    + (CASE WHEN c1 > 0 THEN
        |      0.5 * (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      * (ln((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |        / ((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |          + CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 2.0))
        |        / ln(2.0))
        |      ELSE 0.0 END)
        |    AS DECIMAL(38,18)) AS term, n0, n1
        |  FROM w)
        |SELECT CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS jsd_bits,
        |  CAST(max(n0) AS BIGINT) AS n0, CAST(max(n1) AS BIGINT) AS n1,
        |  count(*) AS n_cats
        |FROM terms""".stripMargin)),

    // Kendall tau-b between line-item quantity and discount (both
    // ordinal, bounded grids): exact concordant/discordant counts from
    // the cell-grid self-join, never the n^2 pair space.
    Q("q326_kendall_tau",
      (s, dir) => StatTests.kendallTauB(
        t(s, dir, "lineitem"), "l_quantity", "l_discount"),
      Some("""WITH g AS (
        |  SELECT l_quantity AS x, l_discount AS y, count(*) AS c
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT
        |    coalesce(sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END), 0)
        |      AS concordant,
        |    coalesce(sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END), 0)
        |      AS discordant
        |  FROM g a JOIN g b ON a.x < b.x),
        |tx AS (
        |  SELECT sum(nx * (nx - 1) // 2) AS tx
        |  FROM (SELECT sum(c) AS nx FROM g GROUP BY x)),
        |ty AS (
        |  SELECT sum(ny * (ny - 1) // 2) AS ty
        |  FROM (SELECT sum(c) AS ny FROM g GROUP BY y)),
        |nn AS (SELECT sum(c) AS n, sum(c) * (sum(c) - 1) // 2 AS n0 FROM g)
        |SELECT CAST(concordant AS BIGINT) AS concordant,
        |  CAST(discordant AS BIGINT) AS discordant,
        |  CASE WHEN (n0 - tx)::HUGEINT * (n0 - ty) > 0 THEN
        |    CAST(concordant - discordant AS DOUBLE)
        |      / sqrt(CAST((n0 - tx)::HUGEINT * (n0 - ty) AS DOUBLE))
        |    END AS tau_b,
        |  CAST(n AS BIGINT) AS n
        |FROM p, tx, ty, nn""".stripMargin)),

    // LIX readability per source: word/sentence/long-word totals and the
    // centi-LIX index, all integer.
    Q("q327_lix_readability",
      (s, dir) => TextStats.lixReadability(
          t(s, dir, "documents"), "text", "source")
        .orderBy("group"),
      Some("""WITH m AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> length(t) > 6)) END AS l,
        |    length(regexp_replace(text, '[^.!?]', '', 'g')) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (
        |  SELECT source AS "group", count(*) AS n_docs, sum(w) AS n_words,
        |    sum(s) AS n_sentences, sum(l) AS n_longwords
        |  FROM m GROUP BY 1)
        |SELECT "group", CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_longwords AS BIGINT) AS n_longwords,
        |  CAST(n_words * 100 // greatest(n_sentences, 1)
        |    + n_longwords * 10000 // n_words AS BIGINT) AS lix_centi
        |FROM a WHERE n_words > 0 ORDER BY "group"""".stripMargin)),

    // Fleiss' kappa over a synthetic annotation frame (4 "raters" per
    // item = 4 consecutive events; category = event_type): exact
    // integer kappa from one (item, category) count aggregation.
    Q("q328_fleiss_kappa",
      (s, dir) => {
        val r = ev(s, dir)
          .selectExpr("event_id div 4 AS item", "event_type AS cat")
        val full = r.groupBy("item").agg(count(lit(1)).as("c"))
          .filter(col("c") === 4).select("item")
        StatTests.fleissKappa(r.join(full, Seq("item"), "left_semi"),
          "item", "cat")
      },
      Some("""WITH r AS (
        |  SELECT event_id // 4 AS item, event_type AS cat FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL),
        |f AS (SELECT item FROM r GROUP BY 1 HAVING count(*) = 4),
        |d AS (SELECT r.item, r.cat FROM r JOIN f USING (item)),
        |cnt AS (SELECT item, cat, count(*) AS nij FROM d GROUP BY 1, 2),
        |it AS (
        |  SELECT count(DISTINCT item)::HUGEINT AS nn,
        |    sum(nij::HUGEINT * nij) AS s2
        |  FROM cnt),
        |ct AS (
        |  SELECT count(*)::HUGEINT AS ncats, sum(cj::HUGEINT * cj) AS csq
        |  FROM (SELECT cat, sum(nij) AS cj FROM cnt GROUP BY 1)),
        |k AS (
        |  SELECT (s2 - nn * 4) AS a, nn * 4 * 3 AS d1,
        |    (nn * 4) * (nn * 4) AS d2, csq, nn, ncats
        |  FROM it, ct)
        |SELECT CASE WHEN d1 * (d2 - csq) <> 0
        |    THEN CAST(a * d2 - csq * d1 AS DOUBLE)
        |      / CAST(d1 * (d2 - csq) AS DOUBLE) END AS kappa,
        |  CAST(a * d2 - csq * d1 AS BIGINT) AS kappa_num,
        |  CAST(d1 * (d2 - csq) AS BIGINT) AS kappa_den,
        |  CAST(nn AS BIGINT) AS n_items, CAST(4 AS BIGINT) AS n_raters,
        |  CAST(ncats AS BIGINT) AS n_categories
        |FROM k""".stripMargin)),

    // Per-source permutation test: "are English documents' character
    // totals different from chance?" — m=64 sha-keyed label reshuffles,
    // integer exceedance, add-one p. No erf, no t-table: the p-value
    // itself is exact integer arithmetic any engine replays.
    Q("q329_permutation_test",
      (s, dir) => StatTests.permutationTestPerGroup(
          t(s, dir, "documents")
            .withColumn("arm", (col("lang") === "en").cast("int")),
          "source", "doc_id", "n_chars", "arm", m = 64)
        .orderBy("grp"),
      Some("""WITH b AS (
        |  SELECT source AS g, doc_id AS id, n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS arm
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |st AS (
        |  SELECT g, count(*) AS n,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(v) AS s, sum(CASE WHEN arm = 1 THEN v ELSE 0 END) AS obs
        |  FROM b GROUP BY 1
        |  HAVING sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
        |    AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) < count(*)),
        |e AS (
        |  SELECT b.g, b.id, b.v, t.p
        |  FROM b JOIN st ON st.g = b.g, unnest(range(1, 65)) AS t(p)),
        |k AS (
        |  SELECT g, v, p,
        |    row_number() OVER (PARTITION BY g, p ORDER BY
        |      CAST(('0x' || substring(sha256(CAST(id AS VARCHAR) || '#'
        |        || CAST(p AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT),
        |      id) AS rn
        |  FROM e),
        |ps AS (
        |  SELECT k.g, k.p, sum(k.v) AS tt
        |  FROM k JOIN st ON st.g = k.g AND k.rn <= st.n1
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT ps.g,
        |    count(*) FILTER (WHERE abs(tt * n - n1 * s)
        |      >= abs(obs * n - n1 * s)) AS ec
        |  FROM ps JOIN st ON st.g = ps.g GROUP BY 1)
        |SELECT st.g AS grp, CAST(n AS BIGINT) AS n,
        |  CAST(n1 AS BIGINT) AS n1, CAST(obs AS BIGINT) AS obs_sum,
        |  CAST(ec AS BIGINT) AS n_exceed, CAST(64 AS BIGINT) AS m,
        |  CAST((ec + 1) * 1000 // 65 AS BIGINT) AS p_permille
        |FROM st JOIN ex ON ex.g = st.g ORDER BY grp""".stripMargin)),

    // Benjamini–Hochberg step-up over q329's per-source permutation
    // p-values (rational num/den chained losslessly): integer step-up
    // decision, bounded |tests| frame.
    Q("q330_bh_fdr",
      (s, dir) => {
        val p = StatTests.permutationTestPerGroup(
          t(s, dir, "documents")
            .withColumn("arm", (col("lang") === "en").cast("int")),
          "source", "doc_id", "n_chars", "arm", m = 64)
        StatTests.benjaminiHochberg(
          p.select(col("grp"), (col("n_exceed") + 1L).as("p_num"),
            lit(65L).as("p_den")),
          "grp", "p_num", "p_den", alphaPermille = 100)
          .orderBy("grp")
      },
      Some("""WITH b AS (
        |  SELECT source AS g, doc_id AS id, n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS arm
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |st AS (
        |  SELECT g, count(*) AS n,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(v) AS s, sum(CASE WHEN arm = 1 THEN v ELSE 0 END) AS obs
        |  FROM b GROUP BY 1
        |  HAVING sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
        |    AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) < count(*)),
        |e AS (
        |  SELECT b.g, b.id, b.v, t.p
        |  FROM b JOIN st ON st.g = b.g, unnest(range(1, 65)) AS t(p)),
        |k AS (
        |  SELECT g, v, p,
        |    row_number() OVER (PARTITION BY g, p ORDER BY
        |      CAST(('0x' || substring(sha256(CAST(id AS VARCHAR) || '#'
        |        || CAST(p AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT),
        |      id) AS rn
        |  FROM e),
        |ps AS (
        |  SELECT k.g, k.p, sum(k.v) AS tt
        |  FROM k JOIN st ON st.g = k.g AND k.rn <= st.n1
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT ps.g,
        |    count(*) FILTER (WHERE abs(tt * n - n1 * s)
        |      >= abs(obs * n - n1 * s)) AS ec
        |  FROM ps JOIN st ON st.g = ps.g GROUP BY 1),
        |pv AS (
        |  SELECT g AS grp, ec + 1 AS p_num, 65 AS p_den FROM ex),
        |rk AS (
        |  SELECT grp, p_num, p_den,
        |    count(*) OVER () AS m_tests,
        |    row_number() OVER (ORDER BY
        |      CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), grp)
        |      AS p_rank
        |  FROM pv),
        |km AS (
        |  SELECT *, coalesce(max(CASE WHEN p_num * m_tests * 1000
        |      <= p_rank * 100 * p_den THEN p_rank END) OVER (), 0)
        |      AS kmax
        |  FROM rk)
        |SELECT grp, CAST(p_num AS BIGINT) AS p_num,
        |  CAST(p_den AS BIGINT) AS p_den,
        |  CAST(p_rank AS BIGINT) AS p_rank,
        |  CAST(m_tests AS BIGINT) AS m_tests,
        |  p_rank <= kmax AS rejected
        |FROM km ORDER BY grp""".stripMargin)),

    // Degree assortativity of the part–supplier graph: bipartite
    // hub-to-leaf wiring shows up as a negative r. Exact decimal
    // moments over integer degrees, one IEEE step.
    Q("q331_degree_assortativity",
      (s, dir) => Graph.degreeAssortativity(
        t(s, dir, "lineitem").selectExpr(
          "l_partkey * 2 AS src", "l_suppkey * 2 + 1 AS dst"),
        "src", "dst"),
      Some("""WITH e0 AS (
        |  SELECT DISTINCT least(l_partkey * 2, l_suppkey * 2 + 1) AS a,
        |    greatest(l_partkey * 2, l_suppkey * 2 + 1) AS b
        |  FROM lineitem
        |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |sym AS (SELECT a AS u, b AS v FROM e0
        |  UNION ALL SELECT b AS u, a AS v FROM e0),
        |deg AS (SELECT u AS w, count(*) AS dg FROM sym GROUP BY 1),
        |p AS (
        |  SELECT du.dg AS x, dv.dg AS y
        |  FROM sym JOIN deg du ON du.w = sym.u
        |  JOIN deg dv ON dv.w = sym.v),
        |m AS (
        |  SELECT count(*)::HUGEINT AS mm,
        |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx,
        |    sum(y::HUGEINT * y) AS syy
        |  FROM p)
        |SELECT CASE WHEN mm * sxx - sx * sx > 0
        |      AND mm * syy - sy * sy > 0
        |    THEN CAST(mm * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(mm * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(mm * syy - sy * sy AS DOUBLE))) END
        |    AS assortativity,
        |  CAST(mm // 2 AS BIGINT) AS n_edges
        |FROM m""".stripMargin)),

    // Chao1 vocabulary-richness estimate + Good–Turing unseen mass over
    // the corpus vocabulary: singleton/doubleton integer fold.
    Q("q332_chao1_vocab",
      (s, dir) => TextStats.chao1VocabRichness(
        t(s, dir, "documents"), "text"),
      Some("""WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(coalesce(text, '')),
        |    '\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT tok FROM tok WHERE tok <> ''),
        |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |a AS (
        |  SELECT count(*) AS vocab, sum(c) AS n_tokens,
        |    count(*) FILTER (WHERE c = 1) AS f1,
        |    count(*) FILTER (WHERE c = 2) AS f2
        |  FROM c)
        |SELECT CAST(vocab AS BIGINT) AS vocab,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
        |  CAST(vocab * 1000
        |    + (f1 * (f1 - 1) * 1000) // (2 * (f2 + 1)) AS BIGINT)
        |    AS chao1_milli,
        |  CAST((f1 * 1000) // n_tokens AS BIGINT) AS gt_unseen_permille
        |FROM a""".stripMargin)),

    // Encoding-damage inventory: per mojibake class, affected docs and
    // total hits. Five RE2-portable regex kernels, one aggregation.
    Q("q333_mojibake_audit",
      (s, dir) => TextNorm.mojibakeAudit(t(s, dir, "documents"), "text")
        .orderBy("issue"),
      Some("""WITH d AS (SELECT coalesce(text, '') AS t FROM documents),
        |a AS (SELECT
        |  count(*) FILTER (WHERE len(regexp_extract_all(t,
        |    '\x{FFFD}')) > 0) AS d1,
        |  sum(len(regexp_extract_all(t, '\x{FFFD}'))) AS h1,
        |  count(*) FILTER (WHERE len(regexp_extract_all(t,
        |    '[\x{0080}-\x{009F}]')) > 0) AS d2,
        |  sum(len(regexp_extract_all(t, '[\x{0080}-\x{009F}]'))) AS h2,
        |  count(*) FILTER (WHERE len(regexp_extract_all(t,
        |    '\x{00C3}[\x{0080}-\x{00BF}]|\x{00E2}\x{20AC}')) > 0) AS d3,
        |  sum(len(regexp_extract_all(t,
        |    '\x{00C3}[\x{0080}-\x{00BF}]|\x{00E2}\x{20AC}'))) AS h3,
        |  count(*) FILTER (WHERE len(regexp_extract_all(t,
        |    '\x{00A0}')) > 0) AS d4,
        |  sum(len(regexp_extract_all(t, '\x{00A0}'))) AS h4,
        |  count(*) FILTER (WHERE len(regexp_extract_all(t,
        |    '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]'))
        |    > 0) AS d5,
        |  sum(len(regexp_extract_all(t,
        |    '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]')))
        |    AS h5
        |  FROM d)
        |SELECT issue, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_hits AS BIGINT) AS n_hits
        |FROM (
        |  SELECT 'replacement_char' AS issue, d1 AS n_docs, h1 AS n_hits
        |    FROM a
        |  UNION ALL SELECT 'c1_controls', d2, h2 FROM a
        |  UNION ALL SELECT 'latin1_utf8_artifact', d3, h3 FROM a
        |  UNION ALL SELECT 'nbsp', d4, h4 FROM a
        |  UNION ALL SELECT 'c0_controls', d5, h5 FROM a)
        |ORDER BY issue""".stripMargin)),

    // Nelson–Aalen cumulative hazard over user lifetimes (q315's
    // risk table): per-term IEEE division captured as exact decimal,
    // exact cumulative fold — bit-portable like ln_surv.
    Q("q334_nelson_aalen",
      (s, dir) => Analytics.nelsonAalen(ev(s, dir), "user_id", "ts",
          churnGapDays = 7)
        .orderBy("duration"),
      Some("""WITH u AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS f,
        |    max(CAST(ts AS DATE)) AS l
        |  FROM events GROUP BY 1),
        |u2 AS (
        |  SELECT user_id, date_diff('day', f, l) AS duration,
        |    date_diff('day', l, (SELECT max(l) FROM u)) > 7 AS churned
        |  FROM u),
        |t AS (
        |  SELECT duration,
        |    count(CASE WHEN churned THEN 1 END) AS n_events,
        |    count(CASE WHEN NOT churned THEN 1 END) AS n_censored,
        |    count(*) AS total
        |  FROM u2 GROUP BY 1),
        |r AS (
        |  SELECT duration, n_events, n_censored,
        |    sum(total) OVER ()
        |      - coalesce(sum(total) OVER (ORDER BY duration
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM t),
        |s AS (
        |  SELECT duration, n_risk, n_events, n_censored,
        |    CAST(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      AS DECIMAL(38,18)) AS h,
        |    CAST(CAST(n_events AS DOUBLE)
        |      / CAST(n_risk * n_risk AS DOUBLE) AS DECIMAL(38,18)) AS v
        |  FROM r)
        |SELECT CAST(duration AS INT) AS duration,
        |  CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_censored AS BIGINT) AS n_censored,
        |  CAST(CAST(sum(h) OVER (ORDER BY duration
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
        |    AS DOUBLE) AS cum_hazard,
        |  CAST(CAST(sum(v) OVER (ORDER BY duration
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
        |    AS DOUBLE) AS cum_hazard_var
        |FROM s ORDER BY duration""".stripMargin)),

    // Theil–Sen robust daily-trend slope per event type: exact rational
    // median of pairwise slopes over the bounded daily-count grid.
    Q("q335_theil_sen",
      (s, dir) => {
        val daily = ev(s, dir)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
              .cast("long").as("x"))
          .agg(count(lit(1)).as("y"))
        Analytics.theilSenSlope(daily, "event_type", "x", "y")
          .orderBy("grp")
      },
      Some("""WITH daily AS (
        |  SELECT event_type AS g,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
        |    count(*) AS y
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |np AS (SELECT g, count(*) AS n_points FROM daily GROUP BY 1),
        |sl AS (
        |  SELECT a.g, b.y - a.y AS num, b.x - a.x AS den,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.x < b.x),
        |rk AS (
        |  SELECT g, num, den,
        |    row_number() OVER (PARTITION BY g ORDER BY s, num, den)
        |      AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM sl),
        |med AS (
        |  SELECT g, max(n) AS n_slopes,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN num END) AS n1,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN den END) AS d1,
        |    max(CASE WHEN rn = n // 2 + 1 THEN num END) AS n2,
        |    max(CASE WHEN rn = n // 2 + 1 THEN den END) AS d2
        |  FROM rk GROUP BY 1)
        |SELECT med.g AS grp, CAST(n_points AS BIGINT) AS n_points,
        |  CAST(n_slopes AS BIGINT) AS n_slopes,
        |  CAST(n1 * d2 + n2 * d1 AS BIGINT) AS slope_num,
        |  CAST(2 * d1 * d2 AS BIGINT) AS slope_den,
        |  CAST(n1 * d2 + n2 * d1 AS DOUBLE)
        |    / CAST(2 * d1 * d2 AS DOUBLE) AS slope
        |FROM med JOIN np ON np.g = med.g ORDER BY grp""".stripMargin)),

    // Vocabulary Jaccard between sources: distinct-token overlap per
    // source pair, zero cells materialized, integer permille.
    Q("q336_vocab_jaccard_matrix",
      (s, dir) => TextStats.vocabJaccardMatrix(
          t(s, dir, "documents"), "text", "source")
        .orderBy("src_a", "src_b"),
      Some("""WITH tok AS (
        |  SELECT DISTINCT source AS g,
        |    unnest(string_split_regex(lower(coalesce(text, '')), '\s+'))
        |      AS tok
        |  FROM documents WHERE source IS NOT NULL),
        |tk AS (SELECT g, tok FROM tok WHERE tok <> ''),
        |sz AS (SELECT g, count(*) AS sz FROM tk GROUP BY 1),
        |inter AS (
        |  SELECT a.g AS ga, b.g AS gb, count(*) AS n_common
        |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT sa.g AS src_a, sb.g AS src_b,
        |  CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
        |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
        |  CAST((coalesce(n_common, 0) * 1000)
        |    // (sa.sz + sb.sz - coalesce(n_common, 0)) AS BIGINT)
        |    AS jaccard_permille
        |FROM sz sa JOIN sz sb ON sa.g < sb.g
        |LEFT JOIN inter ON inter.ga = sa.g AND inter.gb = sb.g
        |ORDER BY src_a, src_b""".stripMargin)),

    // Lag 1..7 autocorrelation of daily event counts per type over the
    // DENSE day grid: division-cleared integer moments, one IEEE step.
    Q("q337_lag_autocorrelation",
      (s, dir) => Analytics.lagAutocorrelation(ev(s, dir), "event_type",
          "ts", maxLag = 7)
        .orderBy("grp", "lag"),
      Some("""WITH daily AS (
        |  SELECT event_type AS g,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d,
        |    count(*) AS y
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT g, unnest(generate_series(d0, d1)) AS d
        |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM daily
        |    GROUP BY 1)),
        |dense AS (
        |  SELECT grid.g, grid.d, coalesce(daily.y, 0) AS y
        |  FROM grid LEFT JOIN daily ON daily.g = grid.g
        |    AND daily.d = grid.d),
        |st AS (
        |  SELECT g, count(*) AS n_days, sum(y) AS s FROM dense
        |  GROUP BY 1),
        |den AS (
        |  SELECT dense.g,
        |    sum((n_days * y - s)::HUGEINT * (n_days * y - s)) AS den
        |  FROM dense JOIN st ON st.g = dense.g GROUP BY 1),
        |num AS (
        |  SELECT a.g, l.lag, max(st.n_days) AS n_days,
        |    sum((st.n_days * a.y - st.s)::HUGEINT
        |      * (st.n_days * b.y - st.s)) AS num
        |  FROM dense a
        |  JOIN (SELECT unnest(range(1, 8)) AS lag) l ON true
        |  JOIN dense b ON b.g = a.g AND b.d = a.d + l.lag
        |  JOIN st ON st.g = a.g
        |  GROUP BY 1, 2)
        |SELECT num.g AS grp, CAST(lag AS BIGINT) AS lag,
        |  CAST(n_days AS BIGINT) AS n_days,
        |  CAST(num AS BIGINT) AS acf_num, CAST(den AS BIGINT) AS acf_den,
        |  CASE WHEN den > 0
        |    THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS acf
        |FROM num JOIN den ON den.g = num.g
        |ORDER BY grp, lag""".stripMargin)),

    // IVF recall curve: recall@10 of the portable IVF index vs exact
    // cosine top-10 at probe widths 1/2/4/8 — the tuning table that
    // picks nProbe. The oracle replays training, assignment, probing,
    // scoring AND the exact baseline end to end.
    Q("q338_ann_recall_sweep",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfRecallSweep(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, nLists = 8,
          probes = Seq(1, 2, 4, 8))
          .orderBy("n_probe")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (
        |  SELECT vec_id, ve, list_transform(ve,
        |    x -> CAST(floor(x * 1024) + 1048576 AS BIGINT)) AS qv
        |  FROM v),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cidx, qv AS cv
        |  FROM qv ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c0 c)) WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a1)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c1 AS (
        |  SELECT c0.cidx, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 ON u1.cidx = c0.cidx),
        |a2 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c1 c)) WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a2)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c2 AS (
        |  SELECT c1.cidx, coalesce(u2.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN u2 ON u2.cidx = c1.cidx),
        |cells AS (
        |  SELECT vec_id, cluster AS cell FROM (
        |    SELECT vec_id, cluster, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c2 c)) WHERE rn = 1),
        |probe0 AS (
        |  SELECT query_id, cell, rn FROM (
        |    SELECT query_id, cell, row_number() OVER (
        |      PARTITION BY query_id ORDER BY dist, cell) AS rn
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.cidx AS cell,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM (SELECT * FROM qv WHERE vec_id < 8) q, c2 c))),
        |sc AS (
        |  SELECT p.query_id, cl.vec_id, p.rn AS cell_rn,
        |    list_sum(list_transform(list_zip(cv.ve, qe.ve),
        |      p2 -> p2[1] * p2[2])) /
        |    (sqrt(list_sum(list_transform(cv.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(qe.ve, x -> x * x)))) AS cosine
        |  FROM probe0 p
        |  JOIN cells cl ON cl.cell = p.cell
        |  JOIN v cv ON cv.vec_id = cl.vec_id
        |  JOIN v qe ON qe.vec_id = p.query_id),
        |ex AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.vec_id AS query_id, v.vec_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(v.ve, q.ve),
        |          p -> p[1] * p[2])) /
        |        (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |         sqrt(list_sum(list_transform(q.ve, x -> x * x))))
        |        DESC, v.vec_id) AS rank
        |    FROM v, (SELECT vec_id, ve FROM v WHERE vec_id < 8) q)
        |  WHERE rank <= 10),
        |rk1 AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r2
        |  FROM sc WHERE cell_rn <= 1) WHERE r2 <= 10),
        |rk2 AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r2
        |  FROM sc WHERE cell_rn <= 2) WHERE r2 <= 10),
        |rk4 AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r2
        |  FROM sc WHERE cell_rn <= 4) WHERE r2 <= 10),
        |rk8 AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r2
        |  FROM sc WHERE cell_rn <= 8) WHERE r2 <= 10),
        |counts AS (
        |  SELECT 1 AS n_probe,
        |    (SELECT count(*) FROM rk1 JOIN ex USING (query_id, vec_id))
        |      AS n_hits
        |  UNION ALL SELECT 2,
        |    (SELECT count(*) FROM rk2 JOIN ex USING (query_id, vec_id))
        |  UNION ALL SELECT 4,
        |    (SELECT count(*) FROM rk4 JOIN ex USING (query_id, vec_id))
        |  UNION ALL SELECT 8,
        |    (SELECT count(*) FROM rk8 JOIN ex USING (query_id, vec_id))),
        |exp AS (SELECT count(*) AS n_expected FROM ex)
        |SELECT CAST(n_probe AS BIGINT) AS n_probe,
        |  CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(n_expected AS BIGINT) AS n_expected,
        |  CAST((n_hits * 1000) // n_expected AS BIGINT)
        |    AS recall_permille
        |FROM counts, exp ORDER BY n_probe""".stripMargin)),

    // Conditional bigram entropy H(W2|W1) in bits — next-token
    // uncertainty from the exact bigram table; per-term IEEE ops
    // replicated op-for-op, exact decimal accumulation.
    Q("q339_conditional_entropy",
      (s, dir) => LangModel.conditionalBigramEntropy(
        t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '\s+'), w -> w <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS c12
        |  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
        |  GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY 1),
        |terms AS (
        |  SELECT bg.c12,
        |    CAST((bg.c12 * (ln(CAST(c1.c1 AS DOUBLE))
        |      - ln(CAST(bg.c12 AS DOUBLE)))) / 0.6931471805599453
        |      AS DECIMAL(38,18)) AS term
        |  FROM bg JOIN c1 ON c1.w1 = bg.w1),
        |m AS (
        |  SELECT CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS s,
        |    sum(c12) AS n FROM terms),
        |vw AS (SELECT count(*) AS vocab_w1 FROM c1)
        |SELECT CAST(n AS BIGINT) AS n_bigrams,
        |  CAST(vocab_w1 AS BIGINT) AS vocab_w1,
        |  CASE WHEN n > 0 THEN s / CAST(n AS DOUBLE) END AS entropy_bits
        |FROM m, vw""".stripMargin)),

    // Token Lorenz curve: cumulative token share by document-length
    // decile — the concentration table under the Gini scalar.
    Q("q340_token_lorenz",
      (s, dir) => TextStats.tokenLorenzCurve(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("bucket"),
      Some("""WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(
        |      lower(coalesce(text, '')), '\s+'), w -> w <> ''))
        |      AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT ntile(10) OVER (ORDER BY n, doc_id) AS bucket, n
        |  FROM lens),
        |a AS (
        |  SELECT bucket, count(*) AS n_docs, sum(n) AS n_tokens
        |  FROM b GROUP BY 1)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000)
        |    // (sum(n_tokens) OVER ()) AS BIGINT) AS cum_permille
        |FROM a ORDER BY bucket""".stripMargin)),

    // Burstiness (index of dispersion) of the top-20 tokens: exact
    // division-cleared variance-to-mean over per-doc counts with zeros.
    Q("q341_token_burstiness",
      (s, dir) => TextStats.tokenBurstiness(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("n_total").desc, col("token")),
      Some("""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(
        |      lower(coalesce(text, '')), '\s+'), w -> w <> '')) AS token
        |  FROM documents),
        |pc AS (SELECT doc_id, token, count(*) AS c FROM tok
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT token, sum(c) AS n_total, sum(c * c) AS ss,
        |    count(*) AS n_docs_present
        |  FROM pc GROUP BY 1),
        |top AS (
        |  SELECT * FROM st ORDER BY n_total DESC, token LIMIT 20),
        |nd AS (SELECT count(*) AS nd FROM documents)
        |SELECT token, CAST(n_total AS BIGINT) AS n_total,
        |  CAST(n_docs_present AS BIGINT) AS n_docs_present,
        |  CAST(((nd * ss - n_total * n_total) * 1000)
        |    // (nd * n_total) AS BIGINT) AS dispersion_milli
        |FROM top, nd ORDER BY n_total DESC, token""".stripMargin)),

    // Fixed-grid quantile sketch accuracy: sketch answer vs the exact
    // rank statistic on the same scaled domain, per permille, with the
    // a-priori one-cell bound alongside. All integer.
    Q("q342_sketch_quantile_error",
      (s, dir) => Sketches.sketchQuantileError(t(s, dir, "orders"),
          "o_totalprice", lo = 0L, hi = 5000000000L, buckets = 128,
          scale = 10000L, permilles = Seq(500, 900, 990))
        .orderBy("p"),
      Some("""WITH v AS (
        |  SELECT LEAST(GREATEST(CAST(floor(o_totalprice * 10000.0)
        |    AS BIGINT), 0), 4999999999) AS vc
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |b AS (
        |  SELECT CAST(((vc - 0) * 128) // 5000000000 AS INT) AS bucket
        |  FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |c AS (
        |  SELECT bucket,
        |    sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |      AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM sk),
        |hit AS (
        |  SELECT p, min(bucket) AS bucket
        |  FROM c, (SELECT unnest([500, 900, 990]) AS p)
        |  WHERE cum >= (n * p + 999) // 1000 GROUP BY 1),
        |skv AS (
        |  SELECT p, 0 + (bucket * 5000000000) // 128 AS sketch_scaled
        |  FROM hit),
        |vc AS (SELECT vc, count(*) AS c FROM v GROUP BY 1),
        |ec AS (
        |  SELECT vc,
        |    sum(c) OVER (ORDER BY vc ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER () AS n
        |  FROM vc),
        |ex AS (
        |  SELECT p, min(vc) AS exact_scaled
        |  FROM ec, (SELECT unnest([500, 900, 990]) AS p)
        |  WHERE cum >= (n * p + 999) // 1000 GROUP BY 1)
        |SELECT CAST(skv.p AS INT) AS p,
        |  CAST(exact_scaled AS BIGINT) AS exact_scaled,
        |  CAST(sketch_scaled AS BIGINT) AS sketch_scaled,
        |  CAST(abs(sketch_scaled - exact_scaled) AS BIGINT)
        |    AS abs_err_scaled,
        |  CAST(5000000000 // 128 AS BIGINT) AS cell_bound_scaled
        |FROM skv JOIN ex ON ex.p = skv.p ORDER BY p""".stripMargin)),

    // Count-min sketch accuracy: exact vs estimate per probe key; the
    // overcount column is CMS's one-sided error, asserted >= 0 in spec.
    Q("q343_cms_accuracy",
      (s, dir) => {
        val events = ev(s, dir)
        Sketches.cmsAccuracyReport(events, "user_id", depth = 4,
          width = 256,
          probes = events.select("user_id")
            .filter(col("user_id") % 7 === 0))
          .orderBy("user_id")
      },
      Some("""WITH h AS (
        |  SELECT user_id,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1,
        |      15))::UBIGINT AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |cells AS (
        |  SELECT i.i AS hrow,
        |    CAST((h // (1::BIGINT << (i.i * 15))) % 256 AS INT) AS bucket,
        |    count(*) AS cnt
        |  FROM h, (SELECT unnest(range(4)) AS i) i
        |  GROUP BY 1, 2),
        |probes AS (
        |  SELECT DISTINCT user_id, h FROM h WHERE user_id % 7 = 0),
        |pc AS (
        |  SELECT user_id, i.i AS hrow,
        |    CAST((h // (1::BIGINT << (i.i * 15))) % 256 AS INT) AS bucket
        |  FROM probes, (SELECT unnest(range(4)) AS i) i),
        |est AS (
        |  SELECT pc.user_id,
        |    CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS cms_estimate
        |  FROM pc LEFT JOIN cells USING (hrow, bucket)
        |  GROUP BY 1),
        |ex AS (
        |  SELECT user_id, count(*) AS exact_count FROM events
        |  WHERE user_id % 7 = 0 GROUP BY 1)
        |SELECT est.user_id AS user_id,
        |  CAST(coalesce(exact_count, 0) AS BIGINT) AS exact_count,
        |  cms_estimate,
        |  CAST(cms_estimate - coalesce(exact_count, 0) AS BIGINT)
        |    AS overcount
        |FROM est LEFT JOIN ex ON ex.user_id = est.user_id
        |ORDER BY est.user_id""".stripMargin)),

    // EWMA anomaly score over daily counts: power-of-two decay weights
    // keep the whole smoother integer-exact; score ~1000 = looks like
    // the decayed past.
    Q("q344_ewma_anomaly",
      (s, dir) => Analytics.ewmaAnomalyScore(ev(s, dir), "event_type",
          "ts", window = 20)
        .orderBy("grp", "day"),
      Some("""WITH daily AS (
        |  SELECT event_type AS g,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d,
        |    count(*) AS y
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |contrib AS (
        |  SELECT g, d + k.k AS d,
        |    sum(y * (1::BIGINT << CAST(20 - k.k AS INT)))
        |      AS ewms_scaled
        |  FROM daily, (SELECT unnest(range(1, 21)) AS k) k
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT daily.g, daily.d, daily.y,
        |    coalesce(contrib.ewms_scaled, 0) AS ewms_scaled
        |  FROM daily LEFT JOIN contrib
        |    ON contrib.g = daily.g AND contrib.d = daily.d)
        |SELECT g AS grp, CAST(d AS BIGINT) AS day,
        |  CAST(y AS BIGINT) AS y,
        |  CAST(ewms_scaled AS BIGINT) AS ewms_scaled,
        |  CASE WHEN ewms_scaled > 0
        |    THEN CAST((y * 1048575 * 1000) // ewms_scaled AS BIGINT)
        |    END AS score_permille
        |FROM j ORDER BY grp, day""".stripMargin)),

    // Daily OHLC bars per event type: deterministic open/close by
    // (ts, event_id), order-free extrema, exact decimal volume.
    Q("q345_ohlc_bars",
      (s, dir) => Analytics.ohlcBars(ev(s, dir), "event_type", "ts",
          "event_id", "value")
        // ISO string for the compare: Spark dumps DATE as date32, DuckDB
        // fetches DATE as datetime (the q309 convention)
        .withColumn("day", col("day").cast("string"))
        .orderBy("grp", "day"),
      Some("""WITH b AS (
        |  SELECT event_type AS grp, CAST(ts AS DATE) AS day, ts,
        |    event_id, value
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY grp, day
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY grp, day
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM b)
        |SELECT grp, strftime(day, '%Y-%m-%d') AS day,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM r GROUP BY 1, 2 ORDER BY grp, 2""".stripMargin)),

    // Winsorized mean of document length per source: values clamped at
    // the exact p5/p95 rank-percentiles, clamped sum exact, one IEEE
    // division — the robust mean next to the raw one.
    Q("q346_winsorized_mean",
      (s, dir) => StatTests.winsorizedMean(
          t(s, dir, "documents"), "source", "n_chars",
          loPermille = 50, hiPermille = 950)
        .orderBy("grp"),
      Some("""WITH c AS (
        |  SELECT source AS grp, n_chars AS v, count(*) AS c
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT grp, v, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM c),
        |b AS (
        |  SELECT grp, max(n) AS n,
        |    min(CASE WHEN cum >= (n * 50 + 999) // 1000 THEN v END)
        |      AS lo_val,
        |    min(CASE WHEN cum >= (n * 950 + 999) // 1000 THEN v END)
        |      AS hi_val
        |  FROM r GROUP BY 1),
        |s AS (
        |  SELECT c.grp, b.n, b.lo_val, b.hi_val,
        |    sum(c.c * LEAST(GREATEST(c.v, b.lo_val), b.hi_val)) AS wsum,
        |    sum(c.c * c.v) AS rsum
        |  FROM c JOIN b ON b.grp = c.grp GROUP BY 1, 2, 3, 4)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  CAST(lo_val AS BIGINT) AS lo_val,
        |  CAST(hi_val AS BIGINT) AS hi_val,
        |  CAST(wsum AS BIGINT) AS winsorized_sum,
        |  CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE) AS winsorized_mean,
        |  CAST(rsum AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean
        |FROM s ORDER BY grp""".stripMargin)),

    // max_seq_len sweep: truncation loss AND padding waste per candidate
    // length, from one token-count frame — the table that picks the
    // training sequence length.
    Q("q347_seqlen_sweep",
      (s, dir) => Packing.seqLenSweep(
          t(s, dir, "documents").select(
            size(filter(split(lower(coalesce(col("text"), lit(""))),
              "\\s+"), t => t =!= "")).cast("long").as("n_tok")),
          "n_tok", lengths = Seq(16, 32, 64, 128))
        .orderBy("max_len"),
      Some("""WITH sz AS (
        |  SELECT CAST(len(list_filter(string_split_regex(
        |    lower(coalesce(text, '')), '\s+'), w -> w <> ''))
        |    AS BIGINT) AS n
        |  FROM documents),
        |e AS (
        |  SELECT n, l.l AS max_len
        |  FROM sz, (SELECT unnest([16, 32, 64, 128]) AS l) l),
        |a AS (
        |  SELECT max_len, count(*) AS n_docs,
        |    sum(CASE WHEN n > max_len THEN 1 ELSE 0 END) AS n_truncated,
        |    sum(n) AS total,
        |    sum(GREATEST(n - max_len, 0)) AS lost,
        |    sum(LEAST(n, max_len)) AS kept
        |  FROM e GROUP BY 1)
        |SELECT CAST(max_len AS BIGINT) AS max_len,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_truncated AS BIGINT) AS n_truncated,
        |  CAST((lost * 1000) // total AS BIGINT)
        |    AS tokens_lost_permille,
        |  CAST(((n_docs * max_len - kept) * 1000)
        |    // (n_docs * max_len) AS BIGINT) AS padding_waste_permille
        |FROM a ORDER BY max_len""".stripMargin)),

    // Top event-type trigrams across user journeys: two leads inside
    // the per-user partition, |types|^3-bounded counts, deterministic
    // top-25.
    Q("q348_event_trigrams",
      (s, dir) => Analytics.eventTrigrams(ev(s, dir), "user_id", "ts",
        "event_type", "event_id", topK = 25),
      Some("""WITH o AS (
        |  SELECT user_id, event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t3
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM o WHERE t3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3
        |LIMIT 25""".stripMargin)),

    // WAV container metadata over deterministic synthetic RIFF payloads
    // (the q290 fixture-arithmetic pattern): fmt fields, exact integer
    // duration, chunk census, word-alignment exercised by odd filler
    // chunks.
    Q("q349_wav_container_meta",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 5 === 0)
          .withColumn("payload", Multimodal.syntheticRiffWavUdf(
            (lit(1) + col("doc_id") % 2).cast("int"),
            (lit(8000) + (col("doc_id") % 4) * 4000).cast("int"),
            (lit(8) + (col("doc_id") % 3) * 8).cast("int"),
            (lit(100) + col("doc_id") % 50).cast("int"),
            (col("doc_id") % 3).cast("int")))
        Multimodal.decodeWavHeaders(clips, "payload")
          .select(col("doc_id"),
            col("wav.audio_format").as("audio_format"),
            col("wav.channels").as("channels"),
            col("wav.sample_rate").as("sample_rate"),
            col("wav.bits_per_sample").as("bits_per_sample"),
            col("wav.byte_rate").as("byte_rate"),
            col("wav.data_bytes").as("data_bytes"),
            col("wav.duration_ms").as("duration_ms"),
            col("wav.n_chunks").as("n_chunks"),
            col("wav.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |    CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS rate,
        |    CAST(8 + (doc_id % 3) * 8 AS BIGINT) AS bits,
        |    CAST(100 + doc_id % 50 AS BIGINT) AS ns,
        |    CAST(doc_id % 3 AS BIGINT) AS filler
        |  FROM documents WHERE doc_id % 5 = 0),
        |d AS (
        |  SELECT doc_id, channels, rate, bits, ns, filler,
        |    (bits // 8) * channels AS block
        |  FROM p)
        |SELECT doc_id, CAST(1 AS INT) AS audio_format,
        |  CAST(channels AS INT) AS channels,
        |  CAST(rate AS INT) AS sample_rate,
        |  CAST(bits AS INT) AS bits_per_sample,
        |  CAST(rate * block AS INT) AS byte_rate,
        |  CAST(ns * block AS BIGINT) AS data_bytes,
        |  CAST((ns * block * 1000) // (rate * block) AS BIGINT)
        |    AS duration_ms,
        |  CAST(2 + filler AS INT) AS n_chunks,
        |  FALSE AS truncated
        |FROM d ORDER BY doc_id""".stripMargin)),

    // Pairwise Pearson correlation matrix over four lineitem measures
    // in ONE scan: exact decimal moments of 100x-scaled integers, one
    // IEEE step per upper-triangle cell.
    Q("q350_correlation_matrix",
      (s, dir) => StatTests.correlationMatrix(t(s, dir, "lineitem"), Seq(
          "discount" -> col("l_discount"),
          "extendedprice" -> col("l_extendedprice"),
          "quantity" -> col("l_quantity"),
          "tax" -> col("l_tax")), scale = 2)
        .orderBy("col_a", "col_b"),
      Some("""WITH b AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS e,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d,
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |m AS (
        |  SELECT count(*)::HUGEINT AS n,
        |    sum(q::HUGEINT) AS sq, sum(e::HUGEINT) AS se,
        |    sum(d::HUGEINT) AS sd, sum(t::HUGEINT) AS st,
        |    sum(q::HUGEINT * q) AS pqq, sum(q::HUGEINT * e) AS pqe,
        |    sum(q::HUGEINT * d) AS pqd, sum(q::HUGEINT * t) AS pqt,
        |    sum(e::HUGEINT * e) AS pee, sum(e::HUGEINT * d) AS ped,
        |    sum(e::HUGEINT * t) AS pet, sum(d::HUGEINT * d) AS pdd,
        |    sum(d::HUGEINT * t) AS pdt, sum(t::HUGEINT * t) AS ptt
        |  FROM b)
        |SELECT col_a, col_b,
        |  CASE WHEN n * paa - sa * sa > 0 AND n * pbb - sb * sb > 0
        |    THEN CAST(n * pab - sa * sb AS DOUBLE)
        |      / (sqrt(CAST(n * paa - sa * sa AS DOUBLE))
        |        * sqrt(CAST(n * pbb - sb * sb AS DOUBLE))) END AS corr,
        |  CAST(n AS BIGINT) AS n
        |FROM (
        |  SELECT 'discount' AS col_a, 'extendedprice' AS col_b, n,
        |    sd AS sa, se AS sb, ped AS pab, pdd AS paa, pee AS pbb FROM m
        |  UNION ALL SELECT 'discount', 'quantity', n,
        |    sd, sq, pqd, pdd, pqq FROM m
        |  UNION ALL SELECT 'discount', 'tax', n,
        |    sd, st, pdt, pdd, ptt FROM m
        |  UNION ALL SELECT 'extendedprice', 'quantity', n,
        |    se, sq, pqe, pee, pqq FROM m
        |  UNION ALL SELECT 'extendedprice', 'tax', n,
        |    se, st, pet, pee, ptt FROM m
        |  UNION ALL SELECT 'quantity', 'tax', n,
        |    sq, st, pqt, pqq, ptt FROM m)
        |ORDER BY col_a, col_b""".stripMargin)),

    // 2-D histogram of quantity x extended price over a fixed clamped
    // grid: the heatmap primitive, integer-exact.
    Q("q351_histogram2d",
      (s, dir) => Analytics.histogram2d(t(s, dir, "lineitem"),
          "l_quantity", "l_extendedprice", xLo = 0L, xHi = 50L,
          xBins = 10, yLo = 0L, yHi = 120000L, yBins = 12)
        .orderBy("x_bucket", "y_bucket"),
      Some("""SELECT
        |  CAST(((LEAST(GREATEST(CAST(floor(l_quantity) AS BIGINT), 0),
        |    49) - 0) * 10) // 50 AS INT) AS x_bucket,
        |  CAST(((LEAST(GREATEST(CAST(floor(l_extendedprice) AS BIGINT),
        |    0), 119999) - 0) * 12) // 120000 AS INT) AS y_bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Conversion latency view -> purchase: exact rank-percentiles of
    // first-view-to-first-subsequent-purchase seconds.
    Q("q352_conversion_latency",
      (s, dir) => EventWindows.conversionLatency(ev(s, dir), "user_id",
          "ts", "event_type", "view", "purchase",
          permilles = Seq(500, 900, 990))
        .orderBy("p"),
      Some("""WITH f AS (
        |  SELECT user_id AS u, min(CAST(floor(epoch(ts)) AS BIGINT))
        |    AS f
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |t AS (
        |  SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events WHERE event_type = 'purchase'),
        |lat AS (
        |  SELECT f.u, min(t.t) - max(f.f) AS lat
        |  FROM f JOIN t ON t.u = f.u AND t.t >= f.f GROUP BY 1),
        |c AS (SELECT lat, count(*) AS c FROM lat GROUP BY 1),
        |r AS (
        |  SELECT lat,
        |    sum(c) OVER (ORDER BY lat ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER () AS n_converted
        |  FROM c),
        |pz AS (
        |  SELECT p, min(lat) AS latency_s, max(n_converted)
        |      AS n_converted
        |  FROM r, (SELECT unnest([500, 900, 990]) AS p)
        |  WHERE cum >= (n_converted * p + 999) // 1000 GROUP BY 1),
        |st AS (SELECT count(*) AS n_started FROM f)
        |SELECT CAST(p AS INT) AS p, CAST(latency_s AS BIGINT)
        |    AS latency_s,
        |  CAST(n_converted AS BIGINT) AS n_converted,
        |  CAST(n_started AS BIGINT) AS n_started
        |FROM pz, st ORDER BY p""".stripMargin)),

    // Int8-quantization cosine-error histogram over the deterministic
    // corpus pairing: does 4x-smaller storage move retrieval scores?
    Q("q353_quantization_error",
      (s, dir) => Embeddings.quantizationErrorHistogram(
          t(s, dir, "embeddings"), "vec_id", "embedding", seed = 13L)
        .orderBy("err_bucket"),
      Some("""WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
        |    sha256(CAST(vec_id AS VARCHAR) || '#' || '13') AS k
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |qz AS (
        |  SELECT vec_id, ve, k,
        |    list_max(list_transform(ve, x -> abs(x))) AS mx
        |  FROM v),
        |w AS (
        |  SELECT vec_id, ve, k,
        |    list_transform(ve, x -> CASE WHEN mx = 0 THEN 0.0
        |      ELSE CAST(round(x * 127 / mx) AS INT) * (mx / 127) END)
        |      AS we
        |  FROM qz),
        |rk AS (
        |  SELECT ve, we, row_number() OVER (ORDER BY k, vec_id) - 1
        |    AS r
        |  FROM w),
        |p AS (SELECT r // 2 AS pair, r % 2 AS side, ve, we FROM rk),
        |j AS (
        |  SELECT a.ve AS va, b.ve AS vb, a.we AS wa, b.we AS wb
        |  FROM (SELECT pair, ve, we FROM p WHERE side = 0) a
        |  JOIN (SELECT pair, ve, we FROM p WHERE side = 1) b
        |    USING (pair)),
        |e AS (
        |  SELECT round(list_sum(list_transform(list_zip(va, vb),
        |      z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(va, x -> x * x))) *
        |     sqrt(list_sum(list_transform(vb, x -> x * x)))), 6)
        |    - round(list_sum(list_transform(list_zip(wa, wb),
        |      z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(wa, x -> x * x))) *
        |     sqrt(list_sum(list_transform(wb, x -> x * x)))), 6) AS err
        |  FROM j)
        |SELECT CAST(floor(round(abs(err), 6) * 10000) AS INT)
        |    AS err_bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM e GROUP BY 1 ORDER BY err_bucket""".stripMargin)),

    // WEBP container metadata over deterministic synthetic VP8X/VP8
    // payloads: canvas, feature flags, chunk census — the q290/q349
    // fixture-arithmetic pattern on the RIFF chassis.
    Q("q354_webp_container_meta",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 4 === 0)
          .withColumn("payload", Multimodal.syntheticWebpUdf(
            (lit(16) + col("doc_id") % 100).cast("int"),
            (lit(16) + col("doc_id") % 60).cast("int"),
            col("doc_id") % 2 === 0,
            col("doc_id") % 3 === 0,
            col("doc_id") % 5 === 0))
        Multimodal.decodeWebpHeaders(clips, "payload")
          .select(col("doc_id"),
            col("webp.variant").as("variant"),
            col("webp.width").as("width"),
            col("webp.height").as("height"),
            col("webp.has_alpha").as("has_alpha"),
            col("webp.animated").as("animated"),
            col("webp.has_exif").as("has_exif"),
            col("webp.has_icc").as("has_icc"),
            col("webp.n_chunks").as("n_chunks"),
            col("webp.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'VP8X' AS variant,
        |  CAST(16 + doc_id % 100 AS INT) AS width,
        |  CAST(16 + doc_id % 60 AS INT) AS height,
        |  doc_id % 2 = 0 AS has_alpha,
        |  doc_id % 3 = 0 AS animated,
        |  doc_id % 5 = 0 AS has_exif,
        |  FALSE AS has_icc,
        |  CAST(2 + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS INT)
        |    AS n_chunks,
        |  FALSE AS truncated
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id""".stripMargin)),

    // Data-skipping effectiveness: per candidate predicate range, how
    // many files the manifest stats prune — metadata-only, zero data
    // scanned. The table is bucket-partitioned on the stat column (one
    // file per bucket via the pre-repartition), so the oracle derives
    // every file's [min,max] from the data itself.
    Q("q355_skipping_effectiveness",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "skip_orders")
        val src = t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
          .withColumn("bucket",
            expr("CAST(floor(o_totalprice / 30000) AS BIGINT)"))
        TableIO.writeTable(s, lh, "skip_orders",
          src.repartition(col("bucket")), partitionBy = Seq("bucket"))
        TableIO.skippingEffectiveness(s, lh, "skip_orders",
          "o_totalprice", Seq((0.0, 50000.0), (100000.0, 150000.0),
            (400000.0, 500000.0), (600000.0, 1000000000.0)))
          .orderBy("range_lo")
      },
      Some("""WITH bk AS (
        |  SELECT CAST(floor(o_totalprice / 30000) AS BIGINT) AS bucket,
        |    min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT * FROM (VALUES (0.0, 50000.0), (100000.0, 150000.0),
        |    (400000.0, 500000.0), (600000.0, 1000000000.0)) AS t(lo, hi))
        |SELECT CAST(lo AS DOUBLE) AS range_lo,
        |  CAST(hi AS DOUBLE) AS range_hi,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(count(*) FILTER (WHERE mx >= lo AND mn <= hi) AS BIGINT)
        |    AS n_kept,
        |  CAST(count(*) FILTER (WHERE NOT (mx >= lo AND mn <= hi))
        |    AS BIGINT) AS n_skipped,
        |  CAST(count(*) FILTER (WHERE NOT (mx >= lo AND mn <= hi))
        |    * 1000 // count(*) AS BIGINT) AS skip_permille
        |FROM r, bk GROUP BY 1, 2 ORDER BY range_lo""".stripMargin)),

    // Inter-arrival gap percentiles per event type — the evidence under
    // a sessionization gap / watermark choice. Integer rank statistics.
    Q("q356_interarrival_percentiles",
      (s, dir) => Analytics.interArrivalPercentiles(ev(s, dir),
          "event_type", "ts", "event_id",
          permilles = Seq(500, 900, 990))
        .orderBy("grp", "p"),
      Some("""WITH g AS (
        |  SELECT event_type AS grp,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id AS id
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |l AS (
        |  SELECT grp,
        |    t - lag(t) OVER (PARTITION BY grp ORDER BY t, id) AS gap
        |  FROM g),
        |c AS (
        |  SELECT grp, gap, count(*) AS c FROM l
        |  WHERE gap IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT grp, gap,
        |    sum(c) OVER (PARTITION BY grp ORDER BY gap
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM c)
        |SELECT grp, CAST(p AS INT) AS p,
        |  CAST(min(gap) AS BIGINT) AS gap_s,
        |  CAST(max(n) AS BIGINT) AS n_gaps
        |FROM r, (SELECT unnest([500, 900, 990]) AS p)
        |WHERE cum >= (n * p + 999) // 1000
        |GROUP BY 1, 2 ORDER BY grp, p""".stripMargin)),

    // Trend break: Theil-Sen slopes of the daily event-count series on
    // each side of the CUSUM changepoint (q309 finds WHERE it broke,
    // this measures HOW the trend changed) — a pure composition of two
    // oracle-proven operators.
    Q("q357_trend_break",
      (s, dir) => {
        val events = ev(s, dir).filter(col("ts").isNotNull)
        // ISO string through the driver (date-object deserialization
        // needs JVM add-opens the bare-java dev loop lacks)
        val cd = Analytics.cusumChangepoint(events, "ts")
          .select(col("change_day").cast("string")).head().getString(0)
        val daily = events
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .select(
            when(col("day") <= to_date(lit(cd)), "before")
              .otherwise("after").as("segment"),
            datediff(col("day"), to_date(lit("1970-01-01")))
              .cast("long").as("x"),
            col("y"))
        Analytics.theilSenSlope(daily, "segment", "x", "y")
          .orderBy("grp")
      },
      Some("""WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (
        |  SELECT day, c, sum(c) OVER () AS total,
        |    count(*) OVER () AS days
        |  FROM d),
        |s AS (
        |  SELECT day, sum(c * days - total) OVER (ORDER BY day) AS s
        |  FROM t),
        |cd AS (
        |  SELECT day AS change_day FROM s
        |  ORDER BY abs(s) DESC, day LIMIT 1),
        |daily AS (
        |  SELECT CASE WHEN d.day <= (SELECT change_day FROM cd)
        |      THEN 'before' ELSE 'after' END AS g,
        |    CAST(date_diff('day', DATE '1970-01-01', d.day) AS BIGINT)
        |      AS x,
        |    c AS y
        |  FROM d),
        |np AS (SELECT g, count(*) AS n_points FROM daily GROUP BY 1),
        |sl AS (
        |  SELECT a.g, b.y - a.y AS num, b.x - a.x AS den,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.x < b.x),
        |rk AS (
        |  SELECT g, num, den,
        |    row_number() OVER (PARTITION BY g ORDER BY s, num, den)
        |      AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM sl),
        |med AS (
        |  SELECT g, max(n) AS n_slopes,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN num END) AS n1,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN den END) AS d1,
        |    max(CASE WHEN rn = n // 2 + 1 THEN num END) AS n2,
        |    max(CASE WHEN rn = n // 2 + 1 THEN den END) AS d2
        |  FROM rk GROUP BY 1)
        |SELECT med.g AS grp, CAST(n_points AS BIGINT) AS n_points,
        |  CAST(n_slopes AS BIGINT) AS n_slopes,
        |  CAST(n1 * d2 + n2 * d1 AS BIGINT) AS slope_num,
        |  CAST(2 * d1 * d2 AS BIGINT) AS slope_den,
        |  CAST(n1 * d2 + n2 * d1 AS DOUBLE)
        |    / CAST(2 * d1 * d2 AS DOUBLE) AS slope
        |FROM med JOIN np ON np.g = med.g ORDER BY grp""".stripMargin)),

    // Portable HLL ESTIMATE: the harmonic denominator is exact (dyadic
    // register terms scaled 2^55 fold as integers), so the full
    // Flajolet estimate — not just the registers (q192) — hash-checks
    // cross-engine.
    Q("q358_hll_estimate_portable",
      (s, dir) => Sketches.hllEstimatePortable(ev(s, dir), "user_id"),
      Some("""WITH regs AS (
        |  SELECT CAST(h // 18014398509481984 AS INT) AS bucket,
        |    CAST(max(CASE WHEN h % 18014398509481984 = 0 THEN 55
        |      ELSE 55 - length(bin(h % 18014398509481984)) END) AS INT)
        |      AS r
        |  FROM (SELECT
        |      CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)),
        |        1, 15))::UBIGINT AS BIGINT) AS h
        |    FROM events WHERE user_id IS NOT NULL) t
        |  GROUP BY 1),
        |a AS (
        |  SELECT count(*) AS used,
        |    coalesce(sum(1::BIGINT << CAST(55 - r AS INT)), 0) AS s_used
        |  FROM regs),
        |b AS (
        |  SELECT 64 AS m, used, 64 - used AS zeros,
        |    s_used + (64 - used) * (1::BIGINT << 55) AS s_scaled
        |  FROM a)
        |SELECT CAST(m AS INT) AS m,
        |  CAST(used AS BIGINT) AS n_buckets_used,
        |  CAST(zeros AS BIGINT) AS n_zero_buckets,
        |  CAST(s_scaled AS BIGINT) AS s_scaled,
        |  CASE WHEN 0.709 * 4096.0
        |      * (36028797018963968.0 / CAST(s_scaled AS DOUBLE))
        |      <= 160.0 AND zeros > 0
        |    THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE))
        |    ELSE 0.709 * 4096.0
        |      * (36028797018963968.0 / CAST(s_scaled AS DOUBLE)) END
        |    AS estimate
        |FROM b""".stripMargin)),

    // Brown–Forsythe (median-centered Levene): are event-value spreads
    // homogeneous across event types? Exact integer deviations off exact
    // 2x-scaled medians; one IEEE double per GROUP folded as decimal.
    Q("q359_brown_forsythe",
      (s, dir) => StatTests.brownForsythe(
        ev(s, dir).filter(col("value").isNotNull &&
            col("event_type").isNotNull)
          .withColumn("v", round(col("value") * 1000).cast("long")),
        "v", "event_type"),
      Some("""WITH b AS (
        |  SELECT event_type AS g, CAST(round(value * 1000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM b),
        |med AS (
        |  SELECT g, max(CASE WHEN rn = (n + 1) // 2 THEN v END)
        |    + max(CASE WHEN rn = n // 2 + 1 THEN v END) AS med2
        |  FROM r GROUP BY 1),
        |z AS (
        |  SELECT b.g, abs(b.v * 2 - med.med2) AS z
        |  FROM b JOIN med ON med.g = b.g),
        |mo AS (
        |  SELECT g, count(*) AS nj, sum(z) AS sz,
        |    sum(z::HUGEINT * z) AS szz
        |  FROM z GROUP BY 1),
        |tot AS (SELECT sum(nj) AS n, sum(sz) AS s, count(*) AS k FROM mo),
        |terms AS (
        |  SELECT n, k,
        |    CAST((CAST(sz::HUGEINT * n - s::HUGEINT * nj AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |      * (CAST(sz::HUGEINT * n - s::HUGEINT * nj AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |      / CAST(nj AS DOUBLE) AS DECIMAL(38,18)) AS tb,
        |    CAST(CAST(nj::HUGEINT * szz - sz::HUGEINT * sz AS DOUBLE)
        |      / CAST(nj AS DOUBLE) AS DECIMAL(38,18)) AS tw
        |  FROM mo, tot),
        |fs AS (
        |  SELECT n, k,
        |    CAST(CAST(sum(tb) AS VARCHAR) AS DOUBLE) AS between_s,
        |    CAST(CAST(sum(tw) AS VARCHAR) AS DOUBLE) AS within_s
        |  FROM terms GROUP BY 1, 2)
        |SELECT between_s
        |    * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
        |    / ((CAST(k AS DOUBLE) - 1.0) * within_s) AS f,
        |  CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
        |  CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n
        |FROM fs""".stripMargin)),

    // Murphy decomposition of the Brier score over the q318 sha-derived
    // score/label fixture: brier exact in permille² integers, REL/RES one
    // IEEE double per bin folded as decimal, UNC a closed-form rational.
    Q("q360_brier_decomposition",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        Quality.brierDecomposition(
          t(s, dir, "documents").select("doc_id")
            .withColumn("score", h("s"))
            .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int")),
          "score", "label", bins = 10)
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |g AS (
        |  SELECT CAST(least(score * 10 // 1000, 9) AS INT) AS bin,
        |    count(*) AS nb, sum(score) AS sb, sum(label) AS pb,
        |    sum((score - label * 1000) * (score - label * 1000)) AS qb
        |  FROM d GROUP BY 1),
        |tot AS (
        |  SELECT sum(nb) AS n, sum(pb) AS p, sum(qb) AS q,
        |    count(*) AS kbins
        |  FROM g),
        |terms AS (
        |  SELECT n, p, q, kbins,
        |    CAST(CAST(sb - pb * 1000 AS DOUBLE)
        |      * CAST(sb - pb * 1000 AS DOUBLE)
        |      / CAST(nb AS DOUBLE) AS DECIMAL(38,18)) AS tr,
        |    CAST(CAST(pb::HUGEINT * n - p::HUGEINT * nb AS DOUBLE)
        |      * CAST(pb::HUGEINT * n - p::HUGEINT * nb AS DOUBLE)
        |      / CAST(nb AS DOUBLE) AS DECIMAL(38,18)) AS ts
        |  FROM g, tot),
        |fold AS (
        |  SELECT n, p, q, kbins,
        |    CAST(CAST(sum(tr) AS VARCHAR) AS DOUBLE) AS rel,
        |    CAST(CAST(sum(ts) AS VARCHAR) AS DOUBLE) AS res
        |  FROM terms GROUP BY 1, 2, 3, 4)
        |SELECT CAST(q AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
        |    AS brier,
        |  rel / (CAST(n AS DOUBLE) * 1000000.0) AS reliability,
        |  res / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |    * CAST(n AS DOUBLE)) AS resolution,
        |  (CAST(p AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(p AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS uncertainty,
        |  CAST(n AS BIGINT) AS n, CAST(kbins AS BIGINT)
        |    AS n_occupied_bins
        |FROM fold""".stripMargin)),

    // Unbiased pass@3 (Chen et al. 2021 eq. 1) over per-user attempt
    // logs: exact falling-factorial rationals grouped by the bounded
    // (n attempts, c successes) profile.
    Q("q361_pass_at_3",
      (s, dir) => Retrieval.passAtK(ev(s, dir), "user_id",
          col("event_type") === "purchase", k = 3)
        .orderBy("n", "c"),
      Some("""WITH t AS (
        |  SELECT user_id, count(*) AS n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |g AS (
        |  SELECT n, c, count(*) AS n_tasks
        |  FROM t WHERE n >= 3 GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c, n_tasks,
        |  CAST(n * (n - 1) * (n - 2) - CASE WHEN n - c >= 3
        |      THEN (n - c) * (n - c - 1) * (n - c - 2) ELSE 0 END
        |    AS BIGINT) AS pass_num,
        |  CAST(n * (n - 1) * (n - 2) AS BIGINT) AS pass_den,
        |  CAST(n * (n - 1) * (n - 2) - CASE WHEN n - c >= 3
        |      THEN (n - c) * (n - c - 1) * (n - c - 2) ELSE 0 END
        |    AS DOUBLE) / CAST(n * (n - 1) * (n - 2) AS DOUBLE)
        |    AS pass_at_3
        |FROM g ORDER BY n, c""".stripMargin)),

    // Portable AMS tug-of-war F2 sketch on the user-activity stream:
    // 16 sha-nibble-signed estimators, exact BIGINT dots and median,
    // paired with the exact second moment for the honesty column.
    Q("q362_ams_f2_sketch",
      (s, dir) => Sketches.amsF2Sketch(ev(s, dir), "user_id", m = 16),
      Some("""WITH counts AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c,
        |    sha256(CAST(user_id AS VARCHAR)) AS h
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 3),
        |e AS (
        |  SELECT r, sum(c * (1 - 2 * CAST(
        |      ('0x' || substr(h, r + 1, 1))::UBIGINT % 2 AS BIGINT)))
        |    AS dot
        |  FROM counts, (SELECT unnest(range(16)) AS r) GROUP BY 1),
        |est AS (
        |  SELECT r, CAST(dot AS BIGINT) * CAST(dot AS BIGINT) AS est
        |  FROM e),
        |rk AS (SELECT est, row_number() OVER (ORDER BY est) AS rn
        |  FROM est),
        |med AS (
        |  SELECT max(CASE WHEN rn = 8 THEN est END)
        |    + max(CASE WHEN rn = 9 THEN est END) AS med2_estimate
        |  FROM rk),
        |f2 AS (
        |  SELECT CAST(sum(c::HUGEINT * c) AS BIGINT) AS exact_f2
        |  FROM counts)
        |SELECT CAST(16 AS INT) AS m,
        |  CAST(med2_estimate AS BIGINT) AS med2_estimate, exact_f2,
        |  CAST(abs(med2_estimate - 2 * exact_f2) * 1000
        |    // (2 * exact_f2) AS BIGINT) AS rel_err_permille
        |FROM med, f2""".stripMargin)),

    // Bloom-filter false-positive audit: 2^18-bit 3-hash filter over
    // customer keys probed with a disjoint shifted key set — measured
    // FPR exact in integers, theory column a fixed IEEE chain.
    Q("q363_bloom_fpr_audit",
      (s, dir) => Sketches.bloomFprAudit(
        t(s, dir, "customer").select("c_custkey"), "c_custkey",
        t(s, dir, "customer")
          .select((col("c_custkey") + 100000000L).as("probe_key")),
        "probe_key", mBits = 262144, k = 3),
      Some("""WITH mk AS (
        |  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |bits AS (
        |  SELECT DISTINCT ('0x' || substr(sha256(k || '#'
        |    || CAST(i AS VARCHAR)), 1, 15))::UBIGINT % 262144 AS bit
        |  FROM mk, (SELECT unnest(range(3)) AS i)),
        |pk AS (
        |  SELECT DISTINCT CAST(c_custkey + 100000000 AS VARCHAR) AS k
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |pp AS (
        |  SELECT DISTINCT k, ('0x' || substr(sha256(k || '#'
        |    || CAST(i AS VARCHAR)), 1, 15))::UBIGINT % 262144 AS pos
        |  FROM pk, (SELECT unnest(range(3)) AS i)),
        |per AS (
        |  SELECT pp.k, count(*) AS npos, count(bits.bit) AS nhit
        |  FROM pp LEFT JOIN bits ON bits.bit = pp.pos GROUP BY 1),
        |agg AS (
        |  SELECT count(*) AS n_probes,
        |    sum(CASE WHEN nhit = npos THEN 1 ELSE 0 END) AS n_fp
        |  FROM per),
        |nb AS (SELECT count(*) AS n_bits_set FROM bits),
        |nm AS (SELECT count(*) AS n_members FROM mk)
        |SELECT CAST(n_members AS BIGINT) AS n_members,
        |  CAST(n_bits_set AS BIGINT) AS n_bits_set,
        |  CAST(n_probes AS BIGINT) AS n_probes,
        |  CAST(n_fp AS BIGINT) AS n_false_positives,
        |  CAST(n_fp * 1000 // n_probes AS BIGINT) AS fpr_permille,
        |  ((1.0 - exp(((-1.0 * 3) * CAST(n_members AS DOUBLE))
        |      / 262144.0))
        |    * (1.0 - exp(((-1.0 * 3) * CAST(n_members AS DOUBLE))
        |      / 262144.0)))
        |    * (1.0 - exp(((-1.0 * 3) * CAST(n_members AS DOUBLE))
        |      / 262144.0)) AS fpr_theory
        |FROM agg, nb, nm""".stripMargin)),

    // Fixed-point HITS over the directed part->supplier graph: two
    // rounds of integer hub/authority propagation, max-normalized by
    // `(s · 1e12) div max` — the q126 replay contract for Kleinberg's
    // algorithm.
    Q("q364_hits",
      (s, dir) => Graph.hitsFixedPoint(
          t(s, dir, "lineitem").selectExpr(
            "l_partkey AS src", "l_suppkey AS dst"),
          "src", "dst", iterations = 2)
        .orderBy("side", "v"),
      Some("""WITH e AS (
        |  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst
        |  FROM lineitem),
        |srcs AS (SELECT DISTINCT src AS v FROM e),
        |dsts AS (SELECT DISTINCT dst AS v FROM e),
        |h0 AS (SELECT v, 1000000000000::HUGEINT AS s FROM srcs),
        |a1r AS (
        |  SELECT e.dst AS v, sum(h0.s) AS s
        |  FROM e JOIN h0 ON h0.v = e.src GROUP BY 1),
        |a1 AS (
        |  SELECT v, s * 1000000000000 // (SELECT max(s) FROM a1r) AS s
        |  FROM a1r),
        |h1r AS (
        |  SELECT e.src AS v, sum(a1.s) AS s
        |  FROM e JOIN a1 ON a1.v = e.dst GROUP BY 1),
        |h1 AS (
        |  SELECT v, s * 1000000000000 // (SELECT max(s) FROM h1r) AS s
        |  FROM h1r),
        |a2r AS (
        |  SELECT e.dst AS v, sum(h1.s) AS s
        |  FROM e JOIN h1 ON h1.v = e.src GROUP BY 1),
        |a2 AS (
        |  SELECT v, s * 1000000000000 // (SELECT max(s) FROM a2r) AS s
        |  FROM a2r),
        |h2r AS (
        |  SELECT e.src AS v, sum(a2.s) AS s
        |  FROM e JOIN a2 ON a2.v = e.dst GROUP BY 1),
        |h2 AS (
        |  SELECT v, s * 1000000000000 // (SELECT max(s) FROM h2r) AS s
        |  FROM h2r)
        |SELECT side, v, CAST(su AS BIGINT) AS score_units,
        |  CAST(su AS DOUBLE) / 1000000000000 AS score
        |FROM (
        |  SELECT 'hub' AS side, srcs.v, coalesce(h2.s, 0) AS su
        |  FROM srcs LEFT JOIN h2 ON h2.v = srcs.v
        |  UNION ALL
        |  SELECT 'auth' AS side, dsts.v, coalesce(a2.s, 0) AS su
        |  FROM dsts LEFT JOIN a2 ON a2.v = dsts.v)
        |ORDER BY side, v""".stripMargin)),

    // Brown's double exponential smoothing of daily event volume per
    // type: dyadic alpha=1/2 makes both EWMAs exact scaled BIGINTs;
    // level/trend/7-day forecast replayable on any engine.
    Q("q365_brown_double_smoothing",
      (s, dir) => Analytics.brownDoubleSmoothing(ev(s, dir),
          "event_type", "ts", window = 10, horizon = 7)
        .orderBy("grp"),
      Some("""WITH daily AS (
        |  SELECT event_type AS grp,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d,
        |    count(*) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |span AS (
        |  SELECT grp, unnest(generate_series(min(d), max(d))) AS d
        |  FROM daily GROUP BY grp),
        |dense AS (
        |  SELECT span.grp, span.d, coalesce(daily.y, 0) AS y
        |  FROM span LEFT JOIN daily
        |    ON daily.grp = span.grp AND daily.d = span.d),
        |s1 AS (
        |  SELECT grp, d + k AS d,
        |    CAST(sum(y * (1::BIGINT << CAST(10 - k AS INT))) AS BIGINT)
        |      AS s1
        |  FROM dense, (SELECT unnest(range(1, 11)) AS k) GROUP BY 1, 2),
        |s2 AS (
        |  SELECT grp, d + k AS d,
        |    CAST(sum(s1 * (1::BIGINT << CAST(10 - k AS INT))) AS BIGINT)
        |      AS s2
        |  FROM s1, (SELECT unnest(range(1, 11)) AS k) GROUP BY 1, 2),
        |state AS (
        |  SELECT dense.grp, dense.d,
        |    coalesce(s1.s1, 0) AS s1, coalesce(s2.s2, 0) AS s2,
        |    row_number() OVER (PARTITION BY dense.grp
        |      ORDER BY dense.d DESC) AS rn
        |  FROM dense
        |  LEFT JOIN s1 ON s1.grp = dense.grp AND s1.d = dense.d
        |  LEFT JOIN s2 ON s2.grp = dense.grp AND s2.d = dense.d)
        |SELECT grp, d AS last_day,
        |  CAST(s1 * 2 * 1023 - s2 AS BIGINT) AS level_scaled,
        |  CAST(s1 * 1023 - s2 AS BIGINT) AS trend_scaled,
        |  CAST(s1 * 2 * 1023 - s2 + 7 * (s1 * 1023 - s2) AS BIGINT)
        |    AS forecast_scaled,
        |  CAST(s1 * 2 * 1023 - s2 AS DOUBLE) / 1046529 AS level,
        |  CAST(s1 * 1023 - s2 AS DOUBLE) / 1046529 AS trend,
        |  CAST(s1 * 2 * 1023 - s2 + 7 * (s1 * 1023 - s2) AS DOUBLE)
        |    / 1046529 AS forecast_7d
        |FROM state WHERE rn = 1 ORDER BY grp""".stripMargin)),

    // Day-of-week seasonal indices of event volume per type over the
    // zero-filled daily grid — the multiplicative weekly profile in
    // exact permille integers.
    Q("q366_seasonal_dow",
      (s, dir) => Analytics.seasonalDowIndices(ev(s, dir),
          "event_type", "ts")
        .orderBy("grp", "dow"),
      Some("""WITH daily AS (
        |  SELECT event_type AS grp,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d,
        |    count(*) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |span AS (
        |  SELECT grp, unnest(generate_series(min(d), max(d))) AS d
        |  FROM daily GROUP BY grp),
        |dense AS (
        |  SELECT span.grp, span.d, coalesce(daily.y, 0) AS y,
        |    CAST((span.d + 3) % 7 + 1 AS INT) AS dow
        |  FROM span LEFT JOIN daily
        |    ON daily.grp = span.grp AND daily.d = span.d),
        |per_dow AS (
        |  SELECT grp, dow, count(*) AS n_days_dow, sum(y) AS total_dow
        |  FROM dense GROUP BY 1, 2),
        |tot AS (
        |  SELECT grp, count(*) AS n_days, sum(y) AS total
        |  FROM dense GROUP BY 1)
        |SELECT p.grp, p.dow, CAST(n_days_dow AS BIGINT) AS n_days_dow,
        |  CAST(total_dow AS BIGINT) AS total_dow,
        |  CAST((total_dow * n_days * 1000) // (n_days_dow * total)
        |    AS BIGINT) AS index_permille
        |FROM per_dow p JOIN tot ON tot.grp = p.grp
        |WHERE total > 0 ORDER BY p.grp, p.dow""".stripMargin)),

    // Persistence vs seasonal-naive forecast error masses per event
    // type: is weekly seasonality real? Exact integer MAE masses on the
    // dense grid, one permille ratio.
    Q("q367_naive_forecast_eval",
      (s, dir) => Analytics.naiveForecastEval(ev(s, dir),
          "event_type", "ts")
        .orderBy("grp"),
      Some("""WITH daily AS (
        |  SELECT event_type AS grp,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d,
        |    count(*) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |span AS (
        |  SELECT grp, unnest(generate_series(min(d), max(d))) AS d
        |  FROM daily GROUP BY grp),
        |dense AS (
        |  SELECT span.grp, span.d, coalesce(daily.y, 0) AS y
        |  FROM span LEFT JOIN daily
        |    ON daily.grp = span.grp AND daily.d = span.d),
        |lagged AS (
        |  SELECT grp, d, y,
        |    lag(y, 1) OVER (PARTITION BY grp ORDER BY d) AS y1,
        |    lag(y, 7) OVER (PARTITION BY grp ORDER BY d) AS y7
        |  FROM dense)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(y - y1)) AS BIGINT) AS abs_err_naive1,
        |  CAST(sum(abs(y - y7)) AS BIGINT) AS abs_err_naive7,
        |  CASE WHEN sum(abs(y - y1)) > 0 THEN
        |    CAST((sum(abs(y - y7)) * 1000) // sum(abs(y - y1)) AS BIGINT)
        |    END AS seasonal_vs_persistence_permille
        |FROM lagged WHERE y1 IS NOT NULL AND y7 IS NOT NULL
        |GROUP BY grp ORDER BY grp""".stripMargin)),

    // BMP header metadata over deterministic synthetic BITMAPINFOHEADER
    // payloads — incl. the negative-height top-down trap; the q349
    // fixture-arithmetic pattern.
    Q("q368_bmp_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 6 === 0)
          .withColumn("payload", Multimodal.syntheticBmpUdf(
            (lit(8) + col("doc_id") % 64).cast("int"),
            (lit(8) + col("doc_id") % 48).cast("int"),
            when(col("doc_id") % 3 === 0, 8)
              .when(col("doc_id") % 3 === 1, 24).otherwise(32).cast("int"),
            col("doc_id") % 2 === 0))
        Multimodal.decodeBmpHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("bmp.width").as("width"),
            col("bmp.height").as("height"),
            col("bmp.top_down").as("top_down"),
            col("bmp.bits_per_pixel").as("bits_per_pixel"),
            col("bmp.compression").as("compression"),
            col("bmp.data_offset").as("data_offset"),
            col("bmp.dib_header_size").as("dib_header_size"),
            col("bmp.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(8 + doc_id % 64 AS INT) AS width,
        |  CAST(8 + doc_id % 48 AS INT) AS height,
        |  doc_id % 2 = 0 AS top_down,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8
        |    WHEN doc_id % 3 = 1 THEN 24 ELSE 32 END AS INT)
        |    AS bits_per_pixel,
        |  CAST(0 AS INT) AS compression,
        |  CAST(54 AS BIGINT) AS data_offset,
        |  CAST(40 AS INT) AS dib_header_size,
        |  FALSE AS truncated
        |FROM documents WHERE doc_id % 6 = 0
        |ORDER BY doc_id""".stripMargin)),

    // AVI container metadata over deterministic RIFF/hdrl-avih/movi
    // fixtures: exact integer fps permille and duration from the avih
    // timing fields.
    Q("q369_avi_container_meta",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 7 === 0)
          .withColumn("payload", Multimodal.syntheticAviUdf(
            (lit(33333) + (col("doc_id") % 5) * 1000).cast("int"),
            (lit(100) + col("doc_id") % 200).cast("int"),
            (lit(1) + col("doc_id") % 2).cast("int"),
            (lit(320) + (col("doc_id") % 4) * 16).cast("int"),
            (lit(240) + (col("doc_id") % 3) * 16).cast("int"),
            (lit(50) + col("doc_id") % 77).cast("int")))
        Multimodal.decodeAviHeaders(clips, "payload")
          .select(col("doc_id"),
            col("avi.us_per_frame").as("us_per_frame"),
            col("avi.total_frames").as("total_frames"),
            col("avi.n_streams").as("n_streams"),
            col("avi.width").as("width"),
            col("avi.height").as("height"),
            col("avi.fps_permille").as("fps_permille"),
            col("avi.duration_ms").as("duration_ms"),
            col("avi.movi_bytes").as("movi_bytes"),
            col("avi.n_chunks").as("n_chunks"),
            col("avi.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(33333 + (doc_id % 5) * 1000 AS BIGINT) AS us,
        |    CAST(100 + doc_id % 200 AS BIGINT) AS tf,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS ns,
        |    CAST(320 + (doc_id % 4) * 16 AS BIGINT) AS w,
        |    CAST(240 + (doc_id % 3) * 16 AS BIGINT) AS h,
        |    CAST(50 + doc_id % 77 AS BIGINT) AS mb
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, CAST(us AS BIGINT) AS us_per_frame,
        |  CAST(tf AS BIGINT) AS total_frames,
        |  CAST(ns AS INT) AS n_streams,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(1000000000 // us AS BIGINT) AS fps_permille,
        |  CAST(tf * us // 1000 AS BIGINT) AS duration_ms,
        |  CAST(mb AS BIGINT) AS movi_bytes,
        |  CAST(2 AS INT) AS n_chunks,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // OGG/Vorbis container metadata over deterministic page fixtures:
    // ident-header fields, page census, exact duration from the final
    // granule position.
    Q("q370_ogg_container_meta",
      (s, dir) => {
        val clips = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 8 === 0)
          .withColumn("payload", Multimodal.syntheticOggUdf(
            (lit(1) + col("doc_id") % 2).cast("int"),
            (lit(8000) + (col("doc_id") % 4) * 4000).cast("int"),
            (lit(64000) + (col("doc_id") % 10) * 1000).cast("int"),
            (col("doc_id") % 4).cast("int"),
            (lit(10000L) + col("doc_id") % 5000).cast("long")))
        Multimodal.decodeOggHeaders(clips, "payload")
          .select(col("doc_id"),
            col("ogg.channels").as("channels"),
            col("ogg.sample_rate").as("sample_rate"),
            col("ogg.bitrate_nominal").as("bitrate_nominal"),
            col("ogg.n_pages").as("n_pages"),
            col("ogg.last_granule").as("last_granule"),
            col("ogg.duration_ms").as("duration_ms"),
            col("ogg.has_eos").as("has_eos"),
            col("ogg.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS ch,
        |    CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS rate,
        |    CAST(64000 + (doc_id % 10) * 1000 AS BIGINT) AS br,
        |    CAST(doc_id % 4 AS BIGINT) AS np,
        |    CAST(10000 + doc_id % 5000 AS BIGINT) AS ts
        |  FROM documents WHERE doc_id % 8 = 0)
        |SELECT doc_id, CAST(ch AS INT) AS channels,
        |  CAST(rate AS INT) AS sample_rate,
        |  CAST(br AS INT) AS bitrate_nominal,
        |  CAST(2 + np AS INT) AS n_pages,
        |  CAST(ts AS BIGINT) AS last_granule,
        |  CAST(ts * 1000 // rate AS BIGINT) AS duration_ms,
        |  TRUE AS has_eos,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // Optimal classification threshold by Youden's J over the q318
    // sha-derived score/label fixture: exact integer argmax over the
    // bounded distinct-score frame, ties to the smallest threshold.
    Q("q371_youden_threshold",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        Quality.youdenThreshold(
          t(s, dir, "documents").select("doc_id")
            .withColumn("score", h("s"))
            .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int")),
          "score", "label")
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |c AS (
        |  SELECT score AS v,
        |    count(CASE WHEN label = 1 THEN 1 END) AS p,
        |    count(CASE WHEN label = 0 THEN 1 END) AS q
        |  FROM d GROUP BY 1),
        |w AS (
        |  SELECT v, p, q,
        |    coalesce(sum(p) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pos_below,
        |    coalesce(sum(q) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below,
        |    sum(p) OVER () AS n_pos, sum(q) OVER () AS n_neg
        |  FROM c),
        |j AS (
        |  SELECT v AS threshold,
        |    n_pos - pos_below AS tp, n_neg - neg_below AS fp,
        |    pos_below AS fn, neg_below AS tn, n_pos, n_neg,
        |    (n_pos - pos_below) * n_neg - (n_neg - neg_below) * n_pos
        |      AS j_num,
        |    n_pos * n_neg AS j_den
        |  FROM w)
        |SELECT CAST(threshold AS BIGINT) AS threshold,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |  CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(j_num AS BIGINT) AS j_num, CAST(j_den AS BIGINT) AS j_den,
        |  CAST(j_num AS DOUBLE) / CAST(j_den AS DOUBLE) AS youden_j
        |FROM j ORDER BY j_num DESC, threshold LIMIT 1""".stripMargin)),

    // Decile lift table over the same scorer: per-bin response lift and
    // the cumulative capture curve from the top bin down, exact permille.
    Q("q372_lift_table",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        Quality.liftTable(
          t(s, dir, "documents").select("doc_id")
            .withColumn("score", h("s"))
            .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int")),
          "score", "label", bins = 10)
          .orderBy("bin")
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |g AS (
        |  SELECT CAST(least(score * 10 // 1000, 9) AS INT) AS bin,
        |    count(*) AS n, sum(label) AS n_pos
        |  FROM d GROUP BY 1),
        |w AS (
        |  SELECT bin, n, n_pos,
        |    sum(n) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    sum(n_pos) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_pos,
        |    sum(n) OVER () AS total_n, sum(n_pos) OVER () AS total_pos
        |  FROM g)
        |SELECT bin, CAST(n AS BIGINT) AS n,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST((n_pos * total_n * 1000) // (n * total_pos) AS BIGINT)
        |    AS lift_permille,
        |  CAST(cum_n AS BIGINT) AS cum_n,
        |  CAST(cum_pos AS BIGINT) AS cum_pos,
        |  CAST((cum_pos * total_n * 1000) // (cum_n * total_pos)
        |    AS BIGINT) AS cum_lift_permille,
        |  CAST((cum_pos * 1000) // total_pos AS BIGINT)
        |    AS capture_permille
        |FROM w WHERE total_pos > 0 ORDER BY bin""".stripMargin)),

    // McNemar's paired-classifier test: threshold-500 scorer vs an
    // independent sha scorer on the same labels — discordant-pair exact
    // counts, one continuity-corrected IEEE chi-squared.
    Q("q373_mcnemar",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        val d = t(s, dir, "documents").select("doc_id")
          .withColumn("score", h("s"))
          .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int"))
          .withColumn("b", h("b"))
        StatTests.mcnemar(d,
          (col("score") >= 500) === (col("label") === 1),
          (col("b") >= 450) === (col("label") === 1))
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#b'),
        |      1, 8))::UBIGINT % 1000 AS b
        |  FROM documents),
        |e AS (
        |  SELECT (score >= 500) = (label = 1) AS a_ok,
        |    (b >= 450) = (label = 1) AS b_ok
        |  FROM d),
        |m AS (
        |  SELECT
        |    count(CASE WHEN a_ok AND b_ok THEN 1 END) AS n11,
        |    count(CASE WHEN a_ok AND NOT b_ok THEN 1 END) AS n10,
        |    count(CASE WHEN NOT a_ok AND b_ok THEN 1 END) AS n01,
        |    count(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 END) AS n00
        |  FROM e)
        |SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
        |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
        |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n,
        |  CASE WHEN n01 + n10 > 0 THEN
        |    CAST(abs(n01 - n10) - 1 AS DOUBLE)
        |      * CAST(abs(n01 - n10) - 1 AS DOUBLE)
        |      / CAST(n01 + n10 AS DOUBLE) END AS chi2_cc
        |FROM m""".stripMargin)),

    // Cochran-Armitage trend: does the positive rate move monotonically
    // across the ten ordered score bins? Exact integer T and variance
    // pieces, pinned IEEE z².
    Q("q374_cochran_armitage",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        val d = t(s, dir, "documents").select("doc_id")
          .withColumn("score", h("s"))
          .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int"))
          .withColumn("bin",
            expr("CAST(least(score * 10 div 1000, 9) AS INT)"))
        StatTests.cochranArmitageTrend(d, "bin", "label")
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |g AS (
        |  SELECT CAST(least(score * 10 // 1000, 9) AS BIGINT) AS s,
        |    count(*) AS ni, sum(label) AS ri
        |  FROM d GROUP BY 1),
        |m AS (
        |  SELECT sum(ni) AS n, sum(ri) AS r, count(*) AS k,
        |    sum(s * ni) AS sn, sum(s * s * ni) AS ssn
        |  FROM g),
        |t AS (
        |  SELECT sum(s * (ri * n - r * ni)) AS t_num
        |  FROM g, m)
        |SELECT CAST(t_num AS BIGINT) AS t_num,
        |  CAST(n * ssn - sn * sn AS BIGINT) AS d,
        |  CAST(r AS BIGINT) AS r, CAST(n AS BIGINT) AS n,
        |  CAST(k AS BIGINT) AS k,
        |  CASE WHEN n * ssn - sn * sn > 0 AND r > 0 AND r < n THEN
        |    (CAST(t_num AS DOUBLE) * CAST(t_num AS DOUBLE)
        |      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / ((CAST(r AS DOUBLE) * (CAST(n AS DOUBLE)
        |        - CAST(r AS DOUBLE)))
        |      * CAST(n * ssn - sn * sn AS DOUBLE)) END AS z2
        |FROM t, m""".stripMargin)),

    // Cross-document repeated 5-gram census over a boilerplate-injected
    // corpus: which windows recur across >= 2 distinct docs — the
    // template/license/spam detector (Lee et al. 2021 substring dedup's
    // discovery pass).
    Q("q375_cross_doc_ngram_census",
      (s, dir) => TextStats.crossDocGramCensus(
          t(s, dir, "documents").select(col("doc_id"),
            when(col("doc_id") % 3 === 0, concat(col("text"), lit(
              " this content is licensed under the corpus license v1 terms")))
              .otherwise(col("text")).as("text")),
          "doc_id", "text", windowTokens = 5, minDocs = 2, topK = 50)
        .orderBy(col("n_docs").desc, col("gram").asc),
      Some("""WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text ||
        |    ' this content is licensed under the corpus license v1 terms'
        |    ELSE text END AS text
        |  FROM documents),
        |arr AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |    coalesce(text, ''), '\s+'), x -> x <> '') AS a
        |  FROM d),
        |tok AS (
        |  SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos
        |  FROM arr),
        |g AS (
        |  SELECT doc_id, pos,
        |    md5(string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS gram
        |  FROM tok),
        |valid AS (SELECT DISTINCT doc_id, gram FROM g WHERE pos >= 5),
        |c AS (
        |  SELECT gram, count(*) AS n_docs, min(doc_id) AS first_doc,
        |    max(doc_id) AS last_doc
        |  FROM valid GROUP BY 1 HAVING count(*) >= 2)
        |SELECT gram, CAST(n_docs AS BIGINT) AS n_docs, first_doc,
        |  last_doc
        |FROM c ORDER BY n_docs DESC, gram LIMIT 50""".stripMargin)),

    // Blocked sorted-neighborhood dedup candidates (Hernandez-Stolfo
    // SIGMOD'95): normalize to a sort key, rank within 4-char blocks,
    // pair everything at rank distance < 3 — the blocking classic next
    // to the LSH/prefix-filter family.
    Q("q376_sorted_neighborhood_pairs",
      (s, dir) => Dedup.sortedNeighborhoodPairs(
          t(s, dir, "documents"), "doc_id", "text",
          window = 3, blockChars = 4, keyChars = 12)
        .orderBy("block", "id_a", "id_b"),
      Some("""WITH r AS (
        |  SELECT doc_id AS id,
        |    substr(regexp_replace(lower(coalesce(text, '')),
        |      '[^a-z0-9]', '', 'g'), 1, 12) AS key
        |  FROM documents),
        |f AS (
        |  SELECT id, key, substr(key, 1, 4) AS block
        |  FROM r WHERE length(key) >= 4),
        |rk AS (
        |  SELECT id, key, block,
        |    row_number() OVER (PARTITION BY block ORDER BY key, id) AS rn
        |  FROM f)
        |SELECT a.block, a.id AS id_a, b.id AS id_b,
        |  CAST(o.off AS INT) AS gap,
        |  a.key AS key_a, b.key AS key_b,
        |  a.key = b.key AS same_key
        |FROM rk a
        |CROSS JOIN (SELECT unnest([1, 2]) AS off) o
        |JOIN rk b ON b.block = a.block AND b.rn = a.rn + o.off
        |ORDER BY a.block, id_a, id_b""".stripMargin)),

    // Weekly activity heatmap: event counts on the (ISO dow x hour)
    // grid per event type with exact permille cell shares — epoch-day
    // dow arithmetic, no locale calendar.
    Q("q377_activity_heatmap",
      (s, dir) => Analytics.activityHeatmap(ev(s, dir),
          "event_type", "ts")
        .orderBy("grp", "dow", "hour"),
      Some("""WITH c AS (
        |  SELECT event_type AS grp,
        |    CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      + 3) % 7 + 1 AS INT) AS dow,
        |    CAST(extract(hour FROM ts) AS INT) AS hour,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT grp, dow, hour, n, sum(n) OVER (PARTITION BY grp)
        |    AS total
        |  FROM c)
        |SELECT grp, dow, hour, CAST(n AS BIGINT) AS n,
        |  CAST((n * 1000) // total AS BIGINT) AS share_permille
        |FROM w ORDER BY grp, dow, hour""".stripMargin)),

    // Isotonic (PAV) calibration of the q318 scorer via the exact
    // minimax identity cal(i) = max_{j<=i} min_{k>=j} mean(j..k) — the
    // monotone recalibration fit, bit-portable because interval-mean
    // ordering is exact at these integer sizes.
    Q("q378_isotonic_calibration",
      (s, dir) => {
        def h(salt: String) = conv(substring(sha2(concat_ws("#",
          col("doc_id").cast("string"), lit(salt)), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        Quality.isotonicCalibration(
          t(s, dir, "documents").select("doc_id")
            .withColumn("score", h("s"))
            .withColumn("label", (h("s") * 2 + h("l") > 1000).cast("int")),
          "score", "label", bins = 100)
          .orderBy("bin")
      },
      Some("""WITH d AS (
        |  SELECT
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#s'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
        |        || '#s'), 1, 8))::UBIGINT % 1000 * 2
        |      + ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || '#l'),
        |        1, 8))::UBIGINT % 1000 > 1000 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |g AS (
        |  SELECT CAST(least(score * 100 // 1000, 99) AS INT) AS bin,
        |    count(*) AS n, sum(label) AS n_pos
        |  FROM d GROUP BY 1),
        |f AS (
        |  SELECT bin, n, n_pos,
        |    sum(n) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ncum,
        |    sum(n_pos) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pcum
        |  FROM g),
        |mins AS (
        |  SELECT j.bin AS jbin,
        |    min(CAST(k.pcum - (j.pcum - j.n_pos) AS DOUBLE)
        |      / CAST(k.ncum - (j.ncum - j.n) AS DOUBLE)) AS mj
        |  FROM f j JOIN f k ON k.bin >= j.bin
        |  GROUP BY 1)
        |SELECT f.bin, CAST(f.n AS BIGINT) AS n,
        |  CAST(f.n_pos AS BIGINT) AS n_pos,
        |  CAST((f.n_pos * 1000) // f.n AS BIGINT) AS raw_rate_permille,
        |  max(m.mj) AS calibrated
        |FROM f JOIN mins m ON m.jbin <= f.bin
        |GROUP BY 1, 2, 3, 4
        |ORDER BY bin""".stripMargin)),

    // Leave-one-out 1-NN label accuracy over the embedding corpus:
    // brute-force n^2 cosine argmax (the eval-sized probe; the ANN
    // index q243/q244 is the corpus-scale path), per-label rollup.
    Q("q379_knn_loo_eval",
      (s, dir) => Embeddings.knnLooEval(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("label"),
      Some("""WITH v AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
        |    label AS lbl
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |p AS (
        |  SELECT a.id AS a, a.lbl AS la, b.lbl AS plbl, b.id AS b,
        |    round(list_sum(list_transform(list_zip(a.ve, b.ve),
        |        z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(a.ve, x -> x * x))) *
        |       sqrt(list_sum(list_transform(b.ve, x -> x * x)))), 6)
        |      AS cos
        |  FROM v a JOIN v b ON a.id <> b.id),
        |r AS (
        |  SELECT a, la, plbl,
        |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC)
        |      AS rn
        |  FROM p),
        |nn AS (SELECT la, plbl FROM r WHERE rn = 1)
        |SELECT CAST(la AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN plbl = la THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(sum(CASE WHEN plbl = la THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS accuracy_permille
        |FROM nn GROUP BY 1 ORDER BY label""".stripMargin)),

    // Fragment-chain pairs over a pagination-split fixture: every 10th
    // doc is prefixed with its predecessor's last five words, so
    // tail-hash == head-hash joins recover the (predecessor, fragment)
    // chains whole-document banding misses.
    Q("q380_fragment_chain_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val pred = docs.select((col("doc_id") + 1).as("doc_id"),
          expr("array_join(slice(filter(split(coalesce(text, ''), " +
            "'\\\\s+'), t -> t <> ''), greatest(size(filter(split(" +
            "coalesce(text, ''), '\\\\s+'), t -> t <> '')) - 4, 1), 5), " +
            "' ')").as("psuffix"))
        val spliced = docs.join(pred, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1 && col("psuffix").isNotNull,
              concat(col("psuffix"), lit(" "), col("text")))
              .otherwise(col("text")).as("text"))
        TextStats.fragmentChainPairs(spliced, "doc_id", "text",
            windowTokens = 5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |    coalesce(text, ''), '\s+'), x -> x <> '') AS a
        |  FROM documents),
        |pred AS (
        |  SELECT doc_id + 1 AS doc_id,
        |    array_to_string(a[greatest(len(a) - 4, 1):], ' ') AS psuffix
        |  FROM toks),
        |spliced AS (
        |  SELECT t.doc_id,
        |    CASE WHEN t.doc_id % 10 = 1 AND p.psuffix IS NOT NULL
        |      THEN p.psuffix || ' ' || array_to_string(t.a, ' ')
        |      ELSE array_to_string(t.a, ' ') END AS text
        |  FROM toks t LEFT JOIN pred p ON p.doc_id = t.doc_id),
        |st AS (
        |  SELECT doc_id, list_filter(string_split_regex(
        |    coalesce(text, ''), '\s+'), x -> x <> '') AS a
        |  FROM spliced),
        |hashes AS (
        |  SELECT doc_id,
        |    md5(array_to_string(a[1:5], ' ')) AS head_gram,
        |    md5(array_to_string(a[len(a) - 4:], ' ')) AS tail_gram
        |  FROM st WHERE len(a) >= 5)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.tail_gram AS gram
        |FROM hashes a JOIN hashes b ON a.tail_gram = b.head_gram
        |  AND a.doc_id <> b.doc_id
        |ORDER BY id_a, id_b""".stripMargin)),

    // Rendezvous-hash shard migration report: the N=8 -> 9 transition
    // matrix over user keys — HRW moves ~1/9 of keys, the mod-hash
    // column alongside moves ~8/9; all sha-integer portable.
    Q("q381_rendezvous_shards",
      (s, dir) => Packing.rendezvousShardReport(ev(s, dir), "user_id",
          nShards = 8)
        .orderBy("shard_n", "shard_n1"),
      Some("""WITH keys AS (
        |  SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
        |  FROM events WHERE user_id IS NOT NULL),
        |w AS (
        |  SELECT k, s, CAST(('0x' || substr(sha256(k || '#'
        |    || CAST(s AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS w
        |  FROM keys, (SELECT unnest(range(9)) AS s)),
        |a8 AS (
        |  SELECT k, max_by(s, w) AS shard_n FROM w WHERE s < 8
        |  GROUP BY k),
        |a9 AS (SELECT k, max_by(s, w) AS shard_n1 FROM w GROUP BY k),
        |h AS (SELECT k, w AS hw FROM w WHERE s = 0)
        |SELECT CAST(shard_n AS INT) AS shard_n,
        |  CAST(shard_n1 AS INT) AS shard_n1,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN hw % 8 <> hw % 9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mod_moved,
        |  shard_n <> shard_n1 AS moved
        |FROM a8 JOIN a9 USING (k) JOIN h USING (k)
        |GROUP BY 1, 2, 5 ORDER BY shard_n, shard_n1""".stripMargin)),

    // Newcombe score CI for the even/odd-arm purchase-rate difference:
    // Wilson bounds per arm combined by the square-root-of-squares rule,
    // exact counts, fixed IEEE chain.
    Q("q382_ab_proportion_diff",
      (s, dir) => StatTests.newcombeDiffCI(
        ev(s, dir).filter(col("user_id").isNotNull)
          .withColumn("arm", when(col("user_id") % 2 === 0, "even")
            .otherwise("odd")),
        "arm", col("event_type") === "purchase"),
      Some("""WITH d AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
        |    AS arm,
        |    event_type = 'purchase' AS conv
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (
        |  SELECT arm, count(*) AS n,
        |    count(CASE WHEN conv THEN 1 END) AS k
        |  FROM d GROUP BY 1),
        |ab AS (
        |  SELECT
        |    (SELECT n FROM g WHERE arm = 'even') AS n_a,
        |    (SELECT k FROM g WHERE arm = 'even') AS k_a,
        |    (SELECT n FROM g WHERE arm = 'odd') AS n_b,
        |    (SELECT k FROM g WHERE arm = 'odd') AS k_b),
        |wil AS (
        |  SELECT n_a, k_a, n_b, k_b,
        |    CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
        |    CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
        |    1.0 + (1.96 * 1.96) / CAST(n_a AS DOUBLE) AS d1,
        |    1.0 + (1.96 * 1.96) / CAST(n_b AS DOUBLE) AS d2
        |  FROM ab),
        |b AS (
        |  SELECT *,
        |    (p1 + (1.96 * 1.96) / (2.0 * CAST(n_a AS DOUBLE))) / d1
        |      AS c1,
        |    (1.96 * sqrt(p1 * (1.0 - p1) / CAST(n_a AS DOUBLE)
        |      + (1.96 * 1.96) / (4.0 * CAST(n_a AS DOUBLE)
        |        * CAST(n_a AS DOUBLE)))) / d1 AS h1,
        |    (p2 + (1.96 * 1.96) / (2.0 * CAST(n_b AS DOUBLE))) / d2
        |      AS c2,
        |    (1.96 * sqrt(p2 * (1.0 - p2) / CAST(n_b AS DOUBLE)
        |      + (1.96 * 1.96) / (4.0 * CAST(n_b AS DOUBLE)
        |        * CAST(n_b AS DOUBLE)))) / d2 AS h2
        |  FROM wil)
        |SELECT 'even' AS arm_a, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(k_a AS BIGINT) AS k_a,
        |  'odd' AS arm_b, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(k_b AS BIGINT) AS k_b,
        |  p1 - p2 AS diff,
        |  p1 - p2 - sqrt((p1 - (c1 - h1)) * (p1 - (c1 - h1))
        |    + ((c2 + h2) - p2) * ((c2 + h2) - p2)) AS ci_lo,
        |  p1 - p2 + sqrt(((c1 + h1) - p1) * ((c1 + h1) - p1)
        |    + (p2 - (c2 - h2)) * (p2 - (c2 - h2))) AS ci_hi
        |FROM b""".stripMargin)),

    // Index-of-dispersion on daily event volume per type: var/mean of
    // the day counts — the Poisson-burstiness check with Fisher's chi2.
    Q("q383_overdispersion",
      (s, dir) => StatTests.overdispersionIndex(
          ev(s, dir).filter(col("event_type").isNotNull &&
              col("ts").isNotNull)
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("y")),
          "event_type", "y")
        .orderBy("grp"),
      Some("""WITH daily AS (
        |  SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |    count(*) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT grp, count(*) AS n, sum(y) AS s,
        |    sum(y::HUGEINT * y) AS ss
        |  FROM daily GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS total,
        |  CAST(n::HUGEINT * ss - s::HUGEINT * s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS dispersion,
        |  (CAST(n AS DOUBLE) - 1.0)
        |    * (CAST(n::HUGEINT * ss - s::HUGEINT * s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS chi2
        |FROM m WHERE n >= 2 AND s > 0 ORDER BY grp""".stripMargin)),

    // CUPED variance reduction over per-user activity covariates: theta
    // and the adjusted-variance header from one pass of exact decimal
    // moments.
    Q("q384_cuped",
      (s, dir) => Analytics.cupedAdjustment(
        ev(s, dir).filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(sum((col("event_id") % 2 === 0).cast("long")).as("x"),
            sum((col("event_id") % 2 === 1 &&
              col("event_type") === "purchase").cast("long")).as("y")),
        "x", "y"),
      Some("""WITH u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS x,
        |    sum(CASE WHEN event_id % 2 = 1
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx,
        |    sum(y::HUGEINT * y) AS syy
        |  FROM u),
        |st AS (
        |  SELECT n,
        |    CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE) AS cov,
        |    CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE) AS vx,
        |    CAST(n::HUGEINT * syy - sy::HUGEINT * sy AS DOUBLE) AS vy
        |  FROM m WHERE n >= 2)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN vx > 0 THEN cov / vx END AS theta,
        |  vy / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_y,
        |  CASE WHEN vx > 0 THEN (vy - (cov / vx) * cov)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) END
        |    AS var_adjusted,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    CAST(floor(1000.0 * (cov * cov) / (vx * vy)) AS BIGINT) END
        |    AS reduction_permille
        |FROM st""".stripMargin)),

    // Flesch-Kincaid grade per language: exact word/sentence/vowel-group
    // integers per document, one aggregation per group, pinned IEEE
    // grade — the syllable-based difficulty dial next to q327's LIX.
    Q("q385_flesch_kincaid",
      (s, dir) => TextStats.fleschKincaid(
          t(s, dir, "documents"), "text", "lang")
        .orderBy("grp"),
      Some("""WITH d AS (
        |  SELECT lang AS grp,
        |    CAST(len(list_filter(string_split_regex(
        |      coalesce(text, ''), '\s+'), x -> x <> '')) AS BIGINT) AS w,
        |    CAST(greatest(len(regexp_extract_all(coalesce(text, ''),
        |      '[.!?]')), 1) AS BIGINT) AS s,
        |    CAST(len(regexp_extract_all(lower(coalesce(text, '')),
        |      '[aeiouy]+')) AS BIGINT) AS y
        |  FROM documents WHERE lang IS NOT NULL),
        |g AS (
        |  SELECT grp, count(*) AS n_docs, sum(w) AS words,
        |    sum(s) AS sentences, sum(y) AS syllables
        |  FROM d GROUP BY 1)
        |SELECT grp, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(words AS BIGINT) AS words,
        |  CAST(sentences AS BIGINT) AS sentences,
        |  CAST(syllables AS BIGINT) AS syllables,
        |  0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |    + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
        |    - 15.59 AS fk_grade
        |FROM g WHERE words > 0 ORDER BY grp""".stripMargin)),

    // RFM segmentation: recency/frequency/monetary quintiles by the
    // exact ceil(cum*5/n) rank rule over bounded count frames, then the
    // 125-cell census.
    Q("q386_rfm_segments",
      (s, dir) => Analytics.rfmSegments(ev(s, dir), "user_id", "ts",
          "value")
        .orderBy("r_q", "f_q", "m_q"),
      Some("""WITH pu AS (
        |  SELECT user_id AS u,
        |    max(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS
        |      DATE)) AS BIGINT)) AS last_d,
        |    count(*) AS f,
        |    sum(coalesce(CAST(round(value * 1000) AS BIGINT), 0)) AS m
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |ux AS (
        |  SELECT u, (SELECT max(last_d) FROM pu) - last_d AS r, f, m
        |  FROM pu),
        |qr AS (
        |  SELECT r AS v, least(5, CAST((sum(count(*)) OVER (ORDER BY r
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 5
        |      + sum(count(*)) OVER () - 1)
        |    // sum(count(*)) OVER () AS INT)) AS q
        |  FROM ux GROUP BY r),
        |qf AS (
        |  SELECT f AS v, least(5, CAST((sum(count(*)) OVER (ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 5
        |      + sum(count(*)) OVER () - 1)
        |    // sum(count(*)) OVER () AS INT)) AS q
        |  FROM ux GROUP BY f),
        |qm AS (
        |  SELECT m AS v, least(5, CAST((sum(count(*)) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 5
        |      + sum(count(*)) OVER () - 1)
        |    // sum(count(*)) OVER () AS INT)) AS q
        |  FROM ux GROUP BY m)
        |SELECT qr.q AS r_q, qf.q AS f_q, qm.q AS m_q,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ux
        |JOIN qr ON qr.v = ux.r JOIN qf ON qf.v = ux.f
        |JOIN qm ON qm.v = ux.m
        |GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin)),

    // KMV set-difference estimate: viewers-not-purchasers via the
    // theta-sketch a-not-b identity |A\B| = |A| - |A intersect B| over
    // the verified integer sketch algebra.
    Q("q387_kmv_anotb",
      (s, dir) => {
        val k = 64
        val sk = Sketches.kmvSketch(
          ev(s, dir).filter(col("event_type").isin("view", "purchase")),
          "user_id", k, groupCols = Seq("event_type"))
        val a = sk.filter(col("event_type") === "view")
          .select(col("kmv").as("ka"))
        val b = sk.filter(col("event_type") === "purchase")
          .select(col("kmv").as("kb"))
        a.crossJoin(b).select(
          Sketches.kmvEstimateCol(col("ka"), k).as("est_view"),
          Sketches.kmvEstimateCol(col("kb"), k).as("est_purchase"),
          Sketches.kmvIntersectionCol(col("ka"), col("kb"), k)
            .as("est_intersect"),
          Sketches.kmvANotBCol(col("ka"), col("kb"), k)
            .as("est_view_not_purchase"))
      },
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1,
        |      15))::UBIGINT AS BIGINT) AS h
        |  FROM events
        |  WHERE user_id IS NOT NULL
        |    AND event_type IN ('view', 'purchase')),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h)
        |      AS rank
        |  FROM h),
        |sk AS (SELECT event_type, h, rank FROM r WHERE rank <= 64),
        |est AS (
        |  SELECT event_type,
        |    CASE WHEN count(*) < 64 THEN count(*)
        |      ELSE CAST(CAST(63 AS HUGEINT) *
        |        CAST(1152921504606846976 AS HUGEINT) //
        |        CAST(max(CASE WHEN rank = 64 THEN h END) AS HUGEINT)
        |        AS BIGINT)
        |    END AS est
        |  FROM sk GROUP BY 1),
        |uni AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rank
        |  FROM (SELECT DISTINCT h FROM sk)),
        |usk AS (SELECT h, rank FROM uni WHERE rank <= 64),
        |uest AS (
        |  SELECT CASE WHEN count(*) < 64 THEN count(*)
        |    ELSE CAST(CAST(63 AS HUGEINT) *
        |      CAST(1152921504606846976 AS HUGEINT) //
        |      CAST(max(CASE WHEN rank = 64 THEN h END) AS HUGEINT)
        |      AS BIGINT)
        |    END AS est
        |  FROM usk),
        |rho AS (
        |  SELECT count(*) AS rho FROM usk
        |  WHERE h IN (SELECT h FROM sk WHERE event_type = 'view')
        |    AND h IN (SELECT h FROM sk WHERE event_type = 'purchase')),
        |inter AS (
        |  SELECT CAST(CAST(rho AS HUGEINT) * CAST(uest.est AS HUGEINT)
        |    // (SELECT count(*) FROM usk) AS BIGINT) AS est
        |  FROM rho, uest)
        |SELECT
        |  (SELECT est FROM est WHERE event_type = 'view') AS est_view,
        |  (SELECT est FROM est WHERE event_type = 'purchase')
        |    AS est_purchase,
        |  inter.est AS est_intersect,
        |  greatest((SELECT est FROM est WHERE event_type = 'view')
        |    - inter.est, 0) AS est_view_not_purchase
        |FROM inter""".stripMargin)),

    // Local clustering coefficient over the q195 co-order graph: exact
    // per-vertex triangles against (d choose 2) in permille.
    Q("q388_clustering_coefficient",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 5 === 0)
          .select("l_orderkey", "l_partkey")
        val pairs = li.as("x").join(li.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("src"),
            col("y.l_partkey").as("dst"))
        Graph.localClusteringCoefficient(pairs, "src", "dst")
          .orderBy("v")
      },
      Some("""WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 5 = 0),
        |e0 AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |    greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |  WHERE x.l_partkey <> y.l_partkey),
        |deg AS (SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
        |o AS (
        |  SELECT
        |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a ELSE e0.b
        |      END AS u,
        |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b ELSE e0.a
        |      END AS w,
        |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN db.d ELSE da.d
        |      END AS dw
        |  FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
        |tri AS (
        |  SELECT e1.u, e1.w AS x, e2.w AS y
        |  FROM o e1 JOIN o e2 ON e1.u = e2.u
        |    AND (e1.dw, e1.w) < (e2.dw, e2.w)
        |  JOIN o e3 ON e3.u = e1.w AND e3.w = e2.w),
        |pv AS (SELECT v, count(*) AS t FROM (
        |    SELECT u AS v FROM tri UNION ALL SELECT x FROM tri
        |    UNION ALL SELECT y FROM tri) GROUP BY v)
        |SELECT CAST(deg.v AS BIGINT) AS v,
        |  CAST(deg.d AS BIGINT) AS degree,
        |  CAST(coalesce(pv.t, 0) AS BIGINT) AS triangles,
        |  CASE WHEN deg.d >= 2 THEN
        |    CAST((coalesce(pv.t, 0) * 2000) // (deg.d * (deg.d - 1))
        |      AS BIGINT) END AS coeff_permille
        |FROM deg LEFT JOIN pv USING (v) ORDER BY v""".stripMargin)),

    // Weisfeiler-Lehman color census after two refinement rounds over
    // the co-order graph: sha colors of "own|sorted neighbors" — the
    // neighborhood-isomorphism fingerprint, top-50 color classes.
    Q("q389_wl_color_census",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 7 === 0)
          .select("l_orderkey", "l_partkey")
        val pairs = li.as("x").join(li.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("src"),
            col("y.l_partkey").as("dst"))
        Graph.wlColorCensus(pairs, "src", "dst", rounds = 2, topK = 50)
      },
      Some("""WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 7 = 0),
        |e0 AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |    greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |  WHERE x.l_partkey <> y.l_partkey),
        |sym AS (
        |  SELECT a AS v, b AS n FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |c0 AS (SELECT v, count(*) AS c FROM sym GROUP BY 1),
        |c1 AS (
        |  SELECT s.v,
        |    CAST(('0x' || substring(sha256(CAST(own.c AS VARCHAR) || '|'
        |      || string_agg(CAST(nc.c AS VARCHAR), ',' ORDER BY nc.c)),
        |      1, 15))::UBIGINT AS BIGINT) AS c
        |  FROM sym s
        |  JOIN c0 nc ON nc.v = s.n
        |  JOIN c0 own ON own.v = s.v
        |  GROUP BY s.v, own.c),
        |c2 AS (
        |  SELECT s.v,
        |    CAST(('0x' || substring(sha256(CAST(own.c AS VARCHAR) || '|'
        |      || string_agg(CAST(nc.c AS VARCHAR), ',' ORDER BY nc.c)),
        |      1, 15))::UBIGINT AS BIGINT) AS c
        |  FROM sym s
        |  JOIN c1 nc ON nc.v = s.n
        |  JOIN c1 own ON own.v = s.v
        |  GROUP BY s.v, own.c)
        |SELECT c AS color, CAST(count(*) AS BIGINT) AS n_vertices
        |FROM c2 GROUP BY 1
        |ORDER BY n_vertices DESC, color LIMIT 50""".stripMargin)),

    // Mutual nearest-neighbor pairs over the embedding corpus: each is
    // the other's top-1 cosine neighbor — the bitext-mining /
    // duplicate-alignment primitive.
    Q("q390_mutual_nn_pairs",
      (s, dir) => Embeddings.mutualNearestPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("id_a", "id_b"),
      Some("""WITH v AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (
        |  SELECT a.id AS a, b.id AS b,
        |    round(list_sum(list_transform(list_zip(a.ve, b.ve),
        |        z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(a.ve, x -> x * x))) *
        |       sqrt(list_sum(list_transform(b.ve, x -> x * x)))), 6)
        |      AS cos
        |  FROM v a JOIN v b ON a.id <> b.id),
        |r AS (
        |  SELECT a, b, cos,
        |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC)
        |      AS rn
        |  FROM p),
        |nn AS (SELECT a, b, cos FROM r WHERE rn = 1)
        |SELECT x.a AS id_a, y.a AS id_b, x.cos AS cosine
        |FROM nn x JOIN nn y ON x.b = y.a AND y.b = x.a AND x.a < y.a
        |ORDER BY id_a, id_b""".stripMargin)),

    // Fixed-weight Fellegi-Sunter scoring over the sorted-neighborhood
    // candidates: lang/source/length-bucket agreements sum to an exact
    // integer score classed by thresholds.
    Q("q391_fs_linkage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
          window = 3, blockChars = 4, keyChars = 12)
        val attrs = docs.select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 200").as("len_bucket"))
        Dedup.fellegiSunterScore(pairs, attrs, "doc_id",
            Seq(("lang", 6, -4), ("source", 8, -5), ("len_bucket", 10, -6)),
            matchAt = 18, possibleAt = 4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH r AS (
        |  SELECT doc_id AS id,
        |    substr(regexp_replace(lower(coalesce(text, '')),
        |      '[^a-z0-9]', '', 'g'), 1, 12) AS key
        |  FROM documents),
        |f AS (
        |  SELECT id, key, substr(key, 1, 4) AS block
        |  FROM r WHERE length(key) >= 4),
        |rk AS (
        |  SELECT id, key, block,
        |    row_number() OVER (PARTITION BY block ORDER BY key, id) AS rn
        |  FROM f),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM rk a
        |  CROSS JOIN (SELECT unnest([1, 2]) AS off) o
        |  JOIN rk b ON b.block = a.block AND b.rn = a.rn + o.off),
        |attr AS (
        |  SELECT doc_id, lang, source, n_chars // 200 AS len_bucket
        |  FROM documents),
        |s AS (
        |  SELECT p.id_a, p.id_b,
        |    (CASE WHEN a.lang IS NOT DISTINCT FROM b.lang
        |       THEN 6 ELSE -4 END)
        |    + (CASE WHEN a.source IS NOT DISTINCT FROM b.source
        |       THEN 8 ELSE -5 END)
        |    + (CASE WHEN a.len_bucket IS NOT DISTINCT FROM b.len_bucket
        |       THEN 10 ELSE -6 END) AS score
        |  FROM p
        |  JOIN attr a ON a.doc_id = p.id_a
        |  JOIN attr b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 18 THEN 'match'
        |    WHEN score >= 4 THEN 'possible'
        |    ELSE 'non_match' END AS decision
        |FROM s ORDER BY id_a, id_b""".stripMargin)),

    // Hard-clamp label propagation over the co-order graph: every 10th
    // part seeds its id-mod-3 label; two integer mass rounds, argmax
    // prediction with ties to the smaller label.
    Q("q392_label_propagation",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 7 === 0)
          .select("l_orderkey", "l_partkey")
        val pairs = li.as("x").join(li.as("y"), "l_orderkey")
          .filter(col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("src"),
            col("y.l_partkey").as("dst"))
        val seeds = li.select(col("l_partkey").as("v")).distinct()
          .filter(col("v") % 10 === 0)
          .withColumn("label", col("v") % 3)
        Graph.labelPropagation(pairs, "src", "dst", seeds, "v", "label",
            rounds = 2)
          .orderBy("v")
      },
      Some("""WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 7 = 0),
        |e0 AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |    greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |  WHERE x.l_partkey <> y.l_partkey),
        |sym AS (
        |  SELECT a AS v, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
        |seeds AS (
        |  SELECT DISTINCT l_partkey AS v, l_partkey % 3 AS label
        |  FROM li WHERE l_partkey % 10 = 0),
        |m0 AS (SELECT v, label, CAST(1 AS BIGINT) AS m FROM seeds),
        |p1 AS (
        |  SELECT s.v, m.label, CAST(sum(m.m) AS BIGINT) AS m
        |  FROM sym s JOIN m0 m ON m.v = s.n GROUP BY 1, 2),
        |m1 AS (
        |  SELECT v, label, CAST(1 AS BIGINT) AS m FROM seeds
        |  UNION ALL
        |  SELECT * FROM p1 WHERE v NOT IN (SELECT v FROM seeds)),
        |p2 AS (
        |  SELECT s.v, m.label, CAST(sum(m.m) AS BIGINT) AS m
        |  FROM sym s JOIN m1 m ON m.v = s.n GROUP BY 1, 2),
        |m2 AS (
        |  SELECT v, label, CAST(1 AS BIGINT) AS m FROM seeds
        |  UNION ALL
        |  SELECT * FROM p2 WHERE v NOT IN (SELECT v FROM seeds)),
        |best AS (
        |  SELECT v, label, m,
        |    row_number() OVER (PARTITION BY v
        |      ORDER BY m DESC, label ASC) AS rn
        |  FROM m2)
        |SELECT b.v, b.label, b.m AS mass,
        |  b.v IN (SELECT v FROM seeds) AS is_seed
        |FROM best b WHERE rn = 1 ORDER BY v""".stripMargin)),

    // Uplift by score bin: treated-vs-control purchase-rate difference
    // per sha-score quintile bin, exact permille — the
    // heterogeneous-effect validation table.
    Q("q393_uplift_by_bin",
      (s, dir) => {
        def h(c: org.apache.spark.sql.Column) = conv(substring(sha2(concat_ws("#",
          c.cast("string"), lit("u")), 256), 1, 8), 16, 10)
          .cast("long") % 1000
        val units = ev(s, dir).filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(max((col("event_type") === "purchase").cast("int"))
            .as("conv"))
          .withColumn("score", h(col("user_id")))
          .withColumn("arm", (col("user_id") % 2).cast("int"))
        Analytics.upliftByBin(units, "score", "arm", col("conv") === 1,
            bins = 5)
          .orderBy("bin")
      },
      Some("""WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv,
        |    ('0x' || substr(sha256(CAST(user_id AS VARCHAR) || '#u'),
        |      1, 8))::UBIGINT % 1000 AS score,
        |    CAST(user_id % 2 AS INT) AS arm
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |g AS (
        |  SELECT CAST(least(score * 5 // 1000, 4) AS INT) AS bin,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_treat,
        |    sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS c_treat,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_control,
        |    sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS c_control
        |  FROM u GROUP BY 1)
        |SELECT bin, CAST(n_treat AS BIGINT) AS n_treat,
        |  CAST(c_treat AS BIGINT) AS c_treat,
        |  CAST(n_control AS BIGINT) AS n_control,
        |  CAST(c_control AS BIGINT) AS c_control,
        |  CAST((c_treat * 1000) // n_treat AS BIGINT)
        |    AS rate_treat_permille,
        |  CAST((c_control * 1000) // n_control AS BIGINT)
        |    AS rate_control_permille,
        |  CAST((c_treat * 1000) // n_treat
        |    - (c_control * 1000) // n_control AS BIGINT)
        |    AS uplift_permille
        |FROM g WHERE n_treat > 0 AND n_control > 0
        |ORDER BY bin""".stripMargin)),

    // Covariate balance (SMD) between the even/odd arms over per-user
    // activity covariates — the causal pre-flight table; |SMD| < 0.1 is
    // the conventional balance bar (and holds here by construction).
    Q("q394_covariate_balance",
      (s, dir) => {
        val units = ev(s, dir).filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(coalesce(round(col("value") * 1000).cast("long"),
              lit(0L))).as("value_milli"),
            countDistinct("event_type").as("n_types"))
          .withColumn("arm", (col("user_id") % 2).cast("int"))
        Analytics.covariateBalance(units, "arm",
            Seq("n_events", "value_milli", "n_types"))
          .orderBy("covariate")
      },
      Some("""WITH u AS (
        |  SELECT user_id, count(*) AS n_events,
        |    sum(coalesce(CAST(round(value * 1000) AS BIGINT), 0))
        |      AS value_milli,
        |    count(DISTINCT event_type) AS n_types,
        |    CAST(user_id % 2 AS INT) AS arm
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |m AS (
        |  SELECT
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN arm = 1 THEN n_events ELSE 0 END) AS s1_a,
        |    sum(CASE WHEN arm = 0 THEN n_events ELSE 0 END) AS s0_a,
        |    sum(CASE WHEN arm = 1 THEN n_events::HUGEINT * n_events
        |      ELSE 0 END) AS q1_a,
        |    sum(CASE WHEN arm = 0 THEN n_events::HUGEINT * n_events
        |      ELSE 0 END) AS q0_a,
        |    sum(CASE WHEN arm = 1 THEN value_milli ELSE 0 END) AS s1_b,
        |    sum(CASE WHEN arm = 0 THEN value_milli ELSE 0 END) AS s0_b,
        |    sum(CASE WHEN arm = 1 THEN value_milli::HUGEINT * value_milli
        |      ELSE 0 END) AS q1_b,
        |    sum(CASE WHEN arm = 0 THEN value_milli::HUGEINT * value_milli
        |      ELSE 0 END) AS q0_b,
        |    sum(CASE WHEN arm = 1 THEN n_types ELSE 0 END) AS s1_c,
        |    sum(CASE WHEN arm = 0 THEN n_types ELSE 0 END) AS s0_c,
        |    sum(CASE WHEN arm = 1 THEN n_types::HUGEINT * n_types
        |      ELSE 0 END) AS q1_c,
        |    sum(CASE WHEN arm = 0 THEN n_types::HUGEINT * n_types
        |      ELSE 0 END) AS q0_c
        |  FROM u),
        |cells AS (
        |  SELECT 'n_events' AS covariate, n1, n0, s1_a AS s1, s0_a AS s0,
        |    q1_a AS q1, q0_a AS q0 FROM m
        |  UNION ALL
        |  SELECT 'n_types', n1, n0, s1_c, s0_c, q1_c, q0_c FROM m
        |  UNION ALL
        |  SELECT 'value_milli', n1, n0, s1_b, s0_b, q1_b, q0_b FROM m)
        |SELECT covariate, CAST(n1 AS BIGINT) AS n_treat,
        |  CAST(n0 AS BIGINT) AS n_control,
        |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_treat,
        |  CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_control,
        |  CASE WHEN
        |      CAST(n1::HUGEINT * q1 - s1::HUGEINT * s1 AS DOUBLE)
        |        / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
        |      + CAST(n0::HUGEINT * q0 - s0::HUGEINT * s0 AS DOUBLE)
        |        / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))
        |      > 0.0 THEN
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |    / sqrt((CAST(n1::HUGEINT * q1 - s1::HUGEINT * s1 AS DOUBLE)
        |        / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
        |      + CAST(n0::HUGEINT * q0 - s0::HUGEINT * s0 AS DOUBLE)
        |        / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0)))
        |      / 2.0) END AS smd
        |FROM cells ORDER BY covariate""".stripMargin)),

    // IPS off-policy evaluation: a deterministic sha-derived target
    // policy scored from the logged stream with empirical propensities —
    // per-arm matched rewards reweighted N/n_a in exact integers.
    Q("q395_ips_policy_eval",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val logs = ev(s, dir)
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .withColumn("target", element_at(
            typedlit(types),
            (conv(substring(sha2(concat_ws("#",
              col("user_id").cast("string"), lit("pi")), 256), 1, 8),
              16, 10).cast("long") % 5 + 1).cast("int")))
          .withColumn("reward_milli",
            coalesce(round(col("value") * 1000).cast("long"), lit(0L)))
        Analytics.ipsPolicyValue(logs, "event_type", "target",
            "reward_milli")
          .orderBy("action")
      },
      Some("""WITH logs AS (
        |  SELECT event_type AS action,
        |    ['click', 'error', 'purchase', 'signup', 'view'][
        |      CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)
        |        || '#pi'), 1, 8))::UBIGINT % 5 + 1 AS INT)] AS target,
        |    coalesce(CAST(round(value * 1000) AS BIGINT), 0) AS r
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |per_arm AS (
        |  SELECT action, count(*) AS n_logged,
        |    sum(CASE WHEN target = action THEN 1 ELSE 0 END)
        |      AS n_matched,
        |    sum(CASE WHEN target = action THEN r ELSE 0 END)
        |      AS r_matched
        |  FROM logs GROUP BY 1),
        |tot AS (SELECT sum(n_logged) AS n FROM per_arm)
        |SELECT action, CAST(n_logged AS BIGINT) AS n_logged,
        |  CAST(n_matched AS BIGINT) AS n_matched,
        |  CAST(r_matched AS BIGINT) AS r_matched,
        |  CAST((r_matched * n) // n_logged AS BIGINT)
        |    AS ips_contribution
        |FROM per_arm, tot ORDER BY action""".stripMargin)),

    // Difference-in-differences on the dense user-period activity
    // panel split at the corpus midpoint day: four exact cell sums,
    // pinned IEEE estimate.
    Q("q396_diff_in_diff",
      (s, dir) => Analytics.diffInDiff(ev(s, dir), "user_id", "ts",
        col("u") % 2 === 1),
      Some("""WITH b AS (
        |  SELECT user_id AS u,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |mid AS (SELECT (min(d) + max(d)) // 2 AS mid FROM b),
        |pu AS (
        |  SELECT u,
        |    sum(CASE WHEN d <= (SELECT mid FROM mid) THEN 1 ELSE 0 END)
        |      AS pre,
        |    sum(CASE WHEN d > (SELECT mid FROM mid) THEN 1 ELSE 0 END)
        |      AS post,
        |    CAST(u % 2 = 1 AS INT) AS t
        |  FROM b GROUP BY u),
        |c AS (
        |  SELECT
        |    sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n_treat,
        |    sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_control,
        |    sum(CASE WHEN t = 1 THEN pre ELSE 0 END) AS s_treat_pre,
        |    sum(CASE WHEN t = 1 THEN post ELSE 0 END) AS s_treat_post,
        |    sum(CASE WHEN t = 0 THEN pre ELSE 0 END) AS s_control_pre,
        |    sum(CASE WHEN t = 0 THEN post ELSE 0 END) AS s_control_post
        |  FROM pu)
        |SELECT CAST(n_treat AS BIGINT) AS n_treat,
        |  CAST(n_control AS BIGINT) AS n_control,
        |  CAST(s_treat_pre AS BIGINT) AS s_treat_pre,
        |  CAST(s_treat_post AS BIGINT) AS s_treat_post,
        |  CAST(s_control_pre AS BIGINT) AS s_control_pre,
        |  CAST(s_control_post AS BIGINT) AS s_control_post,
        |  (CAST(s_treat_post AS DOUBLE) / CAST(n_treat AS DOUBLE)
        |    - CAST(s_treat_pre AS DOUBLE) / CAST(n_treat AS DOUBLE))
        |  - (CAST(s_control_post AS DOUBLE) / CAST(n_control AS DOUBLE)
        |    - CAST(s_control_pre AS DOUBLE) / CAST(n_control AS DOUBLE))
        |    AS did
        |FROM c WHERE n_treat > 0 AND n_control > 0""".stripMargin)),

    // Minimum detectable effect at the actual arm sizes and pooled
    // purchase rate — the experiment-capability pre-flight.
    Q("q397_mde_power",
      (s, dir) => Analytics.mdePowerCheck(
        ev(s, dir).filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(max((col("event_type") === "purchase").cast("int"))
            .as("conv"))
          .withColumn("arm", (col("user_id") % 2).cast("int")),
        "arm", col("conv") === 1),
      Some("""WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv,
        |    CAST(user_id % 2 AS INT) AS arm
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |c AS (
        |  SELECT
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_treat,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_control,
        |    sum(conv) AS k_total, count(*) AS n_total
        |  FROM u)
        |SELECT CAST(n_treat AS BIGINT) AS n_treat,
        |  CAST(n_control AS BIGINT) AS n_control,
        |  CAST(k_total AS BIGINT) AS k_total,
        |  CAST((k_total * 1000) // n_total AS BIGINT)
        |    AS pooled_rate_permille,
        |  (1.96 + 0.84) * sqrt(2.0
        |    * (CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
        |    * (1.0 - CAST(k_total AS DOUBLE) / CAST(n_total AS DOUBLE))
        |    / CAST(least(n_treat, n_control) AS DOUBLE)) AS mde
        |FROM c WHERE n_treat > 0 AND n_control > 0""".stripMargin)),

    // Weekly group-sequential monitor with the OBF-shaped boundary
    // 1.96*sqrt(K/k): cumulative two-proportion z per look vs the
    // early-stopping bar.
    Q("q398_obf_monitor",
      (s, dir) => Analytics.obfSequentialMonitor(ev(s, dir), "user_id",
          "ts", col("event_type") === "purchase")
        .orderBy("look"),
      Some("""WITH b AS (
        |  SELECT CAST(user_id % 2 = 1 AS INT) AS t,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
        |      AS wk,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |w AS (
        |  SELECT wk,
        |    sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN t = 1 THEN c ELSE 0 END) AS c1,
        |    sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN t = 0 THEN c ELSE 0 END) AS c0
        |  FROM b GROUP BY 1),
        |cum AS (
        |  SELECT wk,
        |    row_number() OVER (ORDER BY wk) AS look,
        |    count(*) OVER () AS looks,
        |    sum(n1) OVER (ORDER BY wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn1,
        |    sum(c1) OVER (ORDER BY wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc1,
        |    sum(n0) OVER (ORDER BY wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn0,
        |    sum(c0) OVER (ORDER BY wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc0
        |  FROM w),
        |z AS (
        |  SELECT look, wk, cn1, cc1, cn0, cc0,
        |    (CAST(cc1 AS DOUBLE) / CAST(cn1 AS DOUBLE)
        |      - CAST(cc0 AS DOUBLE) / CAST(cn0 AS DOUBLE))
        |    / sqrt((CAST(cc1 + cc0 AS DOUBLE)
        |        / CAST(cn1 + cn0 AS DOUBLE))
        |      * (1.0 - CAST(cc1 + cc0 AS DOUBLE)
        |        / CAST(cn1 + cn0 AS DOUBLE))
        |      * (1.0 / CAST(cn1 AS DOUBLE)
        |        + 1.0 / CAST(cn0 AS DOUBLE))) AS z,
        |    1.96 * sqrt(CAST(looks AS DOUBLE) / CAST(look AS DOUBLE))
        |      AS obf_boundary
        |  FROM cum WHERE cn1 > 0 AND cn0 > 0)
        |SELECT CAST(look AS INT) AS look, CAST(wk AS BIGINT) AS wk,
        |  CAST(cn1 AS BIGINT) AS cn1, CAST(cc1 AS BIGINT) AS cc1,
        |  CAST(cn0 AS BIGINT) AS cn0, CAST(cc0 AS BIGINT) AS cc0,
        |  z, obf_boundary, abs(z) >= obf_boundary AS crossed
        |FROM z ORDER BY look""".stripMargin)),

    // Quantile treatment effects: per-arm exact rank quantiles of
    // user-level spend at p50/p90 and their integer differences.
    Q("q399_quantile_treatment_effect",
      (s, dir) => Analytics.quantileTreatmentEffect(
          ev(s, dir).filter(col("user_id").isNotNull)
            .groupBy("user_id")
            .agg(sum(coalesce(round(col("value") * 1000).cast("long"),
              lit(0L))).as("spend_milli"))
            .withColumn("arm", (col("user_id") % 2).cast("int")),
          "arm", "spend_milli", permilles = Seq(500, 900))
        .orderBy("p"),
      Some("""WITH u AS (
        |  SELECT user_id,
        |    sum(coalesce(CAST(round(value * 1000) AS BIGINT), 0)) AS v,
        |    CAST(user_id % 2 AS INT) AS t
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |counts AS (
        |  SELECT t, v, count(*) AS c FROM u GROUP BY 1, 2),
        |r AS (
        |  SELECT t, v,
        |    sum(c) OVER (PARTITION BY t ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY t) AS n
        |  FROM counts),
        |q AS (
        |  SELECT t, CAST(p AS INT) AS p, min(v) AS q, max(n) AS n
        |  FROM r, (SELECT unnest([500, 900]) AS p)
        |  WHERE cum >= (n * p + 999) // 1000
        |  GROUP BY 1, 2)
        |SELECT qt.p, CAST(qt.q AS BIGINT) AS q_treat,
        |  CAST(qt.n AS BIGINT) AS n_treat,
        |  CAST(qc.q AS BIGINT) AS q_control,
        |  CAST(qc.n AS BIGINT) AS n_control,
        |  CAST(qt.q - qc.q AS BIGINT) AS qte
        |FROM (SELECT * FROM q WHERE t = 1) qt
        |JOIN (SELECT * FROM q WHERE t = 0) qc ON qc.p = qt.p
        |ORDER BY qt.p""".stripMargin)),

    // TAR census over deterministic ustar fixtures: entry/type counts
    // and declared payload volume from the 512-byte header walk —
    // extraction pre-flight for the most hostile ingest doorstep.
    Q("q400_tar_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 9 === 0)
          .withColumn("payload", Multimodal.syntheticTarUdf(
            (lit(1) + col("doc_id") % 4).cast("int"),
            (lit(100) + col("doc_id") % 50).cast("int"),
            lit(37).cast("int"),
            col("doc_id") % 2 === 0))
        Multimodal.decodeTarHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("tar.n_entries").as("n_entries"),
            col("tar.n_files").as("n_files"),
            col("tar.n_dirs").as("n_dirs"),
            col("tar.total_size").as("total_size"),
            col("tar.max_size").as("max_size"),
            col("tar.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 4 AS BIGINT) AS nf,
        |    CAST(100 + doc_id % 50 AS BIGINT) AS base,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS d
        |  FROM documents WHERE doc_id % 9 = 0)
        |SELECT doc_id,
        |  CAST(nf + d AS INT) AS n_entries,
        |  CAST(nf AS INT) AS n_files,
        |  CAST(d AS INT) AS n_dirs,
        |  CAST(nf * base + 37 * nf * (nf - 1) // 2 AS BIGINT)
        |    AS total_size,
        |  CAST(base + (nf - 1) * 37 AS BIGINT) AS max_size,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // ZIP central-directory census over deterministic STORED fixtures:
    // entry count and exact compressed/uncompressed volumes without
    // inflating a byte.
    Q("q401_zip_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 11 === 0)
          .withColumn("payload", Multimodal.syntheticZipUdf(
            (lit(1) + col("doc_id") % 5).cast("int"),
            (lit(50) + col("doc_id") % 40).cast("int"),
            lit(13).cast("int")))
        Multimodal.decodeZipHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("zip.n_entries").as("n_entries"),
            col("zip.total_uncompressed").as("total_uncompressed"),
            col("zip.total_compressed").as("total_compressed"),
            col("zip.ratio_permille").as("ratio_permille"),
            col("zip.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS ne,
        |    CAST(50 + doc_id % 40 AS BIGINT) AS base
        |  FROM documents WHERE doc_id % 11 = 0),
        |v AS (
        |  SELECT doc_id, ne,
        |    ne * base + 13 * ne * (ne - 1) // 2 AS vol
        |  FROM p)
        |SELECT doc_id, CAST(ne AS INT) AS n_entries,
        |  CAST(vol AS BIGINT) AS total_uncompressed,
        |  CAST(vol AS BIGINT) AS total_compressed,
        |  CAST(1000 AS BIGINT) AS ratio_permille,
        |  FALSE AS truncated
        |FROM v ORDER BY doc_id""".stripMargin)),

    // GZIP member metadata over deterministic RFC 1952 fixtures: FNAME,
    // mtime, OS, declared ISIZE and the implied ratio — trailer-only,
    // nothing inflated.
    Q("q402_gzip_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 13 === 0)
          .withColumn("payload", Multimodal.syntheticGzipUdf(
            concat(lit("doc_"), col("doc_id").cast("string"),
              lit(".txt")),
            (lit(1600000000L) + col("doc_id")).cast("long"),
            (lit(20) + col("doc_id") % 30).cast("int"),
            (lit(1000L) + col("doc_id") % 500).cast("long")))
        Multimodal.decodeGzipHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("gzip.has_name").as("has_name"),
            col("gzip.name").as("name"),
            col("gzip.mtime").as("mtime"),
            col("gzip.os").as("os"),
            col("gzip.compressed_len").as("compressed_len"),
            col("gzip.isize").as("isize"),
            col("gzip.ratio_permille").as("ratio_permille"),
            col("gzip.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
        |    CAST(1600000000 + doc_id AS BIGINT) AS mtime,
        |    CAST(20 + doc_id % 30 AS BIGINT) AS dl,
        |    CAST(1000 + doc_id % 500 AS BIGINT) AS isize
        |  FROM documents WHERE doc_id % 13 = 0),
        |v AS (
        |  SELECT doc_id, name, mtime, dl, isize,
        |    10 + length(name) + 1 + dl + 8 AS clen
        |  FROM p)
        |SELECT doc_id, TRUE AS has_name, name, mtime,
        |  CAST(3 AS INT) AS os,
        |  CAST(clen AS BIGINT) AS compressed_len,
        |  CAST(isize AS BIGINT) AS isize,
        |  CAST(clen * 1000 // isize AS BIGINT) AS ratio_permille,
        |  FALSE AS truncated
        |FROM v ORDER BY doc_id""".stripMargin)),

    // Two-group log-rank test over the q315 user lifetimes (arm = user
    // parity): the hypergeometric O1/E1/V fold that answers "are these
    // two survival curves the same?" — the gate the KM and Nelson-Aalen
    // curves themselves can't provide.
    Q("q403_log_rank",
      (s, dir) => Analytics.logRankTest(ev(s, dir), "user_id", "ts",
        churnGapDays = 7, groupCol = col("user_id") % 2),
      Some("""WITH u AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS f,
        |    max(CAST(ts AS DATE)) AS l,
        |    min(CAST(user_id % 2 AS INT)) AS g
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |u2 AS (
        |  SELECT date_diff('day', f, l) AS duration,
        |    date_diff('day', l, (SELECT max(l) FROM u)) > 7 AS churned, g
        |  FROM u),
        |t AS (
        |  SELECT duration,
        |    count(*) FILTER (WHERE churned AND g = 1) AS d1,
        |    count(*) FILTER (WHERE churned) AS d,
        |    count(*) FILTER (WHERE g = 1) AS t1,
        |    count(*) AS t
        |  FROM u2 GROUP BY 1),
        |r AS (
        |  SELECT duration, d1, d,
        |    sum(t) OVER () - coalesce(sum(t) OVER (ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
        |    sum(t1) OVER () - coalesce(sum(t1) OVER (ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
        |  FROM t),
        |terms AS (
        |  SELECT d1,
        |    CAST(CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(38,18)) AS e1,
        |    CAST(CASE WHEN n > 1 THEN CAST(d AS DOUBLE)
        |        * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |      ELSE 0.0 END AS DECIMAL(38,18)) AS v
        |  FROM r WHERE d > 0),
        |agg AS (
        |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(CAST(sum(e1) AS VARCHAR) AS DOUBLE) AS e1,
        |    CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS v
        |  FROM terms)
        |SELECT o1, e1, v,
        |  CASE WHEN v > 0 THEN (CAST(o1 AS DOUBLE) - e1)
        |    * (CAST(o1 AS DOUBLE) - e1) / v END AS chi2
        |FROM agg""".stripMargin)),

    // G-test of independence on the same lang x source grid as the q283
    // chi-squared: the likelihood-ratio statistic whose per-cell
    // contributions sum exactly across any partition of the table —
    // the drill-down drift test.
    Q("q404_g_test",
      (s, dir) => StatTests.gTestIndependence(
        t(s, dir, "documents"), "lang", "source"),
      Some("""WITH obs AS (
        |  SELECT lang AS cat, source AS arm, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT c.cat, a.arm, coalesce(obs.o, 0) AS o
        |  FROM (SELECT DISTINCT cat FROM obs) c
        |  CROSS JOIN (SELECT DISTINCT arm FROM obs) a
        |  LEFT JOIN obs ON obs.cat = c.cat AND obs.arm = a.arm),
        |tot AS (
        |  SELECT cat, arm, o,
        |    sum(o) OVER (PARTITION BY cat) AS rt,
        |    sum(o) OVER (PARTITION BY arm) AS ct,
        |    sum(o) OVER () AS n
        |  FROM grid),
        |terms AS (
        |  SELECT cat, arm, n,
        |    CASE WHEN o > 0 THEN CAST(CAST(o AS DOUBLE)
        |        * ln(CAST(o AS DOUBLE) / (CAST(rt AS DOUBLE)
        |          * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)))
        |        AS DECIMAL(38,18))
        |      ELSE CAST(0 AS DECIMAL(38,18)) END AS contrib
        |  FROM tot)
        |SELECT 2.0 * CAST(CAST(sum(contrib) AS VARCHAR) AS DOUBLE) AS g,
        |  CAST((count(DISTINCT cat) - 1) * (count(DISTINCT arm) - 1)
        |    AS BIGINT) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM terms""".stripMargin)),

    // Cronbach's alpha over a 3-item per-document length battery
    // (total chars / non-space chars / non-'e' chars): exact integer
    // variance numerators, one final IEEE chain.
    Q("q405_cronbach_alpha",
      (s, dir) => StatTests.cronbachAlpha(
        t(s, dir, "documents").select(
          length(col("text")).cast("long").as("i_len"),
          length(expr("replace(text, ' ', '')")).cast("long")
            .as("i_nospace"),
          length(expr("replace(lower(text), 'e', '')")).cast("long")
            .as("i_noe")),
        Seq("i_len", "i_nospace", "i_noe")),
      Some("""WITH it AS (
        |  SELECT CAST(length(text) AS BIGINT) AS a,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS b,
        |    CAST(length(replace(lower(text), 'e', '')) AS BIGINT) AS c
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (
        |  SELECT count(*) AS n,
        |    sum(a) AS sa, sum(a * a) AS ssa,
        |    sum(b) AS sb, sum(b * b) AS ssb,
        |    sum(c) AS sc, sum(c * c) AS ssc,
        |    sum(a + b + c) AS st,
        |    sum((a + b + c) * (a + b + c)) AS sst
        |  FROM it)
        |SELECT CAST(n AS BIGINT) AS n, CAST(3 AS BIGINT) AS k,
        |  CAST(n * ssa - sa * sa + (n * ssb - sb * sb)
        |    + (n * ssc - sc * sc) AS BIGINT) AS item_var_num,
        |  CAST(n * sst - st * st AS BIGINT) AS total_var_num,
        |  CASE WHEN n * sst - st * st > 0 THEN
        |    (3.0 / 2.0) * (1.0
        |      - CAST(n * ssa - sa * sa + (n * ssb - sb * sb)
        |          + (n * ssc - sc * sc) AS DOUBLE)
        |        / CAST(n * sst - st * st AS DOUBLE)) END AS alpha
        |FROM s""".stripMargin)),

    // Friedman rank test: do the event types keep the same activity
    // ordering week over week? Blocks = weeks, treatments = event
    // types, metric = weekly count; exact doubled average ranks.
    Q("q406_friedman",
      (s, dir) => StatTests.friedmanTest(
        ev(s, dir)
          .filter(col("event_type").isNotNull && col("ts").isNotNull)
          .withColumn("wk",
            expr("datediff(to_date(ts), DATE '1970-01-01') div 7")),
        "wk", "event_type", count(lit(1))),
      Some("""WITH e AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    // 7 AS b, event_type AS t
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |cells AS (SELECT b, t, count(*) AS m FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT bb.b, tt.t, coalesce(cells.m, 0) AS m
        |  FROM (SELECT DISTINCT b FROM cells) bb
        |  CROSS JOIN (SELECT DISTINCT t FROM cells) tt
        |  LEFT JOIN cells ON cells.b = bb.b AND cells.t = tt.t),
        |ranked AS (
        |  SELECT t, 2 * rank() OVER (PARTITION BY b ORDER BY m)
        |    + count(*) OVER (PARTITION BY b, m) - 1 AS dr
        |  FROM grid),
        |pt AS (
        |  SELECT t, sum(dr) AS drsum, count(*) AS nb FROM ranked
        |  GROUP BY 1),
        |agg AS (
        |  SELECT sum(drsum * drsum) AS sum_dr2, max(nb) AS b,
        |    count(*) AS k
        |  FROM pt)
        |SELECT CAST(b AS BIGINT) AS b, CAST(k AS BIGINT) AS k,
        |  CAST(sum_dr2 AS BIGINT) AS sum_r2_x4,
        |  12.0 * (CAST(sum_dr2 AS DOUBLE) / 4.0)
        |    / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
        |      * CAST(k + 1 AS DOUBLE))
        |    - 3.0 * CAST(b AS DOUBLE) * CAST(k + 1 AS DOUBLE) AS chi2_f,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM agg""".stripMargin)),

    // Ljung-Box portmanteau Q over the q337 exact integer ACF: is there
    // ANY serial structure left in the per-type daily series?
    Q("q407_ljung_box",
      (s, dir) => Analytics.ljungBox(ev(s, dir), "event_type", "ts",
          maxLag = 7)
        .orderBy("grp"),
      Some("""WITH daily AS (
        |  SELECT event_type AS g,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d,
        |    count(*) AS y
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT g, unnest(generate_series(d0, d1)) AS d
        |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM daily
        |    GROUP BY 1)),
        |dense AS (
        |  SELECT grid.g, grid.d, coalesce(daily.y, 0) AS y
        |  FROM grid LEFT JOIN daily ON daily.g = grid.g
        |    AND daily.d = grid.d),
        |st AS (
        |  SELECT g, count(*) AS n_days, sum(y) AS s FROM dense
        |  GROUP BY 1),
        |den AS (
        |  SELECT dense.g,
        |    sum((n_days * y - s)::HUGEINT * (n_days * y - s)) AS den
        |  FROM dense JOIN st ON st.g = dense.g GROUP BY 1),
        |num AS (
        |  SELECT a.g, l.lag, max(st.n_days) AS n_days,
        |    sum((st.n_days * a.y - st.s)::HUGEINT
        |      * (st.n_days * b.y - st.s)) AS num
        |  FROM dense a
        |  JOIN (SELECT unnest(range(1, 8)) AS lag) l ON true
        |  JOIN dense b ON b.g = a.g AND b.d = a.d + l.lag
        |  JOIN st ON st.g = a.g
        |  GROUP BY 1, 2),
        |acf AS (
        |  SELECT num.g AS grp, lag, n_days,
        |    CAST(num AS BIGINT) AS acf_num, CAST(den AS BIGINT) AS acf_den
        |  FROM num JOIN den ON den.g = num.g),
        |terms AS (
        |  SELECT grp, n_days, acf_den,
        |    CASE WHEN acf_den > 0 AND n_days > lag THEN
        |      CAST(CAST(acf_num AS DOUBLE) / CAST(acf_den AS DOUBLE)
        |        * (CAST(acf_num AS DOUBLE) / CAST(acf_den AS DOUBLE))
        |        / CAST(n_days - lag AS DOUBLE) AS DECIMAL(38,18)) END
        |      AS term
        |  FROM acf)
        |SELECT grp, CAST(max(n_days) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS h,
        |  CASE WHEN max(CASE WHEN acf_den <= 0 THEN 1 ELSE 0 END) = 0
        |    THEN CAST(max(n_days) AS DOUBLE)
        |      * CAST(max(n_days) + 2 AS DOUBLE)
        |      * CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) END AS q_lb
        |FROM terms GROUP BY grp ORDER BY grp""".stripMargin)),

    // Average precision per query over two sha-ranked top-20 lists (the
    // q270 synthetic-ranking fixture): the PR-walk area under recall@k
    // and MRR — its mean over queries is MAP.
    Q("q408_map_eval",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents").select("doc_id")
        def rankFor(qid: String) = {
          val key = sha2(concat_ws("#", col("doc_id").cast("string"),
            lit(qid)), 256)
          docs.withColumn("__k", key)
            .orderBy(col("__k"), col("doc_id")).limit(20)
            .withColumn("rank",
              row_number().over(Window.orderBy(col("__k"), col("doc_id"))))
            .select(lit(qid).as("query_id"), col("doc_id"), col("rank"))
        }
        val ranking = rankFor("m1").unionByName(rankFor("m2"))
        val qrels = docs.filter(col("doc_id") % 5 === 0)
          .select(lit("m1").as("query_id"), col("doc_id"))
          .unionByName(docs.filter(col("doc_id") % 7 === 2)
            .select(lit("m2").as("query_id"), col("doc_id")))
        Retrieval.averagePrecisionAtK(ranking, qrels, "query_id",
          "doc_id", "rank", k = 20).orderBy("query_id")
      },
      Some("""WITH d AS (SELECT doc_id FROM documents),
        |r1 AS (
        |  SELECT 'm1' AS query_id, doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 'm1'),
        |    doc_id) AS rank
        |  FROM d QUALIFY rank <= 20),
        |r2 AS (
        |  SELECT 'm2' AS query_id, doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 'm2'),
        |    doc_id) AS rank
        |  FROM d QUALIFY rank <= 20),
        |rk AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |qr AS (
        |  SELECT 'm1' AS query_id, doc_id FROM documents
        |  WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'm2' AS query_id, doc_id FROM documents
        |  WHERE doc_id % 7 = 2),
        |nr AS (SELECT query_id, count(*) AS n_rel FROM qr GROUP BY 1),
        |h AS (
        |  SELECT rk.query_id, rk.rank, row_number() OVER (
        |    PARTITION BY rk.query_id ORDER BY rk.rank) AS hitno
        |  FROM rk JOIN qr ON qr.query_id = rk.query_id
        |    AND qr.doc_id = rk.doc_id),
        |ap AS (
        |  SELECT query_id, count(*) AS hits,
        |    sum(CAST(CAST(hitno AS DOUBLE) / CAST(rank AS DOUBLE)
        |      AS DECIMAL(38,18))) AS num
        |  FROM h GROUP BY 1)
        |SELECT nr.query_id, CAST(nr.n_rel AS BIGINT) AS n_rel,
        |  CAST(coalesce(ap.hits, 0) AS BIGINT) AS hits,
        |  coalesce(CAST(CAST(ap.num AS VARCHAR) AS DOUBLE), 0.0)
        |    / CAST(least(nr.n_rel, 20) AS DOUBLE) AS ap
        |FROM nr LEFT JOIN ap USING (query_id)
        |ORDER BY query_id""".stripMargin)),

    // Rank-biased overlap between two sha-ranked top-20 lists: the
    // top-weighted "how much do these retrievers agree?" number, exact
    // 2^-d weights (no pow drift).
    Q("q409_rbo",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents").select("doc_id")
        def rankFor(salt: String) = {
          val key = sha2(concat_ws("#", col("doc_id").cast("string"),
            lit(salt)), 256)
          docs.withColumn("__k", key)
            .orderBy(col("__k"), col("doc_id")).limit(20)
            .withColumn("rank",
              row_number().over(Window.orderBy(col("__k"), col("doc_id"))))
            .select(col("doc_id"), col("rank"))
        }
        Retrieval.rankBiasedOverlap(rankFor("s1"), rankFor("s2"),
          "doc_id", "rank", k = 20)
      },
      Some("""WITH d AS (SELECT doc_id FROM documents),
        |r1 AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 's1'),
        |    doc_id) AS ra
        |  FROM d QUALIFY ra <= 20),
        |r2 AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 's2'),
        |    doc_id) AS rb
        |  FROM d QUALIFY rb <= 20),
        |j AS (
        |  SELECT greatest(ra, rb) AS md FROM r1 JOIN r2 USING (doc_id)),
        |depths AS (SELECT unnest(generate_series(1, 20)) AS dep),
        |o AS (
        |  SELECT dep,
        |    (SELECT count(*) FROM j WHERE md <= dep) AS o
        |  FROM depths),
        |terms AS (
        |  SELECT dep, o,
        |    CAST(CAST(o AS DOUBLE) / CAST(dep AS DOUBLE)
        |      / CAST(1::BIGINT << dep AS DOUBLE) AS DECIMAL(38,18))
        |      AS term
        |  FROM o)
        |SELECT CAST(20 AS BIGINT) AS k,
        |  CAST(max(CASE WHEN dep = 20 THEN o END) AS BIGINT)
        |    AS overlap_at_k,
        |  CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS rbo
        |FROM terms""".stripMargin)),

    // Hosmer-Lemeshow calibration test over exact-rank deciles of an
    // integer permille score: the chi-square-style statistic under the
    // q302 reliability diagram and q318 ECE.
    Q("q410_hosmer_lemeshow",
      (s, dir) => StatTests.hosmerLemeshow(
        t(s, dir, "documents").select(
          least(lit(999L), greatest(lit(1L), col("n_chars") % 1000L))
            .as("score_permille"),
          lower(col("text")).like("% the %").cast("int").as("label")),
        "score_permille", col("label"), bins = 10),
      Some("""WITH s0 AS (
        |  SELECT least(999, greatest(1, n_chars % 1000)) AS v,
        |    CASE WHEN lower(text) LIKE '% the %' THEN 1 ELSE 0 END AS lab
        |  FROM documents),
        |counts AS (
        |  SELECT v, count(*) AS c, sum(lab) AS o FROM s0 GROUP BY 1),
        |cum AS (
        |  SELECT v, c, o,
        |    sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM counts),
        |b AS (SELECT (cum * 10 + n - 1) // n AS bin, c, o, v FROM cum),
        |g AS (
        |  SELECT bin, sum(c) AS ng, sum(o) AS og, sum(v * c) AS sp
        |  FROM b GROUP BY 1),
        |terms AS (
        |  SELECT ng, og, sp,
        |    sp <= 0 OR sp >= ng * 1000 AS degen,
        |    CASE WHEN NOT (sp <= 0 OR sp >= ng * 1000) THEN
        |      CAST((CAST(og AS DOUBLE) - CAST(sp AS DOUBLE) / 1000.0)
        |        * (CAST(og AS DOUBLE) - CAST(sp AS DOUBLE) / 1000.0)
        |        / (CAST(sp AS DOUBLE) / 1000.0
        |          * (1.0 - CAST(sp AS DOUBLE)
        |            / CAST(ng * 1000 AS DOUBLE)))
        |        AS DECIMAL(38,18)) END AS term
        |  FROM g)
        |SELECT CAST(sum(ng) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(CASE WHEN degen THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_degenerate,
        |  CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS hl,
        |  CAST(count(*) AS BIGINT)
        |    - CAST(sum(CASE WHEN degen THEN 1 ELSE 0 END) AS BIGINT)
        |    - 2 AS dof
        |FROM terms""".stripMargin)),

    // Fill-in-the-middle training examples: deterministic keyed-hash cut
    // points -> PSM-reassembled example per document; the oracle replays
    // cuts, spans, and the sha of the assembled example end to end.
    Q("q411_fim_examples",
      (s, dir) => Packing.fimExamples(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", seed = 9L, minChars = 8)
        .orderBy("doc_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L,
        |    CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)
        |      || '#' || '9' || '#' || 'a'), 1, 8))::UBIGINT
        |      % (length(text) - 1) AS BIGINT) AS ha,
        |    CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)
        |      || '#' || '9' || '#' || 'b'), 1, 8))::UBIGINT
        |      % (length(text) - 1) AS BIGINT) AS hb
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, text, L, least(ha, hb) AS lo,
        |    greatest(ha, hb) + 1 AS hi, L >= 8 AS elig
        |  FROM d)
        |SELECT doc_id,
        |  CASE WHEN elig THEN CAST(lo AS BIGINT) END AS lo,
        |  CASE WHEN elig THEN CAST(hi AS BIGINT) END AS hi,
        |  CASE WHEN elig THEN CAST(lo AS BIGINT) END AS prefix_len,
        |  CASE WHEN elig THEN CAST(hi - lo AS BIGINT) END AS middle_len,
        |  CASE WHEN elig THEN CAST(L - hi AS BIGINT) END AS suffix_len,
        |  CASE WHEN elig THEN sha256('<PRE>'
        |    || substring(text, 1, CAST(lo AS INT))
        |    || '<SUF>'
        |    || substring(text, CAST(hi + 1 AS INT), CAST(L - hi AS INT))
        |    || '<MID>'
        |    || substring(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT)))
        |    END AS fim_sha
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Per-domain cap sampling over synthesized URLs (the q253 fixture
    // convention): registered-domain buckets, keyed-sha survivor ranks,
    // cap 25 per domain — the crawl-curation host-balance guard.
    Q("q412_domain_cap_sample",
      (s, dir) => {
        val urls = t(s, dir, "documents").select("doc_id")
          .withColumn("url", concat(lit("https://www.site"),
            (col("doc_id") % 7).cast("string"),
            when(col("doc_id") % 2 === 0, lit(".com"))
              .otherwise(lit(".org")),
            lit("/item/"), col("doc_id").cast("string")))
        Packing.domainCapSample(urls, "doc_id", "url", cap = 25,
            seed = 11L)
          .orderBy("domain", "rnk")
      },
      Some("""WITH u AS (
        |  SELECT doc_id,
        |    'site' || CAST(doc_id % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END
        |      AS domain,
        |    sha256(CAST(doc_id AS VARCHAR) || '#' || '11') AS k
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY k, doc_id)
        |      AS rnk,
        |    count(*) OVER (PARTITION BY domain) AS n_domain
        |  FROM u)
        |SELECT doc_id, domain, CAST(n_domain AS BIGINT) AS n_domain,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 25 ORDER BY domain, rnk""".stripMargin)),

    // Parquet footer census over deterministic Thrift-compact fixtures:
    // version, schema/row-group/column counts, rows, declared bytes,
    // created_by — the manifest/planner metadata, FOOTER-ONLY (the
    // walker also parses real pyarrow files; spec-verified).
    Q("q413_parquet_footer_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 10 === 0)
          .withColumn("payload", Multimodal.syntheticParquetUdf(
            (lit(1) + col("doc_id") % 6).cast("int"),
            (lit(1) + col("doc_id") % 4).cast("int"),
            (lit(100) + col("doc_id") % 37).cast("long"),
            (lit(4096) + col("doc_id") % 512).cast("long"),
            lit(256L)))
        Multimodal.decodeParquetFooters(blobs, "payload")
          .select(col("doc_id"),
            col("pq.version").as("version"),
            col("pq.n_schema").as("n_schema"),
            col("pq.n_row_groups").as("n_row_groups"),
            col("pq.n_columns").as("n_columns"),
            col("pq.num_rows").as("num_rows"),
            col("pq.total_byte_size").as("total_byte_size"),
            col("pq.created_by").as("created_by"),
            col("pq.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 6 AS BIGINT) AS nc,
        |    CAST(1 + doc_id % 4 AS BIGINT) AS ng,
        |    CAST(100 + doc_id % 37 AS BIGINT) AS rp,
        |    CAST(4096 + doc_id % 512 AS BIGINT) AS base
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id, CAST(2 AS INT) AS version,
        |  CAST(nc + 1 AS INT) AS n_schema,
        |  CAST(ng AS INT) AS n_row_groups,
        |  CAST(nc AS INT) AS n_columns,
        |  CAST(ng * rp AS BIGINT) AS num_rows,
        |  CAST(ng * base + 256 * ng * (ng - 1) // 2 AS BIGINT)
        |    AS total_byte_size,
        |  'graft-synth 1.0' AS created_by,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // Common-neighbors link prediction on the q288 bipartite projection:
    // cn / Jaccard-permille / preferential-attachment, all exact
    // integers, top 50 non-adjacent pairs.
    Q("q414_link_prediction",
      (s, dir) => Graph.linkPredictionTopPairs(
          t(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
            .selectExpr("l_partkey * 2 AS src", "l_suppkey * 2 + 1 AS dst"),
          "src", "dst", topN = 50, maxDeg = 1024)
        .orderBy(col("cn").desc, col("u"), col("v")),
      Some("""WITH e0 AS (
        |  SELECT DISTINCT least(l_partkey * 2, l_suppkey * 2 + 1) AS a,
        |    greatest(l_partkey * 2, l_suppkey * 2 + 1) AS b
        |  FROM lineitem WHERE l_orderkey % 7 = 0),
        |sym AS (SELECT a AS w, b AS n FROM e0
        |  UNION ALL SELECT b AS w, a AS n FROM e0),
        |dg AS (SELECT w, count(*) AS dg FROM sym GROUP BY w),
        |wed AS (
        |  SELECT s1.n AS u, s2.n AS v
        |  FROM sym s1 JOIN sym s2 ON s1.w = s2.w AND s1.n < s2.n
        |  JOIN dg ON dg.w = s1.w AND dg.dg BETWEEN 2 AND 1024),
        |cnt AS (SELECT u, v, count(*) AS cn FROM wed GROUP BY 1, 2),
        |na AS (
        |  SELECT cnt.u, cnt.v, cnt.cn FROM cnt
        |  LEFT JOIN e0 ON e0.a = cnt.u AND e0.b = cnt.v
        |  WHERE e0.a IS NULL
        |  ORDER BY cn DESC, u, v LIMIT 50)
        |SELECT na.u, na.v, na.cn,
        |  CAST(du.dg AS BIGINT) AS deg_u, CAST(dv.dg AS BIGINT) AS deg_v,
        |  CAST((na.cn * 1000) // (du.dg + dv.dg - na.cn) AS BIGINT)
        |    AS jaccard_permille,
        |  CAST(du.dg * dv.dg AS BIGINT) AS pref_attach
        |FROM na JOIN dg du ON du.w = na.u JOIN dg dv ON dv.w = na.v
        |ORDER BY na.cn DESC, na.u, na.v""".stripMargin)),

    // Simplified (centroid-form) silhouette of the 8-way seeded-centroid
    // assignment over the embeddings: per-cluster mean of
    // (b-a)/max(a,b) — the cluster-quality gate under SemDeDup/IVF
    // partitioning, O(n*k) not O(n^2). The oracle replays quantization,
    // assignment, both sqrt distances, and the decimal fold.
    Q("q415_silhouette",
      (s, dir) => Clustering.simplifiedSilhouette(
          t(s, dir, "embeddings"), "vec_id", "embedding", nClusters = 8)
        .orderBy("cluster"),
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (
        |  SELECT vec_id, list_transform(ve,
        |    x -> CAST(floor(x * 1024) + 1048576 AS BIGINT)) AS qv
        |  FROM v),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cidx, qv AS cv
        |  FROM qv ORDER BY vec_id LIMIT 8),
        |d AS (
        |  SELECT q.vec_id, c.cidx,
        |    CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
        |  FROM qv q, c0 c),
        |r AS (
        |  SELECT vec_id, cidx, d2, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d2, cidx) AS rn
        |  FROM d),
        |ab AS (
        |  SELECT a.vec_id, a.cidx AS cluster,
        |    sqrt(CAST(a.d2 AS DOUBLE)) AS da,
        |    sqrt(CAST(b.d2 AS DOUBLE)) AS db
        |  FROM (SELECT * FROM r WHERE rn = 1) a
        |  JOIN (SELECT * FROM r WHERE rn = 2) b USING (vec_id)),
        |s AS (
        |  SELECT cluster,
        |    CAST(CASE WHEN greatest(da, db) > 0
        |      THEN (db - da) / greatest(da, db)
        |      ELSE 0.0 END AS DECIMAL(38,18)) AS sil
        |  FROM ab)
        |SELECT CAST(cluster AS INT) AS cluster,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(sil) AS VARCHAR) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS mean_sil
        |FROM s GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // Right-to-be-forgotten INTO the persisted ANN index: build + append
    // (the q243 lifecycle), then a DV-mode versioned DELETE of every
    // vec_id % 5 = 0 from the coded corpus — O(deleted rows), codebooks
    // frozen, no rebuild. The exact-mode query after the delete must
    // equal the from-scratch oracle over the surviving vectors.
    Q("q416_ann_index_delete",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "ann_del")
        TableIO.dropTable(s, lh, "ann_del_codebooks")
        val emb = t(s, dir, "embeddings")
        AnnIndex.buildPqIndex(s, lh, "ann_del",
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
        AnnIndex.appendPqIndex(s, lh, "ann_del",
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
        AnnIndex.deletePqIndex(s, lh, "ann_del", "vec_id % 5 = 0",
          deletionVectors = true)
        AnnIndex.queryPqIndex(s, lh, "ann_del",
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          k = 10, reRank = 1000000)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v
        |  WHERE vec_id < 4),
        |surv AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
        |s AS (
        |  SELECT q.query_id, surv.vec_id,
        |    list_sum(list_transform(list_zip(surv.ve, q.qv),
        |      p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(surv.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM surv, q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
        |  round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // Bradley-Terry preference scores over a deterministic pairwise
    // comparison log (consecutive docs, different sources, longer text
    // wins): 2 fixed-point MM rounds, all integer — the oracle unrolls
    // both rounds over the pair matrix.
    Q("q417_bradley_terry",
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "source", "n_chars")
        val g = d.alias("x").join(d.alias("y"),
            col("y.doc_id") === col("x.doc_id") + 1)
          .filter(col("x.source") =!= col("y.source") &&
            col("x.n_chars") =!= col("y.n_chars"))
          .select(
            when(col("x.n_chars") > col("y.n_chars"), col("x.source"))
              .otherwise(col("y.source")).as("winner"),
            when(col("x.n_chars") > col("y.n_chars"), col("y.source"))
              .otherwise(col("x.source")).as("loser"))
        Retrieval.bradleyTerryScores(g, "winner", "loser", iterations = 2)
          .orderBy("player")
      },
      Some("""WITH x AS (SELECT doc_id, source, n_chars FROM documents),
        |g AS (
        |  SELECT CASE WHEN x.n_chars > y.n_chars THEN x.source
        |      ELSE y.source END AS winner,
        |    CASE WHEN x.n_chars > y.n_chars THEN y.source
        |      ELSE x.source END AS loser
        |  FROM x JOIN x y ON y.doc_id = x.doc_id + 1
        |  WHERE x.source <> y.source AND x.n_chars <> y.n_chars),
        |pp AS (
        |  SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
        |    count(*) AS n,
        |    count(*) FILTER (WHERE winner < loser) AS wa
        |  FROM g GROUP BY 1, 2),
        |edges AS (
        |  SELECT a AS i, b AS j, n FROM pp
        |  UNION ALL SELECT b AS i, a AS j, n FROM pp),
        |per AS (SELECT e.i AS p, sum(e.n) AS games FROM edges e
        |  GROUP BY 1),
        |winsrc AS (
        |  SELECT a AS p, wa AS w FROM pp
        |  UNION ALL SELECT b AS p, n - wa AS w FROM pp),
        |pw AS (
        |  SELECT per.p, per.games, sum(w) AS wins
        |  FROM per JOIN winsrc ON winsrc.p = per.p GROUP BY 1, 2),
        |kc AS (SELECT count(*) AS k FROM pw),
        |s0 AS (SELECT p, CAST(1000000 AS BIGINT) AS s FROM pw),
        |d1 AS (
        |  SELECT e.i AS p,
        |    sum((e.n * 1000000000000) // (si.s + sj.s)) AS den
        |  FROM edges e JOIN s0 si ON si.p = e.i
        |  JOIN s0 sj ON sj.p = e.j
        |  WHERE si.s + sj.s > 0 GROUP BY 1),
        |r1 AS (
        |  SELECT pw.p, CASE WHEN den > 0
        |    THEN (pw.wins * 1000000000000) // den ELSE 0 END AS sr
        |  FROM pw LEFT JOIN d1 ON d1.p = pw.p),
        |t1 AS (SELECT sum(sr) AS t FROM r1),
        |s1 AS (
        |  SELECT p, CASE WHEN t > 0
        |    THEN (sr * (k * 1000000)) // t ELSE 0 END AS s
        |  FROM r1, t1, kc),
        |d2 AS (
        |  SELECT e.i AS p,
        |    sum((e.n * 1000000000000) // (si.s + sj.s)) AS den
        |  FROM edges e JOIN s1 si ON si.p = e.i
        |  JOIN s1 sj ON sj.p = e.j
        |  WHERE si.s + sj.s > 0 GROUP BY 1),
        |r2 AS (
        |  SELECT pw.p, CASE WHEN den > 0
        |    THEN (pw.wins * 1000000000000) // den ELSE 0 END AS sr
        |  FROM pw LEFT JOIN d2 ON d2.p = pw.p),
        |t2 AS (SELECT sum(sr) AS t FROM r2),
        |s2 AS (
        |  SELECT p, CASE WHEN t > 0
        |    THEN (sr * (k * 1000000)) // t ELSE 0 END AS s
        |  FROM r2, t2, kc)
        |SELECT pw.p AS player, CAST(pw.games AS BIGINT) AS games,
        |  CAST(pw.wins AS BIGINT) AS wins,
        |  CAST(s2.s AS BIGINT) AS bt_score
        |FROM pw JOIN s2 ON s2.p = pw.p ORDER BY player""".stripMargin)),

    // Split-conformal coverage: keyed-sha parity split, per-source
    // integer-mean fit, exact rank q-hat at ceil((n+1)*0.9), eval-half
    // empirical coverage vs the nominal 900 permille.
    Q("q418_conformal_coverage",
      (s, dir) => StatTests.splitConformalCoverage(
        t(s, dir, "documents").select("doc_id", "n_chars", "source"),
        "doc_id", "n_chars", "source", alphaPermille = 100, seed = 21L),
      Some("""WITH b AS (
        |  SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
        |    ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)
        |      || '#' || '21'), 1, 8))::UBIGINT % 2 = 0 AS cal
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND source IS NOT NULL
        |    AND doc_id IS NOT NULL),
        |fit AS (
        |  SELECT g, sum(v) // count(*) AS fit FROM b WHERE cal
        |  GROUP BY 1),
        |sc AS (SELECT b.cal, abs(b.v - fit.fit) AS s
        |  FROM b JOIN fit USING (g)),
        |cc AS (SELECT s, count(*) AS c FROM sc WHERE cal GROUP BY 1),
        |cum AS (
        |  SELECT s, sum(c) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM cc),
        |qh AS (SELECT min(s) AS q_hat FROM cum
        |  WHERE cum >= ((n + 1) * 900 + 999) // 1000),
        |cn AS (SELECT count(*) AS n_cal FROM sc WHERE cal),
        |cov AS (
        |  SELECT (SELECT n_cal FROM cn) AS n_cal, count(*) AS n_eval,
        |    (SELECT q_hat FROM qh) AS q_hat,
        |    sum(CASE WHEN (SELECT q_hat FROM qh) IS NULL
        |      OR s <= (SELECT q_hat FROM qh) THEN 1 ELSE 0 END)
        |      AS covered
        |  FROM sc WHERE NOT cal)
        |SELECT CAST(coalesce(n_cal, 0) AS BIGINT) AS n_cal,
        |  CAST(n_eval AS BIGINT) AS n_eval,
        |  CAST(q_hat AS BIGINT) AS q_hat,
        |  CAST(CASE WHEN n_eval > 0 THEN (covered * 1000) // n_eval END
        |    AS BIGINT) AS coverage_permille,
        |  CAST(900 AS BIGINT) AS target_permille
        |FROM cov""".stripMargin)),

    // Expected reciprocal rank @10 (cascade model) over the q270
    // synthetic rankings with graded qrels: exact integer cascade
    // prefixes, one IEEE division per rank, decimal fold — completes
    // the recall/MRR/nDCG/MAP/RBO retrieval-metric family.
    Q("q419_err_eval",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents").select("doc_id")
        def rankFor(qid: String) = {
          val key = sha2(concat_ws("#", col("doc_id").cast("string"),
            lit(qid)), 256)
          docs.withColumn("__k", key)
            .orderBy(col("__k"), col("doc_id")).limit(10)
            .withColumn("rank",
              row_number().over(Window.orderBy(col("__k"), col("doc_id"))))
            .select(lit(qid).as("query_id"), col("doc_id"), col("rank"))
        }
        val ranking = rankFor("m1").unionByName(rankFor("m2"))
        val qrels = docs.filter(col("doc_id") % 5 === 0)
          .select(lit("m1").as("query_id"), col("doc_id"),
            (col("doc_id") % 3 + 1).cast("long").as("grade"))
          .unionByName(docs.filter(col("doc_id") % 7 === 2)
            .select(lit("m2").as("query_id"), col("doc_id"),
              (col("doc_id") % 4).cast("long").as("grade")))
        Retrieval.errAtK(ranking, qrels, "query_id", "doc_id", "rank",
          "grade", k = 10, gmax = 3).orderBy("query_id")
      },
      Some("""WITH d AS (SELECT doc_id FROM documents),
        |r1 AS (
        |  SELECT 'm1' AS query_id, doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 'm1'),
        |    doc_id) AS rank
        |  FROM d QUALIFY rank <= 10),
        |r2 AS (
        |  SELECT 'm2' AS query_id, doc_id, row_number() OVER (
        |    ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || 'm2'),
        |    doc_id) AS rank
        |  FROM d QUALIFY rank <= 10),
        |rk AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |qr AS (
        |  SELECT 'm1' AS query_id, doc_id,
        |    CAST(doc_id % 3 + 1 AS BIGINT) AS g
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'm2' AS query_id, doc_id, CAST(doc_id % 4 AS BIGINT)
        |  FROM documents WHERE doc_id % 7 = 2),
        |j AS (
        |  SELECT rk.query_id, rk.rank, coalesce(qr.g, 0) AS g
        |  FROM rk LEFT JOIN qr ON qr.query_id = rk.query_id
        |    AND qr.doc_id = rk.doc_id),
        |pre AS (
        |  SELECT query_id, rank, g,
        |    CAST(coalesce(product(9 - (1::BIGINT << g)) OVER (
        |      PARTITION BY query_id ORDER BY rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1.0)
        |      AS BIGINT) AS carry
        |  FROM j),
        |terms AS (
        |  SELECT query_id, g,
        |    CAST(CAST(((1::BIGINT << g) - 1) * carry AS DOUBLE)
        |      / CAST(rank * (1::BIGINT << CAST(rank * 3 AS INT))
        |        AS DOUBLE) AS DECIMAL(38,18)) AS term
        |  FROM pre)
        |SELECT query_id,
        |  CAST(sum(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_graded,
        |  CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS err
        |FROM terms GROUP BY query_id ORDER BY query_id""".stripMargin)),

    // Generated-column pruning (the Delta optimization): the table is
    // band-clustered on a GENERATED floor-division column, the condition
    // mentions only the BASE price column, and the scan still skips
    // files via the derived band range (file-prune asserted in
    // DataSkippingSpec; results exact by residual construction).
    Q("q420_generated_pruning",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "orders_genp")
        val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .withColumn("price_band",
            floor(col("o_totalprice") / lit(50000.0)).cast("long"))
        TableIO.writeTable(s, lh, "orders_genp", o,
          sortBy = Seq("price_band"))
        TableIO.setGeneratedColumn(s, lh, "orders_genp", "price_band",
          "CAST(floor(o_totalprice / 50000.0) AS LONG)")
        TableIO.readTable(s, lh, "orders_genp",
            columns = Seq("o_orderkey", "o_totalprice", "price_band"),
            condition =
              "o_totalprice >= 150000.0 AND o_totalprice < 300000.0")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
        |  CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS price_band
        |FROM orders
        |WHERE o_totalprice >= 150000.0 AND o_totalprice < 300000.0
        |ORDER BY o_orderkey""".stripMargin)),

    // Plan linting as an operator: the suite's scale foot-gun checks
    // (cartesian product, unpartitioned window over unbounded input,
    // global sort without a limit) run as a pre-flight gate over four
    // registry queries. Three lint clean; q29's harness-determinism
    // output sort over the windowed dedup is a TRUE POSITIVE the linter
    // must catch (a corpus-wide sort at 100 TB — the verify harness
    // tolerates it at fixture scale, a production pipeline should not).
    // Nothing executes; the oracle is the contract.
    Q("q421_plan_lint",
      (s, dir) => {
        val names = Seq("q1_pricing_summary", "q29_dedup_exact",
          "q164_tpch_q3", "q36_events_tumbling")
        PlanLint.report(s,
            names.map(n => n -> SparkEntry.queries(n)(s, dir)))
          .orderBy("query")
      },
      Some("""SELECT * FROM (VALUES
        |  ('q1_pricing_summary', CAST(0 AS BIGINT), ''),
        |  ('q164_tpch_q3', CAST(0 AS BIGINT), ''),
        |  ('q29_dedup_exact', CAST(1 AS BIGINT), 'global-sort-unbounded'),
        |  ('q36_events_tumbling', CAST(0 AS BIGINT), ''))
        |  AS t(query, n_violations, rules)
        |ORDER BY query""".stripMargin)),

    // Rolling 7-day distinct-user sketch: per window-end day, the HLL
    // register table of the trailing week's union — register MAX is HLL
    // union, so the merged state IS the rolling-distinct operator (one
    // daily aggregation + an in-row day fan-out; raw events never
    // re-scan per window).
    Q("q422_rolling_hll",
      (s, dir) => Sketches.rollingHllRegisters(ev(s, dir), "user_id",
          "ts", windowDays = 7, m = 64)
        .orderBy("day", "bucket"),
      Some("""WITH k AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS d,
        |    CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)),
        |      1, 15))::UBIGINT AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |daily AS (
        |  SELECT d, CAST(h // 18014398509481984 AS INT) AS bucket,
        |    max(CASE WHEN h % 18014398509481984 = 0 THEN 55
        |      ELSE 55 - length(bin(h % 18014398509481984)) END) AS r
        |  FROM k GROUP BY 1, 2),
        |mx AS (SELECT max(d) AS mxd FROM daily),
        |fan AS (
        |  SELECT d + i AS day, bucket, r
        |  FROM daily, (SELECT unnest(range(0, 7)) AS i)
        |  WHERE d + i <= (SELECT mxd FROM mx))
        |SELECT CAST(day AS BIGINT) AS day, bucket,
        |  CAST(max(r) AS INT) AS r
        |FROM fan GROUP BY 1, 2 ORDER BY day, bucket""".stripMargin)),

    // Group fairness audit of a deterministic toy classifier over the
    // documents: per-source selection rate (demographic parity) and
    // TPR/FPR (equalized odds), exact integer permilles, NULL where
    // undefined — the governance report beside k-anonymity and the PII
    // inventory.
    Q("q423_fairness_audit",
      (s, dir) => Privacy.fairnessAudit(
          t(s, dir, "documents"), "source",
          lower(col("text")).like("% the %"),
          col("n_chars") % 2 === 0)
        .orderBy("grp"),
      Some("""WITH b AS (
        |  SELECT source AS grp,
        |    CASE WHEN lower(text) LIKE '% the %' THEN 1 ELSE 0 END AS y,
        |    CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 0 END AS p
        |  FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |g AS (
        |  SELECT grp, count(*) AS n, sum(p) AS sel,
        |    sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS tp,
        |    sum(y) AS pos,
        |    sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS fp
        |  FROM b GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  CAST((sel * 1000) // n AS BIGINT) AS sel_permille,
        |  CAST(CASE WHEN pos > 0 THEN (tp * 1000) // pos END AS BIGINT)
        |    AS tpr_permille,
        |  CAST(CASE WHEN n - pos > 0 THEN (fp * 1000) // (n - pos) END
        |    AS BIGINT) AS fpr_permille
        |FROM g ORDER BY grp""".stripMargin)),

    // Cochran's Q over users x event types (did each user ever trigger
    // each type?): the k-treatment binary Friedman / McNemar
    // generalization, exact integers with one final division.
    Q("q424_cochran_q",
      (s, dir) => StatTests.cochranQ(
        ev(s, dir).filter(col("user_id").isNotNull &&
          col("event_type").isNotNull),
        "user_id", "event_type", lit(1)),
      Some("""WITH cells AS (
        |  SELECT user_id AS b, event_type AS t, 1 AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT bb.b, tt.t, coalesce(cells.x, 0) AS x
        |  FROM (SELECT DISTINCT b FROM cells) bb
        |  CROSS JOIN (SELECT DISTINCT t FROM cells) tt
        |  LEFT JOIN cells ON cells.b = bb.b AND cells.t = tt.t),
        |r AS (
        |  SELECT sum(ri * ri) AS sr2, count(*) AS b
        |  FROM (SELECT b, sum(x) AS ri FROM grid GROUP BY 1)),
        |c AS (
        |  SELECT sum(cj * cj) AS sc2, sum(cj) AS n, count(*) AS k
        |  FROM (SELECT t, sum(x) AS cj FROM grid GROUP BY 1))
        |SELECT CAST(b AS BIGINT) AS b, CAST(k AS BIGINT) AS k,
        |  CAST(n AS BIGINT) AS n_success,
        |  CASE WHEN k * n - sr2 > 0 THEN
        |    CAST((k - 1) * (k * sc2 - n * n) AS DOUBLE)
        |      / CAST(k * n - sr2 AS DOUBLE) END AS q,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM c, r""".stripMargin)),

    // PDF census over deterministic classic-xref fixtures: version,
    // page count (Root -> /Pages -> /Count via the xref offsets),
    // object count, encryption + linearization flags — the scraped-
    // corpus doorstep walk, decode-free (ISO 32000-1 trailer/xref).
    Q("q425_pdf_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 13 === 0)
          .withColumn("payload", Multimodal.syntheticPdfUdf(
            (lit(1) + col("doc_id") % 7).cast("int"),
            col("doc_id") % 3 === 0,
            col("doc_id") % 2 === 0))
        Multimodal.decodePdfHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("pdf.version_major").as("version_major"),
            col("pdf.version_minor").as("version_minor"),
            col("pdf.n_pages").as("n_pages"),
            col("pdf.n_objects").as("n_objects"),
            col("pdf.encrypted").as("encrypted"),
            col("pdf.linearized").as("linearized"),
            col("pdf.n_updates").as("n_updates"),
            col("pdf.xref_stream").as("xref_stream"),
            col("pdf.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 7 AS BIGINT) AS np,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS e,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS l
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT doc_id,
        |  CAST(1 AS INT) AS version_major,
        |  CAST(7 AS INT) AS version_minor,
        |  CAST(np AS INT) AS n_pages,
        |  CAST(np + 2 + e + l AS INT) AS n_objects,
        |  e = 1 AS encrypted,
        |  l = 1 AS linearized,
        |  CAST(0 AS INT) AS n_updates,
        |  FALSE AS xref_stream,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // OPQ ANN in the exact-rerank mode (the q169 contract): the LEARNED
    // orthogonal rotation (Ge '13 alternation, 2 rounds) really runs on
    // corpus + queries, then reRank >= corpus re-scores exact cosine —
    // rotation preserves dot products and norms, so the top-k SET and
    // the rounded cosines equal the unrotated exact answer the oracle
    // computes. Hash-compared RANK-FREE at 4dp: rotation preserves
    // cosine only up to ~1e-12 accumulated FP error, so the per-rank
    // 6dp compare would flip nondeterministically whenever a cosine
    // lands within that error of a rounding boundary or two candidates
    // near-tie at the cut — rank order itself is q169's (unrotated,
    // bit-exact) contract, and the recall-vs-plain-PQ improvement is
    // spec-asserted (SimilaritySpec) on a rotation-hostile fixture.
    Q("q426_ann_opq_exact",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.opqTopK(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 10, m = 8, codebookSize = 64,
          maxFitRows = 4000, reRank = 1000000, opqIterations = 2)
          .select(col("query_id"), col("vec_id"),
            round(col("cosine"), 4).as("cosine"))
          .orderBy("query_id", "vec_id")
      },
      Some("""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 4),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    list_sum(list_transform(list_zip(v.ve, q.qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(v.ve, x -> x * x))) *
        |     sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
        |  FROM v, q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank,
        |    cosine
        |  FROM s)
        |SELECT query_id, vec_id, round(cosine, 4) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY query_id, vec_id""".stripMargin)),

    // EXACT duplicate-substring census (Lee et al. '22's primitive) via
    // distributed suffix-rank doubling — log(L) join rounds of O(corpus)
    // longs, never corpus x L substring bytes. Fixture plants a shared
    // 59-char prefix on every 7th doc so cross-doc spans exist by
    // construction; the oracle replays by brute-force substring grouping
    // (exact is exact — both sides enumerate identical groups). L = 40
    // is deliberately NOT a power of two: the composite
    // (rank_32(i), rank_32(i+8)) sparse-table key runs.
    Q("q427_duplicate_span_census",
      (s, dir) => {
        val fixture = t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull &&
            col("doc_id") % 3 === 0)
          .select(col("doc_id"), when(col("doc_id") % 7 === 0,
              concat(lit("GRAFT PLANTED OVERLAP SPAN THE QUICK BROWN " +
                "FOX 0123456789 "), substring(col("text"), 1, 140)))
            .otherwise(substring(col("text"), 1, 200)).as("text"))
        SuffixDedup.duplicateSpanCensus(fixture, "doc_id", "text",
            spanLen = 40)
          .orderBy("span_sha", "rep_doc", "rep_pos")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      'GRAFT PLANTED OVERLAP SPAN THE QUICK BROWN FOX 0123456789 '
        |        || substr(text, 1, 140)
        |    ELSE substr(text, 1, 200) END AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 3 = 0),
        |e AS (SELECT doc_id, t FROM d WHERE length(t) >= 40),
        |p AS (SELECT doc_id, t,
        |    unnest(range(length(t) - 40 + 1)) AS pos FROM e),
        |s AS (SELECT doc_id, pos, substr(t, pos + 1, 40) AS sp FROM p),
        |g AS (
        |  SELECT sp, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs,
        |    min(doc_id * 2097152 + pos) AS rep_pid
        |  FROM s GROUP BY sp HAVING count(*) >= 2)
        |SELECT substring(sha256(sp), 1, 16) AS span_sha,
        |  CAST(n_occurrences AS BIGINT) AS n_occurrences,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(rep_pid // 2097152 AS BIGINT) AS rep_doc,
        |  CAST(rep_pid % 2097152 AS BIGINT) AS rep_pos
        |FROM g ORDER BY span_sha, rep_doc, rep_pos""".stripMargin)),

    // ExactSubstr REMOVAL (Lee et al. '22): every char covered by any
    // corpus-duplicated 40-window is spliced out; overlapping windows
    // merge to maximal per-doc intervals (running-max-end window,
    // partitioned BY DOC). Same planted fixture as q427; the oracle
    // replays coverage + splice by brute force — cleaned text compares
    // via sha, never shipped whole.
    Q("q428_remove_duplicate_spans",
      (s, dir) => {
        val fixture = t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull &&
            col("doc_id") % 3 === 0)
          .select(col("doc_id"), when(col("doc_id") % 7 === 0,
              concat(lit("GRAFT PLANTED OVERLAP SPAN THE QUICK BROWN " +
                "FOX 0123456789 "), substring(col("text"), 1, 140)))
            .otherwise(substring(col("text"), 1, 200)).as("text"))
        SuffixDedup.removeDuplicateSpans(fixture, "doc_id", "text",
            spanLen = 40)
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      'GRAFT PLANTED OVERLAP SPAN THE QUICK BROWN FOX 0123456789 '
        |        || substr(text, 1, 140)
        |    ELSE substr(text, 1, 200) END AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 3 = 0),
        |e AS (SELECT doc_id, t FROM d WHERE length(t) >= 40),
        |p AS (SELECT doc_id, t,
        |    unnest(range(length(t) - 40 + 1)) AS pos FROM e),
        |sp AS (SELECT doc_id, pos, substr(t, pos + 1, 40) AS s FROM p),
        |dup AS (
        |  SELECT doc_id, pos FROM sp
        |  WHERE s IN (SELECT s FROM sp GROUP BY s HAVING count(*) >= 2)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS b
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, pos, sum(b) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk),
        |iv AS (
        |  SELECT doc_id, island, min(pos) AS s, max(pos) + 40 AS e
        |  FROM isl GROUP BY 1, 2),
        |cov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_chars_removed
        |  FROM iv GROUP BY 1),
        |ch AS (SELECT doc_id, t, unnest(range(length(t))) AS cpos FROM e),
        |keep AS (
        |  SELECT c.doc_id, c.cpos, substr(c.t, CAST(c.cpos + 1 AS INT), 1)
        |      AS ch
        |  FROM ch c
        |  WHERE NOT EXISTS (SELECT 1 FROM iv
        |    WHERE iv.doc_id = c.doc_id
        |      AND c.cpos >= iv.s AND c.cpos < iv.e)),
        |cl AS (
        |  SELECT doc_id, string_agg(ch, '' ORDER BY cpos) AS cleaned
        |  FROM keep GROUP BY doc_id),
        |fin AS (
        |  SELECT d.doc_id,
        |    coalesce(cov.n_spans, 0) AS n_spans,
        |    coalesce(cov.n_chars_removed, 0) AS n_chars_removed,
        |    CASE WHEN cov.doc_id IS NULL THEN d.t
        |         ELSE coalesce(cl.cleaned, '') END AS cleaned
        |  FROM d
        |  LEFT JOIN cov ON cov.doc_id = d.doc_id
        |  LEFT JOIN cl ON cl.doc_id = d.doc_id)
        |SELECT doc_id, n_spans, n_chars_removed,
        |  CAST(length(cleaned) AS BIGINT) AS cleaned_len,
        |  substring(sha256(cleaned), 1, 16) AS cleaned_sha
        |FROM fin ORDER BY doc_id""".stripMargin)),

    // DEFLATE ratio per document (zlib level 9) — "compresses
    // suspiciously well" = repetitive/template text, an LZ-order
    // signal the order-0 char entropy can't see. The byte count is
    // zlib-implementation-specific, so this rides the rows-only check;
    // q60_char_entropy is its hash-matched portable twin (the q28/q75
    // pattern) and TextStatsSpec pins the kernel's invariants.
    Q("q429_deflate_ratio",
      (s, dir) => TextStats.deflateRatio(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .orderBy("id"),
      None),

    // Overlapping 200-char chunks every 64 chars (the retrieval/
    // embedding prep fan-out): pure in-row sequence explode, zero
    // shuffle; chunks identified downstream by sha, never shipped.
    Q("q430_chunk_documents",
      (s, dir) => Packing.chunkDocuments(
          t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
          "doc_id", "text", chunkLen = 200, stride = 64, minLen = 32)
        .orderBy("id", "chunk_id"),
      Some("""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND length(text) >= 32 AND doc_id % 4 = 0),
        |p AS (
        |  SELECT doc_id AS id, text,
        |    unnest(range(0, greatest(length(text) - 32, 0) + 1, 64))
        |      AS cs
        |  FROM d),
        |c AS (
        |  SELECT id, CAST(cs // 64 AS INT) AS chunk_id,
        |    CAST(cs AS BIGINT) AS chunk_start,
        |    substr(text, CAST(cs + 1 AS INT), 200) AS ch
        |  FROM p)
        |SELECT id, chunk_id, chunk_start,
        |  CAST(length(ch) AS BIGINT) AS chunk_len,
        |  substring(sha256(ch), 1, 16) AS chunk_sha
        |FROM c ORDER BY id, chunk_id""".stripMargin)),

    // Avro object-container census over deterministic OCF fixtures:
    // metadata map (schema sniff + codec), varint block headers walked
    // by declared size, sync markers checked — the most common
    // row-format landing zone, censused without a codec library.
    Q("q431_avro_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 17 === 0)
          .withColumn("payload", Multimodal.syntheticAvroUdf(
            (lit(1) + col("doc_id") % 4).cast("int"),
            (lit(10) + col("doc_id") % 25).cast("int"),
            lit(7).cast("int"),
            col("doc_id") % 2 === 0,
            concat(lit("r"), col("doc_id").cast("string"))))
        Multimodal.decodeAvroHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("avro.n_meta_entries").as("n_meta_entries"),
            col("avro.codec").as("codec"),
            col("avro.schema_type").as("schema_type"),
            col("avro.record_name").as("record_name"),
            col("avro.n_blocks").as("n_blocks"),
            col("avro.total_rows").as("total_rows"),
            col("avro.total_block_bytes").as("total_block_bytes"),
            col("avro.max_block_rows").as("max_block_rows"),
            col("avro.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 4 AS BIGINT) AS nb,
        |    CAST(10 + doc_id % 25 AS BIGINT) AS base
        |  FROM documents WHERE doc_id % 17 = 0),
        |v AS (
        |  SELECT doc_id, nb, base,
        |    nb * base + 7 * nb * (nb - 1) // 2 AS rows
        |  FROM p)
        |SELECT doc_id, CAST(2 AS INT) AS n_meta_entries,
        |  CASE WHEN doc_id % 2 = 0 THEN 'deflate' ELSE 'null' END
        |    AS codec,
        |  'record' AS schema_type,
        |  'r' || CAST(doc_id AS VARCHAR) AS record_name,
        |  CAST(nb AS INT) AS n_blocks,
        |  CAST(rows AS BIGINT) AS total_rows,
        |  CAST(rows * 3 AS BIGINT) AS total_block_bytes,
        |  CAST(base + (nb - 1) * 7 AS BIGINT) AS max_block_rows,
        |  FALSE AS truncated
        |FROM v ORDER BY doc_id""".stripMargin)),

    // DOCX census atop the ZIP central directory: kind sniff via
    // [Content_Types].xml + word/ parts, the document.xml content
    // volume, part/XML-part counts — the scraped-corpus office format
    // censused decode-free.
    Q("q432_docx_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 19 === 0)
          .withColumn("payload", Multimodal.syntheticDocxUdf(
            (col("doc_id") % 3).cast("int"),
            (lit(200) + col("doc_id") % 100).cast("int"),
            (lit(1500) + col("doc_id") % 700).cast("int")))
        Multimodal.decodeDocContainers(blobs, "payload")
          .select(col("doc_id"),
            col("doc.kind").as("kind"),
            col("doc.n_parts").as("n_parts"),
            col("doc.n_xml_parts").as("n_xml_parts"),
            col("doc.content_bytes").as("content_bytes"),
            col("doc.total_uncompressed").as("total_uncompressed"),
            col("doc.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 3 AS BIGINT) AS nm,
        |    CAST(200 + doc_id % 100 AS BIGINT) AS mb,
        |    CAST(1500 + doc_id % 700 AS BIGINT) AS db
        |  FROM documents WHERE doc_id % 19 = 0)
        |SELECT doc_id, 'docx' AS kind,
        |  CAST(4 + nm AS INT) AS n_parts,
        |  CAST(4 AS INT) AS n_xml_parts,
        |  CAST(db AS BIGINT) AS content_bytes,
        |  CAST(270 + db + nm * mb + 11 * nm * (nm - 1) // 2 AS BIGINT)
        |    AS total_uncompressed,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // EPUB census: the STORED mimetype read straight from the local
    // header (the OCF spec's stored-first contract), chapter XHTML
    // volume — completes the scraped-document family next to PDF/DOCX.
    Q("q433_epub_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 23 === 0)
          .withColumn("payload", Multimodal.syntheticEpubUdf(
            (lit(1) + col("doc_id") % 5).cast("int"),
            (lit(800) + col("doc_id") % 300).cast("int")))
        Multimodal.decodeDocContainers(blobs, "payload")
          .select(col("doc_id"),
            col("doc.kind").as("kind"),
            col("doc.n_parts").as("n_parts"),
            col("doc.n_xml_parts").as("n_xml_parts"),
            col("doc.content_bytes").as("content_bytes"),
            col("doc.total_uncompressed").as("total_uncompressed"),
            col("doc.mimetype").as("mimetype"),
            col("doc.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS nc,
        |    CAST(800 + doc_id % 300 AS BIGINT) AS cb
        |  FROM documents WHERE doc_id % 23 = 0),
        |v AS (
        |  SELECT doc_id, nc,
        |    nc * cb + 17 * nc * (nc - 1) // 2 AS chvol
        |  FROM p)
        |SELECT doc_id, 'epub' AS kind,
        |  CAST(3 + nc AS INT) AS n_parts,
        |  CAST(2 + nc AS INT) AS n_xml_parts,
        |  CAST(chvol AS BIGINT) AS content_bytes,
        |  CAST(290 + chvol AS BIGINT) AS total_uncompressed,
        |  'application/epub+zip' AS mimetype,
        |  FALSE AS truncated
        |FROM v ORDER BY doc_id""".stripMargin)),

    // PERSISTED BPE tokenizer model (index-once-query-many, the q280
    // LM-table contract): the word dictionary folds in TWO batches
    // (additive counts — any fold order equals the one-shot dict), the
    // merge table re-derives from the frozen dictionary, and encoding
    // reads persisted ranks. The hash check asserts persisted-and-
    // folded encode ≡ trained-from-scratch encode token-for-token,
    // plus the corpus-wide roundtrip invariant.
    Q("q435_bpe_persisted",
      (s, dir) => {
        val lh = rtLakehouse(s, dir)
        TableIO.dropTable(s, lh, "bpe_dict")
        TableIO.dropTable(s, lh, "bpe_merges")
        val docs = t(s, dir, "documents").select("doc_id", "text")
        Tokenizer.bpeTableUpdate(s, lh, "bpe",
          docs.filter(col("doc_id") % 2 === 0), "text", numMerges = 200)
        Tokenizer.bpeTableUpdate(s, lh, "bpe",
          docs.filter(col("doc_id") % 2 =!= 0), "text", numMerges = 200)
        val scratch = Tokenizer.learnBpeMerges(docs, "text",
          numMerges = 200)
        val enc = Tokenizer.withBpeTokens(
          Tokenizer.withPersistedBpeTokens(s, lh, "bpe", docs, "text",
            "p_toks"),
          "text", scratch, "s_toks")
        enc.select(col("doc_id"),
            (col("p_toks") === col("s_toks")).as("tokens_equal"),
            Tokenizer.roundtripOk(col("p_toks"), col("text"))
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, true AS tokens_equal, true AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // XLSX/PPTX census — the OOXML trio completed on the same named
    // central-directory walk: kind sniff via [Content_Types].xml +
    // xl// ppt/ parts, worksheet/slide XML volume. Mixed fixture kinds
    // in ONE frame prove the sniff discriminates per row.
    Q("q436_ooxml_container_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 29 === 0)
          .withColumn("payload",
            when(col("doc_id") % 58 === 0, Multimodal.syntheticXlsxUdf(
              (lit(1) + col("doc_id") % 4).cast("int"),
              (lit(300) + col("doc_id") % 120).cast("int")))
            .otherwise(Multimodal.syntheticPptxUdf(
              (lit(1) + col("doc_id") % 6).cast("int"),
              (lit(400) + col("doc_id") % 150).cast("int"))))
        Multimodal.decodeDocContainers(blobs, "payload")
          .select(col("doc_id"),
            col("doc.kind").as("kind"),
            col("doc.n_parts").as("n_parts"),
            col("doc.n_xml_parts").as("n_xml_parts"),
            col("doc.content_bytes").as("content_bytes"),
            col("doc.total_uncompressed").as("total_uncompressed"),
            col("doc.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    doc_id % 58 = 0 AS is_x,
        |    CAST(1 + doc_id % 4 AS BIGINT) AS ns,
        |    CAST(300 + doc_id % 120 AS BIGINT) AS sb,
        |    CAST(1 + doc_id % 6 AS BIGINT) AS nl,
        |    CAST(400 + doc_id % 150 AS BIGINT) AS lb
        |  FROM documents WHERE doc_id % 29 = 0),
        |v AS (
        |  SELECT doc_id, is_x,
        |    CASE WHEN is_x THEN ns ELSE nl END AS n,
        |    CASE WHEN is_x THEN ns * sb + 13 * ns * (ns - 1) // 2
        |         ELSE nl * lb + 19 * nl * (nl - 1) // 2 END AS cont,
        |    CASE WHEN is_x THEN 280 ELSE 230 END AS fixed,
        |    CASE WHEN is_x THEN 3 ELSE 2 END AS nfixed
        |  FROM p)
        |SELECT doc_id,
        |  CASE WHEN is_x THEN 'xlsx' ELSE 'pptx' END AS kind,
        |  CAST(nfixed + n AS INT) AS n_parts,
        |  CAST(nfixed + n AS INT) AS n_xml_parts,
        |  CAST(cont AS BIGINT) AS content_bytes,
        |  CAST(fixed + cont AS BIGINT) AS total_uncompressed,
        |  FALSE AS truncated
        |FROM v ORDER BY doc_id""".stripMargin)),

    // Aho–Corasick multi-pattern hit census: ONE O(len) pass per doc
    // reports every occurrence of every blocklist term (overlapping
    // included — the nested a ⊂ ta ⊂ table fixture exercises the
    // dictionary-suffix chain); the naive alternative is one scan per
    // pattern. The oracle replays per-position substring equality.
    Q("q437_multi_pattern_hits",
      (s, dir) => PatternScan.multiPatternHits(
          t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          "doc_id", "text",
          Seq("a", "hash", "merge", "row", "scan", "ta", "table"))
        .orderBy("doc_id", "pattern"),
      Some("""WITH pats AS (
        |  SELECT unnest(['a','hash','merge','row','scan','ta','table'])
        |    AS pattern),
        |d AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id IS NOT NULL
        |    AND text IS NOT NULL),
        |pj AS (
        |  SELECT doc_id, pattern, t FROM d CROSS JOIN pats
        |  WHERE length(t) >= length(pattern)),
        |pos AS (
        |  SELECT doc_id, pattern, t,
        |    unnest(range(length(t) - length(pattern) + 1)) AS i
        |  FROM pj),
        |hit AS (
        |  SELECT doc_id, pattern, count(*) AS n
        |  FROM pos
        |  WHERE substr(t, CAST(i + 1 AS INT), length(pattern)) = pattern
        |  GROUP BY 1, 2)
        |SELECT doc_id, pattern, CAST(n AS BIGINT) AS n_hits
        |FROM hit ORDER BY doc_id, pattern""".stripMargin)),

    // Blocklist scorecard: which terms actually fire, over how many
    // docs, how often — the pattern-list triage frame, bounded by the
    // pattern count whatever the corpus size.
    Q("q438_pattern_scorecard",
      (s, dir) => PatternScan.patternScorecard(
          t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          "doc_id", "text",
          Seq("a", "hash", "merge", "row", "scan", "ta", "table"))
        .orderBy("pattern"),
      Some("""WITH pats AS (
        |  SELECT unnest(['a','hash','merge','row','scan','ta','table'])
        |    AS pattern),
        |d AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id IS NOT NULL
        |    AND text IS NOT NULL),
        |pj AS (
        |  SELECT doc_id, pattern, t FROM d CROSS JOIN pats
        |  WHERE length(t) >= length(pattern)),
        |pos AS (
        |  SELECT doc_id, pattern, t,
        |    unnest(range(length(t) - length(pattern) + 1)) AS i
        |  FROM pj),
        |hit AS (
        |  SELECT doc_id, pattern, count(*) AS n
        |  FROM pos
        |  WHERE substr(t, CAST(i + 1 AS INT), length(pattern)) = pattern
        |  GROUP BY 1, 2)
        |SELECT pattern, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_hits
        |FROM hit GROUP BY pattern ORDER BY pattern""".stripMargin)),

    // Coverage-based pattern REDACTION (the PII/blocklist scrub):
    // every char covered by any pattern occurrence splices out —
    // interval semantics carry no leftmost/longest ambiguity, so the
    // oracle replays coverage + splice exactly (the q428 chassis with
    // automaton hits as the interval source).
    Q("q439_redact_patterns",
      (s, dir) => PatternScan.redactPatterns(
          t(s, dir, "documents").filter(col("doc_id") % 4 === 1),
          "doc_id", "text", Seq("batch", "hash", "merge", "table"))
        .orderBy("doc_id"),
      Some("""WITH pats AS (
        |  SELECT unnest(['batch','hash','merge','table']) AS pattern),
        |d AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 4 = 1 AND doc_id IS NOT NULL
        |    AND text IS NOT NULL),
        |pj AS (
        |  SELECT doc_id, pattern, t FROM d CROSS JOIN pats
        |  WHERE length(t) >= length(pattern)),
        |pos AS (
        |  SELECT doc_id, pattern, t,
        |    unnest(range(length(t) - length(pattern) + 1)) AS i
        |  FROM pj),
        |iv0 AS (
        |  SELECT doc_id, i AS s, i + length(pattern) AS e
        |  FROM pos
        |  WHERE substr(t, CAST(i + 1 AS INT), length(pattern)) = pattern),
        |brk AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (
        |        PARTITION BY doc_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS b
        |  FROM iv0),
        |isl AS (
        |  SELECT doc_id, s, e, sum(b) OVER (
        |      PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk),
        |iv AS (
        |  SELECT doc_id, island, min(s) AS s, max(e) AS e
        |  FROM isl GROUP BY 1, 2),
        |cov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_chars_removed
        |  FROM iv GROUP BY 1),
        |ch AS (SELECT doc_id, t, unnest(range(length(t))) AS cpos FROM d),
        |keep AS (
        |  SELECT c.doc_id, c.cpos, substr(c.t, CAST(c.cpos + 1 AS INT), 1)
        |      AS ch
        |  FROM ch c
        |  WHERE NOT EXISTS (SELECT 1 FROM iv
        |    WHERE iv.doc_id = c.doc_id
        |      AND c.cpos >= iv.s AND c.cpos < iv.e)),
        |cl AS (
        |  SELECT doc_id, string_agg(ch, '' ORDER BY cpos) AS red
        |  FROM keep GROUP BY doc_id),
        |fin AS (
        |  SELECT d.doc_id,
        |    coalesce(cov.n_spans, 0) AS n_spans,
        |    coalesce(cov.n_chars_removed, 0) AS n_chars_removed,
        |    CASE WHEN cov.doc_id IS NULL THEN d.t
        |         ELSE coalesce(cl.red, '') END AS red
        |  FROM d
        |  LEFT JOIN cov ON cov.doc_id = d.doc_id
        |  LEFT JOIN cl ON cl.doc_id = d.doc_id)
        |SELECT doc_id, n_spans, n_chars_removed,
        |  CAST(length(red) AS BIGINT) AS redacted_len,
        |  substring(sha256(red), 1, 16) AS redacted_sha
        |FROM fin ORDER BY doc_id""".stripMargin)),

    // Zstandard frame census over deterministic RFC 8878 fixtures:
    // frame/skippable walk, block census by type from the 3-byte block
    // headers, declared content sizes — the `.jsonl.zst` shard census
    // (the dominant shipping container for public LLM corpora),
    // decode-free. One map-side pass, no shuffle before the sort.
    Q("q440_zstd_frame_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 29 === 0)
          .withColumn("payload", Multimodal.syntheticZstdUdf(
            (lit(1) + col("doc_id") % 3).cast("int"),
            (lit(1) + col("doc_id") % 5).cast("int"),
            (lit(10) + col("doc_id") % 40).cast("int"),
            col("doc_id") % 2 === 0,
            col("doc_id") % 3 === 0))
        Multimodal.decodeZstdFrames(blobs, "payload")
          .select(col("doc_id"),
            col("zstd.n_frames").as("n_frames"),
            col("zstd.n_skippable").as("n_skippable"),
            col("zstd.skippable_bytes").as("skippable_bytes"),
            col("zstd.n_blocks").as("n_blocks"),
            col("zstd.n_compressed_blocks").as("n_compressed_blocks"),
            col("zstd.n_rle_blocks").as("n_rle_blocks"),
            col("zstd.content_size").as("content_size"),
            col("zstd.window_max").as("window_max"),
            col("zstd.has_checksum").as("has_checksum"),
            col("zstd.max_block_size").as("max_block_size"),
            col("zstd.total_payload_bytes").as("total_payload_bytes"),
            col("zstd.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS nf,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS nb,
        |    CAST(10 + doc_id % 40 AS BIGINT) AS base
        |  FROM documents WHERE doc_id % 29 = 0),
        |blk AS (
        |  SELECT doc_id, nf, nb, base, unnest(range(nb)) AS b FROM p),
        |agg AS (
        |  SELECT doc_id, nf, nb, base,
        |    sum(CASE WHEN b % 3 = 2 THEN 1 ELSE 0 END) AS rle_pf,
        |    sum(CASE WHEN b % 3 = 2 THEN 1 ELSE base + 7 * b END)
        |      AS payload_pf,
        |    max(CASE WHEN b % 3 = 2 THEN base ELSE base + 7 * b END)
        |      AS maxblk
        |  FROM blk GROUP BY 1, 2, 3, 4)
        |SELECT doc_id,
        |  CAST(nf AS INT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |    AS n_skippable,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 0 END AS BIGINT)
        |    AS skippable_bytes,
        |  CAST(nf * nb AS INT) AS n_blocks,
        |  CAST(nf * (nb - rle_pf) AS INT) AS n_compressed_blocks,
        |  CAST(nf * rle_pf AS INT) AS n_rle_blocks,
        |  CAST(1000 * nf + 31 * nf * (nf - 1) // 2 AS BIGINT)
        |    AS content_size,
        |  CAST(8192 AS BIGINT) AS window_max,
        |  doc_id % 2 = 0 AS has_checksum,
        |  CAST(maxblk AS BIGINT) AS max_block_size,
        |  CAST(nf * payload_pf AS BIGINT) AS total_payload_bytes,
        |  FALSE AS truncated
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // ORC footer/postscript census over deterministic protobuf
    // fixtures: stripe row/byte sums, type census, compression kind —
    // the remaining major columnar landing format next to parquet
    // (q413) and Avro (q431), censused from the tail without a codec.
    Q("q441_orc_footer_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 31 === 0)
          .withColumn("payload", Multimodal.syntheticOrcUdf(
            (lit(1) + col("doc_id") % 4).cast("int"),
            (lit(50) + col("doc_id") % 100).cast("int"),
            col("doc_id") % 2 === 0))
        Multimodal.decodeOrcFooters(blobs, "payload")
          .select(col("doc_id"),
            col("orc.compression").as("compression"),
            col("orc.compression_block_size")
              .as("compression_block_size"),
            col("orc.writer_version").as("writer_version"),
            col("orc.footer_parsed").as("footer_parsed"),
            col("orc.n_stripes").as("n_stripes"),
            col("orc.total_rows").as("total_rows"),
            col("orc.stripe_rows").as("stripe_rows"),
            col("orc.max_stripe_rows").as("max_stripe_rows"),
            col("orc.data_bytes").as("data_bytes"),
            col("orc.index_bytes").as("index_bytes"),
            col("orc.n_types").as("n_types"),
            col("orc.n_root_fields").as("n_root_fields"),
            col("orc.content_length").as("content_length"),
            col("orc.row_index_stride").as("row_index_stride"),
            col("orc.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 4 AS BIGINT) AS ns,
        |    CAST(50 + doc_id % 100 AS BIGINT) AS base
        |  FROM documents WHERE doc_id % 31 = 0)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'zlib' ELSE 'none' END
        |    AS compression,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 262144 ELSE 0 END AS BIGINT)
        |    AS compression_block_size,
        |  CAST(9 AS BIGINT) AS writer_version,
        |  TRUE AS footer_parsed,
        |  CAST(ns AS INT) AS n_stripes,
        |  CAST(ns * base + 17 * ns * (ns - 1) // 2 AS BIGINT)
        |    AS total_rows,
        |  CAST(ns * base + 17 * ns * (ns - 1) // 2 AS BIGINT)
        |    AS stripe_rows,
        |  CAST(base + 17 * (ns - 1) AS BIGINT) AS max_stripe_rows,
        |  CAST(100 * ns + 13 * ns * (ns - 1) // 2 AS BIGINT)
        |    AS data_bytes,
        |  CAST(20 * ns + ns * (ns - 1) // 2 AS BIGINT) AS index_bytes,
        |  CAST(3 AS INT) AS n_types,
        |  CAST(2 AS INT) AS n_root_fields,
        |  CAST(3 + 128 * ns AS BIGINT) AS content_length,
        |  CAST(10000 AS BIGINT) AS row_index_stride,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // HEIF/HEIC/AVIF census over deterministic ISO-BMFF fixtures:
    // brand sniff, item count from iinf, primary + max dimensions from
    // the iprp/ipco ispe properties — the modern-crawl still-image
    // wrapper censused with the mp4 box discipline, decode-free.
    Q("q442_heif_image_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 37 === 0)
          .withColumn("payload", Multimodal.syntheticHeifUdf(
            (lit(1) + col("doc_id") % 4).cast("int"),
            (lit(64) + col("doc_id") % 200).cast("int"),
            (lit(48) + col("doc_id") % 150).cast("int"),
            col("doc_id") % 2 === 0))
        Multimodal.decodeHeifHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("heif.brand").as("brand"),
            col("heif.n_compat_brands").as("n_compat_brands"),
            col("heif.n_items").as("n_items"),
            col("heif.width").as("width"),
            col("heif.height").as("height"),
            col("heif.max_width").as("max_width"),
            col("heif.max_height").as("max_height"),
            col("heif.n_ispe").as("n_ispe"),
            col("heif.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 4 AS BIGINT) AS ni,
        |    CAST(64 + doc_id % 200 AS BIGINT) AS w,
        |    CAST(48 + doc_id % 150 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 37 = 0)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic' END AS brand,
        |  CAST(2 AS INT) AS n_compat_brands,
        |  CAST(ni AS BIGINT) AS n_items,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(w + 4 * (ni - 1) AS BIGINT) AS max_width,
        |  CAST(h + 3 * (ni - 1) AS BIGINT) AS max_height,
        |  CAST(ni AS INT) AS n_ispe,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // WARC record census over deterministic ISO 28500 fixtures: the
    // CommonCrawl container (WET/WAT included) — record census by
    // WARC-Type, declared content volume, URI census; payloads skipped
    // by Content-Length, never read. Map-side walk, no shuffle.
    Q("q443_warc_record_census",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 41 === 0)
          .withColumn("payload", Multimodal.syntheticWarcUdf(
            (lit(1) + col("doc_id") % 4).cast("int"),
            (lit(30) + col("doc_id") % 50).cast("int"),
            col("doc_id") % 2 === 0))
        Multimodal.decodeWarcRecords(blobs, "payload")
          .select(col("doc_id"),
            col("warc.version").as("version"),
            col("warc.n_records").as("n_records"),
            col("warc.n_warcinfo").as("n_warcinfo"),
            col("warc.n_response").as("n_response"),
            col("warc.n_request").as("n_request"),
            col("warc.content_bytes").as("content_bytes"),
            col("warc.max_content_length").as("max_content_length"),
            col("warc.n_with_uri").as("n_with_uri"),
            col("warc.uri_bytes").as("uri_bytes"),
            col("warc.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 4 AS BIGINT) AS np,
        |    CAST(30 + doc_id % 50 AS BIGINT) AS base,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS info
        |  FROM documents WHERE doc_id % 41 = 0),
        |r AS (SELECT doc_id, np, base, info, unnest(range(np)) AS i
        |  FROM p),
        |agg AS (
        |  SELECT doc_id, np, base, info,
        |    sum(20 + 3 * i) + sum(base + 9 * i) AS pair_bytes,
        |    sum(23 + length(CAST(i AS VARCHAR))) * 2 AS ub
        |  FROM r GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, '1.0' AS version,
        |  CAST(2 * np + info AS INT) AS n_records,
        |  CAST(info AS INT) AS n_warcinfo,
        |  CAST(np AS INT) AS n_response,
        |  CAST(np AS INT) AS n_request,
        |  CAST(info * 40 + pair_bytes AS BIGINT) AS content_bytes,
        |  CAST(greatest(info * 40, base + 9 * (np - 1)) AS BIGINT)
        |    AS max_content_length,
        |  CAST(2 * np AS INT) AS n_with_uri,
        |  CAST(ub AS BIGINT) AS uri_bytes,
        |  FALSE AS truncated
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // URL canonicalization census: scheme/host lowering, userinfo and
    // default-port stripping, fragment removal, tracking-parameter
    // filtering — the crawl-curation front door, expressed as the SAME
    // regexp/list pipeline in both engines (built-ins, no UDF, zero
    // shuffle). Fixture synthesizes messy URLs (mixed case, userinfo,
    // :443 on both schemes, utm/gclid params, fragments, malformed).
    Q("q444_url_canonicalize",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("doc_id") % 6 === 0)
          .withColumn("url",
            when(col("doc_id") % 11 === 0,
              concat(lit("not a url "), col("doc_id").cast("string")))
            .otherwise(concat(
              when(col("doc_id") % 2 === 0, lit("HTTPS://User:Pw@WWW."))
                .otherwise(lit("http://WWW.")),
              col("source"),
              when(col("doc_id") % 3 === 0, lit(".Example.COM:443"))
                .otherwise(lit(".Example.COM:8080")),
              lit("/D"), col("doc_id").cast("string"),
              lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
              when(col("doc_id") % 5 === 0, lit("&gclid=x"))
                .otherwise(lit("&page=2")),
              when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))))
        Web.urlCensus(docs, "doc_id", "url")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN 'not a url ' || CAST(doc_id AS VARCHAR)
        |      ELSE
        |        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://User:Pw@WWW.'
        |              ELSE 'http://WWW.' END)
        |        || source
        |        || (CASE WHEN doc_id % 3 = 0 THEN '.Example.COM:443'
        |                 ELSE '.Example.COM:8080' END)
        |        || '/D' || CAST(doc_id AS VARCHAR)
        |        || '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
        |        || (CASE WHEN doc_id % 5 = 0 THEN '&gclid=x'
        |                 ELSE '&page=2' END)
        |        || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
        |    END AS u
        |  FROM documents WHERE doc_id % 6 = 0 AND doc_id IS NOT NULL),
        |s1 AS (SELECT doc_id, regexp_replace(trim(u), '#.*$', '') AS nf
        |  FROM d),
        |s2 AS (SELECT doc_id, nf,
        |    regexp_matches(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://') AS ok,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
        |  FROM s1),
        |s3 AS (SELECT doc_id, ok, scheme,
        |    lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |      '^.*@', '')) AS hostport,
        |    regexp_replace(rest, '^[^/?]*', '') AS tail
        |  FROM s2),
        |s4 AS (SELECT doc_id, ok, scheme,
        |    CASE WHEN scheme = 'http'
        |           THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https'
        |           THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_extract(tail, '^([^?]*)', 1) = '' THEN '/'
        |         ELSE regexp_extract(tail, '^([^?]*)', 1) END AS path,
        |    list_filter(string_split(
        |        regexp_extract(tail, '\?(.*)$', 1), '&'),
        |      x -> x <> '') AS params
        |  FROM s3),
        |s5 AS (SELECT doc_id, ok, scheme, host, path, params,
        |    list_filter(params, x -> NOT regexp_matches(x,
        |      '^(utm_[^=]*|fbclid|gclid|msclkid)(=.*)?$')) AS keptlist
        |  FROM s4)
        |SELECT doc_id,
        |  CASE WHEN NOT ok THEN NULL ELSE
        |    scheme || '://' || host || path ||
        |    (CASE WHEN len(keptlist) = 0 THEN ''
        |          ELSE '?' || array_to_string(keptlist, '&') END)
        |  END AS url_norm,
        |  CASE WHEN NOT ok THEN NULL ELSE host END AS host,
        |  CASE WHEN NOT ok THEN NULL
        |       ELSE CAST(len(keptlist) AS INT) END AS n_params_kept,
        |  CASE WHEN NOT ok THEN NULL
        |       ELSE len(list_filter(params, x -> regexp_matches(x,
        |         '^(utm_[^=]*|fbclid|gclid|msclkid)(=.*)?$'))) > 0
        |  END AS had_tracking
        |FROM s5 ORDER BY doc_id""".stripMargin)),

    // Host scorecard over the canonicalized URLs: per host, row count,
    // DISTINCT canonical URLs (the dup collapse canonicalization
    // exists for), tracking prevalence — one aggregation shuffle keyed
    // by host, the per-host-cap triage frame.
    Q("q445_host_scorecard",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("doc_id") % 6 === 0)
          .withColumn("url",
            when(col("doc_id") % 11 === 0,
              concat(lit("not a url "), col("doc_id").cast("string")))
            .otherwise(concat(
              when(col("doc_id") % 2 === 0, lit("HTTPS://User:Pw@WWW."))
                .otherwise(lit("http://WWW.")),
              col("source"),
              when(col("doc_id") % 3 === 0, lit(".Example.COM:443"))
                .otherwise(lit(".Example.COM:8080")),
              lit("/D"), (col("doc_id") % 40).cast("string"),
              lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
              when(col("doc_id") % 5 === 0, lit("&gclid=x"))
                .otherwise(lit("&page=2")),
              when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))))
        Web.hostScorecard(docs, "doc_id", "url")
          .orderBy("host")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN 'not a url ' || CAST(doc_id AS VARCHAR)
        |      ELSE
        |        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://User:Pw@WWW.'
        |              ELSE 'http://WWW.' END)
        |        || source
        |        || (CASE WHEN doc_id % 3 = 0 THEN '.Example.COM:443'
        |                 ELSE '.Example.COM:8080' END)
        |        || '/D' || CAST(doc_id % 40 AS VARCHAR)
        |        || '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
        |        || (CASE WHEN doc_id % 5 = 0 THEN '&gclid=x'
        |                 ELSE '&page=2' END)
        |        || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
        |    END AS u
        |  FROM documents WHERE doc_id % 6 = 0 AND doc_id IS NOT NULL),
        |s1 AS (SELECT doc_id, regexp_replace(trim(u), '#.*$', '') AS nf
        |  FROM d),
        |s2 AS (SELECT doc_id, nf,
        |    regexp_matches(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://') AS ok,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
        |  FROM s1),
        |s3 AS (SELECT doc_id, ok, scheme,
        |    lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |      '^.*@', '')) AS hostport,
        |    regexp_replace(rest, '^[^/?]*', '') AS tail
        |  FROM s2),
        |s4 AS (SELECT doc_id, ok, scheme,
        |    CASE WHEN scheme = 'http'
        |           THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https'
        |           THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_extract(tail, '^([^?]*)', 1) = '' THEN '/'
        |         ELSE regexp_extract(tail, '^([^?]*)', 1) END AS path,
        |    list_filter(string_split(
        |        regexp_extract(tail, '\?(.*)$', 1), '&'),
        |      x -> x <> '') AS params
        |  FROM s3),
        |s5 AS (SELECT doc_id, ok, scheme, host, path, params,
        |    list_filter(params, x -> NOT regexp_matches(x,
        |      '^(utm_[^=]*|fbclid|gclid|msclkid)(=.*)?$')) AS keptlist
        |  FROM s4),
        |cens AS (
        |  SELECT doc_id,
        |    CASE WHEN NOT ok THEN NULL ELSE
        |      scheme || '://' || host || path ||
        |      (CASE WHEN len(keptlist) = 0 THEN ''
        |            ELSE '?' || array_to_string(keptlist, '&') END)
        |    END AS url_norm,
        |    CASE WHEN NOT ok THEN NULL ELSE host END AS host,
        |    CASE WHEN NOT ok THEN NULL
        |         ELSE len(list_filter(params, x -> regexp_matches(x,
        |           '^(utm_[^=]*|fbclid|gclid|msclkid)(=.*)?$'))) > 0
        |    END AS had_tracking
        |  FROM s5)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url_norm) AS BIGINT) AS n_canonical,
        |  CAST(sum(CASE WHEN had_tracking THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_tracking
        |FROM cens WHERE host IS NOT NULL
        |GROUP BY host ORDER BY host""".stripMargin)),

    // robots.txt census (RFC 9309): per-domain group/rule counts, the
    // star group's crawl delay, sitemap count — politeness-config
    // triage over a deterministic per-domain robots fixture. One
    // kernel call per domain, zero shuffle.
    Q("q447_robots_census",
      (s, dir) => {
        val robots = t(s, dir, "documents")
          .select(lower(col("source")).as("src")).distinct()
          .select(
            concat(lit("www."), col("src"), lit(".example.com"))
              .as("domain"),
            concat(
              lit("# robots\nUser-agent: *\nDisallow: /D1\n" +
                "Allow: /D12\nCrawl-delay: "),
              (lit(3) + length(col("src")) % 5).cast("string"),
              when(length(col("src")) % 2 === 0,
                concat(lit("\nUser-agent: graftbot\nDisallow: /D"),
                  (length(col("src")) % 10).cast("string"),
                  lit("\nAllow: /D"),
                  (length(col("src")) % 10).cast("string"), lit("4")))
                .otherwise(lit("")),
              lit("\nSitemap: https://x/sm.xml")).as("robots"))
        Web.robotsCensus(robots, "domain", "robots").orderBy("domain")
      },
      Some("""WITH src AS (
        |  SELECT DISTINCT lower(source) AS src FROM documents
        |  WHERE source IS NOT NULL)
        |SELECT 'www.' || src || '.example.com' AS domain,
        |  CASE WHEN length(src) % 2 = 0 THEN 2 ELSE 1 END
        |    AS n_agent_groups,
        |  CASE WHEN length(src) % 2 = 0 THEN 2 ELSE 1 END AS n_allow,
        |  CASE WHEN length(src) % 2 = 0 THEN 2 ELSE 1 END AS n_disallow,
        |  CAST(3 + length(src) % 5 AS BIGINT) AS star_crawl_delay,
        |  1 AS n_sitemaps
        |FROM src ORDER BY domain""".stripMargin)),

    // robots gate (RFC 9309 evaluation): canonicalized URLs join their
    // domain's parsed rule list ON THE HOST KEY (one equi-join; the
    // domain frame is O(domains) and broadcast-able), verdict = longest
    // literal path-prefix rule, Allow wins ties, no rule -> allowed;
    // agent-specific groups shadow the star group. The oracle replays
    // parse, group pick, and longest-match verdict in SQL.
    Q("q448_robots_gate",
      (s, dir) => {
        val urls = t(s, dir, "documents")
          .filter(col("doc_id") % 6 === 0)
          .withColumn("url",
            when(col("doc_id") % 11 === 0,
              concat(lit("not a url "), col("doc_id").cast("string")))
            .otherwise(concat(
              when(col("doc_id") % 2 === 0, lit("HTTPS://User:Pw@WWW."))
                .otherwise(lit("http://WWW.")),
              col("source"),
              when(col("doc_id") % 3 === 0, lit(".Example.COM:443"))
                .otherwise(lit(".Example.COM:8080")),
              lit("/D"), col("doc_id").cast("string"),
              lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
              when(col("doc_id") % 5 === 0, lit("&gclid=x"))
                .otherwise(lit("&page=2")),
              when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))))
        val robots = t(s, dir, "documents")
          .select(lower(col("source")).as("src")).distinct()
          .select(
            concat(lit("www."), col("src"), lit(".example.com"))
              .as("domain"),
            concat(
              lit("# robots\nUser-agent: *\nDisallow: /D1\n" +
                "Allow: /D12\nCrawl-delay: "),
              (lit(3) + length(col("src")) % 5).cast("string"),
              when(length(col("src")) % 2 === 0,
                concat(lit("\nUser-agent: graftbot\nDisallow: /D"),
                  (length(col("src")) % 10).cast("string"),
                  lit("\nAllow: /D"),
                  (length(col("src")) % 10).cast("string"), lit("4")))
                .otherwise(lit("")),
              lit("\nSitemap: https://x/sm.xml")).as("robots"))
        Web.robotsGate(urls, "doc_id", "url", robots, "domain", "robots",
          agent = "graftbot").orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN 'not a url ' || CAST(doc_id AS VARCHAR)
        |      ELSE
        |        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://User:Pw@WWW.'
        |              ELSE 'http://WWW.' END)
        |        || source
        |        || (CASE WHEN doc_id % 3 = 0 THEN '.Example.COM:443'
        |                 ELSE '.Example.COM:8080' END)
        |        || '/D' || CAST(doc_id AS VARCHAR)
        |        || '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
        |        || (CASE WHEN doc_id % 5 = 0 THEN '&gclid=x'
        |                 ELSE '&page=2' END)
        |        || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
        |    END AS u,
        |    lower(source) AS src
        |  FROM documents WHERE doc_id % 6 = 0 AND doc_id IS NOT NULL),
        |s1 AS (SELECT doc_id, src,
        |    regexp_replace(trim(u), '#.*$', '') AS nf FROM d),
        |s2 AS (SELECT doc_id, src, nf,
        |    regexp_matches(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://') AS ok,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
        |  FROM s1),
        |s3 AS (SELECT doc_id, src, ok, scheme,
        |    lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |      '^.*@', '')) AS hostport,
        |    regexp_replace(rest, '^[^/?]*', '') AS tail
        |  FROM s2),
        |urls AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = 'http'
        |           THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https'
        |           THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_extract(tail, '^([^?]*)', 1) = '' THEN '/'
        |         ELSE regexp_extract(tail, '^([^?]*)', 1) END AS path
        |  FROM s3 WHERE ok),
        |rob AS (
        |  SELECT 'www.' || src || '.example.com' AS domain,
        |    '# robots' || chr(10) || 'User-agent: *' || chr(10) ||
        |    'Disallow: /D1' || chr(10) || 'Allow: /D12' || chr(10) ||
        |    'Crawl-delay: ' || CAST(3 + length(src) % 5 AS VARCHAR) ||
        |    (CASE WHEN length(src) % 2 = 0 THEN
        |      chr(10) || 'User-agent: graftbot' || chr(10) ||
        |      'Disallow: /D' || CAST(length(src) % 10 AS VARCHAR) ||
        |      chr(10) || 'Allow: /D' ||
        |      CAST(length(src) % 10 AS VARCHAR) || '4'
        |     ELSE '' END) ||
        |    chr(10) || 'Sitemap: https://x/sm.xml' AS txt
        |  FROM (SELECT DISTINCT lower(source) AS src FROM documents
        |        WHERE source IS NOT NULL)),
        |lines AS (
        |  SELECT domain, ln, trim(regexp_replace(line, '#.*$', ''))
        |      AS line
        |  FROM (SELECT domain, unnest(string_split(txt, chr(10)))
        |          AS line,
        |        generate_subscripts(string_split(txt, chr(10)), 1) AS ln
        |        FROM rob)),
        |fields AS (
        |  SELECT domain, ln,
        |    lower(trim(regexp_extract(line, '^([^:]+):(.*)$', 1)))
        |      AS name,
        |    trim(regexp_extract(line, '^([^:]+):(.*)$', 2)) AS value
        |  FROM lines WHERE line LIKE '%:%'),
        |grouped AS (
        |  SELECT domain, ln, name, value,
        |    last_value(CASE WHEN name = 'user-agent' THEN lower(value)
        |      END IGNORE NULLS) OVER (
        |      PARTITION BY domain ORDER BY ln
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ua
        |  FROM fields),
        |rules AS (
        |  SELECT domain, ua, name = 'allow' AS allow, value AS rpath
        |  FROM grouped
        |  WHERE name IN ('allow', 'disallow') AND value <> ''),
        |joined AS (
        |  SELECT u.doc_id, u.host, u.path, r.ua, r.allow, r.rpath
        |  FROM urls u JOIN rules r ON r.domain = u.host),
        |ownlen AS (
        |  SELECT doc_id, max(length(ua)) AS ml FROM joined
        |  WHERE ua <> '*' AND starts_with('graftbot', ua)
        |  GROUP BY doc_id),
        |grp AS (
        |  SELECT j.doc_id, j.path, j.allow, j.rpath
        |  FROM joined j LEFT JOIN ownlen o ON o.doc_id = j.doc_id
        |  WHERE (o.doc_id IS NOT NULL AND j.ua <> '*'
        |         AND starts_with('graftbot', j.ua)
        |         AND length(j.ua) = o.ml)
        |     OR (o.doc_id IS NULL AND j.ua = '*')),
        |matches AS (
        |  SELECT doc_id, allow, length(rpath) AS rlen,
        |    max(length(rpath)) OVER (PARTITION BY doc_id) AS maxlen
        |  FROM grp WHERE starts_with(path, rpath)),
        |verdict AS (
        |  SELECT doc_id, bool_or(allow) AS allowed, max(rlen) AS rlen
        |  FROM matches WHERE rlen = maxlen GROUP BY doc_id)
        |SELECT u.doc_id, u.host, u.path,
        |  coalesce(v.allowed, TRUE) AS allowed,
        |  CAST(coalesce(v.rlen, 0) AS INT) AS matched_rule_len
        |FROM urls u LEFT JOIN verdict v ON v.doc_id = u.doc_id
        |ORDER BY u.doc_id""".stripMargin)),

    // Portable content-defined chunking: boundaries where the 60-bit
    // sha of each 16-char window is = 0 mod 64 — the LBFS/FastCDC idea
    // with an engine-portable predicate, so DuckDB replays every
    // boundary and every chunk sha (per-position substr + sha256, the
    // q427/q437 machinery). Zero shuffle; chunks travel as sha prefixes.
    Q("q451_cdc_chunks_portable",
      (s, dir) => Cdc.portableCdcChunks(
          t(s, dir, "documents")
            .filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"),
              substring(col("text"), 1, 400).as("text")),
          "doc_id", "text", window = 16, modulus = 64L)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH d AS (
        |  SELECT doc_id, substr(text, 1, 400) AS t FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id IS NOT NULL
        |    AND text IS NOT NULL AND length(substr(text, 1, 400)) > 0),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(length(t) - 16 + 1)) AS p
        |  FROM d WHERE length(t) >= 16),
        |cuts AS (
        |  SELECT doc_id, CAST(p + 16 AS BIGINT) AS e FROM pos
        |  WHERE ('0x' || substring(sha256(
        |      substr(t, CAST(p + 1 AS INT), 16)), 1, 15))::UBIGINT
        |    % 64 = 0),
        |ends AS (
        |  SELECT DISTINCT doc_id, e FROM (
        |    SELECT doc_id, e FROM cuts
        |    UNION ALL
        |    SELECT doc_id, CAST(length(t) AS BIGINT) FROM d)),
        |seq AS (
        |  SELECT doc_id, e,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1
        |      AS idx,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e),
        |      0) AS s
        |  FROM ends)
        |SELECT q.doc_id, CAST(q.idx AS INT) AS chunk_idx,
        |  q.s AS chunk_start, CAST(q.e - q.s AS BIGINT) AS chunk_len,
        |  substring(sha256(substr(d.t, CAST(q.s + 1 AS INT),
        |    CAST(q.e - q.s AS INT))), 1, 16) AS chunk_sha
        |FROM seq q JOIN d ON d.doc_id = q.doc_id
        |ORDER BY q.doc_id, chunk_idx""".stripMargin)),

    // Gear-hash CDC — the FastCDC rolling primitive, O(1)/char with
    // min/max clamps: the PRODUCTION path whose gear table is engine-
    // private (rows-only; q451 is the hash-matched portable twin, and
    // CdcSpec pins the shift-resistance property both share).
    Q("q452_cdc_chunks_gear",
      (s, dir) => Cdc.gearChunks(
          t(s, dir, "documents")
            .filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"),
              substring(col("text"), 1, 400).as("text")),
          "doc_id", "text", maskBits = 6, minLen = 16, maxLen = 256)
        .orderBy("doc_id", "chunk_idx"),
      None),

    // Chunk-level dedup census over the portable chunks: per
    // duplicated chunk sha, occurrences and distinct docs — the
    // storage-dedup ratio frame; a planted common block guarantees a
    // cross-document duplicate class. ONE aggregation on the sha.
    Q("q453_cdc_dup_census",
      (s, dir) => {
        val fixture = t(s, dir, "documents")
          .filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0,
              concat(lit("CDC PLANTED COMMON BLOCK ALPHA BETA GAMMA " +
                "DELTA EPSILON ZETA ETA THETA IOTA KAPPA LAMBDA MU " +
                "NU XI OMICRON PI RHO SIGMA TAU UPSILON PHI CHI PSI " +
                "OMEGA 0123456789 ABCDEFGHIJKLMNOPQRSTUVWXYZ "),
                substring(col("text"), 1, 150)))
            .otherwise(substring(col("text"), 1, 400)).as("text"))
        Cdc.chunkDupCensus(
          Cdc.portableCdcChunks(fixture, "doc_id", "text",
            window = 16, modulus = 64L), "doc_id")
          .orderBy("chunk_sha")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      'CDC PLANTED COMMON BLOCK ALPHA BETA GAMMA DELTA ' ||
        |      'EPSILON ZETA ETA THETA IOTA KAPPA LAMBDA MU NU XI ' ||
        |      'OMICRON PI RHO SIGMA TAU UPSILON PHI CHI PSI OMEGA ' ||
        |      '0123456789 ABCDEFGHIJKLMNOPQRSTUVWXYZ ' ||
        |      substr(text, 1, 150)
        |    ELSE substr(text, 1, 400) END AS t
        |  FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id IS NOT NULL
        |    AND text IS NOT NULL AND length(text) > 0),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(length(t) - 16 + 1)) AS p
        |  FROM d WHERE length(t) >= 16),
        |cuts AS (
        |  SELECT doc_id, CAST(p + 16 AS BIGINT) AS e FROM pos
        |  WHERE ('0x' || substring(sha256(
        |      substr(t, CAST(p + 1 AS INT), 16)), 1, 15))::UBIGINT
        |    % 64 = 0),
        |ends AS (
        |  SELECT DISTINCT doc_id, e FROM (
        |    SELECT doc_id, e FROM cuts
        |    UNION ALL
        |    SELECT doc_id, CAST(length(t) AS BIGINT) FROM d)),
        |seq AS (
        |  SELECT doc_id, e,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e),
        |      0) AS s
        |  FROM ends),
        |ch AS (
        |  SELECT q.doc_id, CAST(q.e - q.s AS BIGINT) AS chunk_len,
        |    substring(sha256(substr(d.t, CAST(q.s + 1 AS INT),
        |      CAST(q.e - q.s AS INT))), 1, 16) AS chunk_sha
        |  FROM seq q JOIN d ON d.doc_id = q.doc_id)
        |SELECT chunk_sha, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(max(chunk_len) AS BIGINT) AS chunk_len
        |FROM ch GROUP BY chunk_sha HAVING count(*) >= 2
        |ORDER BY chunk_sha""".stripMargin)),

    // ICO/favicon census over deterministic ICONDIR fixtures: entry
    // dimensions (0 -> 256 resolved), bit depth, declared payload
    // volume, embedded-PNG sniff at each declared offset — the favicon
    // format every crawl collects, decode-free. Map-side walk.
    Q("q450_ico_favicon_meta",
      (s, dir) => {
        val blobs = t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 43 === 0)
          .withColumn("payload", Multimodal.syntheticIcoUdf(
            (lit(1) + col("doc_id") % 5).cast("int"),
            (lit(20) + col("doc_id") % 30).cast("int")))
        Multimodal.decodeIcoHeaders(blobs, "payload")
          .select(col("doc_id"),
            col("ico.kind").as("kind"),
            col("ico.n_images").as("n_images"),
            col("ico.max_width").as("max_width"),
            col("ico.max_height").as("max_height"),
            col("ico.max_bpp").as("max_bpp"),
            col("ico.n_png_entries").as("n_png_entries"),
            col("ico.total_image_bytes").as("total_image_bytes"),
            col("ico.truncated").as("truncated"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS ni,
        |    CAST(20 + doc_id % 30 AS BIGINT) AS base
        |  FROM documents WHERE doc_id % 43 = 0)
        |SELECT doc_id, 'icon' AS kind,
        |  CAST(ni AS INT) AS n_images,
        |  CAST(256 AS INT) AS max_width,
        |  CAST(256 AS INT) AS max_height,
        |  CAST(32 AS INT) AS max_bpp,
        |  CAST((ni + 1) // 2 AS INT) AS n_png_entries,
        |  CAST(ni * base + 40 * ni * (ni - 1) // 2 AS BIGINT)
        |    AS total_image_bytes,
        |  FALSE AS truncated
        |FROM p ORDER BY doc_id""".stripMargin)),

    // Politeness crawl schedule: per-host queues over canonical URLs,
    // the i-th fetch at i*crawl_delay(host) — ONE window partitioned
    // by host (bounded per key, never a global sort) + a broadcast
    // join against the O(domains) delay frame. Composes q444's
    // canonicalization with q447's robots census.
    Q("q449_crawl_schedule",
      (s, dir) => {
        val urls = t(s, dir, "documents")
          .filter(col("doc_id") % 6 === 0)
          .withColumn("url",
            when(col("doc_id") % 11 === 0,
              concat(lit("not a url "), col("doc_id").cast("string")))
            .otherwise(concat(
              when(col("doc_id") % 2 === 0, lit("HTTPS://User:Pw@WWW."))
                .otherwise(lit("http://WWW.")),
              col("source"),
              when(col("doc_id") % 3 === 0, lit(".Example.COM:443"))
                .otherwise(lit(".Example.COM:8080")),
              lit("/D"), col("doc_id").cast("string"),
              lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
              when(col("doc_id") % 5 === 0, lit("&gclid=x"))
                .otherwise(lit("&page=2")),
              when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))))
        val robots = t(s, dir, "documents")
          .select(lower(col("source")).as("src")).distinct()
          .select(
            concat(lit("www."), col("src"), lit(".example.com"))
              .as("domain"),
            concat(
              lit("# robots\nUser-agent: *\nDisallow: /D1\n" +
                "Allow: /D12\nCrawl-delay: "),
              (lit(3) + length(col("src")) % 5).cast("string"),
              when(length(col("src")) % 2 === 0,
                concat(lit("\nUser-agent: graftbot\nDisallow: /D"),
                  (length(col("src")) % 10).cast("string"),
                  lit("\nAllow: /D"),
                  (length(col("src")) % 10).cast("string"), lit("4")))
                .otherwise(lit("")),
              lit("\nSitemap: https://x/sm.xml")).as("robots"))
        Web.crawlSchedule(urls, "doc_id", "url", robots, "domain",
          "robots", defaultDelaySec = 1L)
          .select(col("doc_id"), col("host"), col("queue_pos"),
            col("fetch_at_s"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN 'not a url ' || CAST(doc_id AS VARCHAR)
        |      ELSE
        |        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://User:Pw@WWW.'
        |              ELSE 'http://WWW.' END)
        |        || source
        |        || (CASE WHEN doc_id % 3 = 0 THEN '.Example.COM:443'
        |                 ELSE '.Example.COM:8080' END)
        |        || '/D' || CAST(doc_id AS VARCHAR)
        |        || '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
        |        || (CASE WHEN doc_id % 5 = 0 THEN '&gclid=x'
        |                 ELSE '&page=2' END)
        |        || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
        |    END AS u,
        |    lower(source) AS src
        |  FROM documents WHERE doc_id % 6 = 0 AND doc_id IS NOT NULL),
        |s1 AS (SELECT doc_id, src,
        |    regexp_replace(trim(u), '#.*$', '') AS nf FROM d),
        |s2 AS (SELECT doc_id, src, nf,
        |    regexp_matches(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://') AS ok,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
        |  FROM s1),
        |s3 AS (SELECT doc_id, src, ok, scheme,
        |    lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |      '^.*@', '')) AS hostport
        |  FROM s2),
        |urls AS (
        |  SELECT doc_id, src,
        |    CASE WHEN scheme = 'http'
        |           THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https'
        |           THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host
        |  FROM s3 WHERE ok),
        |delays AS (
        |  SELECT 'www.' || src || '.example.com' AS domain,
        |    CAST(3 + length(src) % 5 AS BIGINT) AS delay
        |  FROM (SELECT DISTINCT lower(source) AS src FROM documents
        |        WHERE source IS NOT NULL)),
        |q AS (
        |  SELECT u.doc_id, u.host,
        |    CAST(row_number() OVER (PARTITION BY u.host
        |      ORDER BY u.doc_id) - 1 AS BIGINT) AS queue_pos,
        |    coalesce(dl.delay, 1) AS delay
        |  FROM urls u LEFT JOIN delays dl ON dl.domain = u.host)
        |SELECT doc_id, host, queue_pos,
        |  CAST(queue_pos * delay AS BIGINT) AS fetch_at_s
        |FROM q ORDER BY doc_id""".stripMargin)),

    // SemDeDup (Abbas et al. '23): semantic dedup — kmeans clusters
    // bound the pairwise cosine work to O(N²/k); near-identical
    // vectors (cos >= 0.995, exact integer cross-multiplication)
    // collapse to the smallest id. The 4x-shifted fixture copies are
    // the planted near-dup class. The oracle replays the FULL
    // trajectory: the q197 Lloyd chain AND every pair verdict.
    Q("q446_semdedup",
      (s, dir) => {
        val corpus = t(s, dir, "embeddings")
          .select(col("vec_id"), explode(expr("sequence(0, 3)")).as("r"),
            col("embedding"))
          .select((col("vec_id") * 4 + col("r")).as("vec_id"),
            expr("transform(embedding, " +
              "x -> cast(x as double) + r * 0.01d)").as("embedding"))
        Clustering.semDeDup(corpus, "vec_id", "embedding",
          k = 4, iterations = 2, tauNum = 995, tauDen = 1000)
          .orderBy("vec_id")
      },
      Some("""WITH corpus AS (
        |  SELECT vec_id * 4 + r.r AS vec_id,
        |    list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) + r.r * CAST(0.01 AS DOUBLE))
        |      AS embedding
        |  FROM embeddings, (SELECT unnest(range(4)) AS r) r),
        |qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024) + 1048576 AS BIGINT))
        |    AS qv
        |  FROM corpus WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |    AS cidx, qv AS cv
        |  FROM qv ORDER BY vec_id LIMIT 4),
        |a1 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c0 c)) WHERE rn = 1),
        |u1 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a1)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c1 AS (
        |  SELECT c0.cidx, coalesce(u1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN u1 ON u1.cidx = c0.cidx),
        |a2 AS (
        |  SELECT vec_id, cluster, qv FROM (
        |    SELECT vec_id, cluster, qv, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster, q.qv,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c1 c)) WHERE rn = 1),
        |u2 AS (
        |  SELECT cluster AS cidx, list(cvi ORDER BY pos) AS cv FROM (
        |    SELECT cluster, pos, CAST(sum(v) // count(*) AS BIGINT) AS cvi
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS pos,
        |          unnest(qv) AS v FROM a2)
        |    GROUP BY cluster, pos) GROUP BY cluster),
        |c2 AS (
        |  SELECT c1.cidx, coalesce(u2.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN u2 ON u2.cidx = c1.cidx),
        |fin AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |    FROM (
        |      SELECT q.vec_id, c.cidx AS cluster,
        |        CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |      FROM qv q, c2 c)) WHERE rn = 1),
        |cq AS (
        |  SELECT vec_id, list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS cq
        |  FROM corpus WHERE embedding IS NOT NULL),
        |nq AS (
        |  SELECT vec_id, cq,
        |    CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS nq
        |  FROM cq),
        |pairs AS (
        |  SELECT l.vec_id AS u, r.vec_id AS v,
        |    CAST(list_sum(list_transform(list_zip(lq.cq, rq.cq),
        |      p -> p[1] * p[2])) AS BIGINT) AS dot,
        |    lq.nq AS nu, rq.nq AS nv
        |  FROM fin l
        |  JOIN fin r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
        |  JOIN nq lq ON lq.vec_id = l.vec_id
        |  JOIN nq rq ON rq.vec_id = r.vec_id),
        |dropped AS (
        |  SELECT DISTINCT v FROM pairs
        |  WHERE dot > 0 AND
        |    CAST(dot AS HUGEINT) * dot * 1000000 >=
        |    CAST(nu AS HUGEINT) * nv * 990025)
        |SELECT f.vec_id, CAST(f.cluster AS INT) AS cluster,
        |  d.v IS NULL AS kept
        |FROM fin f LEFT JOIN dropped d ON d.v = f.vec_id
        |ORDER BY f.vec_id""".stripMargin)),

    // END-TO-END curation WITH ExactSubstr — the Lee et al. '22 order
    // of operations as one composition: exact-substring span removal
    // (q428's op, cleaned TEXT carried) → exact dedup on the cleaned
    // text (q29's op — the planted short-duplicate class collapses
    // AFTER span removal passes it through) → length quality gate →
    // stratified split (q218's op). Each stage hash-verifies alone;
    // this entry verifies the interfaces: the oracle replays all four
    // stages, so a contract break between the suffix machinery and the
    // gates fails the hash even with green unit tests.
    Q("q434_curation_exactsubstr",
      (s, dir) => {
        val fixture = t(s, dir, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull &&
            col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"),
            when(col("doc_id") % 13 === 0,
              concat(lit("SHORT DUPLICATE BODY NUMBER "),
                (col("doc_id") % 3).cast("string")))
            .when(col("doc_id") % 5 === 0,
              concat(lit("CURATION PLANTED DUPLICATE SPAN ALPHA BRAVO " +
                "314159 "), substring(col("text"), 1, 150)))
            .otherwise(substring(col("text"), 1, 200)).as("text"))
        val cleaned = SuffixDedup.removeDuplicateSpans(fixture,
            "doc_id", "text", spanLen = 40, keepText = true)
          .join(fixture.select("doc_id", "lang"), Seq("doc_id"))
        val deduped = Dedup.exactDedup(
          cleaned.withColumn("__k", md5(col("cleaned_text"))),
          Seq("__k"), "doc_id").drop("__k")
        val gated = deduped.filter(col("cleaned_len") >= 20)
        Packing.stratifiedSplit(
            gated.select("doc_id", "lang", "n_spans", "n_chars_removed",
              "cleaned_len"),
            "doc_id", Seq("lang"), seed = 11L,
            permille = Seq("train" -> 800, "heldout" -> 200))
          .select(col("doc_id"), col("lang"), col("n_spans"),
            col("n_chars_removed"), col("cleaned_len"), col("split"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 13 = 0 THEN
        |      'SHORT DUPLICATE BODY NUMBER ' || CAST(doc_id % 3 AS VARCHAR)
        |    WHEN doc_id % 5 = 0 THEN
        |      'CURATION PLANTED DUPLICATE SPAN ALPHA BRAVO 314159 '
        |        || substr(text, 1, 150)
        |    ELSE substr(text, 1, 200) END AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 2 = 0),
        |e AS (SELECT doc_id, t FROM d WHERE length(t) >= 40),
        |p AS (SELECT doc_id, t,
        |    unnest(range(length(t) - 40 + 1)) AS pos FROM e),
        |sp AS (SELECT doc_id, pos, substr(t, pos + 1, 40) AS s FROM p),
        |dup AS (
        |  SELECT doc_id, pos FROM sp
        |  WHERE s IN (SELECT s FROM sp GROUP BY s HAVING count(*) >= 2)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS b
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, pos, sum(b) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk),
        |iv AS (
        |  SELECT doc_id, island, min(pos) AS s, max(pos) + 40 AS e
        |  FROM isl GROUP BY 1, 2),
        |cov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_chars_removed
        |  FROM iv GROUP BY 1),
        |ch AS (SELECT doc_id, t, unnest(range(length(t))) AS cpos FROM e),
        |keep AS (
        |  SELECT c.doc_id, c.cpos, substr(c.t, CAST(c.cpos + 1 AS INT), 1)
        |      AS ch
        |  FROM ch c
        |  WHERE NOT EXISTS (SELECT 1 FROM iv
        |    WHERE iv.doc_id = c.doc_id
        |      AND c.cpos >= iv.s AND c.cpos < iv.e)),
        |cl AS (
        |  SELECT doc_id, string_agg(ch, '' ORDER BY cpos) AS cleaned
        |  FROM keep GROUP BY doc_id),
        |fin AS (
        |  SELECT d.doc_id, d.lang,
        |    coalesce(cov.n_spans, 0) AS n_spans,
        |    coalesce(cov.n_chars_removed, 0) AS n_chars_removed,
        |    CASE WHEN cov.doc_id IS NULL THEN d.t
        |         ELSE coalesce(cl.cleaned, '') END AS cleaned
        |  FROM d
        |  LEFT JOIN cov ON cov.doc_id = d.doc_id
        |  LEFT JOIN cl ON cl.doc_id = d.doc_id),
        |dd AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(cleaned)
        |    ORDER BY doc_id) AS rn
        |  FROM fin),
        |k AS (
        |  SELECT doc_id, lang, n_spans, n_chars_removed,
        |    length(cleaned) AS cleaned_len
        |  FROM dd WHERE rn = 1 AND length(cleaned) >= 20),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || '#' || '11'),
        |        doc_id) AS r,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM k)
        |SELECT doc_id, lang,
        |  CAST(n_spans AS BIGINT) AS n_spans,
        |  CAST(n_chars_removed AS BIGINT) AS n_chars_removed,
        |  CAST(cleaned_len AS BIGINT) AS cleaned_len,
        |  CASE WHEN r <= (n * 800) // 1000 THEN 'train'
        |       ELSE 'heldout' END AS split
        |FROM r ORDER BY doc_id""".stripMargin)),
  )
}
