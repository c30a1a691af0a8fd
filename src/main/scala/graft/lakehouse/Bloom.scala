package graft.lakehouse

import java.util.Base64
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Per-file Bloom filters for equality-predicate data skipping — the
  * point-lookup complement to min/max range stats (Delta's bloom-filter
  * index / Parquet's column bloom filters). Min/max stats prune range scans
  * over CLUSTERED columns; a needle-in-haystack lookup on a high-cardinality
  * UNCLUSTERED column (a join key, a uuid) overlaps every file's range and
  * prunes nothing. A per-file bloom answers "definitely not in this file"
  * for exactly that shape: at 100 TB a point probe then opens a handful of
  * files instead of issuing a GET per file.
  *
  * The bitset is built distributed (one [[Agg]] per new file inside the
  * write's stats aggregation — no extra pass), serialized base64 into the
  * file's manifest stats entry under `__bloom_<col>`. Sizing is per-file
  * bits (default 64 Ki bits = 8 KB): right for O(1M)-distinct-values files;
  * callers with bigger files should raise bits — and the write also enables
  * PARQUET-native blooms on the same columns, which handle the within-file
  * row-group level at any scale without bloating the manifest.
  *
  * Hash basis: Spark's `xxhash64` over the column's native type (computed
  * engine-side, so build and probe can never disagree), double-hashed into
  * K positions (Kirsch–Mitzenmacher).
  */
object Bloom {

  /** Default bitset size per file per column: 2^16 bits = 8 KB base64s to
    * ~10.9 KB per manifest entry. FPP = (1-e^(-Kn/bits))^K for n distinct
    * values/file: ~2e-6 at n=1k, ~4.3% at n=10k, saturated at n≥100k
    * (raise bits, or lean on the parquet-native blooms the write also
    * enables, which size themselves per row group). */
  val DefaultBits: Int = 1 << 16

  /** Hash functions per element. */
  val K: Int = 5

  /** Manifest stats-JSON key prefix marking a bloom entry. */
  val StatsPrefix = "__bloom_"

  /** The `i`-th of K bit positions for one 64-bit hash (double hashing;
    * h2 forced odd so probes cycle the whole table for power-of-two
    * sizes). Computed in place: no per-value position array. */
  private def position(hash: Long, i: Int, bits: Int): Int =
    (((hash + i * ((hash >>> 32) | 1L)) & Long.MaxValue) % bits).toInt

  /** Set the K bits of `hash` in a bitset of `words.length * 64` bits. */
  private[lakehouse] def add(words: Array[Long], hash: Long): Unit = {
    val bits = words.length << 6
    var i = 0
    while (i < K) {
      val pos = position(hash, i, bits)
      words(pos >>> 6) |= (1L << (pos & 63))
      i += 1
    }
  }

  /** Definitely-absent test: false means no row of the file has a value
    * whose xxhash64 is `hash`; true means "maybe present" (scan the file). */
  def mayContain(words: Array[Long], hash: Long): Boolean = {
    val bits = words.length << 6
    if (bits == 0) return true
    var i = 0
    while (i < K) {
      val pos = position(hash, i, bits)
      if ((words(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def encode(words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    Base64.getEncoder.encodeToString(bb.array())
  }

  def decode(s: String): Array[Long] = {
    val bytes = Base64.getDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** Distributed bitset builder over pre-hashed (`xxhash64`) values; used
    * per file-group inside the write-side stats aggregation. */
  class Agg(bits: Int) extends Aggregator[Long, Array[Long], Array[Byte]] {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      "bits must be a power of two >= 64 (one long word)")
    def zero: Array[Long] = new Array[Long](bits >>> 6)
    def reduce(b: Array[Long], hash: Long): Array[Long] = { add(b, hash); b }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(words: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      words.foreach(bb.putLong)
      bb.array()
    }
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
}
