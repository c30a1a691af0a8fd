package graft.lakehouse

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Versioned commit protocol with FILE-LEVEL (manifest-based) commits — the
  * transactional core of the reference's Delta storage layer
  * (ecu/sbl/aace/datalake/common.py:71,448,531) rebuilt on plain Parquet,
  * since no Delta/Iceberg jars ship in this environment. Like Delta's log,
  * a version is a MANIFEST (schema + list of data files), not a directory
  * copy: a commit that changes 0.1% of a table writes 0.1% of the files and
  * inherits the rest from its parent by reference — MERGE / append /
  * compaction cost O(touched data), never O(table).
  *
  * Layout under a table directory `T/` (Delta's actual shape: data files —
  * with globally unique names — and hive `col=value` partition dirs live at
  * the TABLE ROOT; the log, not the directory tree, defines the table):
  * {{{
  *   T/part-<uuid>.parquet       data files (unpartitioned tables)
  *   T/col=value/part-*.parquet  data files (hive-partitioned tables)
  *   T/_manifest_N               version N's manifest: line 1 = schema JSON,
  *                               then one data-file path per line (relative
  *                               to T/). Base-pinned commits may write a
  *                               DELTA manifest (`#graft.basedOn=M` +
  *                               `#rm<TAB>path` removals + added entries)
  *                               that resolves against version M; a full
  *                               manifest (checkpoint) is forced every
  *                               [[CheckpointInterval]] versions
  *   T/_commit_N                 commit marker — version N exists iff its
  *                               marker does; latest = max marker
  *   T/.staging-<uuid>/          in-flight writers' scratch (hidden from
  *                               readers); files move to the root pre-commit
  *   T/_cdf_N_<commitId>/        version N's change-feed sidecar, owned by
  *                               the commit that wrote it ([[sidecarDir]])
  * }}}
  *
  * Guarantees:
  *  - readers resolve the latest committed version once, then scan an
  *    immutable file list — a concurrent commit never shows them a
  *    half-written or half-deleted table;
  *  - a writer stages new files into its own `data-<uuid>/` pool, so two
  *    writers can never interleave files;
  *  - version claim = atomic hard-link of the manifest into `_manifest_N`
  *    (`Files.createLink` fails with EEXIST if N is taken — the same
  *    atomic-claim primitive as Delta's conditional log-entry PUT); the
  *    commit point is the atomic creation of `_commit_N`. Latest is the MAX
  *    committed marker, so commits are monotonic by construction.
  *  - OPTIMISTIC CONCURRENCY for read-modify-write commits: a caller that
  *    derived its manifest from version B passes `expectedBase = Some(B)`
  *    and must win the claim for exactly B+1 — if any other writer committed
  *    first, the claim fails and [[ConcurrentWriteException]] is thrown
  *    instead of silently superseding the other writer's data (lost
  *    update). Delta MERGE fails the same way. Plain overwrites (no base
  *    dependency) retry at the next number instead.
  *
  * Retention is age-based with a count floor: a version is swept only when
  * it is BOTH older than [[RetainAgeMs]] AND not among the newest
  * [[Retain]] — two fast overwrites can no longer sweep the snapshot a slow
  * concurrent reader is still scanning (Delta retains by age the same way;
  * default 7 days there, shorter here for test turnaround). Data files are
  * deleted only when no retained manifest references them AND they are old
  * enough that no in-flight writer could still be staging them. `vacuum`
  * runs the same sweep on demand with a caller-chosen age.
  *
  * On a real object store the protocol holds as long as the claim primitive
  * is atomic (conditional PUT); listing is only used for resolution and
  * cleanup. A 100 TB table at 128 MB files has a ~1M-line manifest (tens of
  * MB) — same order as a Delta checkpoint file.
  *
  * Pre-protocol directories (parquet files directly under `T/`, no
  * protocol files) stay readable: resolution falls back to `T/` itself.
  * The first write adopts such a directory in place (a CONVERT commit
  * referencing its files), so every write runs over a manifest.
  */
object Versioned {

  val MarkerPrefix = "_commit_"
  val ManifestPrefix = "_manifest_"
  val StagingPrefix = ".staging-"

  /** Count floor: the newest N committed versions are never swept. */
  val Retain = 2

  /** Age floor: versions (and unreferenced staged files) younger than this
    * are never swept — protects slow readers and in-flight writers.
    * Overridable for tests; `vacuum` takes an explicit age. */
  @volatile var RetainAgeMs: Long = 10 * 60 * 1000L

  /** How long an unmarked manifest claim may block the version number it
    * sits on with NO signs of life. The claim→marker window is normally a
    * few file renames, but a change-feed sidecar write inside it is a real
    * Spark job — so "alive" is judged by the newest mtime across the claim
    * AND its `_cdf_` sidecar (which an in-flight sidecar write keeps
    * fresh), and the claim owner re-verifies ownership before AND right
    * after its marker (isSameFile checks), retracting a marker that would
    * have committed a reclaimer's manifest. A healthy commit idle longer
    * than this window (e.g. a long pure-shuffle stage emitting no sidecar
    * files) can still be spuriously reclaimed — it then ABORTS loudly
    * with a conflict, never silently loses data; raise the grace for
    * workloads with very long commit-critical sections. */
  @volatile var OrphanGraceMs: Long = 60 * 1000L

  /** One data file in a manifest: its path (relative to the table dir) and
    * optional per-file column statistics (single-line JSON:
    * `{"__rows":"n", "col":[minStr, maxStr, nullCountStr], ...,
    * "__bloom_col":"<base64>"}`; min/max are null for all-null columns;
    * 2-element arrays from older manifests still parse) — the
    * data-skipping metadata Delta keeps per add-file. Serialized as
    * `path` or `path<TAB>statsJson` (stats JSON escapes control chars, so
    * neither raw tabs nor newlines can corrupt the line format). */
  final case class FileEntry(path: String, stats: Option[String]) {
    def serialized: String = stats.fold(path)(s => s"$path\t$s")
  }
  object FileEntry {
    def parse(line: String): FileEntry = line.split("\t", 2) match {
      case Array(p, s) => FileEntry(p, Some(s))
      case _ => FileEntry(line, None)
    }
  }

  /** A committed version's content: the table schema (Spark JSON form), the
    * data files composing it (relative to the table directory), and
    * free-form commit metadata — `#key=value` lines between the schema and
    * the file list (absent in older manifests; unknown keys ride along).
    * Streaming sinks store their per-query txn watermark here
    * (`txn:<appId> -> lastBatchId`), the same mechanism as Delta's txn
    * actions — metadata commits ATOMICALLY with the file list, which is
    * what makes sink idempotence exactly-once rather than best-effort. */
  final case class Manifest(schemaJson: String, entries: Seq[FileEntry],
      meta: Map[String, String] = Map.empty) {
    def files: Seq[String] = entries.map(_.path)
  }

  /** What a reader should scan. */
  sealed trait ReadSpec
  /** A pre-protocol table dir, read as a plain parquet directory. */
  final case class ScanDir(path: String) extends ReadSpec
  /** Manifest-based version: explicit file list under `base`. `dv` maps a
    * data-file path to its deletion-vector sidecar (same path convention as
    * `relFiles`) — the scan must drop those files' vectored row positions
    * (Delta deletion vectors: row-level deletes without rewriting the
    * file). Empty for tables that never took a DV delete. */
  final case class ScanFiles(base: String, schemaJson: String,
      relFiles: Seq[String], dv: Map[String, String] = Map.empty)
      extends ReadSpec

  /** Stats-JSON key holding a file's deletion-vector reference:
    * `"__dv": [sidecarPath, deletedRowCount]` (strings, like every other
    * stat). Living INSIDE the per-file stats means inheritance, RESTORE,
    * clone-by-reference and maintenance commits all carry the vector with
    * zero protocol changes — exactly how Delta rides its DV descriptor on
    * the add-file action. */
  val DvKey = "__dv"

  /** A file entry's deletion-vector reference: (sidecar path, deleted-row
    * count), None for files with no deleted rows. */
  def dvRefOf(e: FileEntry): Option[(String, Long)] = {
    import org.json4s.{JArray, JString}
    import org.json4s.jackson.JsonMethods.parse
    e.stats.flatMap(s => scala.util.Try(parse(s)).toOption).flatMap { j =>
      (j \ DvKey) match {
        case JArray(List(JString(p), JString(n))) =>
          scala.util.Try(n.toLong).toOption.map(p -> _)
        case _ => None
      }
    }
  }

  /** data-file path → DV sidecar path for the entries that carry one. */
  def dvOf(entries: Seq[FileEntry]): Map[String, String] =
    entries.flatMap(e => dvRefOf(e).map { case (p, _) => e.path -> p }).toMap

  /** The scan spec for a subset of a manifest's entries, deletion vectors
    * attached — every logical read of manifest data MUST come through here
    * (or [[specFor]]) or DV-deleted rows would resurrect. */
  def scanOf(tableDir: String, m: Manifest,
      entries: Seq[FileEntry]): ScanFiles =
    ScanFiles(tableDir, m.schemaJson, entries.map(_.path), dvOf(entries))

  /** Result of a commit: the version number, the files this commit ADDED,
    * and the full file list of the new version. */
  final case class Commit(version: Long, added: Seq[FileEntry],
      entries: Seq[FileEntry]) {
    def files: Seq[String] = entries.map(_.path)
  }

  /** A read-modify-write commit lost the race for base+1: the caller's view
    * of the table is stale. Re-read and retry (Delta MERGE semantics). */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** The conflict-retry policy every optimistic writer shares: run `body`
    * up to `attempts` times while it loses the commit race, sleeping
    * 20 ms × attempt between tries, and rethrow the last conflict. Each
    * attempt must re-read its base, so a retry is a serial re-execution,
    * never a repair. `rebase` runs between attempts with the lost
    * conflict; it throws (typically that conflict) to stop retrying at
    * once. Failures other than a lost race pass through unretried. */
  def retryOnConflict[T](attempts: Int,
      rebase: ConcurrentWriteException => Unit = _ => ())(body: => T): T = {
    require(attempts >= 1, "need at least one attempt")
    def run(attempt: Int): T =
      try body
      catch {
        case e: ConcurrentWriteException if attempt < attempts =>
          rebase(e)
          Thread.sleep(20L * attempt)
          run(attempt + 1)
      }
    run(1)
  }

  /** [[retryOnConflict]]'s budget for writers whose caller sets none (the
    * streaming sink, maintenance commits): the first try and five
    * retries. */
  private[lakehouse] val ConflictAttempts = 6

  private def marker(tableDir: Path, v: Long): Path =
    tableDir.resolve(s"$MarkerPrefix$v")
  private def manifestPath(tableDir: Path, v: Long): Path =
    tableDir.resolve(s"$ManifestPrefix$v")

  private def listNames(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  private def numericSuffix(name: String, prefix: String): Option[Long] = {
    // ASCII digits only, capped below Long overflow — Character.isDigit
    // accepts Unicode digit scripts and an unguarded toLong would make one
    // odd filename (tooling litter, tampering) wedge EVERY read and write
    // of the table with NumberFormatException
    val suffix = name.drop(prefix.length)
    if (name.startsWith(prefix) && suffix.nonEmpty && suffix.length <= 18 &&
        suffix.forall(c => c >= '0' && c <= '9'))
      Some(suffix.toLong)
    else None
  }

  /** Current committed version: the max visible commit marker. */
  def latestVersion(tableDir: String): Option[Long] = {
    val names = listNames(Paths.get(tableDir))
    val markers = names.flatMap(numericSuffix(_, MarkerPrefix))
    // transaction-pending versions are not visible until their outcome
    // decides; the common case (no refs) costs nothing beyond the name
    // scan already done
    if (markers.isEmpty) None
    else if (!names.exists(_.startsWith(TxnRefPrefix))) Some(markers.max)
    else markers.sorted(Ordering[Long].reverse)
      .find(v => txnVisible(tableDir, v))
  }

  /** True iff the directory holds no protocol file at all — no commit
    * marker and no manifest claim: a pre-protocol directory (or none). A
    * crashed first commit's unmarked claim is protocol state, not a
    * pre-protocol table. */
  def isPreProtocol(tableDir: String): Boolean =
    listNames(Paths.get(tableDir)).forall(n =>
      numericSuffix(n, MarkerPrefix).isEmpty &&
        numericSuffix(n, ManifestPrefix).isEmpty)

  /** All committed (retained) versions, ascending. */
  def committedVersions(tableDir: String): Seq[Long] =
    listNames(Paths.get(tableDir)).flatMap(numericSuffix(_, MarkerPrefix)).sorted

  /** Just the meta header of version `v`'s manifest file: streamed line by
    * line with an early exit at the first content line, so a header probe
    * against a million-file manifest reads a few hundred bytes — commits
    * always write schema line, then every meta line, then content. Meta is
    * complete in every manifest (only CONTENT is delta-encoded), so no
    * chain resolution happens here. */
  private[lakehouse] def manifestMetaOnly(tableDir: String,
      v: Long): Option[Map[String, String]] =
    metaHeader(manifestPath(Paths.get(tableDir), v))

  private def metaHeader(p: Path): Option[Map[String, String]] = {
    if (!Files.isRegularFile(p)) return None
    val r = Files.newBufferedReader(p, StandardCharsets.UTF_8)
    try {
      if (r.readLine() == null) return None // schema line
      val meta = Map.newBuilder[String, String]
      var line = r.readLine()
      while (line != null && (line.isEmpty || line.startsWith("#"))) {
        if (line.nonEmpty) line.drop(1).split("=", 2) match {
          case Array(k, v2) => meta += k -> v2
          case _ => ()
        }
        line = r.readLine()
      }
      Some(meta.result())
    } finally r.close()
  }

  /** Commit wall-clock of a version: the in-commit timestamp recorded in
    * its manifest meta ([[CommitTsKey]] — immune to mtime-rewriting
    * backup/copy tools, monotonic across versions), falling back to the
    * marker's mtime for versions committed before the feature existed
    * (the marker is created exactly once, at the commit point). Header-only
    * read: DESCRIBE HISTORY / timestamp time travel over a long history
    * stays O(versions), never O(versions × manifest size). */
  def commitTimeMs(tableDir: String, v: Long): Option[Long] =
    manifestMetaOnly(tableDir, v)
      .flatMap(_.get(CommitTsKey))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .orElse(scala.util.Try(
        Files.getLastModifiedTime(marker(Paths.get(tableDir), v)).toMillis
      ).toOption)

  /** True iff `version` was actually committed (its marker exists) — an
    * orphaned/in-flight manifest is NOT a committed snapshot. */
  def isCommitted(tableDir: String, version: Long): Boolean =
    Files.exists(marker(Paths.get(tableDir), version))

  /** Meta key marking a DELTA manifest: the version whose (resolved) file
    * list this manifest's removals/additions apply to. A 100 TB table's
    * full manifest is ~1M lines — rewriting it per 1-file streaming append
    * would make commit metadata O(table); delta manifests make it
    * O(touched files), with a FULL manifest (checkpoint) forced every
    * [[CheckpointInterval]] versions so resolution replays a bounded
    * chain — exactly Delta's JSON-commits-plus-parquet-checkpoint shape.
    * Stripped from the resolved [[Manifest.meta]] (and from caller-passed
    * meta at commit time) — it describes the ENCODING of one manifest
    * file, never a table property. */
  val BasedOnKey = "graft.basedOn"

  /** Every version divisible by this writes a full manifest, bounding
    * delta-chain length (and resolution cost) at CheckpointInterval-1. */
  val CheckpointInterval = 8

  /** Delta-style TABLE FEATURES (protocol gating): the meta key lists the
    * features a version's correct interpretation REQUIRES — deletion
    * vectors (ignoring them resurrects rows), column mapping (ignoring it
    * reads renamed columns by the wrong name), delta manifests, etc.
    * Readers and writers check the list against [[SupportedFeatures]] and
    * fail LOUDLY on anything unknown rather than silently misreading a
    * table written by a newer implementation — Delta's
    * reader/writer-features contract. Feature names are sticky: once a
    * table uses one, every later manifest carries it (callers pass
    * `meta = m.meta + …` forward). */
  val FeaturesKey = "graft.features"

  /** Every feature this implementation knows how to read AND write. */
  val SupportedFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "identityColumns",
    "generatedColumns", "checkConstraints", "changeDataFeed",
    "deltaManifests", "partitionEvolution", "multiTableTxn",
    "rowTracking", "typeWidening", "defaultColumns",
    "uniqueConstraints")

  // ---- multi-table transactions (Percolator-style decided outcomes) ----
  //
  // A transactional write commits NORMALLY (manifest + marker) but rides
  // a `_txnref_<v>_<commitId>` file written in beforeMarker, pointing at
  // the transaction's single OUTCOME file. The version is born PENDING:
  // [[latestVersion]] skips it until the outcome file decides it. The
  // outcome is created exactly once (hard-link exclusive create, the same
  // conditional-PUT primitive as the version claim) with content
  // `committed` or `aborted` — that one creation is the atomic commit
  // point for EVERY table the transaction touched. Crashed transactions
  // are steal-aborted by any reader after [[TxnGraceMs]]; aborted
  // versions stay physically in the chain (retention sweeps them) but are
  // never visible and never inherited from — later commits allocate past
  // them while keeping the last VISIBLE version as their semantic base.
  // The ref carries the commit id for the same reason change-feed
  // sidecars do: a crashed claim's leftover ref must never make a later
  // unrelated commit at the same number look transactional.

  /** Table-dir ref file prefix: `_txnref_<version>_<commitId>`. */
  val TxnRefPrefix = "_txnref_"
  /** Manifest-meta key recording the owning transaction id. */
  val TxnMetaKey = "graft.txn"
  /** An UNDECIDED transaction whose refs are all older than this is
    * aborted by whoever observes it (reader or writer) — the Percolator
    * lazy-cleanup rule. Liveness is the ref's mtime: [[Txn.write]]
    * re-touches every ref of the transaction after each write and
    * [[Txn.heartbeat]] lets long gaps (a multi-minute Spark job between
    * writes) keep the transaction demonstrably alive. A stolen commit
    * fails loudly (the outcome file already says aborted). */
  @volatile var TxnGraceMs: Long = 10 * 60 * 1000L

  /** The decided outcome of a transaction, if any. */
  def txnOutcome(outcome: Path): Option[String] =
    try Some(new String(Files.readAllBytes(outcome),
      StandardCharsets.UTF_8).trim)
    catch { case _: Exception => None }

  /** Decide a transaction's outcome exactly once (first creator wins;
    * losing is normal — somebody else decided). */
  def decideTxn(outcome: Path, verdict: String): Unit = {
    try {
      Files.createDirectories(outcome.getParent)
      val tmp = outcome.getParent.resolve(
        s".${outcome.getFileName}.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, verdict.getBytes(StandardCharsets.UTF_8))
      try Files.createLink(outcome, tmp)
      finally Files.deleteIfExists(tmp)
    } catch { case _: FileAlreadyExistsException => ()
      case _: java.io.IOException => () }
  }

  /** The txn refs of `v` among `names`, as (refName, commitId). */
  private def txnRefsOf(names: Seq[String], v: Long): Seq[(String, String)] =
    names.filter(_.startsWith(s"$TxnRefPrefix${v}_"))
      .map(n => n -> n.drop(s"$TxnRefPrefix${v}_".length))

  /** Is committed version `v` visible — not governed by an undecided or
    * aborted transaction? Resolves the ref whose commit id matches the
    * manifest's own (leftover refs from crashed claims are ignored),
    * steal-aborts overdue undecided transactions, and cleans up the ref
    * once the outcome is `committed` (roll-forward). */
  private[lakehouse] def txnVisible(tableDir: String, v: Long): Boolean = {
    val dir = Paths.get(tableDir)
    val refs = txnRefsOf(listNames(dir), v)
    if (refs.isEmpty) return true
    val ownId = readManifest(tableDir, v).flatMap(_.meta.get(CommitIdKey))
    val owned = refs.collect {
      case (n, id) if ownId.contains(id) => dir.resolve(n) }
    if (owned.isEmpty) return true // leftovers of crashed claims: inert
    val ref = owned.head
    val outcomePath =
      try Paths.get(new String(Files.readAllBytes(ref),
        StandardCharsets.UTF_8).trim)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          return true // cleaned concurrently — only commit cleanup does
        case _: Exception => return false // unreadable: stay invisible
      }
    txnOutcome(outcomePath) match {
      case Some("committed") =>
        try Files.deleteIfExists(ref) catch { case _: Exception => () }
        true
      case Some(_) => false // aborted
      case None =>
        val age = try System.currentTimeMillis() -
          Files.getLastModifiedTime(ref).toMillis
        catch { case _: Exception => 0L }
        if (age > TxnGraceMs) {
          decideTxn(outcomePath, "aborted")
          txnOutcome(outcomePath).contains("committed")
        } else false
    }
  }

  /** Is `v` occupied by a DECIDED-ABORTED transaction? (Used by the claim
    * loop to allocate past dead versions without reporting a conflict —
    * the semantic base is unchanged.) No stealing here: an undecided
    * transaction is a real conflict until the grace expires. */
  private def txnAborted(dir: Path, v: Long): Boolean = {
    val refs = txnRefsOf(listNames(dir), v)
    refs.nonEmpty && {
      val ownId = readManifest(dir.toString, v)
        .flatMap(_.meta.get(CommitIdKey))
      refs.collect { case (n, id) if ownId.contains(id) => dir.resolve(n) }
        .headOption.exists { ref =>
          (try Some(Paths.get(new String(Files.readAllBytes(ref),
            StandardCharsets.UTF_8).trim))
          catch { case _: Exception => None })
            .flatMap(txnOutcome).contains("aborted")
        }
    }
  }

  /** Parse a features meta value (comma-separated, sorted on write). */
  def featuresOf(meta: Map[String, String]): Set[String] =
    meta.get(FeaturesKey).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet

  /** Add a feature requirement to commit meta (idempotent). */
  def withFeature(meta: Map[String, String], f: String): Map[String, String] = {
    val cur = featuresOf(meta)
    if (cur(f)) meta
    else meta + (FeaturesKey -> (cur + f).toSeq.sorted.mkString(","))
  }

  private def requireFeatures(tableDir: String, v: Long,
      meta: Map[String, String], ctx: String): Unit = {
    val unknown = featuresOf(meta) -- SupportedFeatures
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"$tableDir version $v requires table feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} this $ctx does not " +
        "implement — refusing rather than silently corrupting results")
  }

  /** Line prefix recording "this path from the base version is NOT in this
    * version" in a delta manifest. Tab-delimited so a path containing '='
    * (hive segments) can never be misread as a `#key=value` meta line —
    * removal lines are matched BEFORE the generic '#' meta match. */
  private val RmPrefix = "#rm\t"

  /** One manifest FILE, unresolved: delta manifests carry `removed` paths
    * and only their own added/changed `entries`. */
  private final case class RawManifest(schemaJson: String,
      meta: Map[String, String], removed: Seq[String], entries: Seq[FileEntry])

  private def readRaw(tableDir: String, v: Long): Option[RawManifest] = {
    val p = manifestPath(Paths.get(tableDir), v)
    if (!Files.isRegularFile(p)) None
    else {
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      if (lines.isEmpty) None
      else {
        val body = lines.tail.filter(_.nonEmpty)
        val (rmLines, rest) = body.partition(_.startsWith(RmPrefix))
        val (metaLines, entryLines) = rest.partition(_.startsWith("#"))
        val meta = metaLines.map(_.drop(1).split("=", 2)).collect {
          case Array(k, v2) => k -> v2
        }.toMap
        Some(RawManifest(lines.head, meta,
          rmLines.map(_.drop(RmPrefix.length)).toSeq,
          entryLines.map(FileEntry.parse).toSeq))
      }
    }
  }

  /** The base version a manifest FILE declares, without resolving it. */
  private def basedOnOf(tableDir: String, v: Long): Option[Long] =
    readRaw(tableDir, v).flatMap(_.meta.get(BasedOnKey))
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  /** Parse version `v`'s manifest, if it is a manifest-based version —
    * RESOLVED: a delta manifest replays onto its base's resolved file list
    * (remove, then append this manifest's own entries; a stats-only change
    * to an inherited file is encoded as remove+re-add of the same path).
    * A delta whose base manifest is missing fails LOUDLY — quietly
    * returning the partial list would serve a fraction of the table. */
  def readManifest(tableDir: String, v: Long): Option[Manifest] =
    readRaw(tableDir, v).map { raw =>
      requireFeatures(tableDir, v, raw.meta, "reader")
      raw.meta.get(BasedOnKey)
        .flatMap(s => scala.util.Try(s.toLong).toOption) match {
        case Some(b) =>
          val base = readManifest(tableDir, b).getOrElse(
            throw new IllegalStateException(
              s"$tableDir: manifest $v is a delta based on $b, whose " +
                "manifest is missing — refusing to serve a partial table"))
          val rm = raw.removed.toSet
          Manifest(raw.schemaJson,
            base.entries.filterNot(e => rm(e.path)) ++ raw.entries,
            raw.meta - BasedOnKey)
        case None =>
          Manifest(raw.schemaJson, raw.entries, raw.meta - BasedOnKey)
      }
    }

  /** Committed version `v`'s manifest. Every commit writes one, so a
    * missing manifest means the table is corrupt: fails with
    * IllegalStateException. */
  def manifestOf(tableDir: String, v: Long): Manifest =
    readManifest(tableDir, v).getOrElse(throw new IllegalStateException(
      s"$tableDir: committed version $v has no manifest — the table is " +
        "corrupt"))

  /** The scan spec for a SPECIFIC committed version. */
  def specFor(tableDir: String, v: Long): ScanFiles = {
    val m = manifestOf(tableDir, v)
    scanOf(tableDir, m, m.entries)
  }

  /** The scan spec for the latest committed version (or the directory
    * itself for pre-protocol layouts). */
  def readSpec(tableDir: String): ReadSpec = latestVersion(tableDir) match {
    case Some(v) => specFor(tableDir, v)
    case None => ScanDir(tableDir)
  }

  private def listParquet(root: Path): Seq[Path] = {
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Stage new files via `stage` (handed a fresh hidden `.staging-<uuid>`
    * scratch dir inside the table dir; it returns the per-file stats of
    * what it staged, keyed by staging-relative path), then atomically
    * commit a manifest of `inherit ++ staged` and move the staged files to
    * their final root locations. The default stages nothing: a
    * metadata-only commit. A throwing `stage` aborts the commit.
    * Inheriting callers MUST pin `expectedBase` — the version their
    * `inherit` list was read from — and get
    * [[ConcurrentWriteException]] if another writer committed in between
    * (their inherit list would silently drop that writer's changes
    * otherwise). Plain overwrites (inherit = Nil) never conflict; they
    * retry at the next free number.
    *
    * Ordering: claim manifest → move files → marker. A conflict aborts
    * before any file reaches its final location; a crash after the claim
    * leaves an uncommitted orphan (no marker) that age-based sweep clears.
    */
  /** Manifest-meta key recording what operation produced a version —
    * surfaced by DESCRIBE HISTORY (Delta's operation column). Set via
    * [[commitFiles]]'s `op`; a carried-forward stale value is always
    * stripped so a maintenance commit can never masquerade as the data
    * operation before it. */
  val OpKey = "graft.op"

  /** Manifest meta key recording the commit's own identity — the suffix of
    * its change-feed sidecar directory (`_cdf_<version>_<id>`); always
    * overwritten per commit, never carried forward. */
  val CommitIdKey = "graft.commitId"

  private val SidecarPrefix = "_cdf_"

  /** Change-feed sidecar directory of the commit `commitId` at version
    * `v` — commit-owned, so an evicted writer's sidecar never clobbers the
    * winning commit's. */
  def sidecarDir(tableDir: Path, v: Long, commitId: String): Path =
    tableDir.resolve(s"$SidecarPrefix${v}_$commitId")

  /** (version, commit id) of a [[sidecarDir]] name. */
  private def sidecarOf(name: String): Option[(Long, String)] =
    if (!name.startsWith(SidecarPrefix)) None
    else name.drop(SidecarPrefix.length).split("_", 2) match {
      case Array(vs, id) if id.nonEmpty =>
        numericSuffix(SidecarPrefix + vs, SidecarPrefix).map(_ -> id)
      case _ => None
    }

  /** In-commit timestamps (Delta's ICT feature): the commit wall-clock is
    * recorded IN the manifest meta, not inferred from file mtimes — so
    * TIMESTAMP AS OF and DESCRIBE HISTORY survive backup/restore/copy
    * tools that rewrite modification times, and the recorded clock is
    * clamped monotonic across versions (a step back of the wall clock can
    * never make a later version look older than its base). Stamped by
    * [[commitFiles]] on every commit; [[commitTimeMs]] prefers it and
    * falls back to the marker mtime for pre-feature tables. */
  val CommitTsKey = "graft.commitTs"

  /** Row tracking (Delta's row IDs): when the meta carries
    * [[RowTrackingKey]], every commit assigns each ADDED file a contiguous
    * span of fresh row ids — the file's first row's id is recorded in its
    * stats as [[BaseRowIdStatKey]], a row's id is `base + row_index`, and
    * the next-fresh-id watermark [[RowIdMaxKey]] advances atomically in
    * the same commit (crash/replay/race-safe for exactly the reasons the
    * identity watermark is). File REWRITES (OPTIMIZE et al.) materialize
    * ids as a physical `__row_id` column instead, which takes precedence
    * at read time — so a row's id is stable across compaction. */
  val RowTrackingKey = "graft.rowTracking"
  val RowIdMaxKey = "graft.rowIdMax"
  val BaseRowIdStatKey = "__baseRowId"
  private val RowsStatKey = "__rows" // written by TableIO.collectFileStats

  /** Top-level string field of a stats-JSON doc, if present. */
  private[lakehouse] def statsField(stats: Option[String],
      key: String): Option[String] = {
    import org.json4s.JString
    import org.json4s.jackson.JsonMethods.parse
    stats.flatMap(s => scala.util.Try(parse(s)).toOption)
      .flatMap(j => (j \ key) match {
        case JString(v) => Some(v)
        case _ => None
      })
  }

  private def statsWithField(statsJson: String, key: String,
      value: String): String = {
    import org.json4s.{JObject, JString}
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    scala.util.Try(parse(statsJson)).toOption match {
      case Some(JObject(fields)) => compact(render(JObject(
        fields.filterNot(_._1 == key) :+ (key -> JString(value)))))
      case _ => statsJson
    }
  }

  def commitFiles(tableDir: String, schemaJson: String,
      inherit: Seq[FileEntry] = Seq.empty,
      expectedBase: Option[Long] = None,
      meta: Map[String, String] = Map.empty,
      beforeMarker: (Long, Seq[FileEntry], String) => Unit = (_, _, _) => (),
      op: String = "", txn: Option[String] = None,
      stage: String => Map[String, String] = _ => Map.empty): Commit = {
    require(inherit.isEmpty || expectedBase.isDefined,
      "a commit inheriting files must pin the base version they came from")
    require(!schemaJson.contains("\n") && !schemaJson.contains("\r"),
      "schema JSON must be single-line")
    require(meta.forall { case (k, v) =>
      !k.contains("=") && !k.contains("\n") && !v.contains("\n") &&
        !k.contains("\r") && !v.contains("\r") },
      "meta keys must not contain '='; keys and values must be single-line" +
        " (readAllLines also splits on carriage returns)")
    // operation provenance: always drop a carried-forward op; record this
    // commit's own (when the caller names one).
    // Commit identity: a fresh id per commit, recorded in the manifest and
    // handed to beforeMarker so version-keyed sidecars (the change feed)
    // are written to COMMIT-OWNED paths — an evicted writer's in-flight
    // sidecar job can then never clobber the winning commit's sidecar,
    // before OR after its marker lands.
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    // BasedOnKey describes one manifest file's ENCODING — never a table
    // property. Callers passing `meta = m.meta + ...` would otherwise
    // carry a stale chain link into a manifest whose content is full.
    // TxnMetaKey is per-commit state exactly like CommitIdKey: a carried-
    // forward transaction id would mark the table's entire later history
    // as transactional. Stripped always; recorded only for this commit's
    // own transaction (the `txn` param).
    // In-commit timestamp: always THIS commit's clock (a carried-forward
    // value would date every later version at its ancestor's commit),
    // clamped monotonic against the current base's recorded stamp.
    val baseTs = latestVersion(tableDir)
      .flatMap(v => manifestMetaOnly(tableDir, v))
      .flatMap(_.get(CommitTsKey))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val commitTs = math.max(System.currentTimeMillis(), baseTs.getOrElse(0L) + 1)
    val metaWithOp = (((if (op.isEmpty) meta - OpKey
      else (meta - OpKey) + (OpKey -> op))
      - CommitIdKey - BasedOnKey - TxnMetaKey - CommitTsKey)
      + (CommitIdKey -> commitId) + (CommitTsKey -> commitTs.toString)
      ) ++ txn.map(TxnMetaKey -> _)
    val dir = Paths.get(tableDir)
    Files.createDirectories(dir)
    // fail fast before paying for the write; the authoritative check is the
    // atomic claim below (this one only narrows the window)
    expectedBase.foreach { base =>
      val latest = latestVersion(tableDir).getOrElse(0L)
      if (latest != base) throw conflict(tableDir, base, latest)
    }
    val staging = dir.resolve(StagingPrefix + java.util.UUID.randomUUID().toString)
    Files.createDirectory(staging)
    // staged files already moved to the table root, and whether our marker
    // landed: until it does, nothing references them
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    var markerLanded = false
    try {
      val stats = stage(staging.toString)
      // relative destinations: a staged `col=value/part-x.parquet` lands at
      // the same relative path under the table root (Spark's part-file
      // names carry the write-job uuid, so cross-commit names never clash)
      val stagedSrc = listParquet(staging)
      val staged = stagedSrc.map { p =>
        val rel = staging.relativize(p).toString
        FileEntry(rel, stats.get(rel).filter(s => !s.contains("\n")))
      }
      // Row tracking: each added file takes a contiguous fresh-id span
      // above the watermark, in path order (deterministic across retries);
      // the advanced watermark rides THIS commit's meta. Rewrites also
      // pass through here — their fresh spans are shadowed by the
      // materialized physical ids at read time (gaps in the id space are
      // fine; uniqueness is the contract).
      val (stagedRt, metaRt) =
        if (!metaWithOp.contains(RowTrackingKey) || staged.isEmpty)
          (staged, metaWithOp)
        else {
          val raw = metaWithOp.getOrElse(RowIdMaxKey, "0")
          var wm = scala.util.Try(raw.toLong).getOrElse(
            throw new IllegalStateException(s"$tableDir: row-id watermark " +
              s"is unreadable ('$raw') — refusing to assign row ids"))
          val dec = staged.sortBy(_.path).map { e =>
            // a staged file whose stats ALREADY carry a base row id keeps
            // it (deep clone copies, any future id-preserving restage) —
            // its span is covered by the carried watermark, so no reuse
            if (statsField(e.stats, BaseRowIdStatKey).isDefined) e
            else {
              val rows = statsField(e.stats, RowsStatKey)
                .flatMap(s => scala.util.Try(s.toLong).toOption)
                .getOrElse(throw new IllegalStateException(
                  s"$tableDir: row tracking needs per-file row counts; " +
                    s"${e.path} has none (run recomputeStats first)"))
              val e2 = e.copy(stats = e.stats.map(
                statsWithField(_, BaseRowIdStatKey, wm.toString)))
              wm += rows
              e2
            }
          }
          (dec, metaWithOp + (RowIdMaxKey -> wm.toString))
        }
      val files = inherit ++ stagedRt
      val tmp = dir.resolve(s".manifest.tmp-${java.util.UUID.randomUUID()}")
      // Delta-encode the manifest when this is a base-pinned commit onto an
      // existing manifest, the claimed version (always base+1 here) is not
      // a checkpoint, and the diff is genuinely smaller than the full
      // list: a 1-file append onto a 1M-file table then writes 1 manifest
      // line, not 1M — commit METADATA stays O(touched files). A
      // stats-changed inherited path (DV added, ANALYZE) encodes as
      // remove + re-add. Full manifests every CheckpointInterval versions
      // bound the resolution chain.
      val deltaParts: Option[(Seq[String], Long)] = expectedBase.flatMap {
        base =>
          if ((base + 1) % CheckpointInterval == 0) None
          else scala.util.Try(readManifest(tableDir, base)).toOption.flatten
            .flatMap { bm =>
            val newByPath =
              files.iterator.map(e => e.path -> e.serialized).toMap
            val baseByPath =
              bm.entries.iterator.map(e => e.path -> e.serialized).toMap
            val removed = bm.entries.collect {
              case be if !newByPath.get(be.path).contains(be.serialized) =>
                be.path }
            val added = files.filterNot(e =>
              baseByPath.get(e.path).contains(e.serialized))
            if ((removed.size + added.size) * 2 <= files.size)
              Some((removed.map(RmPrefix + _) ++ added.map(_.serialized), base))
            else None
          }
      }
      val (contentLines, metaFinal) = deltaParts match {
        case Some((dl, b0)) => (dl, withFeature(metaRt, "deltaManifests")
          + (BasedOnKey -> b0.toString))
        case None => (files.map(_.serialized), metaRt)
      }
      // writer gate: refuse to commit meta that requires features this
      // implementation does not understand (it could not honor them)
      requireFeatures(tableDir, expectedBase.fold(0L)(_ + 1), metaFinal,
        "writer")
      val metaLines = metaFinal.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
      Files.write(tmp,
        ((schemaJson +: metaLines) ++ contentLines).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      try {
        // allocate past every existing version number — committed or
        // orphaned from a crashed writer — so an orphan never wedges us
        def allocated: Long = (0L +: listNames(dir).flatMap(n =>
          numericSuffix(n, MarkerPrefix) orElse
            numericSuffix(n, ManifestPrefix))).max
        var v = expectedBase match {
          case Some(base) =>
            val latest = latestVersion(tableDir).getOrElse(0L)
            if (latest != base) throw conflict(tableDir, base, latest)
            base + 1
          case None => math.max(latestVersion(tableDir).getOrElse(0L), allocated) + 1
        }
        var claimed = false
        // set when this writer reclaimed an orphaned manifest at its
        // version: (version, where the orphan's content was moved). If the
        // "orphan" turns out to be alive and beats us to the marker, the
        // backup restores so the committed version serves the data its
        // writer acknowledged.
        var reclaimBackup: Option[(Long, Path)] = None
        while (!claimed) {
          try {
            // atomic claim-with-content: link either installs the manifest
            // at v or fails because v is taken (Delta's conditional PUT)
            Files.createLink(manifestPath(dir, v), tmp)
            claimed = true
          } catch {
            case _: FileAlreadyExistsException =>
              // a marker-less claim past the grace window WITH no signs of
              // life is a crashed writer's orphan — clear it and retry the
              // same number so one crash can't wedge every base-pinned
              // writer until the retention sweep. A live writer's sidecar
              // job keeps its _cdf_ mtimes fresh, and its pre-marker
              // ownership re-check makes a mistaken reclaim loud, not a
              // lost update.
              val existing = manifestPath(dir, v)
              val newestTouch: Long = {
                def mt(p: Path): Long =
                  scala.util.Try(Files.getLastModifiedTime(p).toMillis)
                    .getOrElse(Long.MaxValue)
                // every commit-owned sidecar of v counts as a sign of life
                val cdfNewest = listNames(dir)
                  .filter(n => sidecarOf(n).exists(_._1 == v))
                  .map { n =>
                    val c = dir.resolve(n)
                    scala.util.Try {
                      val s = Files.walk(c)
                      try s.iterator().asScala.map(mt).foldLeft(0L)(math.max)
                      finally s.close()
                    }.getOrElse(Long.MaxValue)
                  }.foldLeft(0L)(math.max)
                math.max(mt(existing), cdfNewest)
              }
              val stale = !Files.exists(marker(dir, v)) &&
                System.currentTimeMillis() - newestTouch > OrphanGraceMs
              if (stale) {
                // move-aside, never delete: if the writer we judged dead
                // creates its marker between our staleness check and here,
                // its manifest must still be installable — a plain delete
                // would let OUR content commit under THEIR marker
                val backup = dir.resolve(
                  s".manifest.reclaimed-${java.util.UUID.randomUUID()}")
                val movedAside = scala.util.Try {
                  Files.move(existing, backup,
                    StandardCopyOption.ATOMIC_MOVE); true
                }.getOrElse(false)
                if (movedAside && Files.exists(marker(dir, v))) {
                  // it committed after all — restore and treat v as taken
                  scala.util.Try(Files.move(backup, existing,
                    StandardCopyOption.ATOMIC_MOVE))
                  expectedBase match {
                    case Some(base) => throw conflict(tableDir, base, v)
                    case None => v += 1
                  }
                } else {
                  if (movedAside) {
                    reclaimBackup = Some(v -> backup)
                    // the crashed writer's sidecar is dead weight now
                    metaHeader(backup).flatMap(_.get(CommitIdKey)).foreach(id =>
                      try deleteRecursively(sidecarDir(dir, v, id))
                      catch { case _: Exception => () })
                  }
                }
              } else if (Files.exists(marker(dir, v)) && txnAborted(dir, v)) {
                // a decided-aborted transaction occupies this number: it is
                // invisible and never inherited from, so allocating past it
                // keeps the caller's semantic base — not a conflict
                v += 1
              } else expectedBase match {
                case Some(base) => throw conflict(tableDir, base, v)
                case None => v += 1
              }
          }
        }
        // In-commit timestamp, re-clamped now that the version number is
        // OURS: the pre-write clamp read the base before the claim, so a
        // commit racing into that window (possible for un-pinned writers —
        // pinned ones throw conflict instead) could carry an equal-or-
        // later stamp and break the strictly-increasing invariant that
        // TIMESTAMP AS OF resolution binary-searches on. Our claim is
        // still marker-less, so latestVersion resolves to the true
        // predecessor; the claimed manifest is writer-owned until the
        // marker lands, making the in-place rewrite safe (concurrent
        // claimers only probe existence, readers only trust markers).
        latestVersion(tableDir)
          .flatMap(pv => manifestMetaOnly(tableDir, pv))
          .flatMap(_.get(CommitTsKey))
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .filter(_ >= commitTs).foreach { prevTs =>
            val metaLines2 = (metaFinal + (CommitTsKey -> (prevTs + 1).toString))
              .toSeq.sortBy(_._1).map { case (k, mv) => s"#$k=$mv" }
            Files.write(manifestPath(dir, v),
              ((schemaJson +: metaLines2) ++ contentLines).mkString("\n")
                .getBytes(StandardCharsets.UTF_8))
          }
        // move staged files into place — readers still resolve the old
        // version until the marker lands, and never list the root (they
        // scan manifest file lists), so a half-moved state is invisible.
        // beforeMarker runs with the claimed version number but BEFORE the
        // commit point (callers stage version-keyed sidecars, e.g. change-
        // data files, atomically with the commit); its failure aborts.
        try {
          stagedSrc.foreach { p =>
            val dest = dir.resolve(staging.relativize(p).toString)
            if (dest.getParent != dir) Files.createDirectories(dest.getParent)
            Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
            moved += dest
          }
          beforeMarker(v, staged, commitId)
          // ownership re-check: if a conflicting claimer mistook this
          // (slow) commit for a crashed orphan and reclaimed v, the
          // manifest at v is no longer OUR tmp hard-link — creating the
          // marker would commit THEIR manifest under our name (and report
          // success for rows that never committed). Fail loudly instead.
          if (!Files.isSameFile(manifestPath(dir, v), tmp))
            throw conflict(tableDir, expectedBase.getOrElse(0L), v)
        } catch {
          case e: Exception =>
            // abort cleanly: un-claim (no marker yet -> never committed)
            // and clear this commit's partially-written sidecar. Only if
            // the claim is still OURS — deleting a reclaimer's fresh
            // manifest would repeat the very race being aborted.
            val stillOurs = scala.util.Try(
              Files.isSameFile(manifestPath(dir, v), tmp)).getOrElse(false)
            if (stillOurs) Files.deleteIfExists(manifestPath(dir, v))
            try deleteRecursively(sidecarDir(dir, v, commitId))
            catch { case _: Exception => () }
            throw e
        }
        // commit point: atomic marker creation; monotonic by construction.
        // An EEXIST here means the writer we reclaimed was alive and
        // committed first: un-link our manifest and put ITS manifest back
        // under its marker before failing loudly — its acknowledged data
        // must be what the committed version serves.
        try { Files.createFile(marker(dir, v)); markerLanded = true }
        catch {
          case _: FileAlreadyExistsException =>
            Files.deleteIfExists(manifestPath(dir, v))
            reclaimBackup.collect { case (bv, b) if bv == v =>
              scala.util.Try(Files.move(b, manifestPath(dir, v),
                StandardCopyOption.ATOMIC_MOVE))
            }
            throw conflict(tableDir, expectedBase.getOrElse(0L), v)
        }
        // post-marker ownership validation: a reclaim racing between the
        // pre-marker isSameFile check and the marker would have had OUR
        // marker commit THEIR manifest — detect it, retract the marker
        // (restoring the pre-commit state; the reclaimer commits its own
        // marker when ready), and fail loudly. The residual window is the
        // few instructions between createFile and this re-check — not
        // zero, but a filesystem without compare-and-swap cannot do
        // better, and the reclaim itself only triggers after
        // OrphanGraceMs of NO observable commit activity.
        if (!scala.util.Try(
            Files.isSameFile(manifestPath(dir, v), tmp)).getOrElse(false)) {
          Files.deleteIfExists(marker(dir, v))
          throw conflict(tableDir, expectedBase.getOrElse(0L), v)
        }
        // committed with our manifest: a reclaimed orphan's moved-aside
        // content is now provably dead weight
        reclaimBackup.foreach { case (_, b) =>
          scala.util.Try(Files.deleteIfExists(b)) }
        try deleteRecursively(staging) catch { case _: Exception => () }
        // the full sweep re-parses kept manifests and walks the data tree
        // — O(table) metadata work a small append should not pay on every
        // commit. Run it when a version is actually droppable (the cheap
        // marker-age probe below) and periodically for orphan/litter
        // cleanup; explicit vacuum() always sweeps.
        try {
          val candidates = listNames(dir)
            .flatMap(numericSuffix(_, MarkerPrefix)).sorted.dropRight(Retain)
          val now = System.currentTimeMillis()
          val droppable = candidates.exists(c => scala.util.Try(
            now - Files.getLastModifiedTime(marker(dir, c)).toMillis >=
              RetainAgeMs).getOrElse(false))
          if (droppable || v % 16 == 0) sweep(dir, RetainAgeMs)
        } catch { case _: Exception => () }
        Commit(v, staged, files)
      } finally Files.deleteIfExists(tmp)
    } catch {
      case e: Throwable =>
        // failed commits leave no litter; crashed ones are swept by age.
        // Before the marker the moved data files are unreferenced (they
        // carry this commit's own write-job names); after it they may be
        // live, so only the staging directory goes.
        if (!markerLanded) moved.foreach(p =>
          try Files.deleteIfExists(p) catch { case _: Exception => () })
        try deleteRecursively(staging) catch { case _: Exception => () }
        throw e
    }
  }

  private def conflict(tableDir: String, base: Long, seen: Long) =
    new ConcurrentWriteException(
      s"$tableDir: commit based on version $base lost the race (version " +
        s"$seen exists) — re-read the table and retry the operation")

  /** Sweep versions outside the retention window and data files no retained
    * manifest references. Safe to run any time; `commitFiles` runs it
    * best-effort after every commit with [[RetainAgeMs]]. */
  def vacuum(tableDir: String, retainAgeMs: Long = RetainAgeMs): Unit =
    sweep(Paths.get(tableDir), retainAgeMs)

  /** VACUUM DRY RUN — what `vacuum` WOULD delete, as (category,
    * table-relative path) pairs, without touching anything. Same
    * decision code as the real sweep (the deletions are routed through
    * one recorder), so the report cannot drift from the behavior: at
    * 100 TB nobody should run an irreversible sweep blind. Categories:
    * `marker`/`manifest`/`cdf`/`txnref` (dropped or orphaned
    * protocol metadata), `scratch` (crashed writers' staging), `data`
    * (files no retained manifest references). One pass's prediction —
    * the real sweep converges over successive runs as delta-manifest
    * chain deps unwind, so a later vacuum may free more. */
  def vacuumReport(tableDir: String,
      retainAgeMs: Long = RetainAgeMs): Seq[(String, String)] = {
    val buf = scala.collection.mutable.Buffer[(String, String)]()
    sweep(Paths.get(tableDir), retainAgeMs, collect = Some(buf))
    buf.toSeq
  }

  private def sweep(dir: Path, retainAgeMs: Long,
      collect: Option[scala.collection.mutable.Buffer[(String, String)]] =
        None): Unit = {
    // dry run: every deletion routes through these two; Some(buf) records
    // instead of deleting, so report and behavior share one rule set
    def zapFile(p: Path, what: String): Unit = collect match {
      case Some(buf) =>
        if (Files.exists(p)) { buf += what -> dir.relativize(p).toString; () }
      case None => Files.deleteIfExists(p); ()
    }
    def zapTree(p: Path, what: String): Unit = collect match {
      case Some(buf) =>
        if (Files.exists(p)) { buf += what -> dir.relativize(p).toString; () }
      case None => deleteRecursively(p)
    }
    val names = listNames(dir)
    val markers = names.flatMap(numericSuffix(_, MarkerPrefix)).sorted
    if (markers.isEmpty) return
    val now = System.currentTimeMillis()
    def young(p: Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis < retainAgeMs
      catch { case _: Exception => true } // can't stat -> keep (safe side)
    // a version survives on EITHER floor: young enough, or newest-Retain
    val byCount = markers.takeRight(Retain).toSet
    val kept = markers.filter(v => byCount(v) || young(marker(dir, v)))
    val dropped = markers.filterNot(kept.contains)
    // delta-manifest chain dependencies: resolving a kept (or claimed-but-
    // unmarked) version replays through its basedOn ancestors — those
    // manifest FILES must outlive their own versions' retention. A dep
    // exits this set once every survivor's chain has moved past it (at
    // most CheckpointInterval commits later); the markerless-orphan sweep
    // below then clears it, and its formerly-protected data files free up
    // on the following sweep.
    // Roots: committed survivors plus YOUNG markerless claims (a writer
    // mid-commit). An OLD markerless manifest is either a crashed claim or
    // a lingering dep — it must not root a chain, or deps would keep each
    // other alive forever and dismantle only one level per sweep.
    val claimedUnmarkedPre = names.flatMap(numericSuffix(_, ManifestPrefix))
      .filterNot(v => Files.exists(marker(dir, v)))
    val chainDeps: Set[Long] = {
      val deps = scala.collection.mutable.Set[Long]()
      (kept ++ claimedUnmarkedPre.filter(v => young(manifestPath(dir, v))))
        .foreach { v0 =>
          var cur = basedOnOf(dir.toString, v0)
          while (cur.isDefined && deps.add(cur.get))
            cur = basedOnOf(dir.toString, cur.get)
        }
      deps.toSet
    }
    dropped.foreach { v =>
      zapFile(marker(dir, v), "marker")
      if (!chainDeps(v)) zapFile(manifestPath(dir, v), "manifest")
      names.filter(n => sidecarOf(n).exists(_._1 == v))
        .foreach(n => zapTree(dir.resolve(n), "cdf")) // change sidecars
      names.filter(_.startsWith(s"$TxnRefPrefix${v}_"))
        .foreach(n => zapFile(dir.resolve(n), "txnref")) // txn refs
    }
    // txn refs of versions that never committed (a crashed claim wrote the
    // ref in beforeMarker, the marker never landed) age out like any
    // orphan; refs of committed versions stay until the version drops or
    // roll-forward cleanup removes them
    names.filter(_.startsWith(TxnRefPrefix)).foreach { n =>
      val vPart = n.drop(TxnRefPrefix.length)
        .takeWhile(c => c >= '0' && c <= '9')
      val ok = vPart.nonEmpty && vPart.length <= 18 &&
        Files.exists(marker(dir, vPart.toLong))
      if (!ok) {
        val p = dir.resolve(n)
        if (!young(p)) zapFile(p, "txnref")
      }
    }
    // change-data sidecars of versions that never committed (crash between
    // sidecar write and marker) age out like any orphan
    names.flatMap(n => sidecarOf(n).map { case (v, id) => (n, v, id) })
      .filter { case (_, v, id) =>
        // a sidecar orphans unless the COMMITTED version's manifest names
        // its id
        !Files.exists(marker(dir, v)) ||
          !manifestMetaOnly(dir.toString, v)
            .exists(_.get(CommitIdKey).contains(id))
      }
      .foreach { case (n, _, _) =>
        val p = dir.resolve(n)
        if (!young(p)) zapTree(p, "cdf")
      }
    // orphaned claims from crashed writers: manifest with no marker —
    // sweep once they cannot be in-flight.
    // Chain deps are markerless by design once their version dropped: skip
    // them here until the survivors' chains move past them.
    names.flatMap(numericSuffix(_, ManifestPrefix))
      .filter(v => !Files.exists(marker(dir, v)) && !chainDeps(v))
      .foreach { v =>
        val p = manifestPath(dir, v)
        if (!young(p)) zapFile(p, "manifest")
      }
    // data files — ONE rule for everything that is not protocol metadata:
    // a file referenced by a retained manifest stays; anything else (files
    // removed by later versions, pre-protocol loose files, legacy hive
    // col=value dirs from before the protocol, round-2 `data-*` pools,
    // crashed writers' leftovers) is deleted once old enough that no
    // in-flight writer or slow reader can still be using it
    // deletion-vector sidecars are referenced THROUGH entry stats, not the
    // file list — they must survive exactly as long as an entry points at
    // them (a swept sidecar would silently resurrect its deleted rows)
    // ...and CLAIMED-BUT-UNMARKED manifests protect their files too: a
    // long-running commit moves its staged files to the root (mtimes
    // preserved — they can already be past the age floor) in the
    // claim-to-marker window, and sweeping them there would let the
    // commit land a marker over deleted data. The orphan-manifest sweep
    // above bounds how long an unmarked claim can extend protection.
    val claimedUnmarked = listNames(dir)
      .flatMap(numericSuffix(_, ManifestPrefix))
      .filterNot(v => Files.exists(marker(dir, v))) ++
      // dry-run parity: the real sweep has deleted dropped markers by
      // this point, which turns surviving chain-dep manifests into
      // markerless file-protectors — mirror that without deleting
      collect.fold(Seq.empty[Long])(_ => dropped.filter(chainDeps))
    // resolution failures: a COMMITTED version that cannot resolve means
    // the metadata is corrupt — abort the data-file sweep entirely rather
    // than delete files a reader may still legitimately need. A markerless
    // leftover that cannot resolve protects nothing (it is garbage).
    val resolved = (kept ++ claimedUnmarked).map(v =>
      v -> scala.util.Try(readManifest(dir.toString, v)))
    val keptSet = kept.toSet
    if (resolved.exists { case (v, t) => keptSet(v) && t.isFailure }) return
    val referenced: Set[String] = resolved
      .flatMap { case (_, t) => t.toOption.flatten.map(m =>
        m.files ++ m.entries.flatMap(e => dvRefOf(e).map(_._1)))
        .getOrElse(Seq.empty) }
      .toSet
    names.foreach { n =>
      val p = dir.resolve(n)
      if (n.startsWith(StagingPrefix) || n.startsWith(".manifest.")) {
        // crashed writers' scratch — never referenced once orphaned. Age
        // by the NEWEST mtime in the subtree: a long-running write keeps
        // touching deep task files while the staging ROOT's mtime stays at
        // job start, and sweeping a live writer's scratch kills its job.
        val newest = scala.util.Try {
          val s = Files.walk(p)
          try s.iterator().asScala
            .map(q => Files.getLastModifiedTime(q).toMillis)
            .foldLeft(0L)(math.max)
          finally s.close()
        }.getOrElse(Long.MaxValue) // can't stat -> keep (safe side)
        if (now - newest >= retainAgeMs) zapTree(p, "scratch")
      } else if (!n.startsWith("_") && !n.startsWith(".")) {
        if (Files.isRegularFile(p)) {
          if (!referenced.contains(n) && !young(p)) zapFile(p, "data")
        } else if (Files.isDirectory(p)) {
          val s = Files.walk(p)
          val all = try s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          finally s.close()
          all.foreach { q =>
            if (Files.isRegularFile(q) &&
                !referenced.contains(dir.relativize(q).toString) && !young(q))
              zapFile(q, "data")
            else if (collect.isEmpty &&
                Files.isDirectory(q) && listNames(q).isEmpty && !young(q))
              // deepest-first: emptied dirs collapse; a racer refilling or
              // pre-deleting the dir is fine either way. (Not reported in
              // dry runs — an empty dir is not data loss.)
              try Files.deleteIfExists(q)
              catch { case _: java.io.IOException => () }
          }
          if (collect.isEmpty && listNames(p).isEmpty && !young(p))
            try Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () }
        }
      }
    }
  }

  private[lakehouse] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        // a concurrent sweep may be removing the same subtree — a path
        // vanishing (or a dir briefly non-empty from a racer) must not
        // abort the rest of the walk
        .forEach(f => try Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () })
}
