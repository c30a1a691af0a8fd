package graft.lakehouse

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** COPY INTO — idempotent bulk-file ingestion into versioned tables, the
  * raw-landing-zone half of the reference's load pattern (common.py's
  * `writeTable` callers ingest staged extracts; Delta's `COPY INTO`
  * formalizes it). Loading the same source directory twice loads nothing
  * the second time; adding files to the directory loads ONLY the new
  * files. That is what makes scheduled loads restartable: a crashed or
  * double-scheduled job re-runs to a no-op instead of duplicating rows.
  *
  * Ledger design — the loaded-file history is part of the table's
  * versioned state, not a side database:
  *
  *   - each ingest commit writes a sidecar `_ingest/<cid>.json` listing
  *     the (path, size, mtime) triples it loaded, then commits with the
  *     manifest-meta key `ingest:<cid>` riding the SAME atomic commit.
  *     `cid` is a content hash of the file list, so a retried batch
  *     rewrites the identical sidecar rather than forking.
  *   - the CURRENT manifest's `ingest:*` keys define the ledger. Meta
  *     carries forward through append/MERGE/DELETE/maintenance, so DML
  *     never forgets what was loaded; an OVERWRITE drops the keys (the
  *     loaded data is gone — reloading those files is now legitimate);
  *     RESTORE reverts the ledger with the data, so files loaded after
  *     the restore point become loadable again. All three follow from
  *     meta semantics that already exist — no new protocol.
  *   - a crash between sidecar write and commit orphans a tiny JSON file
  *     that no manifest references: ignored by readers, inert forever
  *     (vacuum's data sweep skips `_`-prefixed protocol paths).
  *
  * Concurrency — exactly-once under racing loaders: the new-file diff is
  * computed against an observed version and the commit pins that version
  * ([[TableIO.appendTable]] `pinBase`). Two loaders racing the same files
  * both diff, one commits, the loser's CAS fails and it re-diffs against
  * the winner's ledger — finding nothing left to load. Without the pin,
  * the loser's internal retry would re-append an already-loaded batch.
  *
  * 100 TB notes: listing is one driver-side recursive enumeration
  * (O(#source files), same as Delta's COPY INTO); the data path is a
  * plain distributed `spark.read` over exactly the new files — never a
  * re-read of the table. Ledger reads are O(#ingest commits) tiny JSON
  * sidecars; once the key count passes [[ConsolidateAt]] they compact to
  * ONE sidecar via a metadata-only commit, so a year of hourly loads
  * costs one key, not 9 000. Schema inference is refused unless opted
  * into — it is a second full pass over the raw files.
  */
object Ingest {
  /** Sidecar directory under the table dir. Underscore prefix = protocol
    * metadata: vacuum's data-file sweep never touches it. */
  val LedgerDir = "_ingest"
  /** Manifest-meta key prefix; value = file count of the batch. */
  val KeyPrefix = "ingest:"
  /** Ledger keys in the manifest above this count consolidate into one
    * merged sidecar via a metadata-only commit (best-effort, after the
    * ingest commit lands). */
  @volatile var ConsolidateAt = 64

  /** One source file's identity in the ledger. Re-ingest sees a file as
    * already-loaded iff path AND size AND mtime all match — an in-place
    * rewrite that changes neither (same bytes-length within the same
    * mtime granule) is indistinguishable, the same contract as Delta's
    * COPY INTO file-metadata dedup. */
  final case class SourceFile(path: String, size: Long, mtime: Long) {
    private[lakehouse] def key: String =
      path + "\u0000" + size + "\u0000" + mtime
  }

  final case class CopyResult(table: TableInfo, version: Long,
      filesLoaded: Long, filesSkipped: Long, rowsLoaded: Long)

  /** Load every not-yet-loaded file under `source` into `tableName`.
    *
    * Schema resolution: an explicit `schema` wins; otherwise an existing
    * table reads with its own schema MINUS identity columns (those are
    * engine-assigned on the way in); otherwise parquet self-describes,
    * and csv/json REQUIRE either `schema` or `inferSchema=true` in
    * `options` (inference = an extra full pass; at scale that must be a
    * choice, not a default). Loud by default, per what each format can
    * cheaply reveal: csv headers are VALIDATED against the schema
    * (`enforceSchema=false`) so a reordered or truncated extract fails
    * instead of mis-mapping; parquet footers are checked against the
    * table schema (metadata-only) so extra or missing source columns are
    * errors; malformed csv/json records FAILFAST rather than nulling.
    * Json maps by name under the declared schema — a field absent from
    * the json text reads as null (knowing better would cost a full
    * inference pass; that is the standard semi-structured contract).
    *
    * `force = true` reloads everything listed regardless of the ledger
    * (rows duplicate — that is the point of force) and records the batch
    * under a nonce'd cid so it never masks later incremental loads. */
  def copyInto(spark: SparkSession, lh: LakehouseProps, tableName: String,
      source: String, format: String = "csv",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty,
      force: Boolean = false, maxRetries: Int = 5): CopyResult = {
    require(Set("csv", "json", "parquet", "orc", "text", "binaryfile")(format),
      s"copyInto: unsupported format '$format' " +
        "(csv, json, parquet, orc, text, binaryfile)")
    val tableDir = Catalog.tablePath(lh, tableName)
    val listed = listSource(spark, source)
    // a lost race means a concurrent commit (possibly another loader of
    // the SAME files) advanced the table: re-diff against its ledger
    Versioned.retryOnConflict(maxRetries + 1) {
      val (base, manifest) = TableIO.adopted(spark, tableDir).unzip
      val meta = manifest.map(_.meta).getOrElse(Map.empty[String, String])
      val loaded: Set[String] =
        if (force) Set.empty
        else ledgerCids(meta).flatMap(readLedger(tableDir, _)).map(_.key).toSet
      val fresh = listed.filterNot(f => loaded(f.key))
      val skipped = listed.size - fresh.size
      if (fresh.isEmpty) {
        require(manifest.isDefined,
          s"copyInto: $source has no loadable files and table $tableName " +
            "does not exist")
        CopyResult(currentInfo(lh, tableName, manifest.get),
          base.get, 0L, skipped.toLong, 0L)
      } else {
        val aligned = readAligned(spark, fresh, format, schema, options,
          manifest, tableName)
        val cid = cidOf(fresh, force)
        writeLedger(tableDir, cid, fresh)
        val info = TableIO.appendTable(spark, lh, tableName, aligned,
          extraMeta = Map(KeyPrefix + cid -> fresh.size.toString),
          pinBase = Some(base.getOrElse(0L)))
        // our commit is the first version ABOVE the pinned base carrying
        // this batch's ledger key — not necessarily base+1: the claim
        // loop allocates past decided-aborted transaction versions, whose
        // manifests must never be mistaken for ours
        val v = Versioned.committedVersions(tableDir)
          .filter(_ > base.getOrElse(0L)).sorted
          .find(cv => Versioned.readManifest(tableDir, cv)
            .exists(_.meta.contains(KeyPrefix + cid)))
          .getOrElse(throw new IllegalStateException(
            s"copyInto($tableName): committed batch $cid not found above " +
              s"base $base"))
        val mNew = Versioned.readManifest(tableDir, v)
        val rows = mNew.map { m =>
          val prev = manifest.map(_.files.toSet).getOrElse(Set.empty)
          val added = m.entries.filterNot(e => prev(e.path))
          val counts = added.map(TableIO.entryRows)
          if (counts.forall(_.isDefined)) counts.flatten.sum else -1L
        }.getOrElse(-1L)
        mNew.foreach(consolidate(tableDir, v, _))
        CopyResult(info, v, fresh.size.toLong, skipped.toLong, rows)
      }
    }
  }

  /** The loaded-file ledger of the CURRENT version as a DataFrame
    * (`batch`, `path`, `size`, `mtime`) — COPY INTO's answer to DESCRIBE
    * HISTORY. Time-travel consistent: reading after RESTORE shows the
    * restored version's ledger. */
  def loadHistory(spark: SparkSession, lh: LakehouseProps,
      tableName: String): DataFrame = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val meta = Versioned.latestVersion(tableDir)
      .flatMap(Versioned.readManifest(tableDir, _))
      .map(_.meta).getOrElse(Map.empty[String, String])
    val rows = ledgerCids(meta).sorted.flatMap(cid =>
      readLedger(tableDir, cid).map(f => (cid, f.path, f.size, f.mtime)))
    import spark.implicits._
    rows.toDF("batch", "path", "size", "mtime")
  }

  // ---- internals ----------------------------------------------------

  private def ledgerCids(meta: Map[String, String]): Seq[String] =
    meta.keys.filter(_.startsWith(KeyPrefix))
      .map(_.drop(KeyPrefix.length)).toSeq

  /** Recursive enumeration via the Hadoop FS API (any scheme a cluster
    * mounts). Hidden and `_`-prefixed names (checksums, _SUCCESS) skip,
    * matching Spark's own source-file filter. */
  private def listSource(spark: SparkSession,
      source: String): Seq[SourceFile] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(source)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"copyInto: source $source does not exist")
    val out = Seq.newBuilder[SourceFile]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith(".") && !name.startsWith("_"))
        out += SourceFile(st.getPath.toUri.toString, st.getLen,
          st.getModificationTime)
    }
    out.result().sortBy(_.path)
  }

  private def cidOf(files: Seq[SourceFile], force: Boolean): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update((f.key + "\n").getBytes(UTF_8)))
    if (force) // nonce: a force batch must never shadow later increments
      md.update(java.util.UUID.randomUUID().toString.getBytes(UTF_8))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def writeLedger(tableDir: String, cid: String,
      files: Seq[SourceFile]): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val dir = Paths.get(tableDir, LedgerDir)
    Files.createDirectories(dir)
    val json = files.map(f =>
      ("path" -> f.path) ~ ("size" -> f.size) ~ ("mtime" -> f.mtime))
    val tmp = dir.resolve(s".$cid.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, compact(render(json)).getBytes(UTF_8))
    Files.move(tmp, dir.resolve(s"$cid.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readLedger(tableDir: String, cid: String): Seq[SourceFile] = {
    import org.json4s.{JArray, JInt, JObject, JString}
    import org.json4s.jackson.JsonMethods.parse
    val p = Paths.get(tableDir, LedgerDir, s"$cid.json")
    if (!Files.isRegularFile(p)) return Seq.empty
    scala.util.Try(parse(new String(Files.readAllBytes(p), UTF_8))) match {
      case scala.util.Success(JArray(items)) => items.collect {
        case o: JObject =>
          val m = o.obj.toMap
          (m.get("path"), m.get("size"), m.get("mtime")) match {
            case (Some(JString(pa)), Some(JInt(s)), Some(JInt(t))) =>
              Some(SourceFile(pa, s.toLong, t.toLong))
            case _ => None
          }
      }.flatten
      case _ => Seq.empty // unreadable sidecar = empty batch (re-loadable)
    }
  }

  /** Read `files` and align to the target table's schema: identity
    * columns are engine-assigned and generated columns computed by the
    * append path when absent; everything else must arrive, and nothing
    * extra may. */
  private def readAligned(spark: SparkSession, files: Seq[SourceFile],
      format: String, schema: Option[StructType],
      options: Map[String, String], manifest: Option[Versioned.Manifest],
      tableName: String): DataFrame = {
    val targetSchema = manifest.map(m =>
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
    val idCols = manifest.map(m => TableIO.identityColsOf(m.meta).toSet)
      .getOrElse(Set.empty[String])
    val genCols = manifest.map(m =>
      TableIO.generatedColsOf(m.meta).keySet).getOrElse(Set.empty[String])
    // DEFAULT columns may legitimately be absent from the source — the
    // append path fills them with the stored constant
    val defCols = manifest.map(m =>
      TableIO.defaultColsOf(m.meta).keySet).getOrElse(Set.empty[String])
    // self-describing formats carry their schema in file metadata (no
    // inference pass); text and binaryfile have FIXED reader schemas
    val selfDescribing = Set("parquet", "orc")(format)
    val fixedSchema = Set("text", "binaryfile")(format)
    val readSchema: Option[StructType] =
      if (fixedSchema) None
      else schema.orElse(targetSchema.map(t =>
        StructType(t.fields.filterNot(f => idCols(f.name)): Array[StructField])))
    if (!selfDescribing && !fixedSchema)
      require(readSchema.isDefined ||
          options.get("inferSchema").contains("true"),
        s"copyInto($tableName): $format needs an explicit schema (or an " +
          "existing table to align to) — schema inference is a full " +
          "extra pass over the source; opt in with inferSchema=true")
    // loud-by-default: csv headers are VALIDATED against the schema
    // (enforceSchema=false) instead of blindly position-mapped, and
    // malformed records fail the load rather than turning into nulls.
    // Callers can override any of these per Spark's reader options.
    val defaults = format match {
      case "csv" => Map("header" -> "true", "enforceSchema" -> "false",
        "mode" -> "FAILFAST")
      case "json" => Map("mode" -> "FAILFAST")
      case _ => Map.empty[String, String]
    }
    val readerFormat = if (format == "binaryfile") "binaryFile" else format
    var reader = spark.read.format(readerFormat).options(defaults ++ options)
    readSchema.foreach(s => reader = reader.schema(s))
    val raw = reader.load(files.map(_.path): _*)
    // what the SOURCE actually provides: parquet footers are
    // self-describing metadata (no data scan) so the reality check is
    // free; csv reality is the validated header above; json fields
    // cannot be known without a full inference pass — absent json fields
    // read as null under the declared schema (the standard
    // semi-structured contract), so the checks below cover the declared
    // shape only.
    val sourceCols: Set[String] =
      if (selfDescribing)
        spark.read.format(format).options(options)
          .load(files.map(_.path): _*).columns.toSet
      else raw.columns.toSet
    targetSchema.fold(raw) { t =>
      val missing = t.fields.map(_.name)
        .filterNot(n => sourceCols(n) || idCols(n) || genCols(n) ||
          defCols(n))
      require(missing.isEmpty,
        s"copyInto($tableName): source lacks column(s) " +
          s"${missing.mkString(", ")}")
      val extra = sourceCols.filterNot(t.fieldNames.toSet)
      require(extra.isEmpty,
        s"copyInto($tableName): source has column(s) the table lacks: " +
          s"${extra.mkString(", ")} — drop them or evolve the table first")
      val present = raw.columns.toSet
      raw.select(t.fields.filter(f => present(f.name))
        // a DEFAULT column the source did not PHYSICALLY provide reads
        // back all-null under the declared schema — drop it here so the
        // append path sees an omitted column and fills the default
        // (json's absent-fields-as-null contract means defaults do not
        // fire for json sources; provide the column or drop the default)
        .filterNot(f => defCols(f.name) && !sourceCols(f.name))
        .map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    }
  }

  /** Merge all ledger sidecars into one and swap the meta keys in a
    * metadata-only commit (inherit everything, write nothing). Losing a
    * race here just defers compaction to the next ingest. */
  private def consolidate(tableDir: String, v: Long,
      m: Versioned.Manifest): Unit = {
    val keys = m.meta.keys.filter(_.startsWith(KeyPrefix)).toSeq
    if (keys.size <= ConsolidateAt) return
    val merged = keys.flatMap(k => readLedger(tableDir, k.drop(KeyPrefix.length)))
      .distinctBy(_.key).sortBy(_.path)
    val cid = cidOf(merged, force = false)
    writeLedger(tableDir, cid, merged)
    try {
      Versioned.commitFiles(tableDir, m.schemaJson, inherit = m.entries,
        expectedBase = Some(v),
        meta = (m.meta -- keys) + (KeyPrefix + cid -> merged.size.toString),
        op = "INGEST_COMPACT")
      ()
    } catch { case _: Versioned.ConcurrentWriteException => () }
  }

  private def currentInfo(lh: LakehouseProps, tableName: String,
      m: Versioned.Manifest): TableInfo = {
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    TableInfo(lh.lakehouseName, TableIO.rowsFromManifest(m).getOrElse(-1L),
      schema.fields.length, schema.fieldNames.toSeq,
      Catalog.tablePath(lh, tableName),
      TableIO.partitioningOfFiles(m.files))
  }

  /** Expectation-gated ingestion (the DLT `expect_or_quarantine`
    * pattern): one codegen'd gate pass tags each batch row with its
    * failed row-local checks, passing rows append to `tableName`, failing
    * rows append to `quarantineName` with a `failed_checks` column (the
    * check names, declaration order, comma-joined — a quarantine row
    * must say WHY it landed there or triage is archaeology). Returns
    * (passed, quarantined) counts.
    *
    * Scale shape: the gate is per-row and the split is two filters over
    * one persisted gated frame — the batch is scanned once and shuffles
    * only through the writers. BOTH destinations are created on first
    * use even when their half of the batch is empty, so a reader of the
    * quarantine table never depends on a failure having happened; both
    * appends are ordinary versioned commits, so the quarantine table
    * carries a change feed / time travel like any other.
    *
    * Exactly-once seam: the two halves commit separately, so a crash
    * between them half-lands the batch. Callers that need replay safety
    * pass a batch marker via `extraMeta` (the `txn:<appId>` convention) —
    * it commits atomically WITH each half's data (an empty half still
    * commits a marker-only version), making a half-landed batch
    * detectable per destination, and can skip an already-landed half via
    * `landGold` / `landQuarantine` ([[ext.EventWindows.streamIngestGated]]
    * does exactly this). */
  def appendWithQuarantine(spark: SparkSession, lh: LakehouseProps,
      tableName: String, quarantineName: String, batch: DataFrame,
      checks: Seq[graft.lakehouse.ext.Quality.Expectation],
      extraMeta: Map[String, String] = Map.empty,
      landGold: Boolean = true,
      landQuarantine: Boolean = true): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, concat_ws, size}
    val gated = graft.lakehouse.ext.Quality.gateExpectations(batch, checks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val good = gated.filter(size(col("failed_checks")) === 0)
        .drop("failed_checks")
      val bad = gated.filter(size(col("failed_checks")) > 0)
        .withColumn("failed_checks", concat_ws(",", col("failed_checks")))
      def land(name: String, df: DataFrame, enabled: Boolean): Long = {
        if (!enabled) return 0L
        val n = df.count()
        val dir = Catalog.tablePath(lh, name)
        if (Versioned.latestVersion(dir).isEmpty)
          TableIO.writeTable(spark, lh, name, df, extraMeta = extraMeta)
        else if (n > 0 || extraMeta.nonEmpty)
          TableIO.appendTable(spark, lh, name, df, extraMeta = extraMeta)
        n
      }
      (land(tableName, good, landGold),
        land(quarantineName, bad, landQuarantine))
    } finally gated.unpersist()
  }

  /** Drain the quarantine: apply `fix` to the quarantined rows, re-gate
    * them through the SAME expectations, append the recovered rows to
    * the gold table, and overwrite the quarantine with what still fails
    * (failed_checks recomputed). Both sides are ordinary versioned
    * commits, so the drain is auditable — time travel shows exactly
    * which rows each replay recovered — and repeated replays converge (a
    * fix that recovers nothing rewrites the same still-bad set). Returns
    * (recovered, stillBad).
    *
    * Crash safety (the txn-watermark contract of [[appendWithQuarantine]]
    * / `streamIngestGated`): the gold append stamps
    * `txn:replay:<quarantineName> -> <drained quarantine version>`
    * atomically with the recovered rows (a zero-recovery drain still
    * commits a marker-only version), so a crash BETWEEN the gold append
    * and the quarantine overwrite is detected on the next replay — the
    * quarantine still holds the old version, gold's watermark already
    * covers it, and the append is skipped instead of re-landing the
    * recovered rows as duplicates. */
  def replayQuarantine(spark: SparkSession, lh: LakehouseProps,
      tableName: String, quarantineName: String,
      fix: DataFrame => DataFrame,
      checks: Seq[graft.lakehouse.ext.Quality.Expectation],
      extraMeta: Map[String, String] = Map.empty): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, concat_ws, size}
    val qDir = Catalog.tablePath(lh, quarantineName)
    val qVersion = Versioned.latestVersion(qDir).getOrElse(
      throw new IllegalArgumentException(
        s"no quarantine table '$quarantineName' to replay"))
    val goldDir = Catalog.tablePath(lh, tableName)
    val marker = s"txn:replay:$quarantineName"
    // gold already carries this (or a later) quarantine version's drain —
    // we crashed after the append, before the overwrite; don't re-append
    val alreadyLanded = Versioned.latestVersion(goldDir)
      .flatMap(Versioned.readManifest(goldDir, _))
      .flatMap(_.meta.get(marker))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .exists(_ >= qVersion)
    val q = TableIO.selectTable(spark, lh, quarantineName)
      .drop("failed_checks")
    val gated = graft.lakehouse.ext.Quality.gateExpectations(fix(q), checks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val good = gated.filter(size(col("failed_checks")) === 0)
        .drop("failed_checks")
      val bad = gated.filter(size(col("failed_checks")) > 0)
        .withColumn("failed_checks", concat_ws(",", col("failed_checks")))
      val nGood = good.count()
      val nBad = bad.count()
      if (!alreadyLanded && (nGood > 0 || Versioned.latestVersion(goldDir).nonEmpty))
        TableIO.appendTable(spark, lh, tableName, good,
          extraMeta = extraMeta + (marker -> qVersion.toString))
      TableIO.writeTable(spark, lh, quarantineName, bad, extraMeta = extraMeta)
      (nGood, nBad)
    } finally gated.unpersist()
  }
}
