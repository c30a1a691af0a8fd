package graft.lakehouse.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, StructType}
import graft.lakehouse.{TableIO, Versioned}

/** Structured Streaming SOURCE over a [[Versioned]] table — `readStream`
  * follows the table's commit log the way Delta's streaming source follows
  * its transaction log. Offsets ARE version numbers: each micro-batch scans
  * exactly the data files added between two committed versions (the
  * streaming twin of `TableIO.readChangesSince`), so following a 100 TB
  * table costs O(increment) per trigger, and the offset checkpoint makes
  * restarts exactly-once without any source-side state.
  *
  * Non-append commits (merge/delete/compaction rewrote files) fail the
  * stream by default — file arithmetic can no longer express "the changes"
  * — matching Delta's source; `ignoreRewrites` opts into re-delivering
  * rewritten files (Delta's `ignoreChanges`, same re-delivery caveat).
  *
  * The schema is pinned at stream start (streaming contract): files written
  * after an upstream schema evolution read through the pinned schema
  * (extra columns dropped, missing ones null).
  *
  * Retention interaction: `getBatch` needs the manifest of the batch's
  * START version; a stream paused longer than `Versioned.RetainAgeMs`
  * (with > `Versioned.Retain` commits meanwhile) fails loudly on resume —
  * raise the retention window for slow consumers (Delta streams age out of
  * `delta.logRetentionDuration` the same way).
  *
  * Registered as `graft-table` (META-INF service); `TableIO.streamTable`
  * is the typed entry point.
  */
class VersionedTableProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** Streaming SINK side (see [[VersionedTableSink]]): append-only,
    * exactly-once via the txn watermark committed atomically in the
    * manifest. `appId` distinguishes multiple writers into one table. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-table sink is append-only (versioned blind appends); got $outputMode")
    new VersionedTableSink(sqlContext.sparkSession,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "graft-table sink needs a 'path' option (the table directory)")),
      partitionColumns, parameters.getOrElse("appId", "default"))
  }

  private def tableSchema(dir: String): Option[StructType] =
    Versioned.latestVersion(dir)
      .flatMap(v => Versioned.readManifest(dir, v))
      .map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType])

  private def cdfMode(parameters: Map[String, String]): Boolean =
    parameters.get("mode").contains("cdf")

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-table source needs a 'path' option (the table directory)"))
    val s = schema.orElse(tableSchema(dir)).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no committed version yet — create the table first or " +
          "pass an explicit schema"))
    val out =
      if (!cdfMode(parameters)) s
      else s.add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType)
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val dir = parameters("path")
    // fresh start vs checkpoint restart: the trigger cap may bound the
    // FIRST batch only on a fresh start — on restart the first getOffset
    // must not fall below the checkpointed offset (the engine would log a
    // lower end and re-deliver, breaking exactly-once), so it reads
    // uncapped until the recovery batch seeds the base. A marker in the
    // source's own metadata dir (FileStreamSource's pattern) tells the two
    // apart across process restarts.
    val freshStart = {
      import java.nio.file.{Files, Paths}
      val p = Paths.get(metadataPath.stripPrefix("file:"))
      // a checkpoint written BEFORE this marker existed must still read
      // as a restart (capping below its committed offset would trigger a
      // bogus rewrite error / regressive batch): any entry in the
      // checkpoint's offsets/ log proves history regardless of marker
      val hasOffsetHistory = scala.util.Try {
        // metadataPath = <ckpt>/sources/<i>
        val offsets = p.getParent.getParent.resolve("offsets")
        Files.isDirectory(offsets) && {
          val s = Files.list(offsets)
          try s.iterator().hasNext finally s.close()
        }
      }.getOrElse(false)
      val markerNew =
        try {
          Files.createDirectories(p)
          Files.createFile(p.resolve("graft-source-init"))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      markerNew && !hasOffsetHistory
    }
    new VersionedTableSource(sqlContext.sparkSession, dir,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      parameters.get("ignoreRewrites").exists(_.toBoolean),
      cdfMode(parameters),
      parameters.get("maxVersionsPerTrigger").map(_.toLong),
      freshStart)
  }
}

/** Exactly-once streaming SINK into a versioned table: each micro-batch is
  * a blind append (O(batch) — new files + inherited manifest), and the
  * batch watermark `txn:<appId> = batchId` commits ATOMICALLY in the same
  * manifest, so a replayed batch after a crash is detected and skipped —
  * Delta's txn-action idempotence, not best-effort dedup. Maintenance
  * commits (merge/compact/delete) carry manifest meta forward, so the
  * watermark survives them; a plain overwrite resets it (full-replace
  * semantics). Concurrent batch writers retry through the optimistic
  * protocol like any other append. */
class VersionedTableSink(spark: org.apache.spark.sql.SparkSession,
    tableDir: String, partitionColumns: Seq[String], appId: String)
    extends Sink {

  private val txnKey = s"txn:$appId"
  private val maxRetries = 5

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = StreamBridge.asBatch(spark, data)
    var attempt = 0
    while (true) {
      val base = Versioned.latestVersion(tableDir)
      val m = base.flatMap(Versioned.readManifest(tableDir, _))
      if (base.nonEmpty && m.isEmpty)
        throw new IllegalStateException(
          s"$tableDir: the streaming sink needs a manifest-based table " +
            "(legacy snapshot layouts carry no txn metadata)")
      // exactly-once: a replayed (crash-recovered) batch is already in the
      // committed watermark — skip it
      if (m.exists(_.meta.get(txnKey).exists(_.toLong >= batchId))) return
      try {
        m match {
          case None =>
            // pinned to base 0: a concurrent creator forces a retry as a
            // normal append instead of silently superseding its commit
            Versioned.commitFiles(tableDir, batch.schema.json,
              expectedBase = Some(0L),
              meta = Map(txnKey -> batchId.toString),
              op = "STREAM APPEND",
              stage = TableIO.writeStagedWithStats(batch, _))
          case Some(man) =>
            TableIO.enforceChecks(batch,
              TableIO.checkConstraintsOf(man.meta), s"$tableDir: sink batch")
            // align to the table schema by name (same evolution rule as
            // TableIO.appendTable): old columns keep positions, new ones
            // append nullable, pre-evolution files read them as null
            val oldSchema =
              DataType.fromJson(man.schemaJson).asInstanceOf[StructType]
            val oldEmpty = spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], oldSchema)
            val evolved = oldEmpty
              .unionByName(batch.limit(0), allowMissingColumns = true).schema
            // carry column-mapping metadata and tombstone remaps exactly
            // like the batch append path — a renamed table's stream must
            // keep writing the PHYSICAL names
            val evolvedM = TableIO.alignMapping(evolved, oldSchema,
              man.meta, base.getOrElse(0L))
            val aligned =
              oldEmpty.unionByName(batch, allowMissingColumns = true)
            val parts =
              if (partitionColumns.nonEmpty) partitionColumns
              else TableIO.partitionSpecOf(man.meta, man.files)
            Versioned.commitFiles(tableDir, evolvedM.json,
              inherit = man.entries, expectedBase = base,
              meta = man.meta + (txnKey -> batchId.toString),
              op = "STREAM APPEND",
              stage = t => TableIO.writeStagedWithStats(
                TableIO.toPhysical(aligned, evolvedM), t, parts,
                TableIO.bloomColsOf(man)))
        }
        return
      } catch {
        case e: Versioned.ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
  }

  override def toString: String = s"VersionedTableSink[$tableDir, app=$appId]"
}

class VersionedTableSource(spark: org.apache.spark.sql.SparkSession,
    tableDir: String, override val schema: StructType,
    ignoreRewrites: Boolean, cdf: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    freshStart: Boolean = true) extends Source {

  /** Offsets may arrive re-serialized after a checkpoint restart. */
  private def ver(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  private def manifestOf(v: Long): Versioned.Manifest =
    Versioned.readManifest(tableDir, v).getOrElse(
      throw new IllegalStateException(
        s"$tableDir: manifest for version $v is unavailable (legacy " +
          "snapshot layout, or swept by retention — raise " +
          "Versioned.RetainAgeMs for slow/paused streams)"))

  /** The newest version this source has handed the engine (offered via
    * [[getOffset]] or processed via [[getBatch]]) — the base the trigger
    * cap advances from. A fresh start caps from version 0 (bounding even
    * the initial snapshot); a restart reads uncapped until the recovery
    * batch seeds the base from the checkpoint. Engine calls are
    * serialized per source, but the two entry points interleave; volatile
    * keeps the reads honest. */
  @volatile private var lastSeen: Option[Long] =
    if (freshStart) Some(0L) else None

  override def getOffset: Option[OffsetV1] = {
    val latest = Versioned.latestVersion(tableDir)
    // maxVersionsPerTrigger (Delta's maxFilesPerTrigger shape): cap each
    // micro-batch at N commits past the last offset handed out, so a
    // stream catching up over a long history processes bounded triggers
    // instead of one giant batch. The cap lands on a COMMITTED version
    // (numbers can have gaps from orphaned claims); if none lies inside
    // the cap window the smallest committed one past the base keeps the
    // stream progressing.
    val capped = (latest, lastSeen, maxVersionsPerTrigger) match {
      case (Some(l), Some(s), Some(cap)) if s + cap < l =>
        val committed = Versioned.committedVersions(tableDir)
          .filter(_ > s)
        committed.filter(_ <= s + cap).lastOption
          .orElse(committed.headOption).orElse(Some(l))
      case (l, _, _) => l
    }
    capped.foreach(v =>
      lastSeen = Some(math.max(v, lastSeen.getOrElse(Long.MinValue))))
    capped.map(LongOffset.apply)
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val seen = math.max(ver(end),
      start.map(ver).getOrElse(Long.MinValue))
    lastSeen = Some(math.max(seen, lastSeen.getOrElse(Long.MinValue)))
    if (cdf) return getCdfBatch(start, end)
    val endM = manifestOf(ver(end))
    val startM = start.map(o => manifestOf(ver(o)))
    val startFiles: Set[String] =
      startM.map(_.files.toSet).getOrElse(Set.empty)
    val removed = startFiles -- endM.files.toSet
    // a deletion-vector delete removes no files but is just as much a
    // non-append change — compare carried-over entries' DV refs too
    val dvChanged = startM.exists { sm =>
      val sinceDv = sm.entries.map(e =>
        e.path -> Versioned.dvRefOf(e)).toMap
      endM.entries.exists(e => startFiles.contains(e.path) &&
        sinceDv.get(e.path).exists(_ != Versioned.dvRefOf(e)))
    }
    if ((removed.nonEmpty || dvChanged) && !ignoreRewrites)
      throw new IllegalStateException(
        s"$tableDir: file(s) rewritten/removed or deletion-vectored " +
          s"between versions ${start.map(ver).getOrElse(0L)} and " +
          s"${ver(end)} (merge/delete/compaction) — the stream cannot " +
          "express this as appends; set ignoreRewrites=true to " +
          "re-deliver rewritten files")
    val addedE = endM.entries.filterNot(e => startFiles.contains(e.path))
    // pinned STREAM schema, not the end version's (post-evolution files
    // project through it); scanOf-style DV attachment keeps rows a later
    // in-range DV delete removed out of the batch
    val batch = TableIO.scanSpec(spark,
      Versioned.ScanFiles(tableDir, schema.json, addedE.map(_.path),
        Versioned.dvOf(addedE)))
    StreamBridge.asStreaming(spark, batch)
  }

  /** CDF mode: the first batch is the end-version snapshot as `insert`
    * rows; every later batch is the ROW-LEVEL feed between the two offsets
    * — merges and deletes stream as pre/post images and deletions instead
    * of failing the query (Delta's readChangeFeed streaming mode). */
  private def getCdfBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val endV = ver(end)
    val batch = start match {
      case None =>
        val m = manifestOf(endV)
        TableIO.scanSpec(spark, Versioned.scanOf(tableDir, m, m.entries))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(endV))
      case Some(s) =>
        TableIO.changeFeedAtPath(spark, tableDir, ver(s), Some(endV))
    }
    // align to the pinned stream schema (unionByName output can reorder)
    val aligned = batch.select(schema.fieldNames.map(col).toSeq: _*)
    StreamBridge.asStreaming(spark, aligned)
  }

  override def stop(): Unit = ()
}
