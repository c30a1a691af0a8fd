package graft.lakehouse

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import java.util.Comparator
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType,
  FloatType, IntegerType, LongType, NumericType, ShortType, StringType,
  StructField, StructType, TimestampType}

/** Table read/write surface over the local lakehouse: the reference's Delta
  * scans/sinks re-expressed over Parquet. All writes go through the
  * [[Versioned]] FILE-LEVEL commit protocol (immutable data-file pools +
  * per-version manifests + atomic markers), approximating Delta's
  * transaction log (common.py:531): concurrent readers keep a consistent
  * snapshot across any commit, and MERGE / append / compaction rewrite only
  * the files they touch.
  *
  * Reference: ecu/sbl/aace/datalake/common.py:359-538.
  */
object TableIO {

  /** common.py:359-367 — SQL text generator; `distinct` emits GROUP BY over
    * the full select list (distinct-via-group-by — Catalyst canonicalizes
    * both to the same Aggregate). */
  def getSQL(tableName: String, cols: Seq[String], distinct: Boolean = false): String = {
    val colList = cols.map(Catalog.escapeName).mkString(", ")
    val base = s"SELECT $colList FROM ${Catalog.escapeName(tableName)}"
    if (distinct && cols != Seq("*")) s"$base GROUP BY $colList" else base
  }

  /** Materialize a [[Versioned.ReadSpec]] as a DataFrame. Manifest versions
    * scan their explicit file list with the COMMITTED schema (so files
    * written before a schema evolution read their missing columns as null,
    * with zero parquet-footer merging — Delta reads from its log schema the
    * same way); `basePath` keeps hive `col=value` partition parsing intact
    * across multi-pool file lists. */
  private[lakehouse] def scanSpec(spark: SparkSession,
      spec: Versioned.ReadSpec): DataFrame = spec match {
    case Versioned.ScanDir(p) => spark.read.parquet(p)
    case sf: Versioned.ScanFiles => scanFiles(spark, sf, keepMeta = false)
  }

  /** Names of the per-row provenance columns [[scanFiles]] appends when
    * `keepMeta` is set: the raw `_metadata.file_path` URI and the row's
    * position within its parquet file. The DV delete path keys its
    * vectors on these. */
  private[lakehouse] val FpCol = "__graft_fp"
  private[lakehouse] val RiCol = "__graft_ri"

  /** Row-filter behind deletion-vectored scans: keep a row iff its file has
    * no vector or the vector doesn't contain its row index. Binary search
    * over the broadcast sorted index arrays; the per-instance memo avoids
    * re-decoding the file-path URI for every row (a task sees a handful of
    * distinct paths). */
  private final class DvKeep(
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]])
      extends ((String, Long) => Boolean) with Serializable {
    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    def apply(fp: String, ri: Long): Boolean = {
      var v = memo.get(fp)
      if (v == null) {
        v = bc.value.getOrElse(new java.net.URI(fp).getPath,
          Array.empty[Long])
        memo.put(fp, v)
      }
      v.length == 0 || java.util.Arrays.binarySearch(v, ri) < 0
    }
  }

  /** Per-row fresh-id computation for row-tracked scans: a row's id is its
    * file's recorded base row id + its position. Same memoized-URI-decode
    * shape as [[DvKeep]]; returns null (not a wrong id) for a file with no
    * recorded base — materialized physical ids take precedence upstream. */
  private final class RowIdOf(
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Long]])
      extends ((String, Long) => java.lang.Long) with Serializable {
    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    def apply(fp: String, ri: Long): java.lang.Long = {
      var v = memo.get(fp)
      if (v == null) {
        v = bc.value.get(new java.net.URI(fp).getPath)
          .map(java.lang.Long.valueOf).getOrElse(java.lang.Long.valueOf(Long.MinValue))
        memo.put(fp, v)
      }
      if (v.longValue() == Long.MinValue) null else java.lang.Long.valueOf(v + ri)
    }
  }

  private[lakehouse] def scanFiles(spark: SparkSession,
      sf: Versioned.ScanFiles, keepMeta: Boolean,
      extraPhysical: Seq[StructField] = Seq.empty): DataFrame = {
    val Versioned.ScanFiles(base, schemaJson, rel, dv) = sf
      val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      if (rel.isEmpty) {
        val empty0 = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        import org.apache.spark.sql.functions.lit
        val empty = extraPhysical.foldLeft(empty0)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
        if (!keepMeta) empty
        else {
          empty.withColumn(FpCol, lit(null).cast("string"))
            .withColumn(RiCol, lit(null).cast("long"))
        }
      }
      else {
        // column mapping: files store PHYSICAL names; read those and alias
        // back to the committed logical names at the end (metadata kept so
        // downstream schema.json round trips preserve the mapping)
        val mapping = physicalMapping(schema)
        val readSchema = StructType((
          if (mapping.isEmpty) schema.fields
          else schema.fields.map(f =>
            f.copy(name = mapping.getOrElse(f.name, f.name)))
          ) ++ extraPhysical)
        val baseP = Paths.get(base)
        val (external, local) = rel.partition(r => Paths.get(r).isAbsolute)
        // deletion vectors (and the delete path itself) need per-row file
        // provenance; `_metadata` only resolves on the scan relation, so it
        // is projected out BEFORE the union. DV-free reads keep the exact
        // plan they always had — zero overhead on the common path.
        val needMeta = keepMeta || dv.nonEmpty
        def scanGroup(groupBase: String, paths: Seq[String]): DataFrame = {
          val raw = spark.read.schema(readSchema).option("basePath", groupBase)
            .parquet(paths: _*)
          if (!needMeta) raw
          else {
            import org.apache.spark.sql.functions.col
            raw.select(col("*"),
              col("_metadata.file_path").as(FpCol),
              col("_metadata.row_index").as(RiCol))
          }
        }
        // partition EVOLUTION leaves files from different layout
        // generations in one pool; Spark's partition discovery rejects
        // mixed directory structures under one basePath, so each layout
        // generation scans separately (absent partition columns read as
        // null via the explicit schema) and the generations union.
        // Single-layout tables — the overwhelmingly common case — stay a
        // single scan.
        val localScan = local
          .groupBy(r => partitioningOfFiles(Seq(r)))
          .toSeq.sortBy(_._1.mkString(","))
          .map { case (_, paths) =>
            scanGroup(base, paths.sorted.map(r => baseP.resolve(r).toString)) }
        // absolute entries are a shallow clone's zero-copy references into
        // another table's pool (Delta CLONE stores absolute add-file paths
        // the same way). Each foreign pool is scanned under ITS OWN
        // basePath — the path prefix above the first `col=value` segment —
        // so hive partition-column parsing stays intact; one basePath
        // spanning both pools would be rejected by the parquet source.
        val externalScans = external
          .groupBy(p => partitionBaseOf(Paths.get(p)))
          .toSeq.sortBy(_._1)
          .map { case (groupBase, paths) => scanGroup(groupBase, paths.sorted) }
        val scanned = (localScan ++ externalScans).reduce(_ unionByName _)
        // subtract deletion-vectored rows (broadcast bitsets, binary-search
        // probe per row) — only scans of DV-carrying files pay this
        val live =
          if (dv.isEmpty) scanned
          else {
            import org.apache.spark.sql.functions.{col, udf}
            val bc = spark.sparkContext.broadcast(
              DeletionVectors.load(base, dv))
            val keep = udf(new DvKeep(bc): (String, Long) => Boolean)
            scanned.filter(keep(col(FpCol), col(RiCol)))
          }
        val metaCols =
          (if (keepMeta) Seq(FpCol, RiCol) else Seq.empty) ++
            extraPhysical.map(_.name)
        if (mapping.isEmpty && !needMeta && extraPhysical.isEmpty) live
        else live.select(schema.fields.map(f =>
          org.apache.spark.sql.functions.col(mapping.getOrElse(f.name, f.name))
            .as(f.name, f.metadata)) ++
          metaCols.map(org.apache.spark.sql.functions.col): _*)
      }
  }

  // ---- column mapping (rename / drop without rewrite) ---------------------

  /** Field-metadata key recording a logical column's PHYSICAL name — the
    * name actually stored in the parquet files (Delta column mapping's
    * physicalName). Set by [[renameColumn]]; it rides INSIDE the manifest's
    * schema JSON, so every scan and commit path that passes schemaJson
    * around carries the mapping automatically. */
  private[lakehouse] val PhysicalKey = "graft.physical"

  /** logical→physical names for fields renamed via [[renameColumn]];
    * empty for never-renamed tables (the zero-cost common case). */
  private[lakehouse] def physicalMapping(schema: StructType): Map[String, String] =
    schema.fields.iterator.flatMap { f =>
      if (f.metadata.contains(PhysicalKey)) {
        val p = f.metadata.getString(PhysicalKey)
        if (p != f.name) Some(f.name -> p) else None
      } else None
    }.toMap

  /** Rename staged columns logical→physical before writing data files:
    * post-rename appends/merges/deletes must keep writing the PHYSICAL
    * name so one read schema spans the whole file pool. */
  private[lakehouse] def toPhysical(df: DataFrame, committed: StructType): DataFrame = {
    val mapping = physicalMapping(committed)
    if (mapping.isEmpty) df
    else df.select(df.columns.map(c =>
      org.apache.spark.sql.functions.col(c).as(mapping.getOrElse(c, c))): _*)
  }

  /** Copy [[PhysicalKey]] metadata from `prior` onto same-named fields of
    * an evolved schema — schema set-ops (unionByName et al.) are not
    * guaranteed to preserve field metadata, and silently dropping the
    * mapping would make the physical-named files unreadable. */
  private def withMapping(schema: StructType, prior: StructType): StructType = {
    val pm = prior.fields.map(f => f.name -> f).toMap
    StructType(schema.fields.map { f =>
      pm.get(f.name).filter(_.metadata.contains(PhysicalKey)).fold(f) { old =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(PhysicalKey, old.metadata.getString(PhysicalKey))
          .build())
      }
    })
  }

  /** Manifest-meta prefix marking a PHYSICAL column name as retired by
    * [[dropColumn]] — old files still carry its bytes. */
  private val TombstonePrefix = "graft.tombstone."

  private def tombstonesOf(meta: Map[String, String]): Set[String] =
    meta.keysIterator.filter(_.startsWith(TombstonePrefix))
      .map(_.drop(TombstonePrefix.length)).toSet

  /** Mapping alignment for schema-evolving commits: carry `prior`'s
    * logical→physical entries forward, and give a BRAND-NEW field a fresh
    * physical name when its default one is still in use on disk — a
    * column re-added after [[dropColumn]] (or shadowing a renamed field's
    * physical slot) must read null from pre-evolution files, not
    * resurrect their stale bytes (Delta prevents this with immutable
    * column ids; the fresh name is the same guarantee). */
  private[lakehouse] def alignMapping(schema: StructType, prior: StructType,
      meta: Map[String, String], baseVersion: Long): StructType = {
    val carried = withMapping(schema, prior)
    val priorNames = prior.fieldNames.toSet
    val inUsePhysical = prior.fields.map(f =>
      if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
      else f.name).toSet ++ tombstonesOf(meta)
    StructType(carried.fields.map { f =>
      if (priorNames(f.name) || !inUsePhysical(f.name)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(PhysicalKey, s"${f.name}__v${baseVersion + 1}")
        .build())
    })
  }

  /** The basePath under which hive `col=value` parsing of `file` should
    * run: the prefix above the first partition-style segment, or the file's
    * parent when the path carries no partition segments. */
  private def partitionBaseOf(file: Path): String = {
    val segs = (0 until file.getNameCount).map(file.getName(_).toString)
    val firstPart = segs.indexWhere(_.matches("[^=]+=.*"))
    val cut = if (firstPart >= 0) firstPart else segs.length - 1
    (0 until cut).foldLeft(file.getRoot)((p, i) => p.resolve(segs(i))).toString
  }

  /** Scan the latest committed version of a table/view directory. */
  private[lakehouse] def scanTableDir(spark: SparkSession, tableDir: String): DataFrame =
    scanSpec(spark, Versioned.readSpec(tableDir))

  /** common.py:440-459 (__selectTable) — the primary scan: read the
    * table/view's current version, register a uuid-named temp view, run
    * `query` (default `SELECT t.* FROM <view> AS t`). AnalysisExceptions are
    * re-thrown with the root cause extracted (common.py:398-410). */
  private def selectTableOrView(
      spark: SparkSession,
      lh: LakehouseProps,
      tableName: String,
      query: Option[String],
      tableOrView: String): DataFrame = {
    val dirPath =
      if (tableOrView == "view") Catalog.viewPath(lh, tableName)
      else Catalog.tablePath(lh, tableName)
    try {
      val df = scanTableDir(spark, dirPath)
      val tempName = Catalog.getTempTableName(tableName)
      df.createOrReplaceTempView(tempName)
      val sql = query
        .map(_.replace(s"{table}", tempName)) // allow callers to target the view
        .getOrElse(s"SELECT t.* FROM $tempName AS t")
      spark.sql(sql)
    } catch {
      case e: AnalysisException => throw new AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"selectTable($tableName) failed: ${rootCause(e).getMessage}"),
        cause = Some(e))
    }
  }

  /** Walk the cause chain to the innermost throwable — the analogue of the
    * reference's `extract_actual_error` "Caused by:" scrape (common.py:398-410). */
  def rootCause(t: Throwable): Throwable = {
    var cur = t
    while (cur.getCause != null && (cur.getCause ne cur)) cur = cur.getCause
    cur
  }

  /** common.py:461-463 */
  def selectTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      query: Option[String] = None): DataFrame =
    selectTableOrView(spark, lh, tableName, query, "table")

  /** common.py:465-467 */
  def selectView(spark: SparkSession, lh: LakehouseProps, viewName: String,
      query: Option[String] = None): DataFrame =
    selectTableOrView(spark, lh, viewName, query, "view")

  /** common.py:475-489 — the reference builds `SELECT <cols> FROM t WHERE
    * <cond>` but (a) drops the space before WHERE and (b) never passes the
    * built query to selectTable, so it always returns the whole table. We
    * implement the INTENDED semantics (projection + condition pushed into
    * the scan); divergence documented in SURVEY §7.
    *
    * The condition is additionally mined for manifest-level DATA SKIPPING:
    * recognizable top-level conjuncts (range/equality comparisons,
    * `BETWEEN` with two literal bounds, IN-lists, LIKE prefixes and null
    * checks against literals) prune whole files via their min/max, null-
    * count, and bloom stats before Spark ever lists them — automatically,
    * the way Delta's scan taps its log stats. Unrecognized conjuncts
    * simply don't prune; the FULL condition is always applied residually,
    * so results are identical to an unpruned scan by construction. */
  def readTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      columns: Seq[String] = Seq("*"), condition: String = ""): DataFrame = {
    val base =
      if (condition.trim.isEmpty) selectTable(spark, lh, tableName)
      else prunedByCondition(spark, lh, tableName, condition)
        .getOrElse(selectTable(spark, lh, tableName))
    val projected =
      if (columns == Seq("*")) base
      else base.select(columns.map(org.apache.spark.sql.functions.col): _*)
    if (condition.trim.isEmpty) projected
    else projected.where(condition)
  }

  /** DYNAMIC FILE PRUNING (join-induced data skipping — the Delta/
    * Databricks star-schema optimization): for a fact-table equi-join
    * against a SELECTIVE dimension side, resolve the dimension keys FIRST
    * (one bounded action — a filtered star-schema dimension is small by
    * design; `keyLimit` fails loudly when it is not, because a million-
    * literal IN-list helps nobody), then read the fact table through the
    * existing IN-list skipping machinery: per-file min/max ranges AND
    * per-file Bloom filters drop every fact file that cannot contain a
    * surviving key, and the residual IN filter keeps the result exact. At
    * 100 TB the SCAN dominates star-join latency — "read the fact table"
    * becomes "read the files that can match". Complements
    * [[Joins.bloomSemiJoin]], which reduces the SHUFFLE but still reads
    * every file; for unbounded dimension sides use that instead. */
  def readTableJoinPruned(spark: SparkSession, lh: LakehouseProps,
      factTable: String, factKey: String, dimKeys: DataFrame,
      columns: Seq[String] = Seq("*"), keyLimit: Int = 10000): DataFrame = {
    require(columns == Seq("*") || columns.contains(factKey),
      s"projection must retain the join key $factKey (the residual filter " +
        "references it)")
    val keyCol = dimKeys.columns.headOption.getOrElse(
      throw new IllegalArgumentException("dimKeys needs a key column"))
    val rows = dimKeys.select(keyCol).distinct().limit(keyLimit + 1).collect()
    require(rows.length <= keyLimit,
      s"$factTable: dimension side exceeds keyLimit=$keyLimit keys — this " +
        "path is for selective dimensions; use bloomSemiJoin for large ones")
    // a NULL dim key can never equi-join: drop it (IN's 3-valued logic
    // would filter those rows anyway). Literals must ROUND-TRIP through
    // Spark's SQL parser: backslashes are escape characters in string
    // literals (default parser mode), so both '\' and quote are escaped —
    // an unescaped 'C:\temp' would silently become 'C:<TAB>emp' and drop
    // every matching row. Fractional keys are rejected outright: a float
    // key column widens against a double literal (0.3f != 0.3d) and rows
    // would silently vanish — equi-joining on floats is a modeling bug
    // this API refuses to paper over.
    def sqlLit(v: Any): String = v match {
      case s: String =>
        "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
      case d: java.sql.Date => s"DATE '$d'"
      case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
      case d: java.time.LocalDate => s"DATE '$d'"
      case i: java.time.Instant => "TIMESTAMP '" +
        java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC) + "'"
      case _: java.lang.Float | _: java.lang.Double =>
        throw new IllegalArgumentException(
          "readTableJoinPruned: fractional join keys do not compare " +
            "reliably across literal widening — cast to an exact type")
      case x => x.toString
    }
    val lits = rows.iterator.map(_.get(0)).filter(_ != null)
      .map(sqlLit).toSeq
    if (lits.isEmpty)
      // same projection as the non-empty branch, just provably no rows
      readTable(spark, lh, factTable, columns)
        .where(org.apache.spark.sql.functions.lit(false))
    else readTable(spark, lh, factTable, columns,
      s"`$factKey` IN (${lits.mkString(", ")})")
  }

  /** File-level prune for a SQL condition: intersect the survivors of
    * every recognizable conjunct. None = nothing recognizable or a
    * legacy/pre-stats layout (caller scans everything, same results). */
  private def prunedByCondition(spark: SparkSession, lh: LakehouseProps,
      tableName: String, condition: String): Option[DataFrame] = {
    val tableDir = Catalog.tablePath(lh, tableName)
    // ONE manifest read anchors every hint: per-hint re-reads could span a
    // concurrent commit and intersect survivor sets from two different
    // versions (dropping files live in the snapshot being scanned)
    Versioned.latestVersion(tableDir)
      .flatMap(v => Versioned.readManifest(tableDir, v)).flatMap { m =>
        minedSurvivors(spark, m, condition).flatMap { kept =>
          if (kept.size == m.entries.size) None // pruned nothing: no gain
          else Some(scanSpec(spark, Versioned.scanOf(tableDir, m, kept)))
        }
      }
  }

  /** The base column and shape tag of a RECOGNIZED MONOTONE
    * generated-column expression — the gate for generated-column
    * pruning (Delta's generated-partition-column optimization). Only
    * shapes that are provably order-preserving over the base column
    * qualify: floor(base / k) with k > 0 (optionally under numeric
    * casts — truncation toward zero is monotone), year/to_date/
    * date_trunc/trunc over a temporal base, CAST(base AS DATE/TIMESTAMP)
    * (the day-partition idiom), and substring(base, 1, n) string
    * prefixes (prefix-taking preserves lexicographic order). String
    * casts never unwrap ("10" < "9"); anything unrecognized simply
    * doesn't derive. */
  private[lakehouse] def monotoneGeneratedShape(
      exprSql: String): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedFunction}
    val parsed = scala.util.Try(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprSql)).toOption
    def attr(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case _ => None
    }
    def posLit(e: Expression): Boolean = e match {
      case Literal(v: Number, _) => v.doubleValue > 0
      case Literal(d: org.apache.spark.sql.types.Decimal, _) =>
        d.toDouble > 0
      case _ => false
    }
    // A numeric cast over a derived integer only unwraps when it is
    // provably WIDENING-or-monotone for every value the inner shape can
    // produce: floor(x/k) is BIGINT (19 digits), year() is INT (10).
    // long/double/float are total + order-preserving (int→smaller-int
    // wraps under non-ANSI writers — NOT monotone — and a decimal too
    // narrow for the domain nulls/throws, so both refuse to derive).
    def wideEnough(dt: DataType, digits: Int): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case LongType | DoubleType | FloatType => true
        case IntegerType => digits <= 10
        case d: DecimalType => d.precision - d.scale >= digits
        case _ => false
      }
    }
    def core(e: Expression): Option[(String, String)] = e match {
      case c: Cast if c.dataType.isInstanceOf[NumericType] =>
        core(c.child).filter {
          case (_, "floordiv") => wideEnough(c.dataType, 19)
          case (_, "year") => wideEnough(c.dataType, 10)
          case _ => false
        }
      case c: Cast if c.dataType == DateType ||
          c.dataType == TimestampType =>
        core(c.child).orElse(attr(c.child).map(_ -> "castdate"))
      case f: UnresolvedFunction =>
        (f.nameParts.last.toLowerCase(java.util.Locale.ROOT),
          f.arguments) match {
          case ("floor", Seq(d: Divide)) =>
            attr(d.left).filter(_ => posLit(d.right)).map(_ -> "floordiv")
          case ("year", Seq(a)) => attr(a).map(_ -> "year")
          case ("to_date", Seq(a)) => attr(a).map(_ -> "to_date")
          case ("date_trunc", Seq(_: Literal, a)) =>
            attr(a).map(_ -> "date_trunc")
          case ("trunc", Seq(a, _: Literal)) => attr(a).map(_ -> "trunc")
          case ("substring" | "substr", Seq(a, Literal(s, _), Literal(_, _)))
              if s == 1 => attr(a).map(_ -> "prefix")
          case _ => None
        }
      case _ => None
    }
    parsed.flatMap(core)
  }

  /** Evaluate a generated expression at a BATCH of literal points via
    * Spark itself — one [[localFrame]] carrying the literals under the
    * base column's name — so the derivation can never disagree with the
    * engine's own coercion/arithmetic semantics (no hand-rolled f to
    * drift), and it runs on the driver with no Spark job. The literals
    * are CAST into the base column's declared type (`baseDt`) before f
    * evaluates: stored g values were computed from base-typed operands,
    * and e.g. decimal-vs-double division can round differently across a
    * floor band boundary — a bound derived in the literal's own type
    * could be too tight and prune files whose rows match (round-10
    * advice). The cast lands on the nearest representable base value,
    * which for a monotone f yields the exact bound (cast toward the
    * range) or a strictly LOOSER one (cast away from it) — never a
    * tighter one; an ANSI cast overflow throws and the derivation is
    * dropped whole.
    * Returns per-point the Catalyst-internal value and its type (None
    * where the point doesn't evaluate), or None outright on failure. */
  private def evalGeneratedBatch(spark: SparkSession, exprSql: String,
      base: String, litDt: DataType, baseDt: DataType,
      internals: Seq[Any]): Option[Seq[Option[(Any, DataType)]]] =
    try {
      import org.apache.spark.sql.catalyst.CatalystTypeConverters
      val conv = CatalystTypeConverters.createToScalaConverter(litDt)
      val df = localFrame(spark, StructType(Seq(StructField(base, litDt))),
        internals.map(v => Row(conv(v))))
        .select(org.apache.spark.sql.functions.col(base)
          .cast(baseDt).as(base))
        .selectExpr(s"($exprSql) AS __g")
      val out = df.collect()
      val gdt = df.schema.head.dataType
      if (out.length != internals.length) None
      else Some(out.toSeq.map(r =>
        if (r.isNullAt(0)) None
        else Some((CatalystTypeConverters.convertToCatalyst(r.get(0)), gdt))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A local frame over `rows` (by default one row of no columns) whose
    * projections are evaluated on the DRIVER: the optimizer's
    * ConvertToLocalRelation folds a projection of a LocalRelation into a
    * new LocalRelation, so collecting it runs no Spark job. The
    * expressions, their casts and the session settings are the engine's
    * own, so a value computed here equals the one a job would compute
    * (the Bloom probe hashes equal the hashes the writer stored), and an
    * expression that fails throws at the same collect. */
  private[lakehouse] def localFrame(spark: SparkSession,
      schema: StructType = StructType(Nil),
      rows: Seq[Row] = Seq(Row.empty)): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The may-match file set mined from `condition` against one manifest
    * snapshot: Some(files that may hold matching rows) when at least one
    * top-level conjunct is recognizable, None when nothing is (caller
    * treats every file as matching). Shared by [[readTable]]'s automatic
    * skipping, [[compactTable]]'s predicate scoping and the file discovery
    * of [[deleteFromTable]] and [[updateTable]]. Runs on the driver: no
    * Spark job. */
  private[lakehouse] def minedSurvivors(spark: SparkSession,
      m: Versioned.Manifest,
      condition: String): Option[Seq[Versioned.FileEntry]] = {
    import org.apache.spark.sql.catalyst.expressions._
    val parsed = scala.util.Try(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(condition)).toOption
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def name(e: Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // each hint: survivors as (colName, lo, hi) range / equality / IN-list /
    // null check. Literals keep their Catalyst DataType so internal forms
    // (UTF8String, epoch micros/days) can later be normalized into the
    // column's stat domain.
    sealed trait Hint
    case class PLit(v: Any, dt: DataType)
    case class Range(c: String, lo: Option[PLit], hi: Option[PLit]) extends Hint
    case class Eq(c: String, v: PLit) extends Hint
    case class InList(c: String, vs: Seq[PLit]) extends Hint
    case class NullIs(c: String, isNull: Boolean) extends Hint
    def plit(l: Literal): PLit = PLit(l.value, l.dataType)
    def disjuncts(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case other => Seq(other)
    }
    // an OR-only subtree whose every disjunct is an equality / IN over ONE
    // shared column is a point-lookup list: k IN (...) spelled with ORs
    def orAsInList(o: Or): Seq[Hint] = {
      val parts = disjuncts(o).map {
        case EqualTo(a, l: Literal) if name(a).isDefined =>
          Some(Seq(name(a).get -> plit(l)))
        case EqualTo(l: Literal, a) if name(a).isDefined =>
          Some(Seq(name(a).get -> plit(l)))
        case In(a, ls) if name(a).isDefined && ls.nonEmpty &&
            ls.forall(_.isInstanceOf[Literal]) =>
          Some(ls.map(x => name(a).get -> plit(x.asInstanceOf[Literal])))
        case _ => None
      }
      if (parts.exists(_.isEmpty)) Seq.empty
      else {
        val flat = parts.flatten.flatten
        if (flat.map(_._1).distinct.size == 1)
          Seq(InList(flat.head._1, flat.map(_._2)))
        else Seq.empty
      }
    }
    val rawHints = parsed.toSeq.flatMap(conjuncts).flatMap {
      // strict comparisons prune with their inclusive superset — safe;
      // literal-on-left spellings mirror
      case GreaterThanOrEqual(a, l: Literal) if name(a).isDefined =>
        Seq(Range(name(a).get, Some(plit(l)), None))
      case GreaterThan(a, l: Literal) if name(a).isDefined =>
        Seq(Range(name(a).get, Some(plit(l)), None))
      case LessThanOrEqual(a, l: Literal) if name(a).isDefined =>
        Seq(Range(name(a).get, None, Some(plit(l))))
      case LessThan(a, l: Literal) if name(a).isDefined =>
        Seq(Range(name(a).get, None, Some(plit(l))))
      case GreaterThanOrEqual(l: Literal, a) if name(a).isDefined =>
        Seq(Range(name(a).get, None, Some(plit(l)))) // lit >= col == col <= lit
      case GreaterThan(l: Literal, a) if name(a).isDefined =>
        Seq(Range(name(a).get, None, Some(plit(l))))
      case LessThanOrEqual(l: Literal, a) if name(a).isDefined =>
        Seq(Range(name(a).get, Some(plit(l)), None))
      case LessThan(l: Literal, a) if name(a).isDefined =>
        Seq(Range(name(a).get, Some(plit(l)), None))
      // `a BETWEEN lo AND hi` parses as the unresolved function `between`
      // (analysis rewrites it to `a >= lo AND a <= hi`, each side coerced
      // on its own): two literal bounds prune as that inclusive range.
      // NOT BETWEEN and non-literal bounds stay residual-only.
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("between") &&
            !f.isDistinct && f.filter.isEmpty =>
        f.arguments match {
          case Seq(a, lo: Literal, hi: Literal) if name(a).isDefined =>
            Seq(Range(name(a).get, Some(plit(lo)), Some(plit(hi))))
          case _ => Seq.empty
        }
      case EqualTo(a, l: Literal) if name(a).isDefined =>
        Seq(Eq(name(a).get, plit(l)))
      case EqualTo(l: Literal, a) if name(a).isDefined =>
        Seq(Eq(name(a).get, plit(l)))
      case In(a, ls) if name(a).isDefined && ls.nonEmpty &&
          ls.forall(_.isInstanceOf[Literal]) =>
        Seq(InList(name(a).get, ls.map(x => plit(x.asInstanceOf[Literal]))))
      case IsNull(a) if name(a).isDefined =>
        Seq(NullIs(name(a).get, isNull = true))
      case IsNotNull(a) if name(a).isDefined =>
        Seq(NullIs(name(a).get, isNull = false))
      // LIKE with a nonempty literal prefix prunes as the UTF-8 range
      // [prefix, succ(prefix)): EVERY match starts with the literal
      // prefix regardless of what wildcards follow, and succ (last char
      // + 1) bounds it above in byte order — incrementing a char never
      // sorts below a longer continuation, unlike appending sentinels.
      // Escaped patterns bail (residual-only); wildcard-free patterns
      // are plain equality. Point lookups on string prefixes (ids,
      // paths, url LIKE 'https://host/%') are the common string-skipping
      // shape at scale.
      case Like(a, l: Literal, esc) if name(a).isDefined &&
          l.dataType == StringType && l.value != null && esc == '\\' &&
          !l.value.toString.contains('\\') =>
        val pat = l.value.toString
        val prefix = pat.takeWhile(ch => ch != '%' && ch != '_')
        if (prefix == pat) Seq(Eq(name(a).get, PLit(prefix, StringType)))
        else if (prefix.isEmpty) Seq.empty
        else {
          val last = prefix.last
          val hi = // a bound whose last char would enter the surrogate
            // range has no valid single-string successor: keep only the
            // (still sound) lower bound
            if (last >= '퟿') None
            else Some(PLit(prefix.init + (last + 1).toChar, StringType))
          Seq(Range(name(a).get, Some(PLit(prefix, StringType)), hi))
        }
      case o: Or => orAsInList(o)
      case _ => Seq.empty // unrecognized conjunct: residual-only
    }
    if (rawHints.isEmpty) return None
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    def dtOf(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
    // GENERATED-COLUMN PRUNING (the Delta generated-partition-column
    // optimization): a declared g = f(base) with a provably MONOTONE
    // shape lets every mined range/equality hint on base imply one on g
    // — and g is typically the partition/cluster column whose per-file
    // stats actually separate files. Spark itself evaluates f at each
    // bound (a driver-side local frame), the literal/column domain
    // pairing is gated per shape, and every derived hint is purely
    // additive: the full residual condition still applies, so a dropped
    // derivation costs correctness nothing.
    val genHints: Seq[Hint] = generatedColsOf(m.meta).toSeq.flatMap {
      case (gcol, exprSql) =>
        monotoneGeneratedShape(exprSql).toSeq.flatMap { case (base, shape) =>
          val colDt = dtOf(base)
          def gateOk(l: PLit): Boolean = (shape, colDt) match {
            case ("floordiv", Some(_: NumericType)) =>
              l.v.isInstanceOf[Number] ||
                l.v.isInstanceOf[org.apache.spark.sql.types.Decimal]
            case ("prefix", Some(StringType)) => l.dt == StringType
            case ("year" | "to_date" | "date_trunc" | "trunc" | "castdate",
                Some(TimestampType | DateType)) =>
              l.dt == TimestampType || l.dt == DateType
            case _ => false
          }
          // batch-evaluate every distinct gated literal in one local
          // projection per literal type, then look results up per hint
          val pts: Seq[PLit] = rawHints.flatMap {
            case Range(c, lo, hi) if c == base => lo.toSeq ++ hi.toSeq
            case Eq(c, l) if c == base => Seq(l)
            case InList(c, vs) if c == base => vs
            case _ => Seq.empty
          }.filter(gateOk).distinct
          val evaluated: Map[PLit, Option[PLit]] =
            pts.groupBy(_.dt).flatMap { case (dt, ps) =>
              evalGeneratedBatch(spark, exprSql, base, dt,
                colDt.getOrElse(dt), ps.map(_.v)) match {
                case Some(rs) => ps.zip(rs.map(_.map {
                  case (v, gdt) => PLit(v, gdt) })).toMap
                case None => ps.map(_ -> (None: Option[PLit])).toMap
              }
            }
          def f(l: PLit): Option[PLit] = evaluated.getOrElse(l, None)
          rawHints.flatMap {
            case Range(c, lo, hi) if c == base =>
              val flo = lo.map(f).flatten
              val fhi = hi.map(f).flatten
              // a bound that doesn't derive just stops pruning its side
              if (flo.isEmpty && fhi.isEmpty) Seq.empty
              else Seq(Range(gcol, flo, fhi))
            case Eq(c, l) if c == base => f(l).map(Eq(gcol, _)).toSeq
            case InList(c, vs) if c == base =>
              val fs = vs.map(f)
              if (fs.exists(_.isEmpty)) Seq.empty
              else Seq(InList(gcol, fs.flatten))
            case _ => Seq.empty
          }
        }
    }
    val allHints = rawHints ++ genHints
    // column mapping: conditions name LOGICAL columns; stats and blooms in
    // the manifest are keyed by the PHYSICAL (on-file) name
    val statKeyOf = physicalMapping(schema)
    def sk(c: String): String = statKeyOf.getOrElse(c, c)
    // Normalize a literal into the column's stat domain, or None when
    // the pairing can't prune: Spark coerces type mismatches (e.g.
    // string col = numeric literal compares NUMERICALLY) while the stat
    // comparator compares in the column's own domain — pruning on that
    // disagreement would silently drop matching files. Timestamp/date
    // literals arrive as epoch micros/days (or as strings, which Spark
    // casts INTO the ts/date domain for the residual compare — mirrored
    // here with Spark's own parser so the domains can never diverge).
    def toProbe(c: String, l: PLit): Option[Any] = dtOf(c).flatMap { cdt =>
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      import org.apache.spark.unsafe.types.UTF8String
      (cdt, l.dt) match {
        // FloatType first: its stats are FLOAT-precision decimal strings,
        // but Spark widens float-vs-fractional-literal residuals to
        // DOUBLE — widen(0.3f)=0.30000001192… can exceed a literal the
        // stat string "0.3" sits below, so a fractional probe would
        // provably-wrongly prune. Integral probes are safe only when the
        // value is exactly a float (|n| ≤ 2^24): then the stat string,
        // the literal, and the residual all agree in the float domain
        // (shortest-repr round-trip + monotone rounding).
        case (FloatType, _) => l.v match {
          case n: java.lang.Byte => Some(n)
          case n: java.lang.Short => Some(n)
          case n: java.lang.Integer
              if math.abs(n.longValue) <= (1L << 24) => Some(n)
          case n: java.lang.Long
              if math.abs(n.longValue) <= (1L << 24) => Some(n)
          case _ => None
        }
        case (_: NumericType, _) if l.v.isInstanceOf[Number] => Some(l.v)
        // plain fractional literals (`x > 150000.0`) parse as Catalyst
        // Decimal, which is NOT a java.lang.Number — unwrap so the most
        // common numeric spelling prunes too. Sound for every non-float
        // numeric column: integral/decimal columns compare the residual
        // in an exact domain, and double stats are shortest-repr strings
        // that round-trip exactly, so stat ≤ literal implies no stored
        // value exceeds the literal's double rounding (monotonicity).
        case (_: NumericType, _)
            if l.v.isInstanceOf[org.apache.spark.sql.types.Decimal] =>
          Some(l.v.asInstanceOf[org.apache.spark.sql.types.Decimal]
            .toJavaBigDecimal)
        case (StringType, StringType) => Some(l.v.toString)
        case (BooleanType, _) if l.v.isInstanceOf[Boolean] => Some(l.v)
        case (TimestampType, TimestampType) =>
          Some(tsProbe(l.v.asInstanceOf[Long]))
        case (TimestampType, StringType) =>
          DateTimeUtils.stringToTimestamp(
            UTF8String.fromString(l.v.toString),
            java.time.ZoneOffset.UTC).map(tsProbe)
        case (DateType, DateType) =>
          Some(dateProbe(l.v.asInstanceOf[Int]))
        case (DateType, StringType) =>
          DateTimeUtils.stringToDate(
            UTF8String.fromString(l.v.toString)).map(dateProbe)
        case _ => None
      }
    }
    // normalized hints, computed ONCE (not per file); a hint any of
    // whose literals can't normalize is dropped — it just doesn't prune
    sealed trait NHint
    case class NRange(c: String, lo: Option[Any], hi: Option[Any]) extends NHint
    case class NIn(c: String, vs: Seq[Any]) extends NHint
    case class NNull(c: String, isNull: Boolean) extends NHint
    val nhints: Seq[NHint] = allHints.flatMap {
      case Range(c, lo, hi) =>
        val (pl, ph) = (lo.map(toProbe(c, _)), hi.map(toProbe(c, _)))
        if (pl.exists(_.isEmpty) || ph.exists(_.isEmpty)) Seq.empty
        else Seq(NRange(c, pl.flatten, ph.flatten))
      case Eq(c, l) => toProbe(c, l).map(v => NIn(c, Seq(v))).toSeq
      case InList(c, vs) =>
        val ps = vs.map(toProbe(c, _))
        if (ps.exists(_.isEmpty)) Seq.empty else Seq(NIn(c, ps.flatten))
      case NullIs(c, isNull) => Seq(NNull(c, isNull))
    }
    // engine-computed bloom probe hashes for every Eq/IN literal over a
    // bloom-indexed column — ONE driver-side projection for all probes,
    // so build and probe hashing can never disagree (same
    // xxhash64-over-cast the writer used). Ts/date probes are excluded
    // (blooms target high-cardinality point-lookup keys; ranges handle
    // time).
    // bloomColsOf parses EVERY entry's stats JSON on the driver — only
    // worth it when an equality/IN hint could actually probe a bloom
    val bloomIndexed =
      if (nhints.exists(_.isInstanceOf[NIn])) bloomColsOf(m).toSet
      else Set.empty[String]
    val bloomProbes: Seq[(String, Any)] = nhints.flatMap {
      case NIn(c, vs) if bloomIndexed(sk(c)) => vs.collect {
        case v @ (_: Number | _: String | _: Boolean) => c -> v
      }
      case _ => Seq.empty
    }.distinct
    val probeHashes: Map[(String, Any), Long] =
      if (bloomProbes.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{lit, xxhash64}
        val exprs = bloomProbes.map { case (c, v) =>
          xxhash64(lit(v).cast(dtOf(c).getOrElse(StringType))) }
        val row = localFrame(spark).select(exprs: _*).head()
        bloomProbes.zipWithIndex.map { case (p, i) =>
          p -> row.getLong(i) }.toMap
      }
    // parsed stats JSON memoized per file, decoded blooms per (file, col):
    // IN-lists probe the same stats k times and multi-column conditions
    // once per column — re-parsing the JSON per probe is pure driver waste
    // (an IN(20) over 10k files would re-parse ~200k times)
    val statsJsonCache =
      scala.collection.mutable.HashMap.empty[String, Option[org.json4s.JValue]]
    def entryJson(e: Versioned.FileEntry): Option[org.json4s.JValue] =
      statsJsonCache.getOrElseUpdate(e.path, e.stats.flatMap(s =>
        scala.util.Try(org.json4s.jackson.JsonMethods.parse(s)).toOption))
    val bloomCache =
      scala.collection.mutable.HashMap.empty[(String, String), Option[Array[Long]]]
    def entryBits(e: Versioned.FileEntry, c: String): Option[Array[Long]] =
      bloomCache.getOrElseUpdate((e.path, c),
        entryJson(e).flatMap(statsBloomB64J(_, c)).map(Bloom.decode))
    def rangeOk(e: Versioned.FileEntry, c: String,
        lo: Option[Any], hi: Option[Any]): Boolean = {
      val dt = dtOf(c).getOrElse(StringType)
      entryJson(e).flatMap(statsRangeJ(_, sk(c))).forall(mayMatch(dt, _, lo, hi))
    }
    def bloomOk(e: Versioned.FileEntry, c: String, v: Any): Boolean =
      probeHashes.get((c, v)).forall(h =>
        entryBits(e, sk(c)).forall(b => Bloom.mayContain(b, h)))
    def survives(e: Versioned.FileEntry): Boolean = nhints.forall {
      case NRange(c, lo, hi) => rangeOk(e, c, lo, hi)
      case NIn(c, vs) => // union of per-literal Eq survivor sets
        vs.exists(v => rangeOk(e, c, Some(v), Some(v)) && bloomOk(e, c, v))
      case NNull(c, isNull) =>
        val j = entryJson(e)
        (j.flatMap(statsNullCountJ(_, sk(c))), j.flatMap(statsRowsJ)) match {
          case (Some(nulls), _) if isNull => nulls > 0
          case (Some(nulls), Some(rows)) if !isNull => nulls < rows
          case _ => true
        }
    }
    Some(m.entries.filter(survives))
  }

  /** Catalyst TimestampType literals carry epoch MICROS; rebuild the UTC
    * wall-clock form so the probe parses in the same domain as the recorded
    * stat strings (cast-to-string under the pinned-UTC session). */
  private def tsProbe(micros: Long): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))

  /** DateType literals carry epoch DAYS. */
  private def dateProbe(days: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))

  /** A file entry's recorded Bloom bitset (base64) for one column. */
  private def entryBloomB64(e: Versioned.FileEntry, c: String): Option[String] =
    for {
      s <- e.stats
      j <- scala.util.Try(org.json4s.jackson.JsonMethods.parse(s)).toOption
      b64 <- statsBloomB64J(j, c)
    } yield b64

  /** [[entryBloomB64]] over an already-parsed stats document. */
  private def statsBloomB64J(j: org.json4s.JValue, c: String): Option[String] =
    (j \ (Bloom.StatsPrefix + c)) match {
      case org.json4s.JString(x) => Some(x)
      case _ => None
    }

  /** common.py:377-378 — projection (+optional distinct) scan. */
  def getColsFromTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      cols: Seq[String], distinct: Boolean = false): DataFrame = {
    val projected = readTable(spark, lh, tableName, cols)
    if (distinct) projected.distinct() else projected
  }

  // ---- per-file column statistics (data skipping) -------------------------

  /** How many leading eligible columns get per-file min/max stats recorded
    * in the manifest (Delta defaults to 32; 8 keeps manifests compact). */
  val MaxStatsCols = 8

  /** Columns eligible for per-file stats: orderable atomic types whose
    * canonical string rendering also ORDERS correctly lexicographically
    * within the type (numerics are compared numerically at prune time;
    * ISO-rendered dates/timestamps and booleans compare as strings). */
  private def statsColumns(schema: StructType,
      exclude: Set[String] = Set.empty): Seq[StructField] =
    schema.fields.toSeq.filter { f =>
      // excluded (partition) columns must not occupy one of the
      // MaxStatsCols slots — their stats are discarded downstream, which
      // would silently cost a data column its pruning
      !exclude(f.name) && (f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType
            | BooleanType => true
        case _ => false
      })
    }.take(MaxStatsCols)

  /** Collect per-file min/max stats (and, for `bloomCols`, per-file Bloom
    * bitsets) over a staged write — ONE aggregation over the NEW files only,
    * O(batch); Delta computes the same stats inline during its write.
    * Returns staging-relative path → single-line JSON
    * `{"col":[min,max],...,"__bloom_col":"<base64>"}` (json4s-rendered:
    * control characters are escaped, so the manifest's line/tab format is
    * safe). */
  private[lakehouse] def collectFileStats(spark: SparkSession,
      bloomCols: Seq[String] = Seq.empty)
      (stagingDir: String): Map[String, String] = {
    import org.apache.spark.sql.functions.{col, max, min, udaf, xxhash64}
    import org.json4s.{JArray, JNull, JString, JValue}
    import org.json4s.jackson.JsonMethods.{compact, render}
    val df = spark.read.parquet(stagingDir)
    // Hive-style partition columns are excluded from the aggregated min/max:
    // spark.read re-INFERS their type from the path values, so a string
    // partition value like '01' would be recorded in the inferred domain
    // ('1') while the prune comparators compare in the declared manifest
    // schema's domain (StringType, UTF-8) — provably-wrong pruning. Their
    // stats are instead taken from the path segment itself (the writer's own
    // cast-to-string rendering, exactly the domain stats are compared in).
    val pathPartCols: Set[String] = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(Paths.get(stagingDir))
      try walk.iterator.asScala.collect {
        case p if java.nio.file.Files.isDirectory(p) &&
            p.getFileName != null && p.getFileName.toString.contains('=') =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(p.getFileName.toString.split("=", 2)(0))
      }.toSet
      finally walk.close()
    }
    val cols = statsColumns(df.schema, exclude = pathPartCols)
    val blooms = bloomCols.filter(df.columns.contains)
    val bloomAgg = udaf(new Bloom.Agg(Bloom.DefaultBits), Encoders.scalaLong)
    // count(*) always rides along: per-file row counts (Delta's numRecords)
    // let later commits derive the table's total WITHOUT re-reading it;
    // per-column null counts (3rd stats element) make "k non-null rows"
    // arguments provable (prunedTopK) and enable IS NULL pruning
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    // integral columns also record an EXACT per-file sum (DECIMAL(38,0)
    // accumulation — overflow-free and order-free), so SUM(col) becomes
    // manifest-answerable ([[manifestSums]]) the way count(*) already is.
    // Floating columns deliberately don't: their sum depends on addition
    // order, so a recorded value would not be a portable answer.
    val sumCols = sumStatsCols(cols)
    val aggs = count(lit(1)) +:
      (cols.flatMap(f => Seq(
        min(col(f.name)).cast("string"), max(col(f.name)).cast("string"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)))) ++
        blooms.map(c => bloomAgg(xxhash64(col(c)))) ++
        // physical file size rides along too (Delta's add.size): DESCRIBE
        // DETAIL and OPTIMIZE's small-file selection then work from the
        // manifest alone — no per-file stat() storm on a 1M-file table
        Seq(min(col("_metadata.file_size"))) ++
        sumCols.map(f =>
          sum(col(f.name).cast("decimal(38,0)")).cast("string")))
    val rows = df.groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val stagingP = Paths.get(stagingDir)
    val minMaxBase = 2 // 0 = __fp, 1 = count
    val perCol = 3 // min, max, nullCount
    val bloomBase = minMaxBase + perCol * cols.length
    val raw: Map[String, WriteStats.FileStatsRaw] = rows.map { r =>
      val rel = stagingP.relativize(
        Paths.get(new java.net.URI(r.getString(0)).getPath)).toString
      def s(i: Int): String = if (r.isNullAt(i)) null else r.getString(i)
      val mins = Array.tabulate(cols.length)(i => s(minMaxBase + perCol * i))
      val maxs =
        Array.tabulate(cols.length)(i => s(minMaxBase + perCol * i + 1))
      val nulls = Array.tabulate(cols.length)(i =>
        r.getLong(minMaxBase + perCol * i + 2))
      val bloomBytes = Array.tabulate(blooms.length)(i =>
        Option(r.get(bloomBase + i)).map(_.asInstanceOf[Array[Byte]]).orNull)
      val bytes = r.getLong(bloomBase + blooms.length)
      val sums = Array.tabulate(sumCols.length)(i =>
        s(bloomBase + blooms.length + 1 + i))
      rel -> WriteStats.FileStatsRaw(r.getLong(1), mins, maxs, nulls,
        bloomBytes, bytes, sums)
    }.toMap
    // EMPTY staged files never surface from the aggregation (no rows,
    // no group), but they DO land in the manifest — without stats they
    // would poison every stats-only consumer (rowsFromManifest,
    // manifestColumnStats, pruning all degrade to "must scan" on a
    // file that provably holds nothing). Record explicit zero-row
    // stats: rows 0, every column [null, null, 0], partition values
    // from the path. An empty file is the MOST prunable file there is.
    val extra = listStagedParquetRel(stagingDir).filterNot(raw.contains)
      .map { rel =>
        rel -> WriteStats.FileStatsRaw(0L,
          new Array[String](cols.length), new Array[String](cols.length),
          new Array[Long](cols.length), new Array[Array[Byte]](blooms.length),
          Files.size(stagingP.resolve(rel)), new Array[String](sumCols.length))
      }.toMap
    (raw ++ extra).map { case (rel, r) =>
      rel -> renderFileStats(rel, cols, blooms, sumCols, r)
    }
  }

  /** The integral stats columns that also get an EXACT per-file sum
    * recorded (`__sum_<col>` — DECIMAL(38,0) accumulation, overflow-free
    * and order-free), so SUM(col) becomes manifest-answerable
    * ([[manifestSums]]) the way count(*) already is. Floating columns
    * deliberately don't: their sum depends on addition order, so a
    * recorded value would not be a portable answer. */
  private def sumStatsCols(cols: Seq[StructField]): Seq[StructField] =
    cols.filter(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  /** Staging-relative paths of every parquet file under `stagingDir`. */
  private def listStagedParquetRel(stagingDir: String): Seq[String] = {
    val root = Paths.get(stagingDir)
    if (!Files.isDirectory(root)) return Seq.empty
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSeq
    finally walk.close()
  }

  /** Shared stats-JSON renderer: one staged file's raw numbers → the
    * single-line manifest stats doc. Used by BOTH the read-back
    * aggregation ([[collectFileStats]]) and the write-task tracker
    * ([[writeTracked]]) so the two paths render byte-identically.
    * Partition-column stats come from the file's OWN path segments:
    * min = max = the segment value (one value per file by construction),
    * __HIVE_DEFAULT_PARTITION__ = the all-null file shape. Long-string
    * bounds truncate (prefix min / incremented-prefix max) so a text
    * column never embeds whole documents in the manifest. */
  private def renderFileStats(rel: String, cols: Seq[StructField],
      blooms: Seq[String], sumCols: Seq[StructField],
      raw: WriteStats.FileStatsRaw): String = {
    import org.json4s.{JArray, JNull, JString, JValue}
    import org.json4s.jackson.JsonMethods.{compact, render}
    val u = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if (raw.rows == 0L) {
      val partStats: Seq[(String, JValue)] =
        rel.split('/').toSeq.dropRight(1).filter(_.contains('='))
          .map { seg =>
            val Array(rawK, _) = seg.split("=", 2)
            u.unescapePathName(rawK) ->
              (JArray(List(JNull, JNull, JString("0"))): JValue)
          }
      val fields: Seq[(String, JValue)] =
        (RowsKey -> (JString("0"): JValue)) +:
          (cols.map(f => f.name ->
            (JArray(List(JNull, JNull, JString("0"))): JValue)) ++
            partStats ++ Seq(BytesKey -> (JString(
              raw.bytes.toString): JValue)) ++
            sumCols.map(f =>
              (SumStatPrefix + f.name) -> (JString("0"): JValue)))
      compact(render(org.json4s.JObject(fields.toList)))
    } else {
      def j(s: String): JValue = if (s == null) JNull else JString(s)
      val partStats: Seq[(String, JValue)] = rel.split('/').toSeq.dropRight(1)
        .filter(_.contains('=')).map { seg =>
          val Array(rawK, rawV) = seg.split("=", 2)
          val k = u.unescapePathName(rawK)
          if (rawV == u.DEFAULT_PARTITION_NAME)
            k -> (JArray(List(JNull, JNull,
              JString(raw.rows.toString))): JValue)
          else {
            val v = JString(u.unescapePathName(rawV))
            k -> (JArray(List(v, v, JString("0"))): JValue)
          }
        }
      def statMin(f: StructField, v: JValue): JValue = (f.dataType, v) match {
        case (StringType, JString(s)) => JString(truncStatMin(s))
        case _ => v
      }
      def statMax(f: StructField, v: JValue): JValue = (f.dataType, v) match {
        case (StringType, JString(s)) =>
          truncStatMax(s).fold(JNull: JValue)(JString(_))
        case _ => v
      }
      val fields: Seq[(String, JValue)] =
        (RowsKey -> (JString(raw.rows.toString): JValue)) +:
        (cols.zipWithIndex.map { case (f, i) =>
          f.name -> (JArray(List(statMin(f, j(raw.mins(i))),
            statMax(f, j(raw.maxs(i))),
            JString(raw.nullCounts(i).toString))): JValue)
        } ++ partStats ++ blooms.zipWithIndex.flatMap { case (c, i) =>
          Option(raw.blooms(i)).map { bytes =>
            (Bloom.StatsPrefix + c) -> (JString(java.util.Base64.getEncoder
              .encodeToString(bytes)): JValue)
          }
        } ++ Seq(BytesKey ->
          (JString(raw.bytes.toString): JValue))
          ++ sumCols.zipWithIndex.map { case (f, i) =>
            // all-null file: sum is NULL; record "0" (the additive
            // identity — manifestSums derives overall-NULL from the
            // nullCounts, not from here)
            (SumStatPrefix + f.name) -> (j(raw.sums(i)) match {
              case JNull => JString("0"): JValue
              case v => v
            })
          })
      compact(render(org.json4s.JObject(fields.toList)))
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Staged parquet write that returns the per-file stats of what it
    * staged — the staging step every data-writing commit hands
    * [[Versioned.commitFiles]]. The stats come from the write tasks
    * themselves ([[writeTracked]]; guide §1.2: don't pay a second Spark job
    * to recompute what the write tasks already saw). When the tracker
    * cannot serve them, this is the one place that re-reads the staged
    * files with [[collectFileStats]] instead — the two render identical
    * stats, and every fallback logs a WARN so it cannot hide a defect. */
  private[lakehouse] def writeStagedWithStats(df: DataFrame, target: String,
      partitionBy: Seq[String] = Seq.empty,
      bloomStatCols: Seq[String] = Seq.empty,
      parquetBloomCols: Seq[String] = Seq.empty): Map[String, String] =
    writeTracked(df, target, partitionBy, bloomStatCols,
        parquetBloomCols) match {
      case Right(stats) => stats
      case Left(reason) =>
        log.warn(s"staged write $target: $reason; re-reading the staged " +
          "files for stats")
        try collectFileStats(df.sparkSession, bloomStatCols)(target)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"staged write $target: stats read-back failed; its " +
              "files commit without stats", e)
            Map.empty
        }
    }

  /** The write-task half of [[writeStagedWithStats]]: the same writer
    * machinery as `df.write.parquet`, plus a [[WriteStats.Tracker]].
    * Returns the rendered stats map, or why the tracker cannot serve it. */
  private[lakehouse] def writeTracked(df: DataFrame, target: String,
      partitionBy: Seq[String], bloomStatCols: Seq[String],
      parquetBloomCols: Seq[String]): Either[String, Map[String, String]] = {
    import org.apache.spark.sql.graftbridge.StatsWriteBridge
    val cols = statsColumns(df.schema, exclude = partitionBy.toSet)
    val blooms = bloomStatCols.filter(df.columns.contains)
    val sumCols = sumStatsCols(cols)
    val options = parquetBloomCols
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    // the write tasks hand the tracker the DATA row (partition columns are
    // stripped into the directory path before the row reaches the writer),
    // so ordinals bind against the schema minus partition columns
    val dataSchema = StructType(
      df.schema.fields.filterNot(f => partitionBy.contains(f.name)))
    // a bloom column that is also a partition column can't be tracked from
    // the data row — write untracked
    val trackable = blooms.forall(c => dataSchema.fieldNames.contains(c))
    val tracker =
      if (!trackable) None
      else Some(new WriteStats.Tracker(dataSchema, cols.map(_.name), blooms,
        StatsWriteBridge.sessionZoneId(df),
        new WriteStats.SerializableConf(
          StatsWriteBridge.hadoopConfWithOptions(df, options))))
    StatsWriteBridge.writeParquet(df, target, partitionBy, options,
      tracker.toSeq)
    tracker.map(_.result) match {
      case None => Left("a Bloom column is also a partition column, so the " +
        "write tasks cannot track it")
      case Some(None) => Left("the stats tracker poisoned")
      case Some(Some(raw)) =>
        val staged = listStagedParquetRel(target).toSet
        if (staged != raw.keySet) Left(s"the tracker saw ${raw.size} " +
          s"file(s) but ${staged.size} were staged")
        else Right(raw.map { case (rel, r) =>
          rel -> renderFileStats(rel, cols, blooms, sumCols, r)
        })
    }
  }

  /** String min/max stats truncate to this many CODE POINTS (Delta
    * truncates at 32): a text column's full min/max document embedded in
    * every manifest entry would make commit metadata O(row bytes) instead
    * of O(files) — on a corpus table the manifest would dwarf the data's
    * own footers. Truncation stays a TRUE bound: a prefix is ≤ the full
    * string in UTF-8 byte order (the stat comparator's order), and the
    * max side increments its last code point so it stays an upper bound
    * for every string sharing the prefix. */
  private[lakehouse] val MaxStringStatLen = 64

  private[lakehouse] def truncStatMin(s: String): String =
    if (s.codePointCount(0, s.length) <= MaxStringStatLen) s
    else s.substring(0, s.offsetByCodePoints(0, MaxStringStatLen))

  /** None = no finite upper bound expressible (every prefix code point is
    * already U+10FFFF) — the caller records a null max and the pruner
    * treats the file as always-scan (safe, never wrong). */
  private[lakehouse] def truncStatMax(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= MaxStringStatLen) return Some(s)
    val cut = s.substring(0, s.offsetByCodePoints(0, MaxStringStatLen))
    var end = cut.length
    while (end > 0) {
      val cp = cut.codePointBefore(end)
      val start = end - Character.charCount(cp)
      if (cp < 0x10FFFF) {
        // never mint a lone surrogate (U+D7FF + 1): jump the gap — still
        // greater than every valid scalar the original prefix could lead
        val next = if (cp + 1 >= 0xD800 && cp + 1 <= 0xDFFF) 0xE000 else cp + 1
        return Some(cut.substring(0, start) +
          new String(Character.toChars(next)))
      }
      end = start // this code point is maxed out: shorten the prefix
    }
    None
  }

  /** Stats-JSON key for a file's row count. */
  private val RowsKey = "__rows"

  /** Stats-JSON key for a file's physical byte size (Delta's add.size). */
  private val BytesKey = "__bytes"

  /** Stats-JSON key prefix for a file's exact per-column integral sum
    * (`__sum_<col>`, DECIMAL(38,0) rendering) — written by
    * [[collectFileStats]] for integral columns, consumed by
    * [[manifestSums]]. */
  private val SumStatPrefix = "__sum_"

  /** Remove one top-level field from a stats JSON doc (no-op if absent). */
  private def removeStatField(statsJson: String, key: String): String = {
    import org.json4s.JObject
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    scala.util.Try(parse(statsJson)).toOption match {
      case Some(JObject(fields)) =>
        compact(render(JObject(fields.filterNot(_._1 == key))))
      case _ => statsJson
    }
  }

  /** Add (or replace) one top-level string field in a stats JSON doc. */
  private def addStatField(statsJson: String, key: String,
      value: String): String = {
    import org.json4s.{JObject, JString}
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    scala.util.Try(parse(statsJson)).toOption match {
      case Some(JObject(fields)) => compact(render(JObject(
        fields.filterNot(_._1 == key) :+ (key -> JString(value)))))
      case _ => statsJson
    }
  }

  /** Per-file byte size from an entry's stats JSON; None for entries
    * written before sizes were recorded (callers fall back to stat()). */
  private def entryBytes(e: Versioned.FileEntry): Option[Long] = {
    import org.json4s.JString
    import org.json4s.jackson.JsonMethods.parse
    e.stats.flatMap(s => scala.util.Try(parse(s)).toOption)
      .flatMap(j => (j \ BytesKey) match {
        case JString(n) => scala.util.Try(n.toLong).toOption
        case _ => None
      })
  }

  /** Total rows of a version from its per-file row counts — Some only when
    * EVERY entry carries one (files from pre-rows manifests force a real
    * count once; their rewrites regain the fast path). */
  private[lakehouse] def rowsFromManifest(m: Versioned.Manifest): Option[Long] = {
    // LOGICAL rows: physical per-file counts minus deletion-vectored rows
    val counts = m.entries.map(e =>
      entryRows(e).map(_ - Versioned.dvRefOf(e).fold(0L)(_._2)))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** The bloom-indexed columns of an existing version (union of
    * `__bloom_*` stats keys) — maintenance commits keep collecting blooms
    * for the same columns the table was created with. */
  private[lakehouse] def bloomColsOf(m: Versioned.Manifest): Seq[String] = {
    import org.json4s.jackson.JsonMethods.parse
    m.entries.flatMap(_.stats.toSeq.flatMap { s =>
      scala.util.Try(parse(s)).toOption.toSeq.flatMap {
        case org.json4s.JObject(fields) => fields.collect {
          case (k, _) if k.startsWith(Bloom.StatsPrefix) =>
            k.drop(Bloom.StatsPrefix.length)
        }
        case _ => Seq.empty
      }
    }).distinct
  }

  /** Parse a file entry's stats for one column: Some((min, max)) where None
    * inside means the column is all-null in that file; outer None = no
    * stats recorded (always scan). */
  private def statsRange(entry: Versioned.FileEntry,
      colName: String): Option[(Option[String], Option[String])] =
    entry.stats.flatMap { s =>
      import org.json4s.jackson.JsonMethods.parse
      scala.util.Try(parse(s)).toOption.flatMap(statsRangeJ(_, colName))
    }

  /** [[statsRange]] over an already-parsed stats document (callers that
    * probe one file many times parse once and reuse). */
  private def statsRangeJ(j: org.json4s.JValue,
      colName: String): Option[(Option[String], Option[String])] = {
    import org.json4s.{JArray, JNull, JString}
    (j \ colName) match {
      // [min, max] (older manifests) or [min, max, nullCount]
      case JArray(mn :: mx :: _) =>
        def v(x: org.json4s.JValue): Option[String] = x match {
          case JString(str) => Some(str)
          case JNull => None
          case other => Some(other.values.toString)
        }
        Some((v(mn), v(mx)))
      case _ => None
    }
  }

  /** A file's recorded null count for one column (3rd stats element;
    * absent in older manifests). */
  private def entryNullCount(entry: Versioned.FileEntry,
      colName: String): Option[Long] =
    entry.stats.flatMap { s =>
      import org.json4s.jackson.JsonMethods.parse
      scala.util.Try(parse(s)).toOption.flatMap(statsNullCountJ(_, colName))
    }

  /** [[entryNullCount]] over an already-parsed stats document. */
  private def statsNullCountJ(j: org.json4s.JValue,
      colName: String): Option[Long] = {
    import org.json4s.{JArray, JString}
    (j \ colName) match {
      case JArray(List(_, _, JString(n))) => scala.util.Try(n.toLong).toOption
      case _ => None
    }
  }

  /** Typed comparison of a recorded stat string (Spark's cast-to-string
    * rendering) against a probe value. Every branch PARSES both sides into
    * the column's domain before comparing — raw string compares would
    * silently mis-prune: `java.sql.Timestamp.toString` carries a trailing
    * ".0" Spark's rendering omits, and `String.compareTo` (UTF-16 code
    * units) disagrees with Spark's min/max ordering (UTF-8 binary) for
    * supplementary-plane characters. Returns None when a side does not
    * parse — callers treat that as "cannot prove, must scan". */
  private def cmpStat(dt: DataType, stat: String, probe: Any): Option[Int] =
    scala.util.Try {
      dt match {
        case _: NumericType =>
          new java.math.BigDecimal(stat)
            .compareTo(new java.math.BigDecimal(probe.toString))
        case TimestampType =>
          val p = probe match {
            case t: java.sql.Timestamp => t
            case other => java.sql.Timestamp.valueOf(other.toString)
          }
          java.sql.Timestamp.valueOf(stat).compareTo(p)
        case DateType =>
          val p = probe match {
            case d: java.sql.Date => d
            case other => java.sql.Date.valueOf(other.toString)
          }
          java.sql.Date.valueOf(stat).compareTo(p)
        case BooleanType =>
          stat.toBoolean.compareTo(probe.toString.toBoolean)
        case StringType => compareUtf8(stat, probe.toString)
        case _ => return None // unknown domain: cannot prove
      }
    }.toOption

  /** Unsigned lexicographic UTF-8 byte order — Spark's UTF8String
    * (and parquet BINARY stats) ordering. */
  private[lakehouse] def compareUtf8(a: String, b: String): Int = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val c = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  /** Conservative file-overlap test for `[lo, hi]` against a file's
    * recorded `[min, max]` on `dt`-typed `statCol`. Returns true (scan the
    * file) whenever pruning cannot be PROVEN safe. An all-null column can
    * never satisfy a range predicate, so those files prune. */
  private def mayMatch(dt: DataType, range: (Option[String], Option[String]),
      lo: Option[Any], hi: Option[Any]): Boolean = {
    val (mnO, mxO) = range
    (mnO, mxO) match {
      case (None, None) => false // all-null file: no row satisfies a range
      case (Some(mn), Some(mx)) =>
        val aboveLo = lo.forall(l => cmpStat(dt, mx, l).forall(_ >= 0))
        val belowHi = hi.forall(h => cmpStat(dt, mn, h).forall(_ <= 0))
        aboveLo && belowHi
      case _ => true // half-recorded stats: be safe
    }
  }

  /** The data-skipping file prune for a conjunction of range predicates
    * `lo_i <= col_i <= hi_i` on the current version: a file survives only
    * if EVERY predicate may match it (ranges intersect per-file — with
    * z-ordered data each extra dimension multiplies the skip rate).
    * Files without recorded stats always survive. Returns None for
    * legacy/pre-protocol layouts (no per-file stats exist). */
  def pruneFilesRanges(lh: LakehouseProps, tableName: String,
      ranges: Seq[(String, Option[Any], Option[Any])]
      ): Option[(Versioned.ScanFiles, Int)] = {
    val tableDir = Catalog.tablePath(lh, tableName)
    Versioned.latestVersion(tableDir).flatMap(v =>
      Versioned.readManifest(tableDir, v)).map { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      // stats are keyed by PHYSICAL name: after a rename the logical
      // lookup would find nothing (lost pruning), and after a drop +
      // re-add it would find the RETIRED column's stats — provably-wrong
      // pruning. Same translation minedSurvivors applies.
      val toPhys = physicalMapping(schema)
      val kept = m.entries.filter { e =>
        ranges.forall { case (statCol, lo, hi) =>
          val dt = schema.fields.find(_.name == statCol).map(_.dataType)
            .getOrElse(StringType)
          statsRange(e, toPhys.getOrElse(statCol, statCol)) match {
            case Some(range) => mayMatch(dt, range, lo, hi)
            case None => true // no stats for this file/column: must scan
          }
        }
      }
      (Versioned.scanOf(tableDir, m, kept),
        m.entries.size)
    }
  }

  /** Single-column convenience form of [[pruneFilesRanges]]. */
  def pruneFiles(lh: LakehouseProps, tableName: String, statCol: String,
      lo: Option[Any], hi: Option[Any]): Option[(Versioned.ScanFiles, Int)] =
    pruneFilesRanges(lh, tableName, Seq((statCol, lo, hi)))

  /** Data-skipping effectiveness report: for each candidate range
    * predicate on `statCol`, how many files the [[pruneFiles]] stats
    * prune would skip — the table a layout decision reads BEFORE paying
    * for a re-cluster (if a hot predicate family skips nothing, the
    * table needs `sortBy`/`zorderBy` on that column; if it already skips
    * 90%, it doesn't). Metadata-only: |ranges| manifest walks, zero data
    * scanned, O(files) driver work — the [[manifestColumnStats]]
    * contract. Kept/skipped uses exactly the production prune's
    * `mayMatch` comparator, so the report IS the scan behavior, not a
    * simulation of it. */
  def skippingEffectiveness(spark: SparkSession, lh: LakehouseProps,
      tableName: String, statCol: String,
      ranges: Seq[(Double, Double)]): DataFrame = {
    require(ranges.nonEmpty, "skippingEffectiveness needs >= 1 range")
    val rows = ranges.map { case (lo, hi) =>
      val (kept, total) = pruneFiles(lh, tableName, statCol,
        Some(lo), Some(hi))
        .map { case (sf, tot) => (sf.relFiles.size, tot) }
        .getOrElse(throw new IllegalArgumentException(
          s"skippingEffectiveness: no versioned table '$tableName'"))
      (lo, hi, total.toLong, kept.toLong, (total - kept).toLong,
        if (total > 0) (total - kept).toLong * 1000L / total else 0L)
    }
    import spark.implicits._
    rows.toDF("range_lo", "range_hi", "n_files", "n_kept", "n_skipped",
      "skip_permille")
  }

  /** Stat-pruned range scan: `SELECT * WHERE lo <= statCol AND statCol <=
    * hi`, skipping every data file whose recorded [min,max] cannot overlap
    * the range — with [[writeTable]]'s `sortBy` clustering, a narrow range
    * over a 100 TB table touches a handful of files. The residual predicate
    * is always applied, so the result equals the unpruned scan regardless
    * of stats quality (pruning is a pure I/O optimization, exactly Delta's
    * data-skipping contract). Falls back to a full filtered scan for
    * legacy layouts. */
  def prunedScan(spark: SparkSession, lh: LakehouseProps, tableName: String,
      statCol: String, lo: Option[Any] = None, hi: Option[Any] = None): DataFrame =
    prunedScanRanges(spark, lh, tableName, Seq((statCol, lo, hi)))

  /** Multi-column form of [[prunedScan]]: all range predicates applied, all
    * used for file skipping. Over a z-ordered table every listed dimension
    * contributes skips. */
  def prunedScanRanges(spark: SparkSession, lh: LakehouseProps,
      tableName: String,
      ranges: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = pruneFilesRanges(lh, tableName, ranges) match {
      case Some((spec, _)) => scanSpec(spark, spec)
      case None => selectTable(spark, lh, tableName)
    }
    val filters = ranges.flatMap { case (statCol, lo, hi) =>
      lo.map(l => col(statCol) >= lit(l)).toSeq ++
        hi.map(h => col(statCol) <= lit(h))
    }
    filters.foldLeft(base)(_ filter _)
  }

  /** An entry's stats JSON with its deletion-vector reference set/replaced
    * (other stats — min/max/nulls/blooms — stay as written: they are
    * PHYSICAL file properties and remain conservatively valid for pruning
    * after rows are vectored out). */
  private def withDvStat(stats: Option[String], sidecar: String,
      deleted: Long): String = {
    import org.json4s.{JArray, JObject, JString}
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val existing = stats.flatMap(s => scala.util.Try(parse(s)).toOption) match {
      case Some(JObject(fields)) => fields.filterNot(_._1 == Versioned.DvKey)
      case _ => Nil
    }
    compact(render(JObject(existing :+ (Versioned.DvKey ->
      (JArray(List(JString(sidecar), JString(deleted.toString))): org.json4s.JValue)))))
  }

  /** Per-file row count from an entry's stats JSON. */
  private[lakehouse] def entryRows(e: Versioned.FileEntry): Option[Long] = {
    import org.json4s.jackson.JsonMethods.parse
    e.stats.flatMap(s => scala.util.Try(parse(s)).toOption).flatMap(statsRowsJ)
  }

  /** [[entryRows]] over an already-parsed stats document. */
  private def statsRowsJ(j: org.json4s.JValue): Option[Long] = {
    import org.json4s.JString
    (j \ RowsKey) match {
      case JString(n) => scala.util.Try(n.toLong).toOption
      case _ => None
    }
  }

  /** Metadata-only column profile: `count(*)`, per-column null counts and
    * min/max answered from the MANIFEST alone — O(files) driver work, zero
    * data scanned (Delta's stats-based query answering: a `count(*)` on a
    * 100 TB table returns from metadata in milliseconds instead of a full
    * scan). One row per requested column:
    * `(col_name, n_rows, n_nulls, min_val, max_val)`, min/max in the
    * stats' own rendering (Spark's cast-to-string of the column's type).
    *
    * Loud-refusal contract — this returns ANSWERS, never bounds:
    *  - every file must carry a row count, a nullCount (3-element stats)
    *    and parseable min/max for every requested column, else it raises
    *    (callers fall back to a real scan; guessing would be silently
    *    wrong);
    *  - any deletion vector on the current version raises: a DV'd file's
    *    physical stats describe rows the logical table no longer has, so
    *    min/max/nullCount degrade to stale bounds (compact first or scan);
    *  - StringType min/max raises: long-string stats truncate (prefix min,
    *    incremented-prefix max), so the recorded max is an upper BOUND,
    *    not a value present in the data. Numeric / date / timestamp /
    *    boolean stats are exact.
    * All-null columns surface NULL min/max (the recorded shape). */
  def manifestColumnStats(spark: SparkSession, lh: LakehouseProps,
      tableName: String, cols: Seq[String],
      asOfVersion: Option[Long] = None): DataFrame = {
    require(cols.nonEmpty, "manifestColumnStats: no columns requested")
    val tableDir = Catalog.tablePath(lh, tableName)
    // time travel is free here: a version IS its manifest, so profiling
    // the table as-of v reads one older sidecar — same O(files), zero
    // scan either way
    val m = asOfVersion.orElse(Versioned.latestVersion(tableDir))
      .flatMap(v => Versioned.readManifest(tableDir, v))
      .getOrElse(throw new IllegalStateException(
        s"manifestColumnStats($tableName" +
          asOfVersion.fold("")(v => s" @v$v") +
          "): no manifest-based version — pre-protocol layouts carry " +
          "no stats; scan instead"))
    val dvd = m.entries.count(e => Versioned.dvRefOf(e).isDefined)
    if (dvd > 0) throw new IllegalStateException(
      s"manifestColumnStats($tableName): $dvd file(s) carry deletion " +
        "vectors — physical stats no longer describe logical rows; " +
        "compact (OPTIMIZE) first or scan")
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val toPhys = physicalMapping(schema)
    val parsed = m.entries.map { e =>
      import org.json4s.jackson.JsonMethods.parse
      val j = e.stats.flatMap(s => scala.util.Try(parse(s)).toOption)
        .getOrElse(throw new IllegalStateException(
          s"manifestColumnStats($tableName): ${e.path} has no stats — " +
            "scan instead"))
      val rows = statsRowsJ(j).getOrElse(throw new IllegalStateException(
        s"manifestColumnStats($tableName): ${e.path} has no row count — " +
          "scan instead"))
      (e.path, j, rows)
    }
    val nRows = parsed.map(_._3).sum
    val out = cols.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"manifestColumnStats($tableName): no column '$c'"))
      if (f.dataType == StringType) throw new IllegalArgumentException(
        s"manifestColumnStats($tableName): '$c' is a string column — " +
          "long-string stats truncate to bounds, not values; scan instead")
      val phys = toPhys.getOrElse(c, c)
      var nulls = 0L
      var mn: Option[String] = None
      var mx: Option[String] = None
      parsed.foreach { case (path, j, _) =>
        nulls += statsNullCountJ(j, phys).getOrElse(
          throw new IllegalStateException(
            s"manifestColumnStats($tableName): $path has no null count " +
              s"for '$c' (pre-nullCount manifest) — scan instead"))
        def fold(cur: Option[String], v: String,
            keepLess: Boolean): Option[String] = cur match {
          case None => Some(v)
          case Some(x) => cmpStat(f.dataType, v, x) match {
            case Some(cmpv) => if ((cmpv < 0) == keepLess) Some(v)
              else Some(x)
            case None => throw new IllegalStateException(
              s"manifestColumnStats($tableName): unparseable stat '$v' " +
                s"for '$c' in $path — scan instead")
          }
        }
        statsRangeJ(j, phys) match {
          case Some((None, None)) => // all-null file: nothing to fold
          case Some((Some(lo), Some(hi))) =>
            mn = fold(mn, lo, keepLess = true)
            mx = fold(mx, hi, keepLess = false)
          case _ => throw new IllegalStateException(
            s"manifestColumnStats($tableName): $path has no min/max for " +
              s"'$c' — scan instead")
        }
      }
      (c, nRows, nulls, mn.orNull, mx.orNull)
    }
    import spark.implicits._
    out.toDF("col_name", "n_rows", "n_nulls", "min_val", "max_val")
  }

  /** Manifest-answered SUM: exact `SUM(col)` for integral columns from
    * the per-file `__sum_<col>` stats [[collectFileStats]] records —
    * O(files) BigDecimal addition on the driver, zero data scanned, and
    * EXACT at any scale because every per-file sum was accumulated in
    * DECIMAL(38,0) (no float reordering, no long overflow). The missing
    * third of the metadata-aggregate family: count(*)
    * ([[rowsFromManifest]]), min/max/nulls ([[manifestColumnStats]]),
    * now SUM. One row per requested column:
    * `(col_name, n_nonnull, sum_val)` — `sum_val` as the exact decimal
    * string, NULL when no non-null row exists (SQL SUM semantics,
    * derived from the recorded nullCounts, never guessed).
    *
    * Same loud-refusal contract as its siblings: pre-feature manifests
    * (no recorded sums), missing stats, or deletion vectors (a DV'd
    * file's physical sum includes deleted rows) raise — callers fall
    * back to a scan rather than get a stale answer. */
  def manifestSums(spark: SparkSession, lh: LakehouseProps,
      tableName: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "manifestSums: no columns requested")
    val tableDir = Catalog.tablePath(lh, tableName)
    val m = Versioned.latestVersion(tableDir)
      .flatMap(v => Versioned.readManifest(tableDir, v))
      .getOrElse(throw new IllegalStateException(
        s"manifestSums($tableName): no manifest-based version — scan " +
          "instead"))
    val dvd = m.entries.count(e => Versioned.dvRefOf(e).isDefined)
    if (dvd > 0) throw new IllegalStateException(
      s"manifestSums($tableName): $dvd file(s) carry deletion vectors — " +
        "physical sums include deleted rows; compact (OPTIMIZE) first " +
        "or scan")
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val toPhys = physicalMapping(schema)
    val parsed = m.entries.map { e =>
      import org.json4s.jackson.JsonMethods.parse
      e.path -> e.stats.flatMap(s => scala.util.Try(parse(s)).toOption)
        .getOrElse(throw new IllegalStateException(
          s"manifestSums($tableName): ${e.path} has no stats — scan " +
            "instead"))
    }
    val out = cols.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"manifestSums($tableName): no column '$c'"))
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
        case other => throw new IllegalArgumentException(
          s"manifestSums($tableName): '$c' is $other — only integral " +
            "sums are recorded (float sums depend on addition order)")
      }
      val phys = toPhys.getOrElse(c, c)
      var total = java.math.BigDecimal.ZERO
      var nonNull = 0L
      parsed.foreach { case (path, jv) =>
        import org.json4s.JString
        val s = (jv \ (SumStatPrefix + phys)) match {
          case JString(v) => v
          case _ => throw new IllegalStateException(
            s"manifestSums($tableName): $path has no recorded sum for " +
              s"'$c' (pre-feature manifest) — rewrite or scan instead")
        }
        total = total.add(new java.math.BigDecimal(s))
        val rows = statsRowsJ(jv).getOrElse(throw new IllegalStateException(
          s"manifestSums($tableName): $path has no row count"))
        val nulls = statsNullCountJ(jv, phys).getOrElse(
          throw new IllegalStateException(
            s"manifestSums($tableName): $path has no null count for '$c'"))
        nonNull += rows - nulls
      }
      (c, nonNull, if (nonNull == 0L) null else total.toPlainString)
    }
    import spark.implicits._
    out.toDF("col_name", "n_nonnull", "sum_val")
  }

  /** Schema-evolution timeline from the MANIFESTS alone: one row per
    * version whose schema differs from its predecessor (plus the
    * creating version), with the columns added, removed, and
    * type-changed (`name:old->new`, '#'-joined, name-sorted). The
    * observability question "when did this column appear / widen, and
    * what did every reader before that version see" — answered by an
    * O(versions) walk over commit sidecars, zero data scanned; a
    * thousand compaction commits that never touched the schema
    * contribute nothing but the walk. */
  def schemaTimeline(spark: SparkSession, lh: LakehouseProps,
      tableName: String): DataFrame = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val latest = Versioned.latestVersion(tableDir)
      .getOrElse(throw new IllegalStateException(
        s"schemaTimeline($tableName): no manifest-based version"))
    var prev: Map[String, DataType] = Map.empty
    val out = (1L to latest).flatMap { v =>
      Versioned.readManifest(tableDir, v).flatMap { m =>
        val schema = DataType.fromJson(m.schemaJson)
          .asInstanceOf[StructType]
        val cur = schema.fields.map(f => f.name -> f.dataType)
        val curNames = cur.map(_._1).toSet
        val added = cur.collect {
          case (n, _) if !prev.contains(n) => n }.sorted
        val removed = prev.keys.filterNot(curNames).toSeq.sorted
        val changed = cur.collect {
          case (n, dt) if prev.get(n).exists(_ != dt) =>
            s"$n:${prev(n).simpleString}->${dt.simpleString}" }.sorted
        prev = cur.toMap
        if (v == 1L || added.nonEmpty || removed.nonEmpty ||
            changed.nonEmpty)
          Some((v, schema.fields.length, added.mkString("#"),
            removed.mkString("#"), changed.mkString("#")))
        else None
      }
    }
    import spark.implicits._
    out.toDF("version", "n_cols", "added_cols", "removed_cols",
      "changed_cols")
  }

  /** SHOW PARTITIONS with row counts, answered from the MANIFEST alone:
    * per distinct value of `partCol`, the LOGICAL row count — per-file
    * row counts grouped by each file's single recorded value, minus each
    * file's deletion-vector cardinality. Unlike [[manifestColumnStats]]
    * this stays EXACT under DVs: a single-value file's deleted rows can
    * only have carried that value, so the subtraction is attributable.
    * O(files) driver work, zero data scanned — the partition census a
    * 100 TB table's planner/compactor reads constantly.
    *
    * Loud-refusal contract: every file must carry stats and be
    * SINGLE-VALUED in `partCol` — all-null (the
    * `__HIVE_DEFAULT_PARTITION__` shape, reported as a NULL value row) or
    * min == max with zero nulls, which is exactly what a Hive-partitioned
    * layout guarantees. A file with mixed values (the column isn't a
    * partition key) raises: attributing its rows would need a scan. */
  def manifestPartitionCounts(spark: SparkSession, lh: LakehouseProps,
      tableName: String, partCol: String): DataFrame = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val m = Versioned.latestVersion(tableDir)
      .flatMap(v => Versioned.readManifest(tableDir, v))
      .getOrElse(throw new IllegalStateException(
        s"manifestPartitionCounts($tableName): no manifest-based " +
          "version — pre-protocol layouts carry no stats; scan instead"))
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(schema.fields.exists(_.name == partCol),
      s"manifestPartitionCounts($tableName): no column '$partCol'")
    val phys = physicalMapping(schema).getOrElse(partCol, partCol)
    val counts = scala.collection.mutable.LinkedHashMap
      .empty[Option[String], Long]
    m.entries.foreach { e =>
      import org.json4s.jackson.JsonMethods.parse
      val j = e.stats.flatMap(s => scala.util.Try(parse(s)).toOption)
        .getOrElse(throw new IllegalStateException(
          s"manifestPartitionCounts($tableName): ${e.path} has no " +
            "stats — scan instead"))
      val rows = statsRowsJ(j).getOrElse(throw new IllegalStateException(
        s"manifestPartitionCounts($tableName): ${e.path} has no row " +
          "count — scan instead"))
      val logical = rows - Versioned.dvRefOf(e).fold(0L)(_._2)
      // empty files record all-null stats for every column — skip them
      // so they can't misread as a NULL-partition bucket
      if (rows > 0L) {
        val value = statsRangeJ(j, phys) match {
          case Some((None, None)) => None // all-null file: the NULL bucket
          case Some((Some(lo), Some(hi))) if lo == hi &&
              statsNullCountJ(j, phys).contains(0L) => Some(lo)
          case _ => throw new IllegalStateException(
            s"manifestPartitionCounts($tableName): ${e.path} is not " +
              s"single-valued in '$partCol' — not a partition column; " +
              "scan instead")
        }
        counts.update(value, counts.getOrElse(value, 0L) + logical)
      }
    }
    import spark.implicits._
    counts.toSeq.map { case (v, n) => (v.orNull, n) }
      .toDF("partition_value", "n_rows")
  }

  /** Stat-pruned `ORDER BY statCol [DESC] LIMIT k` (nulls excluded): using
    * per-file [min,max] + row counts, pick the shortest prefix of files (in
    * stat order) that provably holds ≥ k non-excludable rows, bound the
    * k-th value by that prefix's worst case, and scan ONLY files whose
    * range crosses the bound — over a `sortBy`-clustered 100 TB table a
    * top-k reads a handful of files instead of all of them. Falls back to
    * a full sort whenever any file lacks stats or row counts (pruning must
    * be provable, never guessed). `tieBreak` columns pin a total order so
    * the result is deterministic under boundary ties. */
  def prunedTopK(spark: SparkSession, lh: LakehouseProps, tableName: String,
      statCol: String, k: Int, ascending: Boolean = true,
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(k > 0, "k must be positive")
    val tableDir = Catalog.tablePath(lh, tableName)
    val sortCols = (col(statCol) +: tieBreak.map(col)).map(c =>
      if (ascending) c.asc else c.desc)
    def fullSort(df: DataFrame): DataFrame =
      df.filter(col(statCol).isNotNull).orderBy(sortCols: _*).limit(k)
    val mOpt = Versioned.latestVersion(tableDir)
      .flatMap(v => Versioned.readManifest(tableDir, v))
    mOpt match {
      case None => fullSort(selectTable(spark, lh, tableName))
      case Some(m) =>
        val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        // stats keys are PHYSICAL names — a drop + re-add would otherwise
        // serve the RETIRED column's stats as this column's (wrong prune)
        val physCol = physicalMapping(schema).getOrElse(statCol, statCol)
        val dt = schema.fields.find(_.name == statCol).map(_.dataType)
          .getOrElse(StringType)
        // a file's contribution to the k-row prefix is its NON-NULL count
        // (rows - nullCount): counting total rows would let a null-heavy
        // file satisfy the prefix and wrongly tighten the k-th-value bound
        val parsed = m.entries.map(e => (e, statsRange(e, physCol),
          for (rows <- entryRows(e); nulls <- entryNullCount(e, physCol))
            yield rows - nulls))
        // all-null files can never contribute (nulls are excluded); every
        // OTHER file must have a provable range and non-null count or we bail
        val candidates = parsed.filter { case (_, r, _) =>
          !r.contains((None, None))
        }
        // "provable" includes PARSEABLE: NaN/Infinity render as stat strings
        // BigDecimal can't parse, making cmpStat return None — which less()
        // below would silently read as "not less", corrupting the file
        // ordering and the k-th-value bound. Self-compare try-parses each
        // endpoint; any failure falls back to the full sort.
        // a deletion-vectored file's stats are PHYSICAL (its non-null count
        // includes deleted rows, and we can't know how many deleted rows
        // were null), so the k-prefix arithmetic is no longer provable —
        // fall back to the (DV-filtered) full sort
        val provable = candidates.forall { case (e, r, n) =>
          Versioned.dvRefOf(e).isEmpty &&
          n.isDefined && r.exists(p => p._1.isDefined && p._2.isDefined &&
            Seq(p._1.get, p._2.get).forall(s => cmpStat(dt, s, s).contains(0)))
        }
        if (!provable || candidates.isEmpty)
          return fullSort(scanSpec(spark,
            Versioned.scanOf(tableDir, m, m.entries)))
        def lo(t: (Versioned.FileEntry, Option[(Option[String], Option[String])], Option[Long])) =
          t._2.get._1.get
        def hi(t: (Versioned.FileEntry, Option[(Option[String], Option[String])], Option[Long])) =
          t._2.get._2.get
        def less(a: String, b: String): Boolean =
          cmpStat(dt, a, b).exists(_ < 0)
        // ascending: order files by min; the prefix holding >= k rows has
        // all its rows <= B := max of its maxes, so the k-th value <= B and
        // only files with min <= B can contribute. Descending is symmetric.
        val ordered =
          if (ascending) candidates.sortWith((a, b) => less(lo(a), lo(b)))
          else candidates.sortWith((a, b) => less(hi(b), hi(a)))
        var acc = 0L
        val prefix = ordered.takeWhile { t =>
          val need = acc < k
          acc += t._3.get
          need
        }
        val bound =
          if (ascending) prefix.map(hi).reduce((a, b) => if (less(a, b)) b else a)
          else prefix.map(lo).reduce((a, b) => if (less(a, b)) a else b)
        val keep = ordered.filter(t =>
          if (ascending) !less(bound, lo(t)) else !less(hi(t), bound))
        fullSort(scanSpec(spark,
          Versioned.scanOf(tableDir, m, keep.map(_._1))))
    }
  }

  /** Null-predicate file prune: `IS NULL` skips files whose recorded null
    * count is 0; `IS NOT NULL` skips files that are entirely null. Files
    * without null-count stats (older manifests) survive conservatively. */
  def pruneFilesNull(lh: LakehouseProps, tableName: String, statCol: String,
      isNull: Boolean): Option[(Versioned.ScanFiles, Int)] = {
    val tableDir = Catalog.tablePath(lh, tableName)
    Versioned.latestVersion(tableDir).flatMap(v =>
      Versioned.readManifest(tableDir, v)).map { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val physCol = physicalMapping(schema).getOrElse(statCol, statCol)
      val kept = m.entries.filter { e =>
        (entryNullCount(e, physCol), entryRows(e)) match {
          case (Some(nulls), _) if isNull => nulls > 0
          case (Some(nulls), Some(rows)) if !isNull => nulls < rows
          case _ => true // not provable: must scan
        }
      }
      (Versioned.scanOf(tableDir, m, kept),
        m.entries.size)
    }
  }

  /** `SELECT * WHERE statCol IS [NOT] NULL` with null-count file skipping;
    * the residual predicate keeps the result exact. */
  def prunedScanNull(spark: SparkSession, lh: LakehouseProps,
      tableName: String, statCol: String, isNull: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = pruneFilesNull(lh, tableName, statCol, isNull) match {
      case Some((spec, _)) => scanSpec(spark, spec)
      case None => selectTable(spark, lh, tableName)
    }
    base.filter(if (isNull) col(statCol).isNull else col(statCol).isNotNull)
  }

  /** Equality-predicate file prune: a file survives only if (a) its min/max
    * range may contain `value` AND (b) its Bloom bitset (when the column is
    * bloom-indexed — [[writeTable]]'s `bloomFilterFor`) says maybe-present.
    * The probe hash is computed BY THE ENGINE (`xxhash64` over the value
    * cast to the column's type), so build and probe hashing can never
    * disagree. Point lookups on high-cardinality unclustered columns go
    * from open-every-file to open-a-handful. */
  def pruneFilesEq(spark: SparkSession, lh: LakehouseProps, tableName: String,
      statCol: String, value: Any): Option[(Versioned.ScanFiles, Int)] = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    import org.json4s.jackson.JsonMethods.parse
    import org.json4s.JString
    val tableDir = Catalog.tablePath(lh, tableName)
    Versioned.latestVersion(tableDir).flatMap(v =>
      Versioned.readManifest(tableDir, v)).map { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val physCol = physicalMapping(schema).getOrElse(statCol, statCol)
      val dt = schema.fields.find(_.name == statCol).map(_.dataType)
        .getOrElse(StringType)
      lazy val probeHash: Long = localFrame(spark)
        .select(xxhash64(lit(value).cast(dt))).head.getLong(0)
      val kept = m.entries.filter { e =>
        val rangeOk = statsRange(e, physCol) match {
          case Some(range) => mayMatch(dt, range, Some(value), Some(value))
          case None => true
        }
        rangeOk && {
          val bloomOk = entryBloomB64(e, physCol)
            .map(b => Bloom.mayContain(Bloom.decode(b), probeHash))
          bloomOk.getOrElse(true) // not bloom-indexed: must scan
        }
      }
      (Versioned.scanOf(tableDir, m, kept),
        m.entries.size)
    }
  }

  /** Point-lookup scan: `SELECT * WHERE statCol = value` with bloom+range
    * file skipping; the residual equality filter keeps the result exact
    * (false positives only cost I/O, never correctness). */
  def prunedScanEq(spark: SparkSession, lh: LakehouseProps, tableName: String,
      statCol: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = pruneFilesEq(spark, lh, tableName, statCol, value) match {
      case Some((spec, _)) => scanSpec(spark, spec)
      case None => selectTable(spark, lh, tableName)
    }
    base.filter(col(statCol) === lit(value))
  }

  // ---- CHECK constraints --------------------------------------------------

  private val CheckPrefix = "check:"

  /** The CHECK constraints recorded in a version's metadata. */
  def checkConstraintsOf(meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith(CheckPrefix) =>
      k.drop(CheckPrefix.length) -> v
    }

  /** Enforce CHECK constraints on incoming rows (SQL semantics: a row
    * passes when the expression is TRUE or NULL, fails only on FALSE —
    * Delta CHECK constraints behave identically). One bounded action per
    * constraint over the BATCH being written, never the table; callers
    * writing expensive pipelines should persist upstream. */
  private[lakehouse] def enforceChecks(df: DataFrame, checks: Map[String, String],
      ctx: String): Unit =
    checks.foreach { case (name, sql) =>
      import org.apache.spark.sql.functions.{coalesce, expr, lit}
      val bad = df.filter(coalesce(expr(sql), lit(true)) === false)
        .limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$ctx violates CHECK constraint '$name' ($sql); e.g. ${bad.head}")
    }

  /** Manifest meta key prefix for generated-column expressions. */
  private[lakehouse] val GeneratedPrefix = "graft.generated."

  private[lakehouse] def generatedColsOf(
      meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith(GeneratedPrefix) =>
      k.drop(GeneratedPrefix.length) -> v }

  /** Compute any declared generated column the batch did NOT supply;
    * supplied values are validated by the paired CHECK constraint at the
    * caller's enforceChecks site. Pure per-row projection — codegen'd,
    * no shuffle. */
  private[lakehouse] def withGeneratedColumns(df: DataFrame,
      meta: Map[String, String]): DataFrame =
    generatedColsOf(meta).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(e))
    }

  /** Manifest meta key prefix for column DEFAULT expressions. */
  private[lakehouse] val DefaultPrefix = "graft.default."

  private[lakehouse] def defaultColsOf(
      meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith(DefaultPrefix) =>
      k.drop(DefaultPrefix.length) -> v }

  /** Fill any declared DEFAULT column the batch did NOT supply with its
    * stored (pre-cast) literal. Delta semantics: the default applies only
    * when the column is OMITTED — a supplied column keeps its values,
    * including explicit nulls. Pure per-row projection, codegen'd. */
  private[lakehouse] def withDefaultColumns(df: DataFrame,
      meta: Map[String, String]): DataFrame =
    defaultColsOf(meta).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(e))
    }

  /** Declare a column DEFAULT (Delta's ALTER TABLE ... SET DEFAULT): a
    * metadata-only commit recording a CONSTANT expression that ingest
    * paths (overwrite, append, COPY INTO, transactional append, MERGE
    * insert clauses) evaluate for batches that OMIT the column. Existing
    * rows are untouched — the default is not a backfill (Delta
    * semantics). The expression must be constant-foldable (no column
    * references — a row-dependent default is a generated column, which is
    * its own declaration) and is stored pre-cast to the column's
    * current type so every ingest site fills a type-correct value.
    * Feature-gated: a down-level writer that ignored the declaration
    * would silently append nulls where the table contract says default. */
  def setColumnDefault(spark: SparkSession, lh: LakehouseProps,
      tableName: String, colName: String, sqlExpr: String): Unit =
    commitMeta(spark, lh, tableName, "SET DEFAULT") { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(colName),
        s"default column '$colName' must exist in the schema " +
          s"(add it with a write first): ${schema.fieldNames.mkString(", ")}")
      require(!m.meta.contains(GeneratedPrefix + colName) &&
        !m.meta.contains(IdentityPrefix + colName),
        s"$tableName.$colName is generated/identity — those already define " +
          "the omitted-column value")
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sqlExpr)
      require(parsed.collectFirst {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a
      }.isEmpty, s"DEFAULT for '$colName' must be a constant expression " +
        s"(got '$sqlExpr' — row-dependent defaults are generated columns)")
      // pre-cast to the column's declared type so ingest-time evaluation is
      // type-exact regardless of the literal's natural type
      val stored = s"CAST(($sqlExpr) AS ${schema(colName).dataType.sql})"
      // the expression must actually evaluate (typos fail HERE, not at the
      // next append): one driver-side projection proves it
      localFrame(spark).select(org.apache.spark.sql.functions.expr(stored))
        .head()
      Versioned.withFeature(
        m.meta + (DefaultPrefix + colName -> stored), "defaultColumns")
    }

  /** Remove a column DEFAULT declaration: later omitting batches go back
    * to null-filling. Metadata-only. */
  def dropColumnDefault(spark: SparkSession, lh: LakehouseProps,
      tableName: String, colName: String): Unit =
    commitMeta(spark, lh, tableName, "DROP DEFAULT")(
      _.meta - (DefaultPrefix + colName))

  /** Declare `colName` GENERATED ALWAYS AS (`sqlExpr`) — Delta generated
    * columns: ingest paths (append, overwrite) COMPUTE the column when a
    * batch omits it; batches that supply it are VALIDATED against the
    * expression through an automatically-paired CHECK constraint
    * (`col <=> (expr)` — null-safe, so "both null" passes), which also
    * guards merge and the streaming sinks for free. Existing rows must
    * already satisfy the expression (one scan, checked here). One
    * metadata-only commit records expression + constraint atomically. */
  def setGeneratedColumn(spark: SparkSession, lh: LakehouseProps,
      tableName: String, colName: String, sqlExpr: String): Unit =
    commitMeta(spark, lh, tableName, "SET GENERATED") { m =>
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(colName),
        s"generated column '$colName' must exist in the schema " +
          s"(add it with a write first): ${schema.fieldNames.mkString(", ")}")
      require(!m.meta.contains(GeneratedPrefix + colName),
        s"$tableName.$colName is already generated — drop it first")
      // self-reference would make compute-if-absent circular
      val refs = scala.util.Try(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(sqlExpr)).toOption.toSeq
        .flatMap(_.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        })
      require(!refs.contains(colName),
        s"generated column '$colName' cannot reference itself")
      val check = s"`$colName` <=> ($sqlExpr)"
      enforceChecks(scanSpec(spark, Versioned.scanOf(
          Catalog.tablePath(lh, tableName), m, m.entries)),
        Map(s"__gen_$colName" -> check), s"$tableName: existing data")
      Versioned.withFeature(
        m.meta + (GeneratedPrefix + colName -> sqlExpr) +
          (CheckPrefix + s"__gen_$colName" -> check), "generatedColumns")
    }

  /** Remove a generated-column declaration and its paired constraint. */
  def dropGeneratedColumn(spark: SparkSession, lh: LakehouseProps,
      tableName: String, colName: String): Unit =
    commitMeta(spark, lh, tableName, "DROP GENERATED")(
      _.meta - (GeneratedPrefix + colName) - (CheckPrefix + s"__gen_$colName"))

  /** Manifest meta keys for identity columns: declaration + the
    * high-watermark of assigned values (advanced ATOMICALLY with each
    * commit that assigns ids — a replayed or raced batch can never reuse
    * a value). */
  private[lakehouse] val IdentityPrefix = "graft.identity."
  private[lakehouse] val IdentityMaxPrefix = "graft.identityMax."

  private[lakehouse] def identityColsOf(meta: Map[String, String]): Seq[String] =
    meta.keys.filter(_.startsWith(IdentityPrefix))
      .map(_.drop(IdentityPrefix.length)).toSeq.sorted

  /** Assign `watermark+1 .. watermark+n` to each declared identity column
    * (contiguous, deterministic — [[Transform.addIndexColContiguous]]'s
    * distributed zipWithIndex) and return the advanced-watermark meta to
    * ride the SAME commit. The batch pins to storage first: its plan runs
    * twice (count + write), and ids from a re-evaluated nondeterministic
    * source would break the uniqueness contract. Explicit values are
    * rejected — GENERATED **ALWAYS** AS IDENTITY. Returns the pinned
    * handle for the caller to unpersist after the commit. */
  private[lakehouse] def withIdentityAssigned(df: DataFrame, meta: Map[String, String],
      ctx: String): (DataFrame, Map[String, String], Option[DataFrame]) = {
    val cols = identityColsOf(meta)
    if (cols.isEmpty) return (df, Map.empty, None)
    cols.foreach(c => require(!df.columns.contains(c),
      s"$ctx: '$c' is GENERATED ALWAYS AS IDENTITY — explicit values are " +
        "rejected (omit the column)"))
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = pinned.count()
    var d: DataFrame = pinned
    val metaAdd = cols.map { c =>
      // a corrupt watermark must fail LOUDLY — falling back to 0 would
      // silently reuse ids, the one thing identity exists to prevent
      val raw = meta.getOrElse(IdentityMaxPrefix + c, "0")
      val wm = scala.util.Try(raw.toLong).getOrElse(throw
        new IllegalStateException(s"$ctx: identity watermark for '$c' " +
          s"is unreadable ('$raw') — refusing to assign ids"))
      d = Transform.addIndexColContiguous(d, c, indexStart = wm,
        newColPos = d.columns.length)
      (IdentityMaxPrefix + c) -> (wm + n).toString
    }.toMap
    (d, metaAdd, Some(pinned))
  }

  /** Declare `colName` GENERATED ALWAYS AS IDENTITY (Delta identity
    * columns): every subsequent append/overwrite batch must OMIT the
    * column and receives contiguous values above the recorded
    * high-watermark, which advances atomically in the same commit —
    * uniqueness survives crashes, replays, and concurrent-append retries
    * (each retry re-reads the fresh watermark). Values are never reused,
    * including across overwrites (Delta semantics). If the column already
    * exists its current max seeds the watermark; if not, it appears on
    * the first identity append via schema evolution (historical rows read
    * null). */
  def setIdentityColumn(spark: SparkSession, lh: LakehouseProps,
      tableName: String, colName: String, startWith: Long = 1): Unit =
    commitMeta(spark, lh, tableName, "SET IDENTITY") { m =>
      require(!m.meta.contains(IdentityPrefix + colName),
        s"$tableName.$colName is already an identity column")
      require(!m.meta.contains(GeneratedPrefix + colName),
        s"$tableName.$colName is already a generated column")
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val wm0 =
        if (!schema.fieldNames.contains(colName)) startWith - 1
        else {
          require(schema(colName).dataType == org.apache.spark.sql.types.LongType,
            s"identity column '$colName' must be LONG, is ${schema(colName).dataType}")
          val mx = scanSpec(spark, Versioned.scanOf(
              Catalog.tablePath(lh, tableName), m, m.entries))
            .agg(org.apache.spark.sql.functions.max(
              org.apache.spark.sql.functions.col(colName))).head()
          math.max(if (mx.isNullAt(0)) startWith - 1 else mx.getLong(0),
            startWith - 1)
        }
      Versioned.withFeature(
        m.meta + (IdentityPrefix + colName -> "1") +
          (IdentityMaxPrefix + colName -> wm0.toString), "identityColumns")
    }

  // ---- row tracking (Delta row IDs: stable identity across OPTIMIZE) ----

  /** Logical name of the row-id column [[selectTableWithRowIds]] appends. */
  val RowIdColName = "_row_id"

  /** Physical column carrying MATERIALIZED row ids in rewritten files
    * (Delta's materialized row-id column). Present only in files written
    * by id-preserving rewrites; never part of the logical schema. */
  private[lakehouse] val PhysRowIdCol = "__row_id"

  /** Enable row tracking (Delta's ALTER TABLE ... SET 'delta.enableRowTracking'):
    * a metadata-only commit that backfills a base row id for every EXISTING
    * file (path order, from 0) and records the fresh-id watermark; every
    * later commit assigns ids to its added files atomically
    * ([[Versioned.commitFiles]]). Requires per-file row counts — tables
    * with stats-less entries need [[recomputeStats]] first. Gated through
    * the features protocol: a reader that does not understand row ids
    * would silently drop the id column's meaning, so it must refuse. */
  def enableRowTracking(spark: SparkSession, lh: LakehouseProps,
      tableName: String): Unit = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (base, m) = existing(spark, lh, tableName)
    require(!m.meta.contains(Versioned.RowTrackingKey),
      s"$tableName already has row tracking enabled")
    var wm = 0L
    val backfilled = m.entries.sortBy(_.path).map { e =>
      val rows = entryRows(e).getOrElse(throw new IllegalStateException(
        s"$tableName: row tracking needs per-file row counts; ${e.path} " +
          "has none — run recomputeStats first"))
      val e2 = e.copy(stats = e.stats.map(
        addStatField(_, Versioned.BaseRowIdStatKey, wm.toString)))
      wm += rows
      e2
    }
    Versioned.commitFiles(tableDir, m.schemaJson, inherit = backfilled,
      expectedBase = Some(base),
      meta = Versioned.withFeature(
        m.meta + (Versioned.RowTrackingKey -> "1") +
          (Versioned.RowIdMaxKey -> wm.toString), "rowTracking"),
      op = "SET ROWTRACKING")
    ()
  }

  /** The current table with [[RowIdColName]] appended: a stable long
    * identity per row — fresh files compute `base + row_index` from
    * manifest stats (zero storage cost), rewritten files read their
    * materialized physical ids (which take precedence). DV-deleted rows
    * simply vanish; their ids are never reissued. */
  def selectTableWithRowIds(spark: SparkSession, lh: LakehouseProps,
      tableName: String): DataFrame = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val m = Versioned.latestVersion(tableDir)
      .flatMap(Versioned.readManifest(tableDir, _)).getOrElse(
        throw new IllegalArgumentException(s"$tableName: no committed version"))
    require(m.meta.contains(Versioned.RowTrackingKey),
      s"$tableName does not have row tracking enabled")
    withRowIds(spark, tableDir, m, m.entries)
  }

  /** Row-id-bearing scan over `entries` of a row-tracked table: logical
    * columns + [[RowIdColName]]. The path→base map broadcast is O(files)
    * — the same shape (and the same ceiling) as the deletion-vector
    * broadcast, both bounded by manifest size, which the driver already
    * holds to plan any scan; ~100 bytes per file keeps a 1M-file table
    * around 100 MB, inside executor broadcast budgets. */
  private[lakehouse] def withRowIds(spark: SparkSession, tableDir: String,
      m: Versioned.Manifest, entries: Seq[Versioned.FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, udf}
    val baseP = Paths.get(tableDir)
    val baseMap: Map[String, Long] = entries.flatMap { e =>
      Versioned.statsField(e.stats, Versioned.BaseRowIdStatKey)
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .map(b => baseP.resolve(e.path).toString -> b)
    }.toMap
    val df = scanFiles(spark, Versioned.scanOf(tableDir, m, entries),
      keepMeta = true, extraPhysical = Seq(
        StructField(PhysRowIdCol, org.apache.spark.sql.types.LongType)))
    val bc = spark.sparkContext.broadcast(baseMap)
    val fresh = udf(new RowIdOf(bc): (String, Long) => java.lang.Long)
    val logical = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    df.withColumn(RowIdColName,
        coalesce(col(PhysRowIdCol), fresh(col(FpCol), col(RiCol))))
      .select(logical.fieldNames.map(col).toSeq :+ col(RowIdColName): _*)
  }

  /** ALTER TABLE ADD CONSTRAINT ... CHECK: validates all EXISTING rows
    * satisfy `sqlExpr` (one scan, once), then records the constraint in a
    * metadata-only commit — every subsequent write path (overwrite, append,
    * merge, streaming sink) enforces it on incoming rows. */
  def addCheckConstraint(spark: SparkSession, lh: LakehouseProps,
      tableName: String, name: String, sqlExpr: String): Unit = {
    require(name.nonEmpty && !name.contains("=") && !name.contains("\n"),
      "constraint names must be single-line and '='-free")
    commitMeta(spark, lh, tableName, "ADD CONSTRAINT") { m =>
      require(!m.meta.contains(CheckPrefix + name),
        s"$tableName already has a CHECK constraint named '$name' — drop it " +
          "first (silent replacement would change enforcement unnoticed)")
      enforceChecks(scanSpec(spark, Versioned.scanOf(
          Catalog.tablePath(lh, tableName), m, m.entries)),
        Map(name -> sqlExpr), s"$tableName: existing data")
      Versioned.withFeature(
        m.meta + (CheckPrefix + name -> sqlExpr), "checkConstraints")
    }
  }

  /** ALTER TABLE DROP CONSTRAINT (metadata-only commit; missing names are
    * a no-op commit). */
  def dropCheckConstraint(spark: SparkSession, lh: LakehouseProps,
      tableName: String, name: String): Unit =
    commitMeta(spark, lh, tableName, "DROP CONSTRAINT")(_.meta - (CheckPrefix + name))

  // ---- UNIQUE constraints -------------------------------------------------

  private val UniquePrefix = "unique:"

  /** The UNIQUE constraints recorded in a version's metadata
    * (name -> key columns). */
  def uniqueConstraintsOf(meta: Map[String, String]): Map[String, Seq[String]] =
    meta.collect { case (k, v) if k.startsWith(UniquePrefix) =>
      k.drop(UniquePrefix.length) -> v.split(",").toSeq }

  /** Batch-internal UNIQUE enforcement. SQL semantics: a row with a NULL
    * in ANY key column never conflicts (the standard multiple-NULLs-
    * allowed reading). One bounded aggregation per constraint over the
    * BATCH being written, never the table. */
  private[lakehouse] def enforceUniqueWithin(df: DataFrame,
      uniques: Map[String, Seq[String]], ctx: String): Unit =
    uniques.foreach { case (name, cols) =>
      import org.apache.spark.sql.functions.{col, count, lit}
      if (cols.forall(df.columns.contains)) {
        val dup = df
          .filter(cols.map(col(_).isNotNull).reduce(_ && _))
          .groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
          .filter(org.apache.spark.sql.functions.col("__n") > 1)
          .limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"$ctx violates UNIQUE constraint '$name' " +
            s"(${cols.mkString(", ")}); duplicated key: ${dup.head}")
      }
    }

  /** Batch-vs-table UNIQUE enforcement for appends: the existing side is
    * scanned key-columns-only (parquet column pruning does the rest), and
    * for single-column constraints the manifest min/max stats drop every
    * file whose recorded key range cannot intersect the batch's [min,
    * max] — on monotonically-keyed append streams (the common unique-key
    * shape) the probe touches only the newest files instead of the whole
    * table. The batch side is persisted by the caller's append pipeline;
    * the probe is one left-semi-join action bounded by limit(1). */
  private[lakehouse] def enforceUniqueAgainst(spark: SparkSession,
      tableDir: String, m: Versioned.Manifest, batch: DataFrame,
      uniques: Map[String, Seq[String]], ctx: String): Unit =
    uniques.foreach { case (name, cols) =>
      import org.apache.spark.sql.functions.{col, max, min}
      if (m.entries.nonEmpty && cols.forall(batch.columns.contains)) {
        val keys = batch.select(cols.map(col): _*)
          .filter(cols.map(col(_).isNotNull).reduce(_ && _))
        val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        val entries = cols match {
          case Seq(c) if schema.fieldNames.contains(c) =>
            val physCol = physicalMapping(schema).getOrElse(c, c)
            val dt = schema.fields.find(_.name == c).map(_.dataType)
              .getOrElse(StringType)
            val mm = keys.agg(min(col(c)).as("lo"), max(col(c)).as("hi")).head
            if (mm.isNullAt(0)) Seq.empty
            else m.entries.filter { e =>
              statsRange(e, physCol) match {
                case Some(range) =>
                  mayMatch(dt, range, Some(mm.get(0)), Some(mm.get(1)))
                case None => true // no stats: must probe
              }
            }
          case _ => m.entries
        }
        if (entries.nonEmpty) {
          val existing = scanSpec(spark, Versioned.scanOf(tableDir, m, entries))
            .select(cols.map(col): _*)
          val hit = keys.join(existing, cols, "left_semi").limit(1).collect()
          if (hit.nonEmpty) throw new IllegalArgumentException(
            s"$ctx violates UNIQUE constraint '$name' " +
              s"(${cols.mkString(", ")}); key already present: ${hit.head}")
        }
      }
    }

  /** ALTER TABLE ADD CONSTRAINT ... UNIQUE (metadata commit, feature-
    * gated like CHECK constraints): existing data is validated first —
    * one key-columns-only aggregation over the table — then enforcement
    * holds on every overwrite (batch-internal) and append (batch-internal
    * + stats-pruned probe against existing keys). MERGE/keyed-replace
    * paths are deliberately NOT probed: they replace by key, so a
    * conflict there is the caller updating existing keys — the operation
    * those paths exist for. */
  def addUniqueConstraint(spark: SparkSession, lh: LakehouseProps,
      tableName: String, name: String, cols: Seq[String]): Unit = {
    require(name.nonEmpty && !name.contains("=") && !name.contains("\n"),
      "constraint names must be single-line and '='-free")
    require(cols.nonEmpty && cols.forall(c => !c.contains(",")),
      "UNIQUE needs at least one comma-free column name")
    commitMeta(spark, lh, tableName, "ADD CONSTRAINT") { m =>
      require(!m.meta.contains(UniquePrefix + name),
        s"$tableName already has a UNIQUE constraint named '$name' — drop " +
          "it first (silent replacement would change enforcement unnoticed)")
      val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"$tableName has no column '$c'"))
      enforceUniqueWithin(
        scanSpec(spark, Versioned.scanOf(
            Catalog.tablePath(lh, tableName), m, m.entries))
          .select(cols.map(org.apache.spark.sql.functions.col): _*),
        Map(name -> cols), s"$tableName: existing data")
      Versioned.withFeature(
        m.meta + (UniquePrefix + name -> cols.mkString(",")),
        "uniqueConstraints")
    }
  }

  /** ALTER TABLE DROP CONSTRAINT for UNIQUE (metadata-only commit). */
  def dropUniqueConstraint(spark: SparkSession, lh: LakehouseProps,
      tableName: String, name: String): Unit =
    commitMeta(spark, lh, tableName, "DROP CONSTRAINT")(_.meta - (UniquePrefix + name))

  // ---- FOREIGN KEY constraints (informational + on-demand validation) -----

  private val FkPrefix = "fk:"

  /** Declared foreign keys of a version's metadata:
    * name -> (childCols, parentTable, parentCols). */
  def foreignKeysOf(meta: Map[String, String])
      : Map[String, (Seq[String], String, Seq[String])] =
    meta.collect { case (k, v) if k.startsWith(FkPrefix) =>
      val Array(cc, pt, pc) = v.split(";", 3)
      k.drop(FkPrefix.length) ->
        ((cc.split(",").toSeq, pt, pc.split(",").toSeq))
    }

  /** ALTER TABLE ADD CONSTRAINT ... FOREIGN KEY — INFORMATIONAL, the
    * lakehouse norm (Delta/Snowflake declare FKs for optimizers and
    * catalogs but do not police every write: enforcement would make each
    * child append pay a parent probe and each parent delete pay a child
    * scan). `validate = true` checks existing data once at declaration;
    * [[validateForeignKey]] is the on-demand audit that returns the
    * violating keys. Declarations are metadata-only commits and carry no
    * feature gate — a down-level writer that ignores them breaks nothing
    * (they promise nothing about future writes). */
  def addForeignKey(spark: SparkSession, lh: LakehouseProps,
      childTable: String, name: String, childCols: Seq[String],
      parentTable: String, parentCols: Seq[String],
      validate: Boolean = true): Unit = {
    require(name.nonEmpty && !name.contains("=") && !name.contains("\n"),
      "constraint names must be single-line and '='-free")
    require(childCols.nonEmpty && childCols.size == parentCols.size,
      "FOREIGN KEY needs matching child/parent column lists")
    require((childCols ++ parentCols :+ parentTable)
      .forall(v => !v.contains(",") && !v.contains(";")),
      "FK identifiers must be ','/';'-free")
    commitMeta(spark, lh, childTable, "ADD CONSTRAINT") { m =>
      require(!m.meta.contains(FkPrefix + name),
        s"$childTable already has a FOREIGN KEY named '$name'")
      if (validate) {
        val bad = validateForeignKey(spark, lh, childTable, childCols,
          parentTable, parentCols).limit(1).collect()
        require(bad.isEmpty,
          s"$childTable: existing data violates FOREIGN KEY '$name'; " +
            s"orphan: ${bad.headOption}")
      }
      m.meta + (FkPrefix + name ->
        s"${childCols.mkString(",")};$parentTable;${parentCols.mkString(",")}")
    }
  }

  /** ALTER TABLE DROP CONSTRAINT for FOREIGN KEY (metadata-only). */
  def dropForeignKey(spark: SparkSession, lh: LakehouseProps,
      childTable: String, name: String): Unit =
    commitMeta(spark, lh, childTable, "DROP CONSTRAINT")(_.meta - (FkPrefix + name))

  /** On-demand referential audit: DISTINCT child keys with no parent —
    * SQL FK semantics (a child row with a NULL in any key column
    * matches vacuously, MATCH SIMPLE). Plan: distinct child keys
    * (partial-aggregated), LEFT ANTI against the parent keys — AQE
    * broadcasts dim-sized parents; corpus-sized sides shuffle on the
    * key, the join's natural partitioning. Returns the violating key
    * tuples under the child column names. */
  def validateForeignKey(spark: SparkSession, lh: LakehouseProps,
      childTable: String, childCols: Seq[String], parentTable: String,
      parentCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val child = selectTable(spark, lh, childTable)
      .select(childCols.map(col): _*)
      .filter(childCols.map(col(_).isNotNull).reduce(_ && _))
      .distinct()
    val parent = selectTable(spark, lh, parentTable)
      .select(parentCols.zip(childCols).map { case (p, c) =>
        col(p).as(c) }: _*)
    child.join(parent, childCols, "left_anti")
  }

  /** common.py:525-538 — overwrite-write (optionally Hive-style partitioned),
    * then record `{lakehouse, shape, columns, path}` into the registry.
    * Schema changes are first-class: the new version's manifest stores the
    * new schema and references only the new files (the reference always
    * writes `overwriteSchema=true`, common.py:531). The post-write count
    * scans the just-written files (same number as the reference's re-count,
    * one cheap scan). */
  def writeTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      df: DataFrame, partitionBy: Seq[String] = Seq.empty,
      sortBy: Seq[String] = Seq.empty,
      zorderBy: Seq[String] = Seq.empty,
      bloomFilterFor: Seq[String] = Seq.empty,
      extraMeta: Map[String, String] = Map.empty): TableInfo = {
    // generated columns absent from the replacement data are computed
    // before the overwrite proper (present ones validate via their
    // CHECK); identity columns assign above the watermark, which never
    // resets — values are not reused across overwrites (Delta semantics)
    val dirG = Catalog.tablePath(lh, tableName)
    val baseG = Versioned.latestVersion(dirG)
    val metaG = baseG
      .flatMap(Versioned.readManifest(dirG, _)).map(_.meta)
      .getOrElse(Map.empty[String, String])
    val (dfi, idMeta, pin) = withIdentityAssigned(
      withGeneratedColumns(withDefaultColumns(df, metaG), metaG), metaG,
      s"$tableName: overwrite")
    // ids were assigned above baseG's watermark: the commit must pin that
    // base, or a concurrent append could advance the watermark first and
    // this overwrite would commit a REGRESSED one — the next batch would
    // hand out ids the table's history already used
    try writeTableImpl(spark, lh, tableName, dfi,
      partitionBy, sortBy, zorderBy, bloomFilterFor, extraMeta ++ idMeta,
      pinBase = if (idMeta.nonEmpty) baseG else None)
    finally pin.foreach(_.unpersist())
  }

  private def writeTableImpl(spark: SparkSession, lh: LakehouseProps,
      tableName: String, df: DataFrame, partitionBy: Seq[String],
      sortBy: Seq[String], zorderBy: Seq[String],
      bloomFilterFor: Seq[String],
      extraMeta: Map[String, String],
      pinBase: Option[Long] = None): TableInfo = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy (1-D clustering) and zorderBy (Z-curve) are exclusive")
    require(bloomFilterFor.intersect(partitionBy).isEmpty,
      "bloom filters on partition columns are pointless (hive directory " +
        "pruning is already exact there) and unreliable (the staged " +
        "read-back infers partition types, which can change the hash)")
    val tableDir = Catalog.tablePath(lh, tableName)
    // table PROPERTIES (CHECK constraints, the change-feed flag) survive
    // overwrites — Delta semantics; txn watermarks intentionally reset
    // (full-replace). The replacement data must satisfy the constraints.
    val prevVersion = Versioned.latestVersion(tableDir)
    val prevManifest = prevVersion.flatMap(Versioned.readManifest(tableDir, _))
    val prevMeta = prevManifest.map(_.meta)
      .getOrElse(Map.empty[String, String])
    val carried = prevMeta.filter { case (k, _) =>
      k.startsWith(CheckPrefix) || k.startsWith(UniquePrefix) ||
        k == CdfKey ||
        k.startsWith(GeneratedPrefix) || k.startsWith(IdentityPrefix) ||
        k.startsWith(IdentityMaxPrefix) || k.startsWith(DefaultPrefix) ||
        // feature requirements are STICKY (Delta semantics): dropping them
        // on overwrite would let a down-level writer ignore the carried
        // identity/CDF/constraint declarations it cannot honor
        k == Versioned.FeaturesKey }
    val checks = checkConstraintsOf(prevMeta)
    enforceChecks(df, checks, s"$tableName: overwrite")
    // overwrite replaces the table wholesale, so uniqueness is a batch-
    // internal property only
    enforceUniqueWithin(df, uniqueConstraintsOf(prevMeta),
      s"$tableName: overwrite")
    // with the feed enabled, an overwrite is a modeled event: every current
    // row streams as a delete, every replacement row as an insert (Delta
    // CDF for INSERT OVERWRITE) — O(table), like the overwrite itself.
    // The old side pins the pre-commit committed files NOW; the insert
    // side reads the STAGED files at sidecar time — never a re-evaluation
    // of the caller's plan, which could be nondeterministic and record
    // rows that were never committed
    val prevScanForCdf: Option[DataFrame] =
      if (!cdfEnabled(prevMeta)) None
      else prevManifest.map(m => scanSpec(spark,
        Versioned.scanOf(tableDir, m, m.entries)))
    // sortBy = 1-D data clustering: range-partition then sort within
    // partitions so each parquet file covers a narrow key range — file- and
    // row-group-level min/max statistics then let later scans with
    // predicates on those columns skip most of a 100 TB table.
    // zorderBy = multi-D clustering on the Z-curve: every listed dimension
    // gets locality, so stats prune on any of them (see [[Zorder]]).
    val clustered =
      if (zorderBy.nonEmpty) Zorder.cluster(df, zorderBy)
      else if (sortBy.isEmpty) df
      else df.repartitionByRange(sortBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(sortBy.map(org.apache.spark.sql.functions.col): _*)
    val commit = Versioned.commitFiles(tableDir, df.schema.json,
      // the CDF preimage is pinned to prevVersion (committing without
      // pinning that base would let a concurrent commit slip between the
      // pin and the claim, making the recorded feed diverge from the
      // version this overwrite actually replaced — rows committed in the
      // window would get neither a delete event nor survive); pinBase
      // pins the identity-watermark read the same way
      expectedBase = pinBase.orElse(
        if (prevScanForCdf.isDefined) prevVersion else None),
      meta = carried ++ extraMeta +
        (PartitionByKey -> partitionBy.mkString(",")),
      op = "WRITE",
      beforeMarker = cdfSidecar(tableDir)(staged => prevScanForCdf.map { old =>
        import org.apache.spark.sql.functions.lit
        val inserts = scanSpec(spark, Versioned.ScanFiles(tableDir,
          df.schema.json, staged.map(_.path)))
          .withColumn("_change_type", lit("insert"))
        old.withColumn("_change_type", lit("delete"))
          .unionByName(inserts, allowMissingColumns = true)
      }),
      // manifest blooms skip whole FILES; parquet-native blooms on the same
      // columns skip row groups WITHIN the files that survive
      stage = t => writeStagedWithStats(clustered, t, partitionBy,
        bloomFilterFor, parquetBloomCols = bloomFilterFor))
    finishCommit(spark, lh, tableName, tableDir, commit, df.columns.toSeq, partitionBy)
  }

  /** APPEND-ONLY commit (Delta blind append): new rows land as new files;
    * every existing data file is inherited by reference — bytes written per
    * call is O(batch), never O(table). A new nullable column in `df` is a
    * schema evolution: the committed schema is the unionByName of old and
    * new, and pre-evolution files read the new column as null. Concurrent
    * commits are detected and the append retried against the new base
    * (appends never semantically conflict).
    *
    * `pinBase` pins the commit CAS to the version the CALLER observed
    * instead of re-reading it here: `Some(v)` = caller saw version v,
    * `Some(0)` = caller saw no table. A pinned append that loses the race
    * ALWAYS surfaces ConcurrentWriteException (never the internal retry):
    * the caller pinned precisely because its payload was derived from that
    * version's state — [[Ingest.copyInto]]'s loaded-file diff — and
    * re-appending the same payload on a newer base could double-apply it. */
  def appendTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      df: DataFrame, maxRetries: Int = 5,
      extraMeta: Map[String, String] = Map.empty,
      pinBase: Option[Long] = None): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    var attempt = 0
    while (true) {
      (pinBase match {
        case Some(0L) => None
        case Some(v) => Some(v -> Versioned.manifestOf(tableDir, v))
        case None => adopted(spark, tableDir)
      }) match {
        case None =>
          // table creation pinned to base 0: two concurrent first appends
          // race the claim of v1 — the loser gets ConcurrentWriteException
          // and retries as a NORMAL append against the winner's version
          // (an unpinned overwrite here would silently drop the winner's
          // rows instead)
          try {
            val commit = Versioned.commitFiles(tableDir, df.schema.json,
              expectedBase = Some(0L), meta = extraMeta, op = "APPEND",
              stage = writeStagedWithStats(df, _))
            return finishCommit(spark, lh, tableName, tableDir, commit,
              df.columns.toSeq, Seq.empty)
          } catch {
            case e: Versioned.ConcurrentWriteException =>
              attempt += 1
              if (pinBase.isDefined || attempt > maxRetries) throw e
          }
        case Some((base, m)) =>
          // generated columns (Delta generated-column semantics): absent
          // in the batch -> computed here; present -> the paired CHECK
          // constraint validates it below. Identity columns assign above
          // the recorded watermark, which advances IN this commit (a lost
          // race retries the whole block against the fresh manifest,
          // re-reading both).
          val dfg = withGeneratedColumns(
            withDefaultColumns(df, m.meta), m.meta)
          val (dfi, idMeta, pin) =
            withIdentityAssigned(dfg, m.meta, s"$tableName: append")
          try {
            enforceChecks(dfi, checkConstraintsOf(m.meta), s"$tableName: append")
            val uniques = uniqueConstraintsOf(m.meta)
            enforceUniqueWithin(dfi, uniques, s"$tableName: append")
            enforceUniqueAgainst(spark, tableDir, m, dfi, uniques,
              s"$tableName: append")
            val oldSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
            val oldEmpty = spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], oldSchema)
            // evolved schema = old ∪ new (by name); old columns keep their
            // positions, brand-new ones append as nullable
            val evolved = oldEmpty
              .unionByName(dfi.limit(0), allowMissingColumns = true).schema
            val aligned = oldEmpty.unionByName(dfi, allowMissingColumns = true)
            val parts = partitionSpecOf(m.meta, m.files)
            try {
              val evolvedM = alignMapping(evolved, oldSchema, m.meta, base)
              val commit = Versioned.commitFiles(tableDir, evolvedM.json,
                inherit = m.entries, expectedBase = Some(base),
                meta = m.meta ++ extraMeta ++ idMeta, op = "APPEND",
                stage = t => writeStagedWithStats(
                  toPhysical(aligned, evolvedM), t, parts, bloomColsOf(m)))
              return finishCommit(spark, lh, tableName, tableDir, commit,
                evolvedM.fieldNames.toSeq, parts)
            } catch {
              case e: Versioned.ConcurrentWriteException =>
                attempt += 1
                if (pinBase.isDefined || attempt > maxRetries) throw e
            }
          } finally pin.foreach(_.unpersist())
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def finishCommit(spark: SparkSession, lh: LakehouseProps,
      tableName: String, tableDir: String, commit: Versioned.Commit,
      columns: Seq[String], partitionBy: Seq[String]): TableInfo = {
    val written = scanSpec(spark, Versioned.specFor(tableDir, commit.version))
    // O(0) in the steady state: the manifest's per-file row counts sum to
    // the total — an O(files-in-table) count() per commit would make every
    // tiny append pay for the whole table's footers
    val rowCount = Versioned.readManifest(tableDir, commit.version)
      .flatMap(rowsFromManifest)
      .getOrElse(written.count())
    val info = TableInfo(lh.lakehouseName, rowCount, columns.length,
      columns, tableDir, partitionBy)
    Catalog.recordTable(tableName, written, info)
    info
  }

  /** col1=v/col2=v/part-*.parquet -> Seq(col1, col2). A shallow clone's
    * absolute entries carry a foreign pool prefix before the partition
    * segments — skipped, not matched. */
  private[lakehouse] def partitioningOfFiles(files: Seq[String]): Seq[String] =
    files.headOption.toSeq.flatMap(_.split('/').dropRight(1).toSeq
      .dropWhile(seg => !seg.matches("[^=]+=.*"))
      .takeWhile(_.matches("[^=]+=.*")).map(_.split("=", 2)(0)))

  /** Manifest-meta key recording the table's CURRENT partition spec —
    * the layout future writes use. Absent on pre-evolution manifests
    * (layout then derives from the files, as before). */
  private val PartitionByKey = "graft.partitionBy"

  /** The Hive partitioning of a manifest: its recorded spec, else derived
    * from its file paths (`col=value` segments). The manifest is the
    * source of truth — a session registry keyed by bare table name would
    * be blind in a fresh JVM and collide across lakehouses. Rewrites
    * (compact, merge, append) preserve it. */
  private[lakehouse] def partitionSpecOf(meta: Map[String, String],
      files: Seq[String]): Seq[String] =
    meta.get(PartitionByKey) match {
      case Some("") => Seq.empty
      case Some(s) => s.split(',').toSeq
      case None => partitioningOfFiles(files)
    }

  /** Absolute paths of the data files backing `tableName`'s current
    * version (manifest file list, or a recursive walk of a pre-protocol
    * directory). */
  def currentFiles(lh: LakehouseProps, tableName: String): Seq[Path] =
    Versioned.readSpec(Catalog.tablePath(lh, tableName)) match {
      case Versioned.ScanFiles(base, _, files, _) =>
        val baseP = Paths.get(base)
        files.map(baseP.resolve)
      case Versioned.ScanDir(dataDir) =>
        val root = Paths.get(dataDir)
        if (!Files.isDirectory(root)) Seq.empty
        else {
          val s = Files.walk(root)
          try s.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.toString)
          finally s.close()
        }
    }

  /** Upsert (Delta MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT,
    * whole-row form): rows in `updates` replace current rows with the same
    * `keyCols`; unmatched update rows append.
    *
    * FILE-LEVEL: a cheap key-columns-only scan (with `_metadata.file_path`)
    * finds which data files actually contain matched keys; only those files
    * are rewritten (minus updated keys, plus all updates) — every untouched
    * file is inherited by reference, byte-identical at the same path. A
    * merge touching 0.1% of keys writes ~0.1% of the table (Delta MERGE's
    * add/remove-file granularity). Updates with all-new keys degenerate to
    * a pure append. Concurrent writers are detected via the commit
    * protocol's optimistic base check and fail loudly
    * ([[Versioned.ConcurrentWriteException]]) instead of silently dropping
    * the other writer's commit.
    *
    * Schema evolution: an update set carrying a NEW nullable column widens
    * the table schema (unionByName); untouched files read it as null.
    * One shuffle on the key columns for the rewrite itself. */
  def mergeTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      updates: DataFrame, keyCols: Seq[String],
      checkDuplicateKeys: Boolean = true,
      extraMeta: Map[String, String] = Map.empty): TableInfo = {
    require(keyCols.nonEmpty, "mergeTable needs at least one key column")
    val keyColumns = keyCols.map(org.apache.spark.sql.functions.col)
    // whole-row upserts take every column from the SOURCE — on an identity
    // table that means caller-fabricated ids for new keys, which the
    // watermark would later hand out AGAIN (duplicate "unique" ids), or
    // null ids if the source omits the column. Reject loudly BEFORE the
    // O(updates) validation jobs below: mergeInto preserves target ids on
    // update and engine-assigns them on insert.
    val tableDir = Catalog.tablePath(lh, tableName)
    val (b, m) = existing(spark, lh, tableName)
    locally {
      val idDecl = identityColsOf(m.meta)
      require(idDecl.isEmpty,
        s"$tableName has GENERATED ALWAYS AS IDENTITY column(s) " +
          s"${idDecl.mkString(", ")} — whole-row mergeTable would take ids " +
          "from the source; use mergeInto instead")
    }
    // ONE aggregation answers both preconditions AND supplies the distinct
    // key set every later phase joins against (this used to be two jobs
    // over the update set, plus a separate distinct): groups with
    // count > 1 are duplicate keys (Delta MERGE errors on those — silently
    // unioning both rows would corrupt key uniqueness), and a group with a
    // NULL key component is an unjoinable update (null = null is never
    // true: it could neither match existing rows nor be separated from
    // kept rows for the change feed) — reject loudly rather than
    // half-apply. The persisted group frame then doubles as updKeys, so
    // `updates` is evaluated exactly once.
    val groupedShared: Option[DataFrame] = {
      import org.apache.spark.sql.functions.col
      val nullKey = keyColumns.map(_.isNull).reduce(_ || _)
      if (checkDuplicateKeys) {
        val grouped = updates.groupBy(keyColumns: _*).count()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bad = try grouped.filter(nullKey || col("count") > 1)
          .limit(1).collect()
        catch { case e: Throwable => grouped.unpersist(); throw e }
        bad.headOption.foreach { r =>
          grouped.unpersist()
          val isNull = keyCols.indices.exists(r.isNullAt)
          require(!isNull,
            s"mergeTable: updates contain a NULL merge key: $r")
          require(false,
            s"mergeTable: updates contain multiple rows for key $r")
        }
        Some(grouped)
      } else {
        // checkDuplicateKeys=false is the pre-deduped pipelines' escape
        // hatch from the aggregation job — the null-key check stays a
        // cheap early-terminating filter scan
        val nullKeyed = updates.filter(nullKey).limit(1).collect()
        require(nullKeyed.isEmpty,
          s"mergeTable: updates contain a NULL merge key: " +
            s"${nullKeyed.headOption.getOrElse("")}")
        None
      }
    }
    try {
      if (!cdfEnabled(m.meta))
        // without a change feed to stage, MERGE is exactly the generalized
        // replace primitive with removal keys = update keys
        // removal keys from the validated key frame when available: the
        // internal distinct then folds a cached key set, not the raw
        // updates plan
        replaceKeyedRows(spark, lh, tableName,
          groupedShared.map(_.select(keyColumns: _*)).getOrElse(updates),
          updates, keyCols, extraMeta = extraMeta, op = "MERGE")
      else {
        enforceChecks(updates, checkConstraintsOf(m.meta), s"$tableName: merge")
        val oldSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        // the validation aggregation above already materialized the
        // distinct key set — reuse it instead of re-aggregating `updates`
        val updKeys = groupedShared.map(_.select(keyColumns: _*)).getOrElse(
          updates.select(keyColumns: _*).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        try {
          // 1. affected files: key-columns-only columnar scan + semi join —
          // reads keyCols bytes of the table, not the table. (The empty-
          // manifest scan has no _metadata column — and no files to match.)
          import org.apache.spark.sql.functions.col
          val affectedPaths =
            if (m.entries.isEmpty) Set.empty[String]
            else scanFiles(spark, Versioned.scanOf(tableDir, m, m.entries),
              keepMeta = true)
              .select(keyColumns :+ col(FpCol).as("__fp"): _*)
              .join(updKeys, keyCols, "left_semi")
              .select("__fp").distinct()
              .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
          val baseP = Paths.get(tableDir)
          val (affected, untouched) = m.entries.partition(e =>
            affectedPaths.contains(baseP.resolve(e.path).toString))
          // 2. rewrite ONLY the affected files; inherit the rest
          val affectedDf =
            if (affected.isEmpty)
              spark.createDataFrame(spark.sparkContext.emptyRDD[Row], oldSchema)
            else scanSpec(spark, Versioned.scanOf(tableDir, m, affected))
          val kept = affectedDf.join(updKeys, keyCols, "left_anti")
          val rewritten = kept.unionByName(updates, allowMissingColumns = true)
          val parts = partitionSpecOf(m.meta, m.files)
          // change data feed: matched rows emit pre+post images, new keys
          // emit inserts; staged atomically with the commit (beforeMarker).
          // Post/insert rows come from the STAGED (committed) files, never
          // a re-evaluation of the caller's `updates` plan — staged rows
          // whose key is in updKeys are exactly the update rows as written
          // (kept rows were anti-joined out)
          val writeCdf = cdfSidecar(tableDir) { staged =>
            import org.apache.spark.sql.expressions.Window
            import org.apache.spark.sql.functions.{coalesce, lit, max, when}
            // pre-images: the affected files read again, filtered to the
            // updated keys — nothing cached, O(updated rows) kept
            val pre = affectedDf.join(updKeys, keyCols, "left_semi")
              .withColumn("_change_type", lit("update_preimage"))
            val newRows = scanSpec(spark, Versioned.ScanFiles(tableDir,
              alignMapping(rewritten.schema, oldSchema, m.meta, b).json,
              staged.map(_.path)))
              .join(updKeys, keyCols, "left_semi")
              .withColumn("_change_type", lit(null).cast(StringType))
            // a staged update row is a post-image iff its key has a
            // pre-image, else an insert: one window over the key on the
            // union classifies it, so the pre-images are read once
            val hasPre = max(col("_change_type").isNotNull)
              .over(Window.partitionBy(keyColumns: _*))
            Some(pre.unionByName(newRows, allowMissingColumns = true)
              .withColumn("_change_type", coalesce(col("_change_type"),
                when(hasPre, lit("update_postimage"))
                  .otherwise(lit("insert")))))
          }
          val rewrittenM = alignMapping(rewritten.schema, oldSchema, m.meta, b)
          val commit = Versioned.commitFiles(tableDir, rewrittenM.json,
            inherit = untouched, expectedBase = Some(b),
            // extraMeta rides the SAME manifest (streaming upsert txn
            // watermarks need batch-id-and-data atomicity)
            meta = m.meta ++ extraMeta,
            beforeMarker = writeCdf, op = "MERGE",
            stage = t => writeStagedWithStats(
              toPhysical(rewritten, rewrittenM), t, parts, bloomColsOf(m)))
          finishCommit(spark, lh, tableName, tableDir, commit,
            rewritten.columns.toSeq, parts)
        } finally updKeys.unpersist()
      }
    } finally groupedShared.foreach(_.unpersist())
  }

  // ---- conditional MERGE (full Delta MERGE INTO semantics) ----------------

  /** One WHEN clause of [[mergeInto]]. Conditions and SET / VALUES
    * expressions are SQL strings over aliases `t` (the target row) and `s`
    * (the source row) — `"t.qty + s.delta"`. Clause order is significant:
    * for each row, the FIRST clause of its family (matched / not-matched /
    * not-matched-by-source) whose condition holds fires; rows where no
    * clause fires pass through unchanged (SQL/Delta MERGE semantics). */
  sealed trait MergeClause
  object MergeClause {
    /** WHEN MATCHED [AND cond] THEN UPDATE SET targetCol -> expr. */
    final case class MatchedUpdate(set: Map[String, String],
        condition: Option[String] = None) extends MergeClause
    /** WHEN MATCHED [AND cond] THEN DELETE. */
    final case class MatchedDelete(condition: Option[String] = None)
        extends MergeClause
    /** WHEN NOT MATCHED [AND cond] THEN INSERT. `values` maps target
      * columns to expressions over `s.*`; unnamed columns insert NULL.
      * None = insert the source's same-named columns (INSERT *). */
    final case class NotMatchedInsert(
        values: Option[Map[String, String]] = None,
        condition: Option[String] = None) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
    final case class NotMatchedBySourceDelete(
        condition: Option[String] = None) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET (over t.*). */
    final case class NotMatchedBySourceUpdate(set: Map[String, String],
        condition: Option[String] = None) extends MergeClause
  }

  /** Full conditional MERGE INTO — the complete Delta clause surface
    * ([[mergeTable]] is the unconditional upsert special case). File-level
    * cost model at any scale:
    *
    *  - affected files are found by a KEY-COLUMNS-ONLY columnar scan
    *    (reads keyCols bytes of the table, not the table): files holding a
    *    source-key match, plus — only when a not-matched-by-source clause
    *    exists — files holding an unmatched row satisfying such a clause's
    *    condition;
    *  - only affected files rewrite (their rows run the clause cascade);
    *    every other file is inherited by reference;
    *  - insert clauses append new files (an insert-only merge rewrites
    *    NOTHING — Delta's insert-only-merge optimization falls out of the
    *    structure);
    *  - concurrent writers fail loudly via the optimistic base check.
    *
    * The clause cascade compiles to ONE whole-stage-codegen'd projection
    * (a first-match action index + per-column CASE chains) — no per-clause
    * joins or multiple passes over the data. SET/VALUES expressions cast
    * to the target column's type (Delta's implicit cast). Merge keys are
    * not updatable. With CDF enabled, the commit stages row-level
    * update_preimage/update_postimage/delete/insert events atomically. */
  def mergeInto(spark: SparkSession, lh: LakehouseProps, tableName: String,
      source: DataFrame, keyCols: Seq[String], clauses: Seq[MergeClause],
      checkDuplicateKeys: Boolean = true): TableInfo = {
    import MergeClause._
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    require(clauses.nonEmpty, "mergeInto needs at least one WHEN clause")
    val keyColumns = keyCols.map(col)
    val matchedCs = clauses.filter(c =>
      c.isInstanceOf[MatchedUpdate] || c.isInstanceOf[MatchedDelete])
    val insertCs = clauses.collect { case c: NotMatchedInsert => c }
    val nmbsCs = clauses.filter(c => c.isInstanceOf[NotMatchedBySourceDelete]
      || c.isInstanceOf[NotMatchedBySourceUpdate])
    val allSets = clauses.collect {
      case MatchedUpdate(s, _) => s
      case NotMatchedBySourceUpdate(s, _) => s
    }
    require(allSets.forall(s => keyCols.forall(!s.contains(_))),
      "merge keys are not updatable (rewrite the row via DELETE + INSERT)")
    if (checkDuplicateKeys && matchedCs.nonEmpty) {
      // >1 source row per key would fire a matched clause twice for one
      // target row — nondeterministic under SQL MERGE; Delta errors too
      val dups = source.groupBy(keyColumns: _*).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dups.isEmpty,
        s"mergeInto: source has multiple rows for key ${dups.headOption.getOrElse("")}")
    }
    val tableDir = Catalog.tablePath(lh, tableName)
    val (b, m) = existing(spark, lh, tableName)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(allSets.forall(_.keySet.subsetOf(schema.fieldNames.toSet)),
      "UPDATE SET names a column the target does not have")
    // a typo'd INSERT values key would silently land NULL in the intended
    // column (Delta errors on unknown insert columns; so do we)
    insertCs.flatMap(_.values).foreach(vs =>
      require(vs.keySet.subsetOf(schema.fieldNames.toSet),
        s"INSERT values name columns the target does not have: " +
          s"${vs.keySet -- schema.fieldNames}"))
    // GENERATED ALWAYS AS IDENTITY under MERGE (Delta semantics): UPDATE
    // cannot touch the column, INSERT cannot supply it — inserted rows get
    // engine-assigned ids above the watermark, advanced in THIS commit
    val idCols = identityColsOf(m.meta)
    val genCols = generatedColsOf(m.meta).toSeq.sortBy(_._1)
    idCols.foreach { c =>
      require(allSets.forall(!_.contains(c)),
        s"$tableName.$c is GENERATED ALWAYS AS IDENTITY — UPDATE SET " +
          "cannot modify it")
      require(insertCs.flatMap(_.values).forall(!_.contains(c)),
        s"$tableName.$c is GENERATED ALWAYS AS IDENTITY — explicit INSERT " +
          "values are rejected (omit the column)")
      require(insertCs.forall(_.values.isDefined) || !source.columns.contains(c),
        s"$tableName.$c is GENERATED ALWAYS AS IDENTITY — an INSERT * " +
          "source must not carry the column")
    }
    val withCdf = cdfEnabled(m.meta)
    val MCol = "__graft_m"
    val ACol = "__graft_act"
    def condOf(c: Option[String]) =
      c.map(expr).getOrElse(lit(true))
    def firstMatch(conds: Seq[Column]): Column =
      conds.zipWithIndex.foldRight(lit(-1): Column) { case ((c, i), acc) =>
        when(c, lit(i)).otherwise(acc)
      }
    val srcKeys = source.select(keyColumns: _*).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val metaScan = scanFiles(spark,
        Versioned.scanOf(tableDir, m, m.entries), keepMeta = true)
      // ---- affected-file discovery (key/condition columns only) ----
      val matchFp: Seq[String] =
        if (matchedCs.isEmpty || m.entries.isEmpty) Seq.empty
        else metaScan.select(keyColumns :+ col(FpCol).as("__fp"): _*)
          .join(srcKeys, keyCols, "left_semi")
          .select("__fp").distinct().collect().map(_.getString(0)).toSeq
      val nmbsFp: Seq[String] =
        if (nmbsCs.isEmpty || m.entries.isEmpty) Seq.empty
        else {
          val anyNmbs = nmbsCs.map {
            case NotMatchedBySourceDelete(c) => condOf(c)
            case NotMatchedBySourceUpdate(_, c) => condOf(c)
            case _ => lit(false)
          }.reduce(_ || _)
          metaScan.alias("t").join(srcKeys, keyCols, "left_anti")
            .filter(anyNmbs)
            .select(col(FpCol).as("__fp")).distinct()
            .collect().map(_.getString(0)).toSeq
        }
      val affectedPaths = (matchFp ++ nmbsFp)
        .map(fp => new java.net.URI(fp).getPath).toSet
      val baseP = Paths.get(tableDir)
      val (affected, untouched) = m.entries.partition(e =>
        affectedPaths.contains(baseP.resolve(e.path).toString))
      // ---- the clause cascade over affected rows (one projection) ----
      // row-tracked tables: survivors of the rewrite keep their
      // materialized ids (inserted rows take fresh spans from the commit)
      val rowTracked = m.meta.contains(Versioned.RowTrackingKey)
      val tgt =
        (if (!rowTracked) scanSpec(spark, Versioned.scanOf(tableDir, m, affected))
         else withRowIds(spark, tableDir, m, affected)
           .withColumnRenamed(RowIdColName, PhysRowIdCol))
        .alias("t")
      val SPresent = "__graft_s_present"
      val src = source.withColumn(SPresent, lit(true)).alias("s")
      val joinCond = keyCols.map(k => col(s"t.$k") === col(s"s.$k"))
        .reduce(_ && _)
      val mAct = firstMatch(matchedCs.map {
        case MatchedUpdate(_, c) => condOf(c)
        case MatchedDelete(c) => condOf(c)
        case _ => lit(false)
      })
      val nAct = firstMatch(nmbsCs.map {
        case NotMatchedBySourceDelete(c) => condOf(c)
        case NotMatchedBySourceUpdate(_, c) => condOf(c)
        case _ => lit(false)
      })
      val withAct = tgt.join(src, joinCond, "left_outer")
        .withColumn(MCol, col(s"s.$SPresent").isNotNull)
        .withColumn(ACol, when(col(MCol), mAct).otherwise(nAct))
      if (withCdf) withAct.persist()
      val mDel = matchedCs.zipWithIndex.collect {
        case (_: MatchedDelete, i) => i }
      val nDel = nmbsCs.zipWithIndex.collect {
        case (_: NotMatchedBySourceDelete, i) => i }
      def deleted: Column =
        (col(MCol) && mDel.foldLeft(lit(false): Column)(
          (acc, i) => acc || col(ACol) === i)) ||
        (!col(MCol) && nDel.foldLeft(lit(false): Column)(
          (acc, i) => acc || col(ACol) === i))
      def projected(rows: DataFrame): DataFrame = {
        val keep = // id passthrough: MERGE updates content, not identity
          if (rowTracked) Seq(col(s"t.$PhysRowIdCol").as(PhysRowIdCol))
          else Seq.empty
        rows.select(schema.fields.map { f =>
          val base0 = col(s"t.${f.name}")
          val cases =
            matchedCs.zipWithIndex.collect {
              case (MatchedUpdate(set, _), i) if set.contains(f.name) =>
                (col(MCol) && col(ACol) === i) ->
                  expr(set(f.name)).cast(f.dataType)
            } ++ nmbsCs.zipWithIndex.collect {
              case (NotMatchedBySourceUpdate(set, _), i)
                  if set.contains(f.name) =>
                (!col(MCol) && col(ACol) === i) ->
                  expr(set(f.name)).cast(f.dataType)
            }
          cases.headOption.fold(base0) { head =>
            cases.tail.foldLeft(when(head._1, head._2)) {
              (acc, cv) => acc.when(cv._1, cv._2)
            }.otherwise(base0)
          }.as(f.name)
        }.toSeq ++ keep: _*)
      }
      val rewritten = projected(withAct.filter(!deleted))
      // ---- inserts: source rows matching NO target key ----
      val (inserts, insIdMeta, insPin): (Option[DataFrame],
          Map[String, String], Option[DataFrame]) =
        if (insertCs.isEmpty) (None, Map.empty[String, String], None)
        else {
          val tgtKeys =
            if (m.entries.isEmpty)
              spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
                StructType(schema.fields.filter(f =>
                  keyCols.contains(f.name))))
            else metaScan.select(keyColumns: _*)
          val unmatched = source.alias("s")
            .join(tgtKeys.distinct(), keyCols, "left_anti")
            .withColumn(ACol, firstMatch(insertCs.map(c =>
              condOf(c.condition))))
            .filter(col(ACol) >= 0)
          val genNames = genCols.map(_._1).toSet
          // first projection: every non-identity field. A generated field
          // the firing clause did not supply projects NULL here and is
          // computed below FROM the projected row — its expression
          // references TARGET column names, which only exist post-select
          // (Delta computes generated columns on MERGE INSERT too).
          val projectedIns = unmatched.select((schema.fields.filterNot(f =>
            idCols.contains(f.name)).map { f =>
            val cases = insertCs.zipWithIndex.map { case (c, i) =>
              val e = c.values match {
                case Some(vs) => vs.get(f.name)
                  .map(expr(_).cast(f.dataType))
                  .getOrElse(lit(null).cast(f.dataType))
                case None =>
                  if (genNames.contains(f.name) &&
                      !source.columns.contains(f.name))
                    lit(null).cast(f.dataType)
                  else col(s"s.${f.name}").cast(f.dataType)
              }
              (col(ACol) === i) -> e
            }
            cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
              (acc, cv) => acc.when(cv._1, cv._2)
            }.otherwise(lit(null).cast(f.dataType)).as(f.name)
          } :+ col(ACol)).toSeq: _*)
          // DEFAULT columns: an insert clause that omits the column gets
          // the stored constant instead of the null the projection above
          // just filled (Delta's MERGE INSERT default semantics; a clause
          // that names the column keeps its value, explicit null included)
          val defaulted = defaultColsOf(m.meta).toSeq.sortBy(_._1)
            .foldLeft(projectedIns) { case (d, (c, de)) =>
              if (!schema.fieldNames.contains(c)) d
              else {
                val supplied = insertCs.zipWithIndex.collect { case (cl, i)
                    if cl.values.fold(source.columns.contains(c))(_.contains(c)) =>
                  col(ACol) === i
                }
                d.withColumn(c, when(
                  supplied.reduceOption(_ || _).getOrElse(lit(false)), col(c))
                  .otherwise(expr(de).cast(schema(c).dataType)))
              }
            }
          val computed = genCols.foldLeft(defaulted) { case (d, (g, ge)) =>
            if (!schema.fieldNames.contains(g)) d
            else {
              val supplied = insertCs.zipWithIndex.collect { case (c, i)
                  if c.values.fold(source.columns.contains(g))(_.contains(g)) =>
                col(ACol) === i
              }
              d.withColumn(g, when(
                supplied.reduceOption(_ || _).getOrElse(lit(false)), col(g))
                .otherwise(expr(ge).cast(schema(g).dataType)))
            }
          }
          // identity ids for the inserted rows, watermark advancing in
          // THIS commit (expectedBase is already pinned below, so a raced
          // watermark cannot be overwritten). An identity column declared
          // but not yet materialized in the schema is skipped — it appears
          // on the next append's schema evolution, as elsewhere.
          val assignMeta = m.meta.filter { case (k, _) =>
            !k.startsWith(IdentityPrefix) ||
              schema.fieldNames.contains(k.drop(IdentityPrefix.length)) }
          val (withIds, im, p) = withIdentityAssigned(computed.drop(ACol),
            assignMeta, s"$tableName: merge insert")
          (Some(withIds.select(schema.fields.map(f =>
            col(f.name)): _*)), im, p)
        }
      // from here on two persisted frames (withAct, insPin) may be live:
      // everything up to the commit runs inside the try so a CHECK
      // violation or CDF construction failure cannot leak them
      try {
      val payload = inserts.fold(rewritten)(ins =>
        // inserts carry no physical row id (null) — they take fresh spans
        // from this commit's watermark at read time
        rewritten.unionByName(ins, allowMissingColumns = true))
      enforceChecks(payload, checkConstraintsOf(m.meta), s"$tableName: merge")
      // ---- row-level change events, staged atomically with the commit ----
      val changes: Option[DataFrame] =
        if (!withCdf) None
        else {
          import org.apache.spark.sql.functions.lit
          val updRows = withAct.filter(!deleted && col(ACol) >= 0)
          val pre = updRows.select(schema.fields.map(f =>
              col(s"t.${f.name}").as(f.name)).toSeq: _*)
            .withColumn("_change_type", lit("update_preimage"))
          val post = projected(updRows).drop(PhysRowIdCol)
            .withColumn("_change_type", lit("update_postimage"))
          val del = withAct.filter(deleted)
            .select(schema.fields.map(f =>
              col(s"t.${f.name}").as(f.name)).toSeq: _*)
            .withColumn("_change_type", lit("delete"))
          val ins = inserts.map(_.withColumn("_change_type", lit("insert")))
          Some(ins.foldLeft(pre.unionByName(post).unionByName(del))(
            _ unionByName _))
        }
      val parts = partitionSpecOf(m.meta, m.files)
      val commit = Versioned.commitFiles(tableDir, m.schemaJson,
        inherit = untouched, expectedBase = Some(b),
        meta = m.meta ++ insIdMeta,
        beforeMarker = cdfSidecar(tableDir)(_ => changes),
        op = "MERGE",
        // empty payloads still commit (a version whose only effect is
        // inherited entries) — but Spark won't write an empty dir plan
        stage = t =>
          if (affected.isEmpty && inserts.isEmpty) Map.empty
          else writeStagedWithStats(toPhysical(payload, schema), t, parts,
            bloomColsOf(m)))
      finishCommit(spark, lh, tableName, tableDir, commit,
        schema.fieldNames.toSeq, parts)
      } finally {
        if (withCdf) withAct.unpersist()
        insPin.foreach(_.unpersist())
      }
    } finally srcKeys.unpersist()
  }

  /** Generalized keyed replace: remove every current row whose key
    * combination appears in `removalKeys`, insert `newRows`, atomically.
    * The primitive under MERGE (removal keys = update keys) and under
    * incremental view maintenance ([[MatView.refreshAggView]]), which
    * additionally needs the DELETE half merge can't express: a refreshed
    * group whose row count reached zero must vanish, i.e. its key is in
    * `removalKeys` with no replacement in `newRows`.
    *
    * Same file-level cost model as MERGE: a key-columns-only scan finds
    * the files containing removal keys; only those rewrite (minus removed
    * keys, plus all `newRows`), everything else is inherited by
    * reference. Schema evolves by name (new nullable columns widen).
    * Key matching is NULL-SAFE (`<=>`): a NULL group key is a legitimate
    * removable key here (unlike MERGE, which rejects null keys up front),
    * so null-unsafe equality would strand stale rows while their
    * replacement appends — a silent duplicate.
    *
    * CDF-enabled targets stage row-level change events atomically with
    * the commit (update pre/post pairs, deletes for vanished keys,
    * inserts for new ones) — so replicas maintained by [[applyChanges]]
    * are themselves change-feed sources and medallion tiers CHAIN.
    * Requires replacement keys ⊆ removal keys when the feed is on (the
    * applyChanges and view-refresh contract; checked, loud). */
  private[lakehouse] def replaceKeyedRows(spark: SparkSession,
      lh: LakehouseProps, tableName: String, removalKeys: DataFrame,
      newRows: DataFrame, keyCols: Seq[String],
      extraMeta: Map[String, String] = Map.empty,
      op: String = "REPLACE"): TableInfo = {
    require(keyCols.nonEmpty, "replaceKeyedRows needs at least one key column")
    val keyColumns = keyCols.map(org.apache.spark.sql.functions.col)
    val tableDir = Catalog.tablePath(lh, tableName)
    val (b, m) = existing(spark, lh, tableName)
    // same hazard as mergeTable: replacement rows carry caller-chosen
    // values for EVERY column — on an identity table that forges ids
    require(identityColsOf(m.meta).isEmpty,
      s"$tableName has GENERATED ALWAYS AS IDENTITY column(s) — keyed " +
        "replacement would take ids from the caller; use mergeInto")
    enforceChecks(newRows, checkConstraintsOf(m.meta), s"$tableName: replace")
    val oldSchema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val remKeys = removalKeys.select(keyColumns: _*).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import org.apache.spark.sql.functions.col
      val remA = remKeys.alias("__rk")
      def nullSafeOnRemoval(left: DataFrame): Column =
        keyCols.map(c => left(c) <=> col(s"__rk.$c")).reduce(_ && _)
      val affectedPaths =
        if (m.entries.isEmpty) Set.empty[String]
        else {
          val keyScan = scanFiles(spark,
            Versioned.scanOf(tableDir, m, m.entries), keepMeta = true)
            .select(keyColumns :+ col(FpCol).as("__fp"): _*)
          keyScan.join(remA, nullSafeOnRemoval(keyScan), "left_semi")
            .select("__fp").distinct()
            .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
        }
      val baseP = Paths.get(tableDir)
      val (affected, untouched) = m.entries.partition(e =>
        affectedPaths.contains(baseP.resolve(e.path).toString))
      val affectedDf =
        if (affected.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], oldSchema)
        else scanSpec(spark, Versioned.scanOf(tableDir, m, affected))
      val kept = affectedDf.join(remA,
        nullSafeOnRemoval(affectedDf), "left_anti")
      val rewritten = kept.unionByName(newRows, allowMissingColumns = true)
      val parts = partitionSpecOf(m.meta, m.files)
      val rewrittenM = alignMapping(rewritten.schema, oldSchema, m.meta, b)
      // CDF chaining: a keyed replace stages row-level change events
      // like MERGE does, so replicas maintained by applyChanges are
      // themselves change-feed SOURCES (multi-hop medallion
      // pipelines). Staged rows whose key is in the removal set are
      // exactly the replacement rows as written (kept rows were
      // anti-joined out), so post-images never re-evaluate the
      // caller's plan. Requires replacement keys ⊆ removal keys — the
      // contract applyChanges and the MV refresh both satisfy; checked
      // below only when the feed is on. Null-keyed replacements emit
      // delete + insert rather than an update pair (null never equals
      // null in the pairing join); consumers folding by key net the
      // same state.
      val writeCdf = cdfSidecar(tableDir) { staged =>
        if (!cdfEnabled(m.meta)) None
        else {
          val escaped = newRows.select(keyColumns: _*).distinct()
            .join(remA, keyCols.map(c =>
              newRows(c) <=> col(s"__rk.$c")).reduce(_ && _), "left_anti")
            .limit(1).collect()
          require(escaped.isEmpty,
            s"$tableName: CDF-enabled keyed replace requires every " +
              "replacement key to appear in the removal set (otherwise " +
              "new rows are indistinguishable from kept rows in the " +
              s"staged files); offending key: ${escaped.headOption}")
          import org.apache.spark.sql.expressions.Window
          import org.apache.spark.sql.functions.{lit, max, when}
          // removed rows: the affected files read again, filtered to
          // the removal keys — nothing cached, O(removed rows) kept
          val removed = affectedDf.join(remA,
              nullSafeOnRemoval(affectedDf), "left_semi")
            .withColumn("_change_type", lit("delete"))
          val stagedNew = scanSpec(spark, Versioned.ScanFiles(tableDir,
            rewrittenM.json, staged.map(_.path)))
            .join(remKeys, keyCols, "left_semi")
            .withColumn("_change_type", lit("insert"))
          // both sides paired in ONE window over the key on their
          // union: a removed row whose key was staged again is an
          // update pre-image, else a delete; a staged row whose key
          // was removed an update post-image, else an insert. Null
          // keys never pair (null never equals null)
          val paired = keyColumns.map(_.isNotNull).reduce(_ && _)
          def keyHas(t: String): Column = paired &&
            max(col("_change_type") === t)
              .over(Window.partitionBy(keyColumns: _*))
          val events = removed.unionByName(stagedNew,
              allowMissingColumns = true)
            .withColumn("_change_type",
              when(col("_change_type") === "delete",
                when(keyHas("insert"), lit("update_preimage"))
                  .otherwise(lit("delete")))
                .otherwise(when(keyHas("delete"),
                  lit("update_postimage")).otherwise(lit("insert"))))
          // key columns lead (the sidecar's column order)
          Some(events.select((keyCols ++
            events.columns.filterNot(keyCols.contains)).map(col): _*))
        }
      }
      val commit = Versioned.commitFiles(tableDir, rewrittenM.json,
        inherit = untouched, expectedBase = Some(b),
        meta = m.meta ++ extraMeta, beforeMarker = writeCdf, op = op,
        stage = t => writeStagedWithStats(
          toPhysical(rewritten, rewrittenM), t, parts, bloomColsOf(m)))
      finishCommit(spark, lh, tableName, tableDir, commit,
        rewritten.columns.toSeq, parts)
    } finally remKeys.unpersist()
  }

  /** Export the table's current snapshot as line-delimited JSON under the
    * lakehouse Files area (`Files/exports/<name>/part-*.json`) — the
    * interchange format tokenizer/training pipelines consume. Fully
    * distributed (one part per partition, codegen'd JSON serialization,
    * no driver funnel); returns the export directory. The schema travels
    * separately: [[importJsonl]] reads with an EXPLICIT schema because
    * JSON inference at 100 TB costs a full extra scan and silently widens
    * types (int→bigint, timestamp→string). */
  def exportTableJsonl(spark: SparkSession, lh: LakehouseProps,
      tableName: String, exportName: Option[String] = None): String = {
    val out = lh.filesPath.resolve("exports")
      .resolve(exportName.getOrElse(tableName)).toString
    selectTable(spark, lh, tableName)
      .write.mode(SaveMode.Overwrite).json(out)
    out
  }

  /** Read a line-delimited JSON export with a pinned schema (see
    * [[exportTableJsonl]] for why inference is banned on the read path).
    * FAILFAST: a corrupt/truncated line (killed writer, disk-full) must be
    * an error, not a silent all-null phantom row — this is an exact
    * interchange path, and PERMISSIVE's null-row fallback would let a
    * damaged export ingest cleanly with no signal. */
  def importJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** Time-travel read: scan a specific committed version (within the
    * retention window — older versions are swept by [[Versioned.vacuum]]). */
  def selectTableVersion(spark: SparkSession, lh: LakehouseProps,
      tableName: String, version: Long): DataFrame = {
    val tableDir = Catalog.tablePath(lh, tableName)
    // the marker check rejects orphaned/in-flight claims (a crashed
    // writer's partial files are NOT a committed snapshot)
    require(Versioned.isCommitted(tableDir, version),
      s"version $version of $tableName was never committed or has been " +
        s"swept (retention: newest ${Versioned.Retain} versions + " +
        s"${Versioned.RetainAgeMs} ms age window)")
    // ...and the txn check rejects pending/aborted transaction versions:
    // their data was never visible, and time travel must not be the back
    // door that reads it
    require(Versioned.txnVisible(tableDir, version),
      s"version $version of $tableName belongs to an uncommitted or " +
        "aborted transaction and was never visible")
    scanSpec(spark, Versioned.specFor(tableDir, version))
  }

  /** Incremental consumption (the batch form of a Delta streaming source):
    * the rows ADDED to `tableName` since `sinceVersion`, read as a scan of
    * exactly the data files present in the current manifest but not in
    * `sinceVersion`'s — cost is O(new data), never O(table), so a
    * downstream job can follow a 100 TB table by paying only for each
    * increment. Appends (and merge/delete commits that only add files)
    * stream through cleanly.
    *
    * If an intermediate commit REMOVED files (merge/delete/compaction
    * rewrote them), added files also contain re-written OLD rows and
    * "changes" is no longer well-defined from file arithmetic alone; by
    * default that throws (Delta's streaming source fails the same way on a
    * non-append change), and `ignoreRewrites = true` opts into reading all
    * added files anyway (Delta's `ignoreChanges`, which documents the same
    * re-delivery caveat). */
  def readChangesSince(spark: SparkSession, lh: LakehouseProps,
      tableName: String, sinceVersion: Long,
      ignoreRewrites: Boolean = false): DataFrame = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val cur = Versioned.latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"$tableName has no committed version"))
    require(Versioned.isCommitted(tableDir, sinceVersion),
      s"version $sinceVersion of $tableName was never committed or has been swept")
    val c = Versioned.manifestOf(tableDir, cur)
    val s = Versioned.manifestOf(tableDir, sinceVersion)
    val sincePaths = s.files.toSet
    val removed = sincePaths -- c.files.toSet
    // a deletion-vector delete removes NO files — detect it by a
    // changed DV ref on a carried-over file, or additivity silently
    // misses the deleted rows
    val dvChanged = {
      val sinceDv = s.entries.map(e =>
        e.path -> Versioned.dvRefOf(e)).toMap
      c.entries.exists(e => sincePaths.contains(e.path) &&
        sinceDv.get(e.path).exists(_ != Versioned.dvRefOf(e)))
    }
    if ((removed.nonEmpty || dvChanged) && !ignoreRewrites)
      throw new IllegalStateException(
        s"$tableName: files were rewritten/removed or gained deletion " +
          s"vectors between versions $sinceVersion and $cur (merge/" +
          "delete/compaction) — changes-by-file is not purely " +
          "additive; pass ignoreRewrites = true to read added files " +
          "(re-delivers surviving rows of rewritten files)")
    val added = c.entries.filterNot(e => sincePaths.contains(e.path))
    // added files were created by the commits in (since, cur] and can
    // still have gained a vector from a LATER DV delete in the range —
    // scanOf keeps their read honest
    scanSpec(spark, Versioned.scanOf(tableDir, c, added))
  }

  /** TIMESTAMP AS OF time travel: scan the newest version committed at or
    * before `tsMillis` (Delta's timestamp time travel over commit times;
    * bounded by the retention window like [[selectTableVersion]]). */
  def selectTableAsOf(spark: SparkSession, lh: LakehouseProps,
      tableName: String, tsMillis: Long): DataFrame = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val at = Versioned.committedVersions(tableDir)
      .filter(v => Versioned.commitTimeMs(tableDir, v).exists(_ <= tsMillis))
      // pending/aborted transaction versions were never visible at ANY
      // time — AS OF must resolve to the newest version a reader could
      // actually have seen
      .filter(v => Versioned.txnVisible(tableDir, v))
    require(at.nonEmpty,
      s"$tableName has no version committed at or before $tsMillis " +
        "within the retention window")
    selectTableVersion(spark, lh, tableName, at.max)
  }

  /** RESTORE TABLE ... TO VERSION: make `version`'s content the NEW latest
    * version — a metadata-only commit re-inheriting the old manifest's
    * files (no data is copied or rewritten; Delta RESTORE is the same
    * add/remove-file arithmetic). History is preserved: the bad versions
    * remain readable until retention sweeps them. Fails loudly if a
    * concurrent writer commits meanwhile, or if the target's files have
    * already been swept. */
  def restoreTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      version: Long): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    require(Versioned.isCommitted(tableDir, version),
      s"version $version of $tableName was never committed or has been swept")
    val m = Versioned.manifestOf(tableDir, version)
    require(Versioned.txnVisible(tableDir, version),
      s"version $version of $tableName belongs to an uncommitted or " +
        "aborted transaction — its data was never visible and cannot be " +
        "restored to")
    val missing = m.files.filterNot(f =>
      Files.isRegularFile(Paths.get(tableDir).resolve(f)))
    require(missing.isEmpty,
      s"cannot restore $tableName to $version: ${missing.size} of its data " +
        "files were already vacuumed")
    val base = Versioned.latestVersion(tableDir)
    // restoring reverts data AND properties to the target version — with
    // ONE exception: identity high-watermarks stay MONOTONIC (max of
    // then and now). Reverting a watermark would hand out ids that rows
    // committed after the target version already used, and those rows
    // may live on in clones, exports, or downstream joins.
    val curMeta = base.map(Versioned.manifestOf(tableDir, _).meta)
      .getOrElse(Map.empty[String, String])
    val restoredMeta = m.meta ++ curMeta.collect {
      case (k, v) if k.startsWith(IdentityMaxPrefix) =>
        val thenWm = m.meta.get(k)
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        val nowWm = scala.util.Try(v.toLong).getOrElse(0L)
        k -> math.max(thenWm, nowWm).toString
    }
    val commit = Versioned.commitFiles(tableDir, m.schemaJson,
      inherit = m.entries, expectedBase = base, meta = restoredMeta,
      op = "RESTORE")
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    finishCommit(spark, lh, tableName, tableDir, commit,
      schema.fieldNames.toSeq, partitionSpecOf(restoredMeta, m.files))
  }

  /** Serializable DML retry — the client-side loop every Delta writer
    * runs around MERGE/UPDATE/DELETE: when `body` loses the optimistic
    * commit race ([[Versioned.ConcurrentWriteException]]), re-run it.
    * Correct by construction: each attempt derives its read set, file
    * selection, and commit base from a FRESH read of the latest version,
    * so the final history equals a serial execution in commit order —
    * there is no partial state to repair because a conflicted commit
    * aborts before any file reaches its final location. At 100 TB,
    * maintenance rebases handle OPTIMIZE-vs-ingest races
    * ([[commitMaintenance]]); this is the complementary piece for
    * DML-vs-DML and DML-vs-ingest. Bounded attempts, linear backoff,
    * rethrows the final conflict loudly. */
  def withConflictRetry[T](attempts: Int = 3)(body: => T): T = {
    require(attempts >= 1, "need at least one attempt")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return body
      catch {
        case e: Versioned.ConcurrentWriteException =>
          last = e
          i += 1
          if (i < attempts) Thread.sleep(20L * i)
      }
    }
    throw last
  }

  /** RESTORE TABLE ... TO TIMESTAMP AS OF: resolve the newest version a
    * reader could have seen at `tsMillis` — by IN-COMMIT timestamps, so
    * backup/copy tools that rewrite file mtimes cannot skew which state
    * "that moment" names — then the same metadata-only rollback as the
    * version form (pending/aborted txn versions are skipped: they were
    * never visible at any time). */
  def restoreTableAsOf(spark: SparkSession, lh: LakehouseProps,
      tableName: String, tsMillis: Long): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val at = Versioned.committedVersions(tableDir)
      .filter(v => Versioned.commitTimeMs(tableDir, v).exists(_ <= tsMillis))
      .filter(v => Versioned.txnVisible(tableDir, v))
    require(at.nonEmpty,
      s"$tableName has no version committed at or before $tsMillis " +
        "within the retention window")
    restoreTable(spark, lh, tableName, at.max)
  }

  /** Shallow (zero-copy) CLONE — Delta `CREATE TABLE ... SHALLOW CLONE`
    * semantics: commit a manifest on `cloneName` whose entries REFERENCE
    * `sourceName`'s current data files by absolute path. O(metadata) at any
    * scale — no data is read, copied, or moved; per-file stats/blooms ride
    * along, so data skipping on the clone is as effective as on the source.
    * The clone owns its version history from here: appends/MERGE/DELETE
    * rewrite only the files they touch (foreign references stay by
    * reference), and a full `compactTable` materializes it into an
    * independent table. CHECK constraints and the CDF flag carry over
    * (Delta clones table properties); txn watermarks reset.
    *
    * Caveat (exactly Delta's): `vacuum`/`dropTable` on the SOURCE removes
    * data files a shallow clone still references — materialize clones
    * before retiring their source. */
  def cloneTable(spark: SparkSession, lh: LakehouseProps, sourceName: String,
      cloneName: String, deep: Boolean = false): TableInfo = {
    require(sourceName != cloneName, "cannot clone a table onto itself")
    val srcDir = Catalog.tablePath(lh, sourceName)
    val srcVersion = Versioned.latestVersion(srcDir).getOrElse(
      throw new IllegalArgumentException(s"$sourceName has no versions"))
    val m = Versioned.manifestOf(srcDir, srcVersion)
    val srcBase = Paths.get(srcDir)
    if (deep) return deepClone(spark, lh, sourceName, cloneName, srcVersion,
      m, srcBase)
    // already-absolute source entries (a clone of a clone) pass through
    // unchanged — the reference chain stays one hop deep per file.
    // Deletion-vector refs absolutize the same way: the clone must keep
    // subtracting the source's vectored rows, and its sidecar lives in the
    // SOURCE's directory.
    val refs = m.entries.map { e =>
      val dvAbs = Versioned.dvRefOf(e) match {
        case Some((p, n)) if !Paths.get(p).isAbsolute =>
          Some(withDvStat(e.stats, srcBase.resolve(p).toString, n))
        case _ => e.stats
      }
      e.copy(path = srcBase.resolve(e.path).toString, stats = dvAbs)
    }
    val dstDir = Catalog.tablePath(lh, cloneName)
    val commit = Versioned.commitFiles(dstDir, m.schemaJson,
      inherit = refs,
      expectedBase = Some(Versioned.latestVersion(dstDir).getOrElse(0L)),
      meta = cloneMeta(m, sourceName, srcVersion), op = "CLONE")
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    finishCommit(spark, lh, cloneName, dstDir, commit,
      schema.fieldNames.toSeq, partitioningOfFiles(m.files))
  }

  /** A clone's commit meta. Constraints, CDF flag, the declared partition
    * spec, and drop tombstones all describe the DATA and must survive the
    * clone — without the tombstones a column re-added on the clone would
    * resurrect dropped bytes; without the spec, appends would revert to
    * the file-derived layout. txn watermarks stay behind. */
  private def cloneMeta(m: Versioned.Manifest, sourceName: String,
      srcVersion: Long): Map[String, String] =
    m.meta.filter { case (k, _) =>
      k.startsWith(CheckPrefix) || k.startsWith(UniquePrefix) ||
        k == CdfKey ||
        k == PartitionByKey || k.startsWith(TombstonePrefix) ||
        // declared-schema properties describe the DATA and clone with
        // it: generated/identity declarations (+ the identity
        // watermark — a clone must not reuse ids either) and the
        // recorded cluster spec
        k.startsWith(GeneratedPrefix) || k.startsWith(IdentityPrefix) ||
        k.startsWith(IdentityMaxPrefix) || k == ClusterByKey ||
        k == ClusterCurveKey ||
        // row tracking clones with its watermark: clone ids must stay
        // stable AND fresh clone-side appends must not reuse spans
        k == Versioned.RowTrackingKey || k == Versioned.RowIdMaxKey ||
        // feature requirements are sticky: the clone carries the same
        // DV refs / declarations a down-level reader must not ignore
        k == Versioned.FeaturesKey } +
      ("cloneOf" -> s"$sourceName@v$srcVersion")

  /** DEEP clone (Delta CLONE without SHALLOW): byte-for-byte file copies
    * into the clone's own pool — O(data) I/O but ZERO compute: no decode,
    * no stat recomputation (identical bytes ⇒ the source's per-file stats,
    * including `__bytes` and blooms, carry over verbatim), no shuffle.
    * Deletion-vector sidecars copy too and their refs re-point locally,
    * so the clone's delete lifecycle fully detaches from the source —
    * vacuuming the source can never perforate a deep clone, the guarantee
    * shallow clones trade away. Absolute entries (a deep clone OF a
    * shallow clone) materialize: the result never references another
    * pool. */
  private def deepClone(spark: SparkSession, lh: LakehouseProps,
      sourceName: String, cloneName: String, srcVersion: Long,
      m: Versioned.Manifest, srcBase: Path): TableInfo = {
    val dstDir = Catalog.tablePath(lh, cloneName)
    val dstBase = Paths.get(dstDir)
    Files.createDirectories(dstBase)
    def resolveSrc(p: String): Path =
      if (Paths.get(p).isAbsolute) Paths.get(p) else srcBase.resolve(p)
    // an absolute entry's hive layout is recovered from its own pool base
    def relOut(p: String): String =
      if (!Paths.get(p).isAbsolute) p
      else Paths.get(partitionBaseOf(Paths.get(p)))
        .relativize(Paths.get(p)).toString
    // copy DV sidecars straight into the clone dir (they are referenced
    // through entry stats, not the file list; sweep protects them there)
    val sidecarSeen = scala.collection.mutable.Set[String]()
    val sidecarOut: Map[String, String] = m.entries
      .flatMap(e => Versioned.dvRefOf(e).map(_._1)).distinct.map { p =>
        val src = resolveSrc(p)
        val base0 = src.getFileName.toString
        // basenames from different pools could collide (clone-of-clone
        // mixes pools); disambiguate rather than silently overwrite
        val rel = if (sidecarSeen.add(base0)) base0
          else s"dv_${java.util.UUID.randomUUID().toString.take(8)}_$base0"
        Files.copy(src, dstBase.resolve(rel),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        p -> rel
      }.toMap
    // stats carry over verbatim; only DV paths re-point locally
    val statsByRel: Map[String, String] = m.entries.flatMap { e =>
      val stats = Versioned.dvRefOf(e) match {
        case Some((p, n)) => Some(withDvStat(e.stats, sidecarOut(p), n))
        case None => e.stats
      }
      stats.map(relOut(e.path) -> _)
    }.toMap
    val commit = Versioned.commitFiles(dstDir, m.schemaJson,
      expectedBase = Some(Versioned.latestVersion(dstDir).getOrElse(0L)),
      meta = cloneMeta(m, sourceName, srcVersion), op = "CLONE",
      stage = { target =>
        val tBase = Paths.get(target)
        m.entries.foreach { e =>
          val out = tBase.resolve(relOut(e.path))
          Files.createDirectories(out.getParent)
          Files.copy(resolveSrc(e.path), out)
        }
        statsByRel
      })
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    finishCommit(spark, lh, cloneName, dstDir, commit,
      schema.fieldNames.toSeq, partitioningOfFiles(m.files))
  }

  /** Partition EVOLUTION without rewrite — Iceberg-style spec change,
    * which Delta itself cannot do: a metadata-only commit records the new
    * partition spec; FUTURE writes (append/merge/delete rewrites) land in
    * the new `col=value` layout while existing files stay byte-identical
    * in theirs. Scans union the layout generations transparently
    * (per-generation basePath groups in [[scanSpec]]); file-level
    * data skipping is unaffected because pruning reads per-file stats,
    * not directory structure. `compactTable` rewrites everything into the
    * current spec — the explicit "materialize the evolution" op.
    * Renamed (column-mapped) columns can't become partition keys without
    * a rewrite — partition values live in physical path segments. */
  def evolvePartitioning(spark: SparkSession, lh: LakehouseProps,
      tableName: String, partitionBy: Seq[String]): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (base, m) = existing(spark, lh, tableName)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(partitionBy.forall(schema.fieldNames.contains),
      s"partition columns must exist: ${partitionBy.mkString(", ")}")
    require(partitionBy.forall(c => !physicalMapping(schema).contains(c)),
      "renamed columns cannot become partition keys without a rewrite")
    require(partitionBy.forall(c => !c.contains(",") && !c.contains("\n")),
      "partition column names must not contain ',' or newlines")
    val commit = Versioned.commitFiles(tableDir, m.schemaJson,
      inherit = m.entries, expectedBase = Some(base),
      meta = Versioned.withFeature(
        m.meta + (PartitionByKey -> partitionBy.mkString(",")),
        "partitionEvolution"),
      op = "SET PARTITIONING")
    finishCommit(spark, lh, tableName, tableDir, commit,
      schema.fieldNames.toSeq, partitionBy)
  }

  /** One check constraint's SQL mentioning `colName` as an identifier —
    * renames/drops would silently invalidate it. */
  private def constraintMentions(meta: Map[String, String],
      colName: String): Option[String] = {
    val word = ("(?i)(^|[^A-Za-z0-9_`])" +
      java.util.regex.Pattern.quote(colName) + "($|[^A-Za-z0-9_])").r
    checkConstraintsOf(meta).collectFirst {
      case (n, sql) if word.findFirstIn(sql).isDefined => n }
  }

  /** Rename a column WITHOUT rewriting data — Delta column mapping: a
    * metadata-only commit stores the new logical name with its PHYSICAL
    * (on-file) name in field metadata, O(metadata) at 100 TB where a
    * rewrite is O(table). Scans read the physical name and alias back;
    * subsequent appends/merges/deletes write the physical name so one
    * read schema spans the whole file pool; data skipping keys stats by
    * the physical name transparently. Partition columns (path-encoded)
    * and columns referenced by CHECK constraints are rejected — those
    * genuinely need a rewrite / constraint re-add. */
  /** Widenings that are value-preserving AND natively upcast by Spark's
    * vectorized parquet reader (verified: an int32 file reads correctly
    * under a bigint read schema) — Delta type widening's core matrix. */
  private val Widenable: Map[DataType, Set[DataType]] = {
    import org.apache.spark.sql.types._
    Map(
      ByteType -> Set[DataType](ShortType, IntegerType, LongType),
      ShortType -> Set[DataType](IntegerType, LongType),
      IntegerType -> Set[DataType](LongType),
      FloatType -> Set[DataType](DoubleType))
  }

  /** ALTER TABLE ... ALTER COLUMN TYPE widening (Delta type widening): a
    * METADATA-ONLY commit moves `colName` to a wider type — old files are
    * read under the new schema via the parquet reader's native upcast
    * (int32→int64, float→double), new writes land in the wide type, and
    * nothing rewrites. At 100 TB the alternative — a full-table rewrite
    * to change int to long — simply never gets scheduled; this is why
    * the feature exists. The column's per-file Bloom filters are
    * STRIPPED in the same commit: bloom bits hash the physical byte
    * width, so a wide-typed probe against narrow-hashed bits would skip
    * files that DO contain the value — losing a bloom only costs
    * pruning, keeping it would cost correctness. Min/max skipping stats
    * are domain-stringed and keep working. Gated through the features
    * protocol ('typeWidening'). */
  def widenColumnType(spark: SparkSession, lh: LakehouseProps,
      tableName: String, colName: String, to: DataType): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (base, m) = existing(spark, lh, tableName)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(colName),
      s"$tableName has no column $colName")
    val f = schema(colName)
    if (f.dataType == to) // already there: nothing to commit
      return TableInfo(lh.lakehouseName, rowsFromManifest(m).getOrElse(-1L),
        schema.fields.length, schema.fieldNames.toSeq, tableDir,
        partitioningOfFiles(m.files))
    require(Widenable.get(f.dataType).exists(_.contains(to)),
      s"$tableName.$colName: ${f.dataType.simpleString} → " +
        s"${to.simpleString} is not a supported widening (" +
        "byte/short/int up the integral chain, float → double)")
    require(!partitioningOfFiles(m.files).contains(colName) &&
      !partitionSpecOf(m.meta, m.files).contains(colName),
      s"$colName is a partition column (path-encoded) — widening it " +
        "would change the path-value parse domain; rewrite instead")
    val newSchema = StructType(schema.fields.map(x =>
      if (x.name == colName) x.copy(dataType = to) else x))
    val physName = physicalMapping(schema).getOrElse(colName, colName)
    val bloomKey = Bloom.StatsPrefix + physName
    val entries = m.entries.map(e =>
      e.copy(stats = e.stats.map(removeStatField(_, bloomKey))))
    val commit = Versioned.commitFiles(tableDir, newSchema.json,
      inherit = entries, expectedBase = Some(base),
      meta = Versioned.withFeature(m.meta, "typeWidening"),
      op = "WIDEN")
    finishCommit(spark, lh, tableName, tableDir, commit,
      newSchema.fieldNames.toSeq, partitionSpecOf(m.meta, m.files))
  }

  def renameColumn(spark: SparkSession, lh: LakehouseProps, tableName: String,
      oldName: String, newName: String): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (base, m) = existing(spark, lh, tableName)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(oldName),
      s"$tableName has no column $oldName")
    require(!schema.fieldNames.contains(newName),
      s"$tableName already has a column $newName")
    require(!partitioningOfFiles(m.files).contains(oldName) &&
      !partitionSpecOf(m.meta, m.files).contains(oldName),
      s"$oldName is a partition column (path-encoded) — renaming it " +
        "requires a rewrite")
    constraintMentions(m.meta, oldName).foreach(n =>
      throw new IllegalArgumentException(
        s"CHECK constraint '$n' references $oldName — drop it first"))
    val renamed = StructType(schema.fields.map { f =>
      if (f.name != oldName) f
      else {
        val phys = if (f.metadata.contains(PhysicalKey))
          f.metadata.getString(PhysicalKey) else f.name
        f.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysicalKey, phys).build())
      }
    })
    // an identity declaration follows its column through the rename —
    // leaving it keyed to the old name would orphan the watermark AND
    // make the next append re-create the old column via schema evolution
    val reKeyed =
      if (!m.meta.contains(IdentityPrefix + oldName)) m.meta
      else m.meta - (IdentityPrefix + oldName) - (IdentityMaxPrefix + oldName) +
        (IdentityPrefix + newName -> m.meta(IdentityPrefix + oldName)) +
        (IdentityMaxPrefix + newName ->
          m.meta.getOrElse(IdentityMaxPrefix + oldName, "0"))
    val commit = Versioned.commitFiles(tableDir, renamed.json,
      inherit = m.entries, expectedBase = Some(base),
      meta = Versioned.withFeature(reKeyed, "columnMapping"),
      op = "RENAME COLUMN")
    finishCommit(spark, lh, tableName, tableDir, commit,
      renamed.fieldNames.toSeq, partitioningOfFiles(m.files))
  }

  /** Drop a column WITHOUT rewriting data (Delta DROP COLUMN semantics):
    * a metadata-only commit removes the field from the committed schema —
    * scans simply never read it (the bytes stay until files are next
    * rewritten, exactly Delta's behavior). Partition / constraint-
    * referenced columns are rejected. */
  def dropColumn(spark: SparkSession, lh: LakehouseProps, tableName: String,
      colName: String): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (base, m) = existing(spark, lh, tableName)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(colName),
      s"$tableName has no column $colName")
    require(schema.fields.length > 1,
      s"cannot drop $tableName's only column")
    require(!partitioningOfFiles(m.files).contains(colName) &&
      !partitionSpecOf(m.meta, m.files).contains(colName),
      s"$colName is a partition column (path-encoded) — dropping it " +
        "requires a rewrite")
    constraintMentions(m.meta, colName).foreach(n =>
      throw new IllegalArgumentException(
        s"CHECK constraint '$n' references $colName — drop it first"))
    require(!m.meta.contains(IdentityPrefix + colName),
      s"$colName is an identity column — its declaration must go " +
        "explicitly first (the watermark would silently vanish with it)")
    require(!m.meta.contains(GeneratedPrefix + colName),
      s"$colName is a generated column — drop the declaration first")
    val narrowed = StructType(schema.fields.filterNot(_.name == colName))
    // tombstone the PHYSICAL name: a later column re-added under this name
    // must get a fresh physical slot, not resurrect the retired bytes
    val dropped = schema.fields.find(_.name == colName).map(f =>
      if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
      else f.name).get
    val commit = Versioned.commitFiles(tableDir, narrowed.json,
      inherit = m.entries, expectedBase = Some(base),
      meta = Versioned.withFeature(
        m.meta + (TombstonePrefix + dropped -> "1"), "columnMapping"),
      op = "DROP COLUMN")
    finishCommit(spark, lh, tableName, tableDir, commit,
      narrowed.fieldNames.toSeq, partitioningOfFiles(m.files))
  }

  /** Metadata-only row count of the current version (sum of the
    * manifest's per-file counts) — free at any scale. None when the table
    * predates per-file counts or is a legacy layout (callers fall back to
    * a real count() once; the next rewrite regains the fast path). */
  def tableRowCount(lh: LakehouseProps, tableName: String): Option[Long] = {
    val tableDir = Catalog.tablePath(lh, tableName)
    Versioned.latestVersion(tableDir)
      .flatMap(v => Versioned.readManifest(tableDir, v))
      .flatMap(rowsFromManifest)
  }

  /** DESCRIBE HISTORY: one row per retained committed version — commit
    * time, file/row-level shape, and the add/remove deltas vs the previous
    * retained version (how Delta's DESCRIBE HISTORY reads its log). Driver-
    * built rows, bounded by the retention window — never scans data. */
  /** DESCRIBE DETAIL (Delta's table-level summary): one row for the
    * CURRENT version — version number, file count, LOGICAL row count
    * (deletion-vectored rows subtracted), total data bytes, partition
    * columns, DV'd-file count, CDF flag, CHECK-constraint names, and the
    * commit's operation — all from the manifest + file stats, no data
    * scan. */
  def describeDetail(spark: SparkSession, lh: LakehouseProps,
      tableName: String): DataFrame = {
    import spark.implicits._
    val tableDir = Catalog.tablePath(lh, tableName)
    val v = Versioned.latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"$tableName has no versions"))
    val m = Versioned.manifestOf(tableDir, v)
    val baseP = Paths.get(tableDir)
    // manifest-recorded sizes when present (no stat() storm at 1M files);
    // stat() only for entries from before sizes were collected
    val bytes = m.entries.map { e =>
      entryBytes(e).getOrElse(
        scala.util.Try(Files.size(baseP.resolve(e.path))).getOrElse(0L))
    }.sum
    Seq((v,
      m.entries.size.toLong,
      rowsFromManifest(m).getOrElse(-1L),
      bytes,
      partitionSpecOf(m.meta, m.files).mkString(","),
      m.entries.count(e => Versioned.dvRefOf(e).isDefined).toLong,
      cdfEnabled(m.meta),
      checkConstraintsOf(m.meta).keys.toSeq.sorted.mkString(","),
      m.meta.getOrElse(Versioned.OpKey, "")))
      .toDF("version", "num_files", "num_rows", "size_bytes",
        "partition_columns", "num_dv_files", "cdf_enabled",
        "check_constraints", "last_operation")
  }

  /** Per-file metadata table (Iceberg's `<table>.files` / Delta's
    * `add`-action view): one row per CURRENT-version manifest entry with
    * its physical row count, deletion-vectored rows, logical rows, byte
    * size, and raw stats JSON. Metadata-only — built from the manifest the
    * same way describeDetail is, no data scan, O(files) rows; the
    * introspection surface for debugging skew, small-file debt, and
    * skipping-stats coverage without touching data. Layout-dependent
    * (paths, sizes) ⇒ spec-verified rather than oracle'd. */
  def filesTable(spark: SparkSession, lh: LakehouseProps,
      tableName: String): DataFrame = {
    import spark.implicits._
    val tableDir = Catalog.tablePath(lh, tableName)
    val v = Versioned.latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"$tableName has no versions"))
    val m = Versioned.manifestOf(tableDir, v)
    val baseP = Paths.get(tableDir)
    m.entries.map { e =>
      val phys = entryRows(e)
      val dvRows = Versioned.dvRefOf(e).fold(0L)(_._2)
      (e.path,
        phys.getOrElse(-1L),
        dvRows,
        phys.map(_ - dvRows).getOrElse(-1L),
        entryBytes(e).getOrElse(
          scala.util.Try(Files.size(baseP.resolve(e.path))).getOrElse(0L)),
        e.stats.isDefined,
        e.stats.getOrElse(""))
    }.toDF("path", "num_rows", "dv_deleted_rows", "logical_rows",
      "size_bytes", "has_stats", "stats_json")
      .withColumn("version", org.apache.spark.sql.functions.lit(v))
  }

  /** FSCK (Delta's FSCK REPAIR TABLE, report-only): verify the CURRENT
    * version's manifest against physical reality — every referenced data
    * file exists and matches its recorded byte size, every deletion-vector
    * sidecar resolves, every stats JSON parses, and per-file row counts
    * are present when the manifest total depends on them. One row per
    * finding `(check, path, detail)`; an empty result is a healthy table.
    *
    * Metadata-only: O(files) driver stat() calls, no data scan — the same
    * order of work as reading a Delta checkpoint, run before trusting a
    * restored/cloned/converted table at 100 TB. */
  def checkTable(spark: SparkSession, lh: LakehouseProps,
      tableName: String): DataFrame = {
    import spark.implicits._
    val tableDir = Catalog.tablePath(lh, tableName)
    val baseP = Paths.get(tableDir)
    val findings = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    Versioned.latestVersion(tableDir) match {
      case None =>
        findings += (("no_versions", tableDir, "table has no committed version"))
      case Some(v) =>
        Versioned.readManifest(tableDir, v) match {
          case None =>
            findings += (("missing_manifest", tableDir,
              s"committed version $v has no manifest"))
          case Some(m) =>
            m.entries.foreach { e =>
              val p = baseP.resolve(e.path)
              if (!Files.isRegularFile(p))
                findings += (("missing_file", e.path,
                  s"referenced by v$v but absent on disk"))
              else entryBytes(e).foreach { rec =>
                val actual = scala.util.Try(Files.size(p)).getOrElse(-1L)
                if (actual != rec)
                  findings += (("size_mismatch", e.path,
                    s"manifest records $rec bytes, disk has $actual"))
              }
              if (e.stats.exists(s =>
                  scala.util.Try(org.json4s.jackson.JsonMethods.parse(s))
                    .isFailure))
                findings += (("bad_stats", e.path,
                  "stats JSON does not parse"))
              Versioned.dvRefOf(e).foreach { case (sidecar, n) =>
                if (!Files.exists(baseP.resolve(sidecar)))
                  findings += (("missing_dv", e.path,
                    s"deletion vector $sidecar ($n rows) absent"))
              }
            }
            if (rowsFromManifest(m).isEmpty && m.entries.nonEmpty)
              findings += (("missing_row_counts", tableDir,
                s"v$v has entries without per-file row counts; " +
                  "DESCRIBE/commit totals fall back to a scan " +
                  "(run recomputeStats)"))
        }
    }
    findings.toSeq.toDF("check", "path", "detail")
  }

  def describeHistory(spark: SparkSession, lh: LakehouseProps,
      tableName: String): DataFrame = {
    import spark.implicits._
    val tableDir = Catalog.tablePath(lh, tableName)
    val dirP = Paths.get(tableDir)
    val versions = Versioned.committedVersions(tableDir)
    val manifests = versions.map(v =>
      v -> Versioned.readManifest(tableDir, v))
    val rows = manifests.zip(None +: manifests.map(_._2.map(_.files))).map {
      case ((v, m), prev) =>
        val files = m.map(_.files).getOrElse(Seq.empty)
        val prevSet = prev.getOrElse(Seq.empty).toSet
        val bytes = files.map(f =>
          scala.util.Try(Files.size(dirP.resolve(f))).getOrElse(0L)).sum
        (v,
          new java.sql.Timestamp(
            Versioned.commitTimeMs(tableDir, v).getOrElse(0L)),
          m.flatMap(_.meta.get(Versioned.OpKey)).getOrElse("UNKNOWN"),
          files.size, bytes,
          files.count(!prevSet.contains(_)),
          prevSet.count(p => !files.contains(p)))
    }
    rows.toDF("version", "commit_time", "operation", "n_files", "bytes",
      "n_added", "n_removed").orderBy("version")
  }

  /** Structured Streaming source over a versioned table: `readStream` that
    * follows the commit log — each micro-batch is exactly the files added
    * between two committed versions (the streaming twin of
    * [[readChangesSince]]; see
    * [[graft.lakehouse.streaming.VersionedTableProvider]] for offset,
    * rewrite, schema-pinning, and retention semantics). */
  def streamTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      ignoreRewrites: Boolean = false, changeFeed: Boolean = false,
      maxVersionsPerTrigger: Option[Long] = None): DataFrame = {
    val reader = spark.readStream
      .format(classOf[graft.lakehouse.streaming.VersionedTableProvider].getName)
      .option("path", Catalog.tablePath(lh, tableName))
      .option("ignoreRewrites", ignoreRewrites.toString)
    val rated = maxVersionsPerTrigger.fold(reader)(n =>
      reader.option("maxVersionsPerTrigger", n.toString))
    (if (changeFeed) rated.option("mode", "cdf") else rated).load()
  }

  // ---- row-level change data feed ----------------------------------------

  private val CdfKey = "cdf"

  /** Enable the change data feed (Delta `enableChangeDataFeed`): from this
    * version on, merge and delete commits record their row-level changes
    * in a `_cdf_<version>_<commitId>` sidecar staged atomically with the
    * commit, and
    * [[readChangeFeed]] can reconstruct every row-level event. */
  def enableChangeFeed(spark: SparkSession, lh: LakehouseProps,
      tableName: String): Unit =
    setTableFlag(spark, lh, tableName, CdfKey, Some("true"),
      feature = Some("changeDataFeed"))

  def disableChangeFeed(spark: SparkSession, lh: LakehouseProps,
      tableName: String): Unit = setTableFlag(spark, lh, tableName, CdfKey, None)

  private def setTableFlag(spark: SparkSession, lh: LakehouseProps,
      tableName: String,
      key: String, value: Option[String],
      feature: Option[String] = None): Unit =
    commitMeta(spark, lh, tableName, "SET PROPERTY") { m =>
      val newMeta = value.fold(m.meta - key)(v => m.meta + (key -> v))
      feature.fold(newMeta)(Versioned.withFeature(newMeta, _))
    }

  /** Metadata-only commit onto `tableName`'s latest version: every file is
    * inherited and nothing is staged. `edit` maps the current manifest to
    * the new meta; it runs before the commit, so its checks can refuse the
    * change. */
  private def commitMeta(spark: SparkSession, lh: LakehouseProps,
      tableName: String, op: String)(
      edit: Versioned.Manifest => Map[String, String]): Unit = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (base, m) = existing(spark, lh, tableName)
    Versioned.commitFiles(tableDir, m.schemaJson, inherit = m.entries,
      expectedBase = Some(base), meta = edit(m), op = op)
    ()
  }

  private[lakehouse] def cdfEnabled(meta: Map[String, String]): Boolean =
    meta.get(CdfKey).contains("true")

  /** The `beforeMarker` hook writing a commit's change-feed sidecar into
    * its commit-owned [[Versioned.sidecarDir]] (a reclaimed writer's
    * still-running sidecar job can never clobber the winning commit's
    * feed): `changes` builds the change frame from the staged entries
    * (None = no sidecar for this commit). */
  private def cdfSidecar(tableDir: String)(
      changes: Seq[Versioned.FileEntry] => Option[DataFrame])
      : (Long, Seq[Versioned.FileEntry], String) => Unit =
    (v, staged, cid) => changes(staged).foreach(
      _.write.mode(SaveMode.Overwrite).parquet(
        Versioned.sidecarDir(Paths.get(tableDir), v, cid).toString))

  /** Reader-side resolution: a manifest resolves ONLY to the sidecar of
    * its own commit id — a sidecar of any other id at the same version was
    * written by an evicted writer. Missing directories surface as the
    * caller's loud error. */
  private def cdfDirOf(tableDir: String, v: Long,
      meta: Map[String, String]): Path =
    Versioned.sidecarDir(Paths.get(tableDir), v,
      meta.getOrElse(Versioned.CommitIdKey, throw new IllegalStateException(
        s"$tableDir: manifest $v has no commit id — the table is corrupt")))

  /** Row-level changes since `sinceVersion` (Delta `table_changes`): for
    * each later commit — appends yield their added files' rows as
    * `insert` (derived from the manifest diff, no sidecar needed);
    * merge/delete commits yield their recorded `update_preimage` /
    * `update_postimage` / `insert` / `delete` rows from the `_cdf_` sidecar
    * (which exists for commits made while the feed was enabled).
    * Cost is O(changed rows), never O(table). */
  def readChangeFeed(spark: SparkSession, lh: LakehouseProps,
      tableName: String, sinceVersion: Long): DataFrame =
    // baseline validity (and its loud error) lives in changeFeedAtPath —
    // one check, one exception type for batch and streaming callers alike
    changeFeedAtPath(spark, Catalog.tablePath(lh, tableName), sinceVersion, None)

  /** Path-level change-feed core shared with the streaming source's CDF
    * mode: row-level events for committed versions in
    * `(sinceVersion, untilVersion ?? latest]`. */
  private[lakehouse] def changeFeedAtPath(spark: SparkSession,
      tableDir: String, sinceVersion: Long,
      untilVersion: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // the baseline version anchors every diff: silently substituting the
    // oldest retained version (e.g. after a paused stream's offset was
    // swept) would OMIT the changes in between — fail loudly instead
    if (!Versioned.isCommitted(tableDir, sinceVersion))
      throw new IllegalStateException(
        s"$tableDir: change-feed baseline version $sinceVersion was never " +
          "committed or has been swept by retention — the feed between it " +
          "and now is no longer reconstructible; re-baseline the consumer " +
          "from a snapshot (raise Versioned.RetainAgeMs for slow streams)")
    val versions = Versioned.committedVersions(tableDir)
      .filter(v => v >= sinceVersion && untilVersion.forall(v <= _))
    // ONE manifest read+parse per version: the rename check, the pairwise
    // frame diff (where each version appears as both 'prev' and 'v') and
    // sidecar resolution all share it — manifests are O(files) lines
    val manifests: Map[Long, Versioned.Manifest] = versions.flatMap(v =>
      Versioned.readManifest(tableDir, v).map(v -> _)).toMap
    def manifestOf(v: Long): Versioned.Manifest = manifests.getOrElse(v,
      throw new IllegalStateException(
        s"$tableDir: manifest for version $v is unavailable"))
    // a RENAME inside the range would union frames under two different
    // logical names for the same physical column — a silently-wrong feed.
    // Delta's CDF has the same restriction; fail loudly instead.
    val logicalNames = versions.flatMap(v =>
      manifests.get(v).map(m =>
        DataType.fromJson(m.schemaJson).asInstanceOf[StructType].fields
          .map(f => (if (f.metadata.contains(PhysicalKey))
            f.metadata.getString(PhysicalKey) else f.name) -> f.name).toMap))
    val renamed = logicalNames.sliding(2).collectFirst {
      case Seq(a, b) if a.keySet.intersect(b.keySet).exists(p => a(p) != b(p)) =>
        a.keySet.intersect(b.keySet).find(p => a(p) != b(p)).get
    }
    renamed.foreach(p => throw new IllegalStateException(
      s"$tableDir: a column rename (physical '$p') lies inside the " +
        "requested change-feed range — the feed cannot express one column " +
        "under two names; re-baseline the consumer from a snapshot taken " +
        "at or after the rename"))
    val frames = versions.sliding(2).collect {
      case Seq(prev, v) =>
        val pm = manifestOf(prev)
        val m = manifestOf(v)
        val prevFiles = pm.files.toSet
        val added = m.files.filterNot(prevFiles.contains)
        val removed = prevFiles -- m.files.toSet
        // a deletion-vector delete adds/removes NO files — its row-level
        // deletes live in the sidecar its commit wrote, keyed off the
        // changed DV refs on carried-over entries
        val dvChanged = {
          val prevDv = pm.entries.map(e =>
            e.path -> Versioned.dvRefOf(e)).toMap
          m.entries.exists(e => prevFiles.contains(e.path) &&
            prevDv.get(e.path).exists(_ != Versioned.dvRefOf(e)))
        }
        if (removed.isEmpty && added.isEmpty && !dvChanged)
          None // metadata-only commit
        else if (removed.isEmpty && !dvChanged)
          // added-at-v entries never carry a DV at v (no commit path both
          // adds a file and vectors it), but scanOf keeps that invariant
          // out of the correctness argument
          Some(scanSpec(spark, Versioned.scanOf(tableDir, m,
            m.entries.filterNot(e => prevFiles.contains(e.path))))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        else {
          val d = cdfDirOf(tableDir, v, m.meta)
          if (!Files.isDirectory(d)) throw new IllegalStateException(
            s"$tableDir: version $v rewrote files but has no change-data " +
              "sidecar — the commit predates enableChangeFeed (or was a " +
              "RESTORE, the one write path the feed does not model); " +
              "re-baseline the consumer from a full snapshot")
          Some(spark.read.parquet(d.toString)
            .withColumn("_commit_version", lit(v)))
        }
    }.flatten.toSeq
    frames match {
      case Seq() =>
        val schema = Versioned.latestVersion(tableDir)
          .flatMap(v => Versioned.readManifest(tableDir, v))
          .map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
          .getOrElse(new StructType())
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          schema.add("_change_type", StringType).add("_commit_version",
            org.apache.spark.sql.types.LongType))
      case fs => fs.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Small-files compaction (the OPTIMIZE half of the Delta story the
    * north-star names): rewrite the current version into
    * ceil(bytes / targetFileBytes) files and commit it atomically —
    * readers of the old version are untouched, and a crash mid-compaction
    * leaves the table on the old version. Unpartitioned tables `coalesce`
    * (no shuffle); hive-partitioned tables repartition BY THE PARTITION
    * COLUMNS so each partition value collapses to one file — a global
    * coalesce would emit up to nFiles × nPartitionValues files and can
    * INCREASE the small-file count it is meant to fix. Runs under the
    * optimistic base check: racing a concurrent writer fails loudly rather
    * than resurrecting pre-commit data. */
  def compactTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty,
      predicate: Option[String] = None,
      hilbert: Boolean = false): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (b, m) = existing(spark, lh, tableName)
    // predicate = Delta's `OPTIMIZE ... WHERE`: only files that MAY hold
    // matching rows (partition values / stat ranges, same mining as
    // readTable's skipping) are rewritten; the rest inherit BY REFERENCE —
    // at 100 TB a small-file problem usually lives in the partitions still
    // being written, and a whole-table rewrite per OPTIMIZE is not operable.
    // An unscoped (or unminable, or matches-every-file) compaction is the
    // SAME flow with affected = every current file.
    val mined = (for {
      p <- predicate
      aff <- minedSurvivors(spark, m, p) if aff.size < m.entries.size
    } yield aff).getOrElse(m.entries)
    val parts = partitionSpecOf(m.meta, m.files)
    val baseP = Paths.get(tableDir)
    def sizeOf(e: Versioned.FileEntry): Long = entryBytes(e).getOrElse(
      scala.util.Try(Files.size(baseP.resolve(e.path))).getOrElse(0L))
    // Within the mined scope, rewrite only files that NEED it: smaller
    // than target (the small-file problem OPTIMIZE exists for) or
    // carrying a deletion vector (the rewrite purges it). Right-sized
    // DV-free files inherit by reference — Delta OPTIMIZE's bin-packing
    // selection; rewriting an already-compact 1 GB file on a 100 TB
    // table is pure churn. ZORDER BY is a re-clustering pass instead:
    // every mined file rewrites regardless of size.
    val affected =
      if (zorderBy.nonEmpty) mined
      else mined.filter(e =>
        Versioned.dvRefOf(e).isDefined || sizeOf(e) < targetFileBytes)
    val bytes = affected.map(sizeOf).sum
    val nFiles =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = scanSpec(spark, Versioned.scanOf(tableDir, m, affected))
    // Row tracking: the rewrite MATERIALIZES each surviving row's id
    // as the physical __row_id column (Delta's materialized row ids) —
    // reads of rewritten files take the physical value over the
    // base+index computation, so compaction never changes a row's
    // identity. DV'd rows are already subtracted from the scan; their
    // ids retire with them.
    val rowTracked = m.meta.contains(Versioned.RowTrackingKey)
    val dfW =
      if (!rowTracked) df
      else withRowIds(spark, tableDir, m, affected)
        .withColumnRenamed(RowIdColName, PhysRowIdCol)
    // zorderBy = OPTIMIZE ZORDER BY: the rewrite this compaction
    // already pays doubles as the re-clustering pass
    val arranged =
      if (zorderBy.nonEmpty)
        Zorder.cluster(dfW, zorderBy, Some(nFiles), hilbert)
      else if (parts.isEmpty) dfW.coalesce(nFiles)
      else dfW.repartition(parts.map(org.apache.spark.sql.functions.col): _*)
    val blooms = bloomColsOf(m)
    // compaction is invisible to the change feed: same rows, new files —
    // an EMPTY sidecar tells readChangeFeed "rewrite, zero logical
    // changes"
    val emptyCdf: Option[DataFrame] =
      if (!cdfEnabled(m.meta)) None
      else Some(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        df.schema.add("_change_type", StringType)))
    // a ZORDER compaction records its cluster spec so later
    // maintenance ticks (maintainTable / clusterIncremental) know the
    // table's clustering without being retold — liquid's CLUSTER BY
    def metaOut(mm: Map[String, String]): Map[String, String] =
      if (zorderBy.isEmpty) mm
      else mm + (ClusterByKey -> zorderBy.mkString(",")) +
        (ClusterCurveKey -> (if (hilbert) "hilbert" else "zorder"))
    val commit = commitMaintenance(tableDir, b, m, affected,
      metaOf = metaOut,
      beforeMarker = cdfSidecar(tableDir)(_ => emptyCdf),
      op = "OPTIMIZE",
      stage = t =>
        if (affected.isEmpty) Map.empty
        else writeStagedWithStats(toPhysical(arranged,
            DataType.fromJson(m.schemaJson).asInstanceOf[StructType]),
          t, parts, blooms, parquetBloomCols = blooms))
    finishCommit(spark, lh, tableName, tableDir, commit,
      df.columns.toSeq, parts)
  }

  /** Manifest meta keys remembering the table's declared clustering —
    * written by ZORDER compactions, read by [[maintainTable]] so the
    * scheduler needn't be retold CLUSTER BY on every tick. */
  private[lakehouse] val ClusterByKey = "graft.clusterBy"
  private[lakehouse] val ClusterCurveKey = "graft.clusterCurve"

  /** Commit a MAINTENANCE operation (OPTIMIZE / incremental clustering /
    * ANALYZE) with LOGICAL conflict resolution instead of the strict
    * physical base check: on [[Versioned.ConcurrentWriteException]],
    * re-read the latest manifest and REBASE — inherit the newcomers —
    * provided the operation's input files are still present and untouched
    * (identical serialized entries, stats and DV refs included: a
    * concurrent DV delete on an input file is a REAL conflict — re-adding
    * our rewrite would resurrect its deleted rows), the schema did not
    * evolve, and the change-feed flag did not flip. At 100 TB, OPTIMIZE
    * always races streaming ingest; under the strict check maintenance
    * would never land (Delta resolves the same append-vs-OPTIMIZE races
    * logically, for the same reason).
    *
    * `affected`: the input entries the op consumed (conflict-checked per
    * retry). `replaced`: entries the op contributes directly into the
    * inherit list (ANALYZE's re-statted entries; empty when the payload is
    * staged by `stage`). `metaOf` recomputes commit meta from the CURRENT
    * base's meta so concurrently-advanced identity/txn watermarks are
    * never regressed. `stage` ([[Versioned.commitFiles]]'s staging step)
    * re-executes per retry: it scans
    * a PINNED file list (the affected entries, protected from vacuum by
    * the very manifests being raced), so the rewrite re-derives
    * deterministically. */
  private[lakehouse] def commitMaintenance(tableDir: String, firstBase: Long,
      firstM: Versioned.Manifest, affected: Seq[Versioned.FileEntry],
      metaOf: Map[String, String] => Map[String, String],
      op: String,
      beforeMarker: (Long, Seq[Versioned.FileEntry], String) => Unit =
        (_, _, _) => (),
      replaced: Seq[Versioned.FileEntry] = Seq.empty,
      maxRetries: Int = 5,
      stage: String => Map[String, String] = _ => Map.empty)
      : Versioned.Commit = {
    val affectedSer = affected.map(_.serialized).toSet
    val affectedPaths = affected.map(_.path).toSet
    var b = firstBase
    var m = firstM
    var attempt = 0
    while (true) {
      val inherit =
        m.entries.filterNot(e => affectedPaths(e.path)) ++ replaced
      try {
        return Versioned.commitFiles(tableDir, m.schemaJson,
          inherit = inherit, expectedBase = Some(b), meta = metaOf(m.meta),
          beforeMarker = beforeMarker, op = op, stage = stage)
      } catch {
        case e: Versioned.ConcurrentWriteException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val b2 = Versioned.latestVersion(tableDir).getOrElse(throw e)
          val m2 = Versioned.readManifest(tableDir, b2).getOrElse(throw e)
          val present = m2.entries.map(_.serialized).toSet
          if (m2.schemaJson != m.schemaJson ||
              cdfEnabled(m2.meta) != cdfEnabled(m.meta) ||
              !affectedSer.forall(present)) throw e
          b = b2
          m = m2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One auto-maintenance tick (the scheduler loop a lakehouse platform
    * runs per table): inspect the CURRENT manifest and do only what the
    * table needs —
    *  1. entries missing stats → ANALYZE ([[recomputeStats]]);
    *  2. a recorded cluster spec + files newer than the last OPTIMIZE →
    *     [[clusterIncremental]] (O(new data));
    *  3. otherwise, small-file debt (≥ `smallFileThreshold` files under
    *     half the target, or DV-carrying) → size-aware [[compactTable]];
    *  4. always: retention [[Versioned.vacuum]].
    * Inspection is metadata-only; each fired action pays exactly its own
    * documented cost. Returns one row per action taken —
    * `(action, detail)`; vacuum-only means the table was already healthy.
    * Idempotent: a second immediate tick does metadata work only. */
  def maintainTable(spark: SparkSession, lh: LakehouseProps,
      tableName: String, targetFileBytes: Long = 128L * 1024 * 1024,
      smallFileThreshold: Int = 8): DataFrame = {
    import spark.implicits._
    val tableDir = Catalog.tablePath(lh, tableName)
    val actions = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val baseP = Paths.get(tableDir)
    Versioned.latestVersion(tableDir)
      .flatMap(Versioned.readManifest(tableDir, _)).foreach { m =>
      if (m.entries.exists(_.stats.isEmpty)) {
        recomputeStats(spark, lh, tableName)
        actions += (("analyze",
          s"${m.entries.count(_.stats.isEmpty)} stats-less entries"))
      }
      val clusterBy = m.meta.get(ClusterByKey)
        .map(_.split(",").filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
      val hilbert = m.meta.get(ClusterCurveKey).contains("hilbert")
      def sizeOf(e: Versioned.FileEntry): Long = entryBytes(e).getOrElse(
        scala.util.Try(Files.size(baseP.resolve(e.path))).getOrElse(0L))
      clusterBy match {
        case Some(cols) =>
          // new-files-since-last-OPTIMIZE = clusterIncremental's own
          // baseline diff; fire only past the debt threshold
          val lastOpt = Versioned.committedVersions(tableDir).sorted.reverse
            .find(v => Versioned.readManifest(tableDir, v)
              .exists(_.meta.get(Versioned.OpKey).contains("OPTIMIZE")))
            .flatMap(v => Versioned.readManifest(tableDir, v))
            .map(_.files.toSet).getOrElse(Set.empty)
          val fresh = m.entries.count(e => !lastOpt(e.path))
          if (fresh >= smallFileThreshold) {
            clusterIncremental(spark, lh, tableName, cols,
              targetFileBytes, hilbert)
            actions += (("cluster-incremental",
              s"$fresh new files onto ${cols.mkString(",")} ($hilbert)"))
          }
        case None =>
          val debt = m.entries.count(e =>
            Versioned.dvRefOf(e).isDefined || sizeOf(e) < targetFileBytes / 2)
          if (debt >= smallFileThreshold) {
            compactTable(spark, lh, tableName, targetFileBytes)
            actions += (("compact", s"$debt small or DV-carrying files"))
          }
      }
    }
    Versioned.vacuum(tableDir)
    actions += (("vacuum", "retention sweep"))
    actions.toSeq.toDF("action", "detail")
  }

  /** Incremental clustering (the liquid-clustering maintenance loop):
    * cluster ONLY the files added since the last OPTIMIZE commit and
    * inherit everything else by reference — each maintenance cycle costs
    * O(new data), not O(table), which is the only clustering cadence that
    * stays operable while a 100 TB table keeps ingesting. The commit's op
    * is OPTIMIZE, so successive incremental runs chain: each run's version
    * becomes the next run's baseline. With no prior OPTIMIZE the whole
    * table clusters (the bootstrap run IS a full `compactTable(zorderBy)`).
    *
    * The trade: new files are curve-ordered among THEMSELVES, so scans
    * prune perfectly within each clustered generation but ranges straddle
    * generations until the next full rewrite — exactly Delta's incremental
    * OPTIMIZE behavior. Old files' deletion vectors are untouched (DV
    * purging is full compaction's job). */
  def clusterIncremental(spark: SparkSession, lh: LakehouseProps,
      tableName: String, zorderBy: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      hilbert: Boolean = false): TableInfo = {
    require(zorderBy.nonEmpty, "clusterIncremental needs cluster columns")
    val tableDir = Catalog.tablePath(lh, tableName)
    val (b, m) = existing(spark, lh, tableName)
    // baseline = the file set of the newest OPTIMIZE commit: everything in
    // it was clustered (or deliberately left) by that run
    val baseline: Set[String] = Versioned.committedVersions(tableDir)
      .filter(_ < b + 1).sorted.reverse
      .find(v => Versioned.readManifest(tableDir, v)
        .exists(_.meta.get(Versioned.OpKey).contains("OPTIMIZE")))
      .flatMap(v => Versioned.readManifest(tableDir, v))
      .map(_.files.toSet).getOrElse(Set.empty)
    val affected = m.entries.filterNot(e => baseline(e.path))
    val parts = partitionSpecOf(m.meta, m.files)
    val baseP = Paths.get(tableDir)
    val bytes = affected.map(e => entryBytes(e).getOrElse(
      scala.util.Try(Files.size(baseP.resolve(e.path))).getOrElse(0L))).sum
    val nFiles =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = scanSpec(spark, Versioned.scanOf(tableDir, m, affected))
    // row-tracked tables: materialize ids through the rewrite, same as
    // compactTable — incremental clustering must not change row identity
    val dfW =
      if (!m.meta.contains(Versioned.RowTrackingKey)) df
      else withRowIds(spark, tableDir, m, affected)
        .withColumnRenamed(RowIdColName, PhysRowIdCol)
    val arranged = Zorder.cluster(dfW, zorderBy, Some(nFiles), hilbert)
    val blooms = bloomColsOf(m)
    val emptyCdf: Option[DataFrame] =
      if (!cdfEnabled(m.meta)) None
      else Some(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        df.schema.add("_change_type", StringType)))
    val commit = commitMaintenance(tableDir, b, m, affected,
      metaOf = mm => mm + (ClusterByKey -> zorderBy.mkString(",")) +
        (ClusterCurveKey -> (if (hilbert) "hilbert" else "zorder")),
      beforeMarker = cdfSidecar(tableDir)(_ => emptyCdf),
      op = "OPTIMIZE",
      stage = t =>
        if (affected.isEmpty) Map.empty
        else writeStagedWithStats(toPhysical(arranged,
            DataType.fromJson(m.schemaJson).asInstanceOf[StructType]),
          t, parts, blooms, parquetBloomCols = blooms))
    finishCommit(spark, lh, tableName, tableDir, commit,
      df.columns.toSeq, parts)
  }

  /** DELETE WHERE (Delta row-delete, file-level): a pushed-down scan finds
    * which files contain rows matching `condition`; only those files are
    * rewritten WITHOUT the matching rows — untouched files are inherited by
    * reference. Rows where the condition is NULL are KEPT (SQL DELETE
    * three-valued semantics). Concurrent writers fail loudly via the
    * optimistic base check.
    *
    * `deletionVectors = true` switches to Delta's DV mode: NO data file is
    * rewritten at all — each touched file's deleted row positions are
    * recorded in a sidecar ([[DeletionVectors]]) referenced from its
    * manifest stats, and scans subtract them at read time. The commit is
    * O(deleted rows), not O(touched files): the sparse-delete shape (GDPR
    * erasure, late-arriving corrections) on a 100 TB table writes KBs
    * instead of rewriting every file that holds one matching row. Rewrite
    * mode stays the right call for dense deletes; `compactTable`
    * materializes accumulated vectors back into clean files. */
  def deleteFromTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      condition: String, deletionVectors: Boolean = false): TableInfo = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val cond = coalesce(expr(condition), lit(false))
    val tableDir = Catalog.tablePath(lh, tableName)
    val (b, m) = existing(spark, lh, tableName)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val parts = partitionSpecOf(m.meta, m.files)
    // discovery scans only the files the condition may match (readTable's
    // skipping): a pruned file holds no matching row, so it is untouched
    val candidates = minedSurvivors(spark, m, condition).getOrElse(m.entries)
    if (deletionVectors) {
      import org.apache.spark.sql.functions.{collect_list, sort_array}
      // matched LOGICAL rows (already-vectored rows can't re-match, so
      // CDF preimages and counts stay exact on repeated DV deletes)
      val matched = scanFiles(spark,
        Versioned.scanOf(tableDir, m, candidates), keepMeta = true)
        .filter(cond)
      val withCdf = cdfEnabled(m.meta)
      if (withCdf) matched.persist()
      // per-file sorted new-deletion positions; driver memory is
      // O(matched rows) longs — the shape DV mode exists for is sparse,
      // and a dense delete should use rewrite mode anyway
      val perFile = matched
        .groupBy(col(FpCol).as("__fp"))
        .agg(sort_array(collect_list(col(RiCol))).as("__ris"))
        .collect()
      val baseP = Paths.get(tableDir)
      val newDeletes: Map[String, Array[Long]] = perFile.map { r =>
        new java.net.URI(r.getString(0)).getPath ->
          r.getSeq[Long](1).toArray
      }.toMap
      val entries2 = m.entries.map { e =>
        newDeletes.get(baseP.resolve(e.path).toString) match {
          case None => e
          case Some(add) =>
            val prior = Versioned.dvRefOf(e) match {
              case Some((p, _)) => DeletionVectors.read(
                if (Paths.get(p).isAbsolute) Paths.get(p)
                else baseP.resolve(p))
              case None => Array.empty[Long]
            }
            val all = DeletionVectors.merged(prior, add)
            val sidecar = DeletionVectors.write(tableDir, all)
            e.copy(stats = Some(
              withDvStat(e.stats, sidecar, all.length.toLong)))
        }
      }
      val changes: Option[DataFrame] =
        if (!withCdf || perFile.isEmpty) None
        else Some(matched.drop(FpCol, RiCol)
          .withColumn("_change_type", lit("delete")))
      try {
        val commit = Versioned.commitFiles(tableDir, m.schemaJson,
          inherit = entries2, expectedBase = Some(b),
          meta = Versioned.withFeature(m.meta, "deletionVectors"),
          beforeMarker = cdfSidecar(tableDir)(_ => changes), op = "DELETE")
        finishCommit(spark, lh, tableName, tableDir, commit,
          schema.fieldNames.toSeq, parts)
      } finally if (withCdf) matched.unpersist()
    } else {
      val affectedPaths =
        if (candidates.isEmpty) Set.empty[String]
        else scanFiles(spark, Versioned.scanOf(tableDir, m, candidates),
          keepMeta = true)
          .filter(cond)
          .select(col(FpCol).as("__fp")).distinct()
          .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
      val baseP = Paths.get(tableDir)
      val (affected, untouched) = m.entries.partition(e =>
        affectedPaths.contains(baseP.resolve(e.path).toString))
      // scanOf, NOT a raw file list: an affected file may carry a
      // deletion vector from an earlier DV delete, and scanning it raw
      // would re-emit delete events for (and below, RESURRECT) rows that
      // are already logically gone. The survivor rewrite and the delete
      // events each read the affected files themselves, filtered — the
      // events are O(deleted rows), so nothing is cached for them.
      val affectedScan: Option[DataFrame] =
        if (affected.isEmpty) None
        else Some(scanSpec(spark, Versioned.scanOf(tableDir, m, affected)))
      val changes: Option[DataFrame] =
        if (!cdfEnabled(m.meta)) None
        else affectedScan.map(_.filter(cond)
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("delete")))
      val commit = Versioned.commitFiles(tableDir, m.schemaJson,
        inherit = untouched, expectedBase = Some(b),
        meta = m.meta,
        beforeMarker = cdfSidecar(tableDir)(_ => changes),
        op = "DELETE",
        stage = t =>
          if (affected.isEmpty) Map.empty
          else {
            // row-tracked tables: survivors carry their materialized
            // ids through the rewrite — DELETE never changes a row's
            // identity
            val survivors =
              (if (!m.meta.contains(Versioned.RowTrackingKey))
                affectedScan.get
              else withRowIds(spark, tableDir, m, affected)
                .withColumnRenamed(RowIdColName, PhysRowIdCol))
              .filter(not(cond))
            writeStagedWithStats(toPhysical(survivors, schema),
              t, parts, bloomColsOf(m))
          })
      finishCommit(spark, lh, tableName, tableDir, commit,
        schema.fieldNames.toSeq, parts)
    }
  }

  /** ANALYZE: (re)collect per-file min/max/null-count/row-count stats for
    * the CURRENT version's files without rewriting any data — a
    * metadata-only commit whose entries carry fresh stats. Gives
    * data-skipping to tables whose manifests predate stats collection
    * (e.g. early-protocol commits) and repairs stats after manual edits.
    * Deletion-vector refs are preserved (stats stay PHYSICAL file
    * properties — conservative for pruning). One aggregation pass over
    * the table's live files; O(table) read, zero writes. */
  def recomputeStats(spark: SparkSession, lh: LakehouseProps,
      tableName: String, bloomFilterFor: Seq[String] = Seq.empty): TableInfo = {
    import org.apache.spark.sql.functions.col
    val tableDir = Catalog.tablePath(lh, tableName)
    val (base, m) = existing(spark, lh, tableName)
    // collectFileStats over the table dir would also sweep files of OTHER
    // retained versions — aggregate over exactly the manifest's file list
    // instead, keyed by provenance. Metadata cols ride the raw physical
    // scan (pre-DV: stats are physical file properties).
    val raw = scanFiles(spark,
      Versioned.ScanFiles(tableDir, m.schemaJson, m.files), keepMeta = true)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val statsByAbs = statsOfScan(spark, raw, schema,
      bloomFilterFor.filter(schema.fieldNames.contains))
    val baseP = Paths.get(tableDir)
    val entries = m.entries.map { e =>
      statsByAbs.get(baseP.resolve(e.path).toString) match {
        case None => e // zero-row file: nothing to record
        case Some(statsJson) =>
          // record the physical size too (the scan-side aggregation has no
          // _metadata.file_size column to ride; one stat() per file is the
          // same O(files) driver work this commit already does)
          val withBytes = scala.util.Try(
              Files.size(baseP.resolve(e.path))).toOption
            .fold(statsJson)(n =>
              addStatField(statsJson, BytesKey, n.toString))
          // carry the DV ref through the fresh stats
          val withDv = Versioned.dvRefOf(e) match {
            case Some((p, n)) => withDvStat(Some(withBytes), p, n)
            case None => withBytes
          }
          // carry the base row id too — ANALYZE rebuilding stats must
          // never amputate a row-tracked file's identity span
          val withRid = Versioned.statsField(e.stats,
              Versioned.BaseRowIdStatKey)
            .fold(withDv)(b =>
              addStatField(withDv, Versioned.BaseRowIdStatKey, b))
          e.copy(stats = Some(withRid))
      }
    }
    // rebase over concurrent appends: the re-statted entries replace their
    // paths; newcomers (whose stats the concurrent writer collected at its
    // own commit) inherit as-is. Any concurrent touch to a re-statted file
    // is a real conflict — our stale stats must not overwrite its state.
    val commit = commitMaintenance(tableDir, base, m,
      affected = m.entries, metaOf = identity, op = "ANALYZE",
      replaced = entries)
    finishCommit(spark, lh, tableName, tableDir, commit,
      schema.fieldNames.toSeq, partitionSpecOf(m.meta, m.files))
  }

  /** Per-file stats JSON over an arbitrary keepMeta scan, keyed by the
    * file's ABSOLUTE path — the manifest-list-scoped core of
    * [[collectFileStats]] (which reads a whole staging dir instead). */
  private def statsOfScan(spark: SparkSession, raw: DataFrame,
      schema: StructType, blooms: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum,
      udaf, when, xxhash64}
    import org.json4s.{JArray, JNull, JString, JValue}
    import org.json4s.jackson.JsonMethods.{compact, render}
    // hive partition values are path-derived; their stats must come from
    // the path segment domain like collectFileStats does — exclude them
    // from the aggregated min/max and derive below
    val dataCols = schema.fields.filter(f => raw.columns.contains(f.name))
    val bloomAgg = udaf(new Bloom.Agg(Bloom.DefaultBits), Encoders.scalaLong)
    val aggs = count(lit(1)) +:
      (dataCols.toSeq.flatMap(f => Seq(
        min(col(f.name)).cast("string"), max(col(f.name)).cast("string"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)))) ++
        blooms.map(c => bloomAgg(xxhash64(col(c)))))
    val rows = raw.groupBy(col(FpCol).as("__fp"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val minMaxBase = 2
    val perCol = 3
    val bloomBase = minMaxBase + perCol * dataCols.length
    // stats JSON is keyed by PHYSICAL column names (the column-mapping
    // convention every prune path looks up with)
    val mapping = physicalMapping(schema)
    def physical(n: String): String = mapping.getOrElse(n, n)
    rows.map { r =>
      def j(i: Int): JValue =
        if (r.isNullAt(i)) JNull else JString(r.getString(i))
      val fields: Seq[(String, JValue)] =
        (RowsKey -> (JString(r.getLong(1).toString): JValue)) +:
        (dataCols.toSeq.zipWithIndex.map { case (f, i) =>
          val b = minMaxBase + perCol * i
          val (mn, mx) = (j(b), j(b + 1)) match {
            case (JString(a), JString(z)) if f.dataType == StringType =>
              (JString(truncStatMin(a)): JValue,
                truncStatMax(z).fold(JNull: JValue)(JString(_)))
            case other => other
          }
          physical(f.name) -> (JArray(List(mn, mx,
            JString(r.getLong(b + 2).toString))): JValue)
        } ++ blooms.zipWithIndex.flatMap { case (c, i) =>
          Option(r.get(bloomBase + i)).map { bytes =>
            (Bloom.StatsPrefix + physical(c)) ->
              (JString(java.util.Base64.getEncoder
                .encodeToString(bytes.asInstanceOf[Array[Byte]])): JValue)
          }
        })
      new java.net.URI(r.getString(0)).getPath ->
        compact(render(org.json4s.JObject(fields.toList)))
    }.toMap
  }

  /** Adopt a pre-protocol parquet directory into the versioned commit
    * protocol WITHOUT rewriting a byte (Delta's CONVERT TO DELTA): list
    * the existing data files (hive `col=value` layouts included), collect
    * per-file stats in one aggregation pass — a read, not a rewrite — and
    * commit a manifest referencing the files in place. Onboarding a
    * 100 TB directory costs one stats scan instead of a 100 TB rewrite
    * (the previous conversion path was a full `writeTable`/compaction).
    * From the commit on, appends/merges/deletes are file-level and the
    * files gain data-skipping stats. Already-versioned tables are
    * rejected loudly. Every write to an existing table adopts through
    * [[adopted]] on its own; this is the explicit form. */
  def convertToVersioned(spark: SparkSession, lh: LakehouseProps,
      tableName: String): TableInfo = {
    val tableDir = Catalog.tablePath(lh, tableName)
    val (commit, columns) = convertDir(spark, tableDir)
    finishCommit(spark, lh, tableName, tableDir, commit, columns,
      partitioningOfFiles(commit.files))
  }

  /** The CONVERT commit of [[convertToVersioned]], by path; returns the
    * commit and the adopted table's columns. */
  private def convertDir(spark: SparkSession,
      tableDir: String): (Versioned.Commit, Seq[String]) = {
    require(Versioned.isPreProtocol(tableDir),
      s"$tableDir already has committed versions — nothing to convert")
    require(Files.isDirectory(Paths.get(tableDir)),
      s"$tableDir: no such directory")
    val files = preProtocolFiles(tableDir)
    require(files.nonEmpty, s"$tableDir: no parquet files to convert")
    val df = spark.read.parquet(tableDir)
    // one stats pass over the directory in place — collectFileStats keys
    // by path relative to the dir it reads, which IS the manifest domain
    // here (partition-column stats come from the path segments, exactly
    // like a staged write)
    val stats = collectFileStats(spark)(tableDir)
    val entries = files.map(f => Versioned.FileEntry(f, stats.get(f)))
    (Versioned.commitFiles(tableDir, df.schema.json,
      inherit = entries, expectedBase = Some(0L), op = "CONVERT"),
      df.columns.toSeq)
  }

  /** The parquet data files under a pre-protocol directory, relative to it
    * (hive `col=value` layouts included) — protocol and scratch names are
    * never data. */
  private def preProtocolFiles(tableDir: String): Seq[String] = {
    val dirP = Paths.get(tableDir)
    if (!Files.isDirectory(dirP)) return Seq.empty
    val s = Files.walk(dirP)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !dirP.relativize(p).toString.split('/').exists(seg =>
          seg.startsWith("_") || seg.startsWith(".")))
      .map(p => dirP.relativize(p).toString).toSeq.sorted
    finally s.close()
  }

  /** The entry step of every write to an existing table: its current
    * version and manifest, None when there is no table yet. A pre-protocol
    * directory (parquet files, no protocol files) is first adopted in
    * place by [[convertToVersioned]], so a write only ever runs over a
    * manifest. [[writeTable]] skips this step: an overwrite replaces the
    * contents, so a stats scan of the files it drops would be wasted. */
  private[lakehouse] def adopted(spark: SparkSession,
      tableDir: String): Option[(Long, Versioned.Manifest)] =
    Versioned.latestVersion(tableDir) match {
      case Some(v) => Some(v -> Versioned.manifestOf(tableDir, v))
      case None if Versioned.isPreProtocol(tableDir) &&
          preProtocolFiles(tableDir).nonEmpty =>
        // losing the CONVERT race to a concurrent writer is fine: it
        // adopted the same files
        try convertDir(spark, tableDir)
        catch { case _: Versioned.ConcurrentWriteException => () }
        adopted(spark, tableDir)
      case None => None
    }

  /** [[adopted]] for the writes that need the table to exist. */
  private def existing(spark: SparkSession, lh: LakehouseProps,
      tableName: String): (Long, Versioned.Manifest) =
    adopted(spark, Catalog.tablePath(lh, tableName)).getOrElse(
      throw new IllegalArgumentException(
        s"$tableName has no committed version"))

  /** Apply another table's change feed to a replica (CDC apply — the
    * consumer side of [[readChangeFeed]]): per key, the LATEST event wins
    * (`_commit_version` order; a same-version delete+reinsert resolves to
    * the reinsert), update_preimages are informational and skipped, and
    * the net upserts + deletes land in ONE atomic file-level commit via
    * the keyed-replace primitive — only replica files holding touched
    * keys rewrite. Feeding the feed incrementally (from the replica's
    * last-applied version) makes replication O(changes), never
    * O(replica); the version high-water mark is the caller's cursor.
    * CDF-enabled replicas are rejected (the replace primitive documents
    * why: its delete half has no feed-staging path). */
  /** The net effect of a feed slice: each key's LATEST event (deletes
    * ordered after same-version upserts, update_preimage rows dropped). */
  private def cdcLatest(feed: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number, when}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "delete", 1).otherwise(0).asc)
    feed.filter(col("_change_type") =!= "update_preimage")
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") === 1)
      .drop("__graft_rk")
  }

  def applyChanges(spark: SparkSession, lh: LakehouseProps,
      replicaName: String, feed: DataFrame, keyCols: Seq[String],
      extraMeta: Map[String, String] = Map.empty): TableInfo = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "applyChanges needs key columns")
    require(feed.columns.contains("_change_type") &&
      feed.columns.contains("_commit_version"),
      "not a change feed: _change_type/_commit_version missing")
    val latest = cdcLatest(feed, keyCols)
    latest.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dataCols = feed.columns
        .filterNot(c => c == "_change_type" || c == "_commit_version")
      val removalKeys = latest.select(keyCols.map(col): _*).distinct()
      val upserts = latest.filter(col("_change_type") =!= "delete")
        .select(dataCols.map(col).toSeq: _*)
      replaceKeyedRows(spark, lh, replicaName, removalKeys, upserts,
        keyCols, extraMeta = extraMeta, op = "CDC APPLY")
    } finally latest.unpersist()
  }

  /** CONTINUOUS replication: follow `sourceName`'s change feed as a
    * stream and maintain `replicaName` as an exactly-once mirror —
    * Delta's `readChangeFeed` + `foreachBatch MERGE` recipe packaged as
    * one operator. The first micro-batch is the source SNAPSHOT as
    * insert events (it bootstraps the replica via an ordinary write);
    * every later batch folds through [[applyChanges]], rewriting only
    * the replica files containing changed keys — per-batch cost is
    * O(changes), never O(replica).
    *
    * Exactly-once: each apply commits the batch id under
    * `txn:<appId|checkpoint>` IN the replica's manifest (the same
    * txn-watermark pattern as the streaming sink), so a batch replayed
    * after a crash-restart is recognized and skipped — replica state
    * never double-applies. Restart resumes from the checkpoint; the
    * source must keep its feed within retention (the stream fails
    * loudly otherwise, it does not skip silently). `appId` names the
    * replication IDENTITY independent of the checkpoint path (batch ids
    * restart at 0 with a fresh checkpoint — under the same appId the
    * replayed snapshot batch is recognized and skipped). */
  def streamReplica(spark: SparkSession, lh: LakehouseProps,
      sourceName: String, replicaName: String, keyCols: Seq[String],
      checkpoint: Option[String] = None, appId: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val feed = streamTable(spark, lh, sourceName, changeFeed = true)
    val replicaDir = Catalog.tablePath(lh, replicaName)
    val txnKey = "txn:" + appId.orElse(checkpoint)
      .getOrElse(s"replica|$sourceName>$replicaName")
    def committed(): Option[Long] = Versioned.latestVersion(replicaDir)
      .flatMap(Versioned.readManifest(replicaDir, _))
      .flatMap(_.meta.get(txnKey))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val writer = feed.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        if (!committed().exists(_ >= batchId)) {
          val meta = Map(txnKey -> batchId.toString)
          val dataCols = batch.columns
            .filterNot(c => c == "_change_type" || c == "_commit_version")
          if (Versioned.latestVersion(replicaDir).isEmpty) {
            // bootstrap: net state of the batch (snapshot inserts, plus
            // any changes the batch already spans), minus deletions
            val state = cdcLatest(batch.toDF(), keyCols)
              .filter(col("_change_type") =!= "delete")
              .select(dataCols.map(col).toSeq: _*)
            writeTable(spark, lh, replicaName, state, extraMeta = meta)
          } else applyChanges(spark, lh, replicaName, batch.toDF(),
            keyCols, extraMeta = meta)
        }
        ()
    }
    checkpoint.fold(writer)(c =>
      writer.option("checkpointLocation", c)).start()
  }

  /** UPDATE WHERE (Delta row-update, file-level): rewrite ONLY the files
    * containing rows matching `condition`, applying `set` (targetCol →
    * SQL expression over the row's columns, cast to the column's type) to
    * the matching rows and carrying every other row through unchanged;
    * untouched files are inherited by reference. Rows where the condition
    * is NULL are NOT updated (SQL three-valued semantics). Update keys:
    * a no-match update commits a no-op version. With CDF enabled the
    * commit stages update_preimage/update_postimage rows atomically.
    * Concurrent writers fail loudly via the optimistic base check. */
  def updateTable(spark: SparkSession, lh: LakehouseProps, tableName: String,
      condition: String, set: Map[String, String]): TableInfo = {
    import org.apache.spark.sql.functions.{array, coalesce, col, explode, expr,
      lit, when}
    require(set.nonEmpty, "updateTable needs at least one SET column")
    val cond = coalesce(expr(condition), lit(false))
    val tableDir = Catalog.tablePath(lh, tableName)
    val (b, m) = existing(spark, lh, tableName)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(set.keySet.subsetOf(schema.fieldNames.toSet),
      s"UPDATE SET names missing columns: " +
        s"${set.keySet -- schema.fieldNames}")
    // GENERATED ALWAYS AS IDENTITY: ids are engine-assigned, never
    // user-writable — a SET here would silently break uniqueness.
    // (Generated columns need no guard: their paired CHECK rejects an
    // inconsistent post-image at enforceChecks below.)
    identityColsOf(m.meta).filter(set.contains).foreach(c =>
      throw new IllegalArgumentException(
        s"$tableName.$c is GENERATED ALWAYS AS IDENTITY — UPDATE SET " +
          "cannot modify it"))
    // discovery scans only the files the condition may match (see
    // deleteFromTable)
    val candidates = minedSurvivors(spark, m, condition).getOrElse(m.entries)
    val affectedPaths =
      if (candidates.isEmpty) Set.empty[String]
      else scanFiles(spark, Versioned.scanOf(tableDir, m, candidates),
        keepMeta = true)
        .filter(cond)
        .select(col(FpCol).as("__fp")).distinct()
        .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
    val baseP = Paths.get(tableDir)
    val (affected, untouched) = m.entries.partition(e =>
      affectedPaths.contains(baseP.resolve(e.path).toString))
    val parts = partitionSpecOf(m.meta, m.files)
    def applied(df: DataFrame): DataFrame = {
      // row-tracked rewrites carry the materialized id through the SET
      // projection — UPDATE changes a row's content, not its identity
      val keep =
        if (df.columns.contains(PhysRowIdCol)) Seq(col(PhysRowIdCol))
        else Seq.empty
      df.select(schema.fields.map { f =>
        set.get(f.name) match {
          case Some(e) =>
            when(cond, expr(e).cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toSeq ++ keep: _*)
    }
    val affectedScan: Option[DataFrame] =
      if (affected.isEmpty) None
      else if (m.meta.contains(Versioned.RowTrackingKey))
        Some(withRowIds(spark, tableDir, m, affected)
          .withColumnRenamed(RowIdColName, PhysRowIdCol))
      else Some(scanSpec(spark, Versioned.scanOf(tableDir, m, affected)))
    val rewritten = affectedScan.map(applied)
    rewritten.foreach(r =>
      enforceChecks(r, checkConstraintsOf(m.meta), s"$tableName: update"))
    // change feed: both images of each matched row from ONE filtered
    // read of the affected files — every matched row is exploded into
    // its pre- and post-image, so nothing is cached and the sidecar
    // costs O(updated rows) beyond that read
    val changes: Option[DataFrame] =
      if (!cdfEnabled(m.meta)) None
      else affectedScan.map { sc =>
        val post = col("__graft_post")
        sc.filter(cond).drop(PhysRowIdCol)
          .withColumn("__graft_post", explode(array(lit(false), lit(true))))
          .select(sc.columns.filterNot(_ == PhysRowIdCol).map { c =>
            set.get(c) match {
              case Some(e) => when(post, expr(e).cast(schema(c).dataType))
                .otherwise(col(c)).as(c)
              case None => col(c)
            }
          }.toSeq :+ when(post, lit("update_postimage"))
            .otherwise(lit("update_preimage")).as("_change_type"): _*)
      }
    val commit = Versioned.commitFiles(tableDir, m.schemaJson,
      inherit = untouched, expectedBase = Some(b),
      meta = m.meta,
      beforeMarker = cdfSidecar(tableDir)(_ => changes),
      op = "UPDATE",
      stage = t => rewritten.fold(Map.empty[String, String])(r =>
        writeStagedWithStats(toPhysical(r, schema), t, parts,
          bloomColsOf(m))))
    finishCommit(spark, lh, tableName, tableDir, commit,
      schema.fieldNames.toSeq, parts)
  }

  /** Views write path — the reference defines `viewPath` (common.py:392) and
    * reads views via selectView, but nothing in the library ever writes one;
    * we provide the missing producer so the Views/ directory is a real
    * round-trippable surface (materialized-view semantics: a parquet
    * snapshot of the DataFrame, overwritten atomically like writeTable). */
  def writeView(spark: SparkSession, lh: LakehouseProps, viewName: String,
      df: DataFrame): Unit = {
    Versioned.commitFiles(Catalog.viewPath(lh, viewName), df.schema.json,
      op = "WRITE", stage = { target =>
        df.write.mode(SaveMode.Append).parquet(target)
        Map.empty
      })
    ()
  }

  /** common.py:512-517 — the reference's dropTable is doubly bugged (spark
    * self-assignment; Delta row-delete instead of drop). Implement the
    * intent: remove the table directory + forget it. */
  def dropTable(spark: SparkSession, lh: LakehouseProps, tableName: String): Unit = {
    val dir = Paths.get(Catalog.tablePath(lh, tableName))
    if (Files.exists(dir))
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    Catalog.forgetTable(tableName)
  }

  /** common.py:905-908 — (rowCount, colCount) + column list. One count()
    * action; caller should persist first when reusing the DataFrame. */
  def dfShape(df: DataFrame): (Long, Int, Seq[String]) =
    (df.count(), df.columns.length, df.columns.toSeq)

  /** Read a parquet file whose `tsCols` should arrive as session-zone
    * TimestampType regardless of how the fixture encoded them. Tolerates
    * every encoding the test-data generator has emitted across rounds:
    *   - TIMESTAMP(NANOS) — Spark 4 rejects it outright, so read nanos as
    *     long (legacy conf) and truncate to micros. Integer `div` (not `/`):
    *     ns-since-epoch exceeds 2^53, double division would corrupt low bits.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) — resolves as
    *     TIMESTAMP_NTZ; cast to TimestampType (session is pinned UTC, so the
    *     wall-clock values match DuckDB's naive TIMESTAMP exactly).
    *   - TIMESTAMP(MICROS/MILLIS, adjusted) — already TimestampType; pass
    *     through untouched.
    * Branching on the RESOLVED type (not the file footer) keeps this robust
    * to fixture regeneration — the exact drift that broke round 4. */
  def readParquetNanoTs(spark: SparkSession, path: String,
      tsCols: Seq[String] = Seq("ts")): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // nanosAsLong is session-wide; save/restore around the eager schema
    // resolution so other parquet reads keep loud nano-timestamp failures
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val raw = spark.read.parquet(path)
      val fields = raw.schema // force analysis while the conf is set
      tsCols.filter(raw.columns.contains).foldLeft(raw) { (d, c) =>
        fields(c).dataType match {
          case LongType => // nanos-as-long (the original NANOS fixture)
            d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
          case TimestampNTZType =>
            d.withColumn(c, col(c).cast(TimestampType))
          case TimestampType => d
          case other => throw new IllegalStateException(
            s"$path column `$c` resolved as unsupported type $other — " +
            "fixture drift? expected long (nanos), timestamp_ntz, or timestamp")
        }
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
