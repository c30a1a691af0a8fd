package graft.lakehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate materialized views over versioned
  * tables: a grouped count/sum/min/max snapshot whose refresh cost is
  * O(rows changed since the last refresh) — except the min/max rescan
  * fallback below, which is the one case that legitimately rereads
  * source data.
  *
  * The view is itself a versioned table. Its commit metadata records which
  * source table (and which source VERSION) it reflects; `refreshAggView`
  * reads the source's row-level change feed strictly between that version
  * and the refresh's pinned target version, folds the changes into signed
  * per-group deltas (insert/update_postimage = +1, delete/update_preimage
  * = -1 — the standard delta-propagation rule for distributive
  * aggregates), and applies them through the file-level
  * [[TableIO.replaceKeyedRows]] primitive: only view files containing
  * changed groups rewrite, new groups append, and groups whose row count
  * reaches zero are deleted.
  *
  * Count and sum are self-maintainable under inserts AND deletes. Min/max
  * are not (the classic restriction from the view-maintenance
  * literature): inserts fold in cheaply (least/greatest), but a delete
  * that removes a stored extremum invalidates it — those groups, and ONLY
  * those groups, are recomputed from the pinned source version during the
  * refresh (the standard rescan fallback; everything else stays
  * O(changes)).
  *
  * At 100 TB: a daily refresh over a fact table touching 0.1% of rows
  * reads 0.1% of the data (the change feed), shuffles only the delta
  * groups, and rewrites only the view files containing them — unless a
  * delete removed a stored min/max, in which case the affected groups'
  * recompute semi-joins the source (worst case a full-table read; prune
  * it by partitioning the source on a group column). Exact
  * sums want DECIMAL source columns (decimal addition is associative;
  * float addition order would drift between snapshot and incremental
  * paths).
  */
object MatView {

  private val SourceKey = "mv.source"
  private val VersionKey = "mv.sourceVersion"
  private val GroupKey = "mv.groupCols"
  private val SumKey = "mv.sumCols"
  private val MinKey = "mv.minCols"
  private val MaxKey = "mv.maxCols"
  val CountCol = "mv_count"
  def sumColName(c: String): String = s"sum_$c"
  def minColName(c: String): String = s"min_$c"
  def maxColName(c: String): String = s"max_$c"
  /** Non-null count maintenance column for a summed source column. */
  def nnColName(c: String): String = s"__nn_$c"

  /** Materialize `SELECT groupCols, count(*), sum(sumCols...) FROM source
    * GROUP BY groupCols` as the versioned table `viewName`, recording the
    * source version the snapshot reflects. The source must already have
    * its change feed enabled (checked — a view created before CDF exists
    * could never be incrementally refreshed past a rewrite commit).
    *
    * Alongside each sum the view carries a `__nn_<col>` non-null count:
    * SQL `sum` is NULL over an all-null group, and without the non-null
    * count an incremental path could not tell "sums to zero" from "no
    * non-null values remain" after deletes.
    *
    * The snapshot scans the PINNED version `v` (not "latest"), so a
    * commit racing view creation is neither half-included nor replayed
    * twice by the first refresh. */
  def createAggView(spark: SparkSession, lh: LakehouseProps,
      viewName: String, sourceTable: String, groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String] = Seq.empty,
      maxCols: Seq[String] = Seq.empty): TableInfo = {
    require(groupCols.nonEmpty, "createAggView needs at least one group column")
    val srcDir = Catalog.tablePath(lh, sourceTable)
    val v = Versioned.latestVersion(srcDir).getOrElse(throw
      new IllegalStateException(s"$sourceTable: no committed version to snapshot"))
    val meta = Versioned.readManifest(srcDir, v).map(_.meta).getOrElse(Map.empty)
    require(TableIO.cdfEnabled(meta),
      s"$sourceTable: enable the change feed before creating a " +
        "materialized view over it (refresh folds the row-level feed)")
    val src = TableIO.selectTableVersion(spark, lh, sourceTable, v)
    val aggs = snapshotAggs(sumCols, minCols, maxCols)
    val mv = src.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    TableIO.writeTable(spark, lh, viewName, mv, extraMeta = Map(
      SourceKey -> sourceTable, VersionKey -> v.toString,
      GroupKey -> groupCols.mkString(","), SumKey -> sumCols.mkString(","),
      MinKey -> minCols.mkString(","), MaxKey -> maxCols.mkString(",")))
  }

  /** The full per-group aggregate row — shared by the creation snapshot
    * and the refresh's rescan path so the two can never drift. */
  private def snapshotAggs(sumCols: Seq[String], minCols: Seq[String],
      maxCols: Seq[String]): Seq[Column] =
    count(lit(1)).as(CountCol) +:
      (sumCols.flatMap(c => Seq(sum(col(c)).as(sumColName(c)),
        count(col(c)).as(nnColName(c)))) ++
        minCols.map(c => min(col(c)).as(minColName(c))) ++
        maxCols.map(c => max(col(c)).as(maxColName(c))))

  /** Fold the source's changes since the view's recorded version into the
    * view. Reads ONLY the change feed (bounded to the target version
    * pinned up front, so a concurrent source commit mid-refresh is neither
    * half-applied nor double-counted on the next refresh) and rewrites
    * ONLY the view files containing changed groups. A refresh with no
    * data changes still advances the recorded source version
    * (metadata-only commit). Returns the view's new TableInfo. */
  def refreshAggView(spark: SparkSession, lh: LakehouseProps,
      viewName: String): TableInfo = {
    val mvDir = Catalog.tablePath(lh, viewName)
    val mver = Versioned.latestVersion(mvDir).getOrElse(throw
      new IllegalStateException(s"$viewName: not a materialized view (no version)"))
    val m = Versioned.readManifest(mvDir, mver).getOrElse(throw
      new IllegalStateException(s"$viewName: manifest for $mver unavailable"))
    val source = m.meta.getOrElse(SourceKey, throw new IllegalStateException(
      s"$viewName: not a materialized view (no $SourceKey metadata)"))
    val lastV = m.meta(VersionKey).toLong
    val groupCols = m.meta(GroupKey).split(",").toSeq
    val sumCols =
      m.meta.getOrElse(SumKey, "").split(",").filter(_.nonEmpty).toSeq
    val minCols =
      m.meta.getOrElse(MinKey, "").split(",").filter(_.nonEmpty).toSeq
    val maxCols =
      m.meta.getOrElse(MaxKey, "").split(",").filter(_.nonEmpty).toSeq
    val srcDir = Catalog.tablePath(lh, source)
    val targetV = Versioned.latestVersion(srcDir).getOrElse(throw
      new IllegalStateException(s"$source: source table has no versions"))
    if (targetV == lastV) // already current: no commit, metadata answer
      return TableIO.tableInfoOf(lh, mvDir, m)
    val mvDf = TableIO.selectTable(spark, lh, viewName)
    val feed = TableIO.changeFeedAtPath(spark, srcDir, lastV, Some(targetV))
    // signed delta propagation: post-images and inserts add, pre-images
    // and deletes subtract; null measure values contribute nothing to the
    // sum (matching sum's null-skipping) but still count rows — and the
    // per-column non-null delta is what distinguishes "sums to zero"
    // from "no non-null values left" below
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val deltaAggs = sum(sign).as("__d_count") +:
      (sumCols.flatMap(c => Seq(sum(col(c) * sign).as(s"__d_$c"),
        coalesce(sum(when(col(c).isNotNull, sign)), lit(0L)).as(s"__dnn_$c"))) ++
        // min/max deltas: the inserted-side extremum folds in cheaply
        // (least/greatest); the removed-side extremum only matters as the
        // RESCAN trigger below (a removed row that held the group's
        // stored extremum invalidates it — min/max are not
        // self-maintainable under deletes)
        minCols.flatMap(c => Seq(
          min(when(sign > 0, col(c))).as(s"__imin_$c"),
          min(when(sign < 0, col(c))).as(s"__rmin_$c"))) ++
        maxCols.flatMap(c => Seq(
          max(when(sign > 0, col(c))).as(s"__imax_$c"),
          max(when(sign < 0, col(c))).as(s"__rmax_$c"))))
    val deltas = feed.groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // current view rows for changed groups only — O(changed groups),
      // fetched with the same NULL-SAFE semi-join shape replaceKeyedRows
      // prunes by (a NULL group key is a real group; `=` would strand it)
      val deltaKeys = deltas.select(groupCols.map(col): _*).alias("__dk")
      def onGroups(left: DataFrame, rightAlias: String): Column =
        groupCols.map(c => left(c) <=> col(s"$rightAlias.$c")).reduce(_ && _)
      val affectedOld = mvDf.join(deltaKeys, onGroups(mvDf, "__dk"),
        "left_semi").alias("__old")
      // (old, delta) → new: both present = old+delta; group new to the
      // view = delta alone; delta sum null (all-null measures) = old
      // alone. Group columns come from the DELTA side (always present).
      // Persisted: this join feeds up to four actions (the rescan-trigger
      // probe, the replacement rows, the rescan keys, and the staged
      // write of the replacement) — without the persist each one re-runs
      // the view scan + both joins. O(changed groups) rows.
      val dA = deltas.alias("__d")
      val joined = dA.join(affectedOld, onGroups(dA, "__old"), "left_outer")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // every consumer of the persisted join — including the rescan
      // trigger probe, which runs an action and can throw — sits inside
      // the unpersist guard
      try {
      // a removed row that (possibly) held the group's extremum
      // invalidates the incremental min/max — those groups RESCAN from
      // the pinned source version (O(affected groups' data), the
      // standard fallback for non-self-maintainable aggregates). The
      // removed extremum must be compared against the CANDIDATE extremum
      // (stored ∪ inserted), not the stored one alone: a single window
      // can insert a new extremum at v+1 and delete that same row at
      // v+2, and every removed value is ≤ the candidate by construction
      // (it existed either in the snapshot or among the window's
      // inserts), so `removed == candidate` is exactly "the extremum may
      // be gone". Every conjunct is null-guarded so the condition is a
      // concrete boolean: a three-valued NULL here would silently drop
      // the group from BOTH branches.
      def candMin(c: String): Column =
        least(col(minColName(c)), col(s"__imin_$c"))
      def candMax(c: String): Column =
        greatest(col(maxColName(c)), col(s"__imax_$c"))
      val rescanCond = (minCols.map(c =>
        col(s"__rmin_$c").isNotNull && candMin(c).isNotNull &&
          col(s"__rmin_$c") === candMin(c)) ++
        maxCols.map(c =>
          col(s"__rmax_$c").isNotNull && candMax(c).isNotNull &&
            col(s"__rmax_$c") === candMax(c)))
        .foldLeft(lit(false))(_ || _)
      val replaced = joined.filter(!rescanCond)
        .select(groupCols.map(c => col(s"__d.$c")) ++
          Seq(coalesce(col(CountCol) + col("__d_count"), col("__d_count"))
            .as(CountCol)) ++
          sumCols.flatMap { c =>
            val s = sumColName(c); val nn = nnColName(c)
            val newNn = coalesce(col(nn) + col(s"__dnn_$c"), col(s"__dnn_$c"))
            // a group with zero non-null values sums to NULL (SQL sum),
            // not 0 — exactly what a full recompute would produce
            Seq(when(newNn === 0L, lit(null))
              .otherwise(coalesce(col(s) + col(s"__d_$c"), col(s),
                col(s"__d_$c"))).as(s),
              newNn.as(nn))
          } ++
          // least/greatest skip nulls: a new group takes the inserted
          // extremum, an unchanged one keeps the stored value
          minCols.map(c => candMin(c).as(minColName(c))) ++
          maxCols.map(c => candMax(c).as(maxColName(c))): _*)
        .filter(col(CountCol) > 0)
      // the rescan branch only materializes when some group actually
      // needs it (one cheap limit-1 action against the small persisted
      // delta join): a refresh with intact extrema — every insert-only
      // refresh, and every sum-only view — never builds the source scan
      // at all. When it DOES fire, the semi-join reads the source at the
      // pinned version: O(table) I/O in the worst case, the honest price
      // of recomputing a non-self-maintainable aggregate (partition-
      // pruned when the source is partitioned by a group column).
      val withRescans = {
        lazy val keys = joined.filter(rescanCond)
          .select(groupCols.map(c => col(s"__d.$c").as(c)): _*)
        if ((minCols.isEmpty && maxCols.isEmpty) || keys.isEmpty) replaced
        else {
          val srcNow = TableIO.selectTableVersion(spark, lh, source, targetV)
          val kA = keys.alias("__rs")
          val hit = srcNow.join(kA, groupCols.map(c =>
            srcNow(c) <=> col(s"__rs.$c")).reduce(_ && _), "left_semi")
          val rescanAggs = snapshotAggs(sumCols, minCols, maxCols)
          val recomputed = hit.groupBy(groupCols.map(col): _*)
            .agg(rescanAggs.head, rescanAggs.tail: _*)
          replaced.unionByName(recomputed)
        }
      }
      // pin replacement columns to the view's existing types: delta
      // arithmetic widens decimals, and letting the union widen the view
      // schema on every refresh would drift it without bound
      val aligned = withRescans.select(mvDf.schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      TableIO.replaceKeyedRows(spark, lh, viewName,
        deltas.select(groupCols.map(col): _*), aligned, groupCols,
        extraMeta = Map(VersionKey -> targetV.toString))
      } finally joined.unpersist()
    } finally deltas.unpersist()
  }

  /** CONTINUOUS view maintenance: follow the source table's commit log as
    * a Structured Streaming query and fold each batch of commits into the
    * view with [[refreshAggView]]. The stream is only the TRIGGER — the
    * batch DataFrame is never acted on (no data is read through the
    * stream); the refresh reads the row-level change feed from the view's
    * own recorded source version to the source's current version. That
    * bookkeeping IS the exactly-once story: a replayed or coalesced
    * micro-batch finds the view already at the target version and commits
    * nothing, so no sink-side transaction log is needed. Crash anywhere,
    * restart with the same checkpoint (or none): the view's metadata says
    * where to resume. `maxVersionsPerTrigger` paces a busy source;
    * rewrite commits (merge/delete/compaction) are fine because the
    * trigger ignores file arithmetic entirely. */
  def maintainAggView(spark: SparkSession, lh: LakehouseProps,
      viewName: String, checkpoint: Option[String] = None,
      maxVersionsPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val mvDir = Catalog.tablePath(lh, viewName)
    val source = Versioned.latestVersion(mvDir)
      .flatMap(Versioned.readManifest(mvDir, _))
      .flatMap(_.meta.get(SourceKey)).getOrElse(throw
        new IllegalStateException(
          s"$viewName: not a materialized view (no $SourceKey metadata)"))
    val ticks = TableIO.streamTable(spark, lh, source,
      ignoreRewrites = true, changeFeed = false, maxVersionsPerTrigger)
    val w = ticks.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch {
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          refreshAggView(spark, lh, viewName)
          ()
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }
}
