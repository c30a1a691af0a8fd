package graft.lakehouse

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Multi-table atomic transactions — append to several tables so that a
  * reader sees ALL of the writes or NONE of them, the cross-table
  * guarantee single-table commit logs (Delta's included) do not give.
  * The classic failure it closes: a pipeline appends facts then appends
  * the matching dimension delta, crashes in between, and every join
  * downstream silently drops rows until someone notices.
  *
  * Design (Percolator's decided-outcome scheme, Peng & Dabek, OSDI 2010,
  * adapted to the manifest protocol in [[Versioned]]):
  *
  *   - [[Txn.write]] commits through the NORMAL single-table protocol —
  *     manifest claim, staged files, marker — so it inherits conflict
  *     detection, stats collection, and retention unchanged. The only
  *     addition rides in `beforeMarker`: a `_txnref_<v>_<commitId>` file
  *     pointing at this transaction's single OUTCOME file. A version
  *     with a live ref is PENDING: invisible to every reader and never a
  *     write base ([[Versioned.latestVersion]] skips it).
  *   - [[Txn.commit]] creates the outcome file with content `committed`
  *     via exclusive hard-link — one atomic filesystem operation is the
  *     commit point for every table touched, exactly like Percolator's
  *     primary-lock write. [[Txn.abort]] creates it with `aborted`.
  *   - a transaction that dies undecided is STEAL-ABORTED by the first
  *     reader or writer that finds its ref older than
  *     [[Versioned.TxnGraceMs]]; a late [[Txn.commit]] then fails loudly
  *     (the outcome already says aborted) — never half-applies.
  *   - aborted versions stay in the physical chain, invisible; later
  *     commits allocate past them while keeping the last visible version
  *     as their semantic base, and retention sweeps them with their refs.
  *
  * Scale: the transaction adds O(1) metadata per table (one ref file, one
  * outcome file) on top of the ordinary commits — nothing about table
  * size, file count, or row volume enters the protocol. Pending versions
  * block concurrent writers of the SAME tables only (the claim CAS), for
  * at most the transaction's lifetime or the grace window.
  *
  * Identity / generated columns work inside transactions: values assign
  * from the base (last VISIBLE) manifest's watermark and the advanced
  * watermark rides the pending commit's meta, so it publishes or vanishes
  * atomically with the data. An aborted transaction's ids are reissued by
  * the next writer (its version is invisible forever, so no id ever
  * appears twice to a reader), and the claim CAS serializes writers while
  * the decision is pending — watermark races are impossible by
  * construction.
  *
  * v1 restrictions (each refused loudly): one write per table per
  * transaction, and no change-feed tables — feed consumers read
  * version-contiguous sidecars that an invisible-until-decided version
  * would corrupt. Appends only: an overwrite that loses its race to a
  * steal-abort must not have blocked concurrent appends meanwhile. */
object Txn {

  /** An open transaction: its id, the outcome file every ref points at,
    * and the (tableDir, version) pairs written so far. */
  final class Handle private[Txn] (val id: String,
      private[lakehouse] val outcome: Path) {
    private[lakehouse] val writes =
      scala.collection.mutable.LinkedHashMap[String, Long]()
    override def toString: String = s"Txn($id, ${writes.size} writes)"
  }

  /** Open a transaction whose outcome record lives under the workspace's
    * `_txn/` directory (shared by every table in the lakehouse). */
  def begin(lh: LakehouseProps): Handle = {
    val id = java.util.UUID.randomUUID().toString.take(12)
    new Handle(id, Paths.get(lh.root, "_txn", s"$id.outcome"))
  }

  /** Stage an append of `df` to `tableName` inside the transaction. The
    * data and manifest commit NOW (defaults, generated and identity
    * columns filled, CHECK and UNIQUE constraints enforced, per-file stats
    * collected, the declared partitioning kept) but stay invisible until
    * [[commit]]. Throws [[Versioned.ConcurrentWriteException]] if the
    * table advances between base read and claim — including another
    * transaction's pending write — in which case the whole transaction
    * should abort and retry. */
  def write(h: Handle, spark: SparkSession, lh: LakehouseProps,
      tableName: String, df: DataFrame): Unit = {
    val tableDir = Catalog.tablePath(lh, tableName)
    requireWritable(h, tableDir, tableName)
    h.writes += tableDir -> stageOne(h, spark, tableName, tableDir, df)
    // liveness: the grace clock is the ref mtime — re-touch every ref so
    // a long later write cannot age the earlier tables into a steal
    heartbeat(h)
  }

  /** Stage appends to several DISTINCT tables of one transaction
    * concurrently (optimization guide §2.6 — the per-table commits touch
    * disjoint table dirs, so their jobs back-fill each other's
    * stragglers instead of running strictly one after another).
    * Equivalent to calling [[write]] once per pair: same staged commits,
    * same pending refs, registration in INPUT order. On any failure the
    * already-staged writes register normally (they stay invisible until
    * the outcome decides — aborting the transaction discards them, the
    * protocol's usual crash story) and the first failure rethrows. */
  def writeAll(h: Handle, spark: SparkSession, lh: LakehouseProps,
      writes: Seq[(String, DataFrame)]): Unit = {
    val dirs = writes.map { case (t, _) => Catalog.tablePath(lh, t) }
    require(dirs.distinct.size == dirs.size,
      s"transaction ${h.id}: writeAll targets must be distinct tables")
    writes.zip(dirs).foreach { case ((t, _), d) => requireWritable(h, d, t) }
    if (writes.size <= 1) {
      writes.foreach { case (t, df) => write(h, spark, lh, t, df) }
      return
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(3, writes.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try {
        val futs = writes.zip(dirs).map { case ((t, df), d) =>
          Future((d, stageOne(h, spark, t, d, df)))
        }
        futs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      } finally pool.shutdown()
    // registration happens on the caller thread only (the handle's map is
    // not synchronized), in input order
    results.foreach {
      case scala.util.Success((d, v)) => h.writes += d -> v
      case _ => ()
    }
    heartbeat(h)
    results.foreach {
      case scala.util.Failure(e) => throw e
      case _ => ()
    }
  }

  private def requireWritable(h: Handle, tableDir: String,
      tableName: String): Unit = {
    require(!h.writes.contains(tableDir),
      s"transaction ${h.id} already wrote $tableName — one write per " +
        "table per transaction")
    require(txnOutcomeOf(h).isEmpty,
      s"transaction ${h.id} is already decided")
  }

  /** Stage one table's append and return its pending version (does not
    * touch the handle's registration state — callers do). The batch goes
    * through [[TableIO.stageAppend]] like any append: identity / generated
    * / default columns fill from the BASE (last visible) manifest and the
    * advanced watermark rides this commit's meta. Watermark atomicity falls
    * out of the outcome protocol: while the version is pending the claim
    * CAS blocks every other writer of this table, and an ABORTED version's
    * meta is never a write base — the next writer re-reads the last
    * VISIBLE watermark, so ids staged by an aborted transaction are
    * reissued, never leaked. */
  private def stageOne(h: Handle, spark: SparkSession, tableName: String,
      tableDir: String, df: DataFrame): Long = {
    val base = TableIO.adopted(spark, tableDir)
    val schema = base.map { case (_, m) =>
      require(!TableIO.cdfEnabled(m.meta),
        s"$tableName has the change feed enabled — feed consumers read " +
          "version-contiguous sidecars; not supported inside transactions")
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    }
    // a transaction never changes an existing table's schema: after the
    // fill the batch must carry exactly its columns, cast to its types
    def conform(filled: DataFrame): DataFrame = schema.fold(filled) { s =>
      require(filled.columns.toSet == s.fieldNames.toSet,
        s"$tableName: transactional append must match the table's " +
          s"columns exactly (table: ${s.fieldNames.mkString(",")}; " +
          s"batch: ${filled.columns.mkString(",")})")
      filled.select(s.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    }
    TableIO.stageAppend(spark, tableDir, s"$tableName: txn append", df, base,
        conform = conform) { a =>
      Versioned.commitFiles(tableDir, a.schemaJson, inherit = a.inherit,
        expectedBase = Some(a.base),
        // a reader that does not understand txn refs would see PENDING
        // versions as committed — gate it through the features protocol
        meta = Versioned.withFeature(a.meta, "multiTableTxn"),
        beforeMarker = (v, _, cid) => writeRef(tableDir, v, cid, h.outcome),
        op = "TXN APPEND", txn = Some(h.id), stage = a.stage).version
    }
  }

  /** Refresh the transaction's liveness clock (every ref's mtime). Call
    * between writes when a single Spark job may run longer than
    * [[Versioned.TxnGraceMs]]; [[write]] calls it after each commit. */
  def heartbeat(h: Handle): Unit = h.writes.foreach { case (tableDir, v) =>
    val dir = Paths.get(tableDir)
    try Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith(
        s"${Versioned.TxnRefPrefix}${v}_"))
      .foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis())))
    catch { case _: Exception => () } // best-effort; grace is generous
  }

  /** Atomically publish every write of the transaction. One exclusive
    * outcome-file creation decides ALL tables; fails loudly if the
    * transaction was steal-aborted (it exceeded the grace window). */
  def commit(h: Handle): Unit = {
    Versioned.decideTxn(h.outcome, "committed")
    val verdict = Versioned.txnOutcome(h.outcome)
    if (!verdict.contains("committed"))
      throw new Versioned.ConcurrentWriteException(
        s"transaction ${h.id} was aborted before commit " +
          s"(outcome: ${verdict.getOrElse("undecided")}) — it exceeded " +
          "the grace window or was aborted explicitly; no write published")
    // roll-forward cleanup is lazy (readers drop refs on resolution), but
    // do it eagerly for the tables we know about
    h.writes.foreach { case (tableDir, v) =>
      Versioned.txnVisible(tableDir, v); ()
    }
  }

  /** Abort: every write stays permanently invisible. Fails loudly if the
    * transaction already committed — or if the outcome could not be
    * recorded at all (an undecided transaction is still committable; the
    * caller must not believe it dead). */
  def abort(h: Handle): Unit = {
    Versioned.decideTxn(h.outcome, "aborted")
    Versioned.txnOutcome(h.outcome) match {
      case Some("aborted") => ()
      case Some(other) => throw new IllegalStateException(
        s"transaction ${h.id} already $other — cannot abort")
      case None => throw new IllegalStateException(
        s"transaction ${h.id}: could not record the abort outcome at " +
          s"${h.outcome} — the transaction is still undecided and a " +
          "commit would still publish it")
    }
  }

  private def txnOutcomeOf(h: Handle): Option[String] =
    Versioned.txnOutcome(h.outcome)

  /** The ref is written ATOMICALLY (tmp + move) in beforeMarker, so a
    * marker can never land with a half-written ref: the version is born
    * pending or not born at all. */
  private def writeRef(tableDir: String, v: Long, commitId: String,
      outcome: Path): Unit = {
    val dir = Paths.get(tableDir)
    val tmp = dir.resolve(s".txnref.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, outcome.toAbsolutePath.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(s"${Versioned.TxnRefPrefix}${v}_$commitId"),
      StandardCopyOption.ATOMIC_MOVE)
  }
}
