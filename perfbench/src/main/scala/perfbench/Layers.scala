package perfbench

/** Per-layer metrics of one traced window, computed from the spans and the
  * jobs the listeners recorded. Layer self time is reported as a share of
  * the window's wall time, so a layer the workload never calls reads 0. */
object Layers {

  /** Layers whose self time is reported; a span's layer is the first
    * component of its name (`TableIO.mergeTable` → `TableIO`). `op` is the
    * benchmark's own code between layer calls, `Spark` the actions that run
    * graft's lazy plans. */
  val SelfTimeLayers = Seq("op", "Spark", "TableIO", "QueryApi", "Joins", "Versioned",
    "Transactions", "TextNorm", "Dedup", "AnnIndex", "Tokenizer", "Packing")

  private val ExtLayers = Set("TextNorm", "Dedup", "AnnIndex", "Tokenizer", "Packing")

  def summarize(windows: Seq[(Double, Double)], cores: Int, ops: Seq[OpRecord],
      gcS: Double, codegenMs: Double, persistedMb: Double): Map[String, Double] = {
    def inside(a: Double, b: Double) = windows.exists { case (lo, hi) => a >= lo && b <= hi + 1 }
    def coveredAll(iv: Seq[(Double, Double)]) =
      windows.map { case (lo, hi) => Trace.covered(iv, lo, hi) }.sum
    val wall = windows.map { case (lo, hi) => hi - lo }.sum
    val jobs = Trace.allJobs.filter(j => j.endMs >= 0 && inside(j.startMs.toDouble, j.endMs.toDouble))
    val iv = jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val multi = jobs.filter(_.tasks > 1).map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val inJobMs = coveredAll(iv)
    val runMs = jobs.map(_.runMs).sum.toDouble
    val spans = Trace.allSpans.filter(s => inside(s.startMs, s.endMs))
    val top = spans.filter(_.parent == 0)
    val self = Trace.selfTimeByLayer(spans)
    val primary = ops.filter(_.primary)
    val primaryMs = primary.map(_.ms).sum
    // share of the primary ops' wall time covered by multi-task jobs,
    // by jobs of any kind, and by ext-layer spans
    def share(f: OpRecord => Double): Double =
      if (primaryMs == 0) 0.0 else primary.map(f).sum / primaryMs
    val extSpans = spans.filter(s => ExtLayers(s.name.takeWhile(_ != '.')))
      .map(s => (s.startMs, s.endMs))
    val opJobs = primary.map(o => Trace.jobsUnder(Trace.subtree(o.span)).size)
    val readOps = ops.filter(o => o.kind != "pipeline" && o.fp.nonEmpty)
    val rowsIn = readOps.map(o => Trace.jobsUnder(Trace.subtree(o.span)).map(_.inputRecords).sum).sum
    val rowsOut = readOps.flatMap(_.fp.headOption.flatMap(Option(_))).map(_.longValue).sum
    val planningMs = Trace.planningEvents.filter { case (s, _) => inside(s, s) }.map(_._2).sum

    Map(
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.input_mb" -> jobs.map(_.inputBytes).sum / 1048576.0,
      "spark.shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1048576.0,
      "spark.slot_util" -> (if (inJobMs == 0) 0.0 else runMs / (inJobMs * cores)),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.single_task_job_frac" ->
        (if (jobs.isEmpty) 0.0 else jobs.count(_.tasks <= 1).toDouble / jobs.size),
      "spark.in_job_s" -> inJobMs / 1000.0,
      "spark.outside_job_s" -> (wall - inJobMs) / 1000.0,
      "spark.planning_ms" -> planningMs,
      "spark.codegen_ms" -> codegenMs,
      "spark.gc_s" -> gcS,
      "spark.persisted_mb_end" -> persistedMb,
      "trace.attributed_frac" -> top.map(_.ms).sum / wall,
      "op.multi_task_job_frac" -> share(o => Trace.covered(multi, o.startMs, o.endMs)),
      "op.outside_or_single_task_frac" -> share(o =>
        o.ms - Trace.covered(multi, o.startMs, o.endMs)),
      "op.ext_frac" -> share(o => Trace.covered(extSpans, o.startMs, o.endMs)),
      "op.jobs_per_op" -> (if (primary.isEmpty) 0.0 else opJobs.sum.toDouble / primary.size),
      "TableIO.rows_scanned_per_row_out" -> (if (rowsOut == 0) 0.0 else rowsIn.toDouble / rowsOut)
    ) ++ SelfTimeLayers.map(l => s"self_share.$l" -> self.getOrElse(l, 0.0) / wall)
  }
}
