package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.json4s.jackson.JsonMethods

import graft.lakehouse.Session

/** The benchmark's JVM side. Reads `plan.json` from the work directory,
  * sets the workload up once, runs whole plan cycles in a closed loop from one
  * client thread until `--seconds` have passed, checks the outputs and
  * writes `result.json` next to the plan. With `--trace 1` untraced and
  * traced cycles alternate, so the difference between the two is the
  * tracing overhead.
  *
  * Usage: Main --work DIR --seconds S --trace 0|1 --cores N */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(args("work"))
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val plan = JsonMethods.parse(new String(Files.readAllBytes(work.resolve("plan.json")), "UTF-8"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = Session.sparkSession("perfbench", s"local[$cores]", shufflePartitions = 2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, plan, work)
    val workload: Workload = (plan \ "workload").values match {
      case "lakehouse_scan" => new Scan(ctx)
      case "commit_churn" => new Churn(ctx)
      case "corpus_pipeline" => new Corpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val lh = ctx.lakehouse("lh")
    workload.setup(lh)
    // JVM start to the first timed op: session, table build and warm-up
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // Untraced runs measure one window of whole cycles. Traced runs
    // alternate untraced and traced cycles over the same time, so the two
    // halves see the same warm-up and their difference is the tracing
    // overhead; the per-layer metrics cover the traced cycles only.
    val windows = Map("untraced" -> mutable.ArrayBuffer.empty[(Double, Double)],
      "traced" -> mutable.ArrayBuffer.empty[(Double, Double)])
    var cycle = 0
    var gcTraced = 0L
    var codegenTraced = 0.0
    if (!traced) {
      val t0 = Trace.nowMs
      ctx.phase = "untraced"
      while (Trace.nowMs - t0 < seconds * 1000) {
        workload.cycle(cycle)
        cycle += 1
      }
      windows("untraced") += ((t0, Trace.nowMs))
    } else {
      // starts untraced and ends traced, so both halves run as many cycles
      val t1 = Trace.nowMs
      while (Trace.nowMs - t1 < seconds * 1000 || cycle % 2 == 1) {
        val on = cycle % 2 == 1
        ctx.phase = if (on) "traced" else "untraced"
        val (gc0, cg0) = (gcMs, codegenMs)
        if (on) Trace.start(spark)
        val start = Trace.nowMs
        workload.cycle(cycle)
        val end = Trace.nowMs
        if (on) {
          Trace.stop(spark)
          gcTraced += gcMs - gc0
          codegenTraced += codegenMs - cg0
        }
        windows(ctx.phase) += ((start, end))
        cycle += 1
      }
    }
    var layers = Map.empty[String, Double]
    if (traced) {
      val iv = windows("traced").toSeq
      layers = Layers.summarize(iv, cores, ctx.records.filter(_.phase == "traced").toSeq,
        gcTraced / 1000.0, codegenTraced, persistedMb(spark)) ++ workload.layerMetrics()
    }

    val heapMb = retainedHeapMb()
    // host-speed anchor (the same job graft.Bench times): context, not a metric
    val calibS = {
      val t0 = System.nanoTime()
      spark.range(50000000L).selectExpr("bit_xor(xxhash64(id))").head()
      (System.nanoTime() - t0) / 1e9
    }
    val failures = workload.check()
    val extra: Map[String, Any] = workload match {
      case c: Churn => Map("churn_final" -> c.finalState(), "churn_ops_done" -> c.opsDone)
      case p: Corpus =>
        val (tok, fill) = p.packingStats
        layers = if (traced) layers ++ Map("Tokenizer.tokens" -> tok, "Packing.fill_ratio" -> fill) else layers
        Map.empty
      case _ => Map.empty
    }
    if (traced) Json.write(work.resolve("spans.json"), Trace.allSpans)

    Json.write(work.resolve("result.json"), Map(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "write_amp" -> workload.ledger.writeAmp,
      "space_amp" -> workload.ledger.spaceAmp,
      "heap_retained_mb" -> heapMb,
      "windows" -> windows.map { case (k, iv) => k -> iv.map { case (lo, hi) => Seq(lo, hi) } },
      "ops" -> ctx.records.toSeq,
      "failures" -> failures,
      "layers" -> layers,
      "context" -> Map(
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "cores" -> cores,
        "calib_s" -> calibS)
    ) ++ extra)
    spark.stop()
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Cumulative Janino compile time: the histogram keeps a sample, so the
    * total is its mean times its count. */
  private def codegenMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }

  private def persistedMb(spark: org.apache.spark.sql.SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Heap in use after a full collection at run end. */
  private def retainedHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}
