package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

/** Runs one workload: set up several times, warm up, then a closed loop for
  * `--seconds`, then the correctness checks. Prints one JSON line: the
  * end-to-end metrics, or with `--trace 1` the per-layer ones. Exits 1 when
  * a check failed.
  *
  * {{{
  * Main --workload dashboard_read --seed 1 --seconds 15 --trace 0 --work DIR \
  *      --cpus 4 --trace-out FILE
  * }}}
  */
object Main {

  val SetupReps = 3

  /** Spans and how much each reports: 0 wall time only; 1 also driver
    * time, jobs and CPU; 2 also shuffle writes, fetch wait and spill.
    */
  val SpanLevels: Seq[(String, Int)] = Seq(
    "engine.catalog_register" -> 1, "engine.translate" -> 0, "engine.analyze" -> 1,
    "engine.plan" -> 1, "engine.execute" -> 2,
    "functions.dict_register" -> 1,
    "text.clean" -> 2,
    "mv.prebuild" -> 1, "mv.process_batch" -> 2, "mv.replay" -> 1, "mv.compact" -> 2,
    "mv.fresh_read" -> 1, "mv.expire" -> 0,
    "dedup.index_prebuild" -> 1, "dedup.dedup_and_append" -> 2, "dedup.near_dups" -> 1,
    "dedup.components" -> 2, "dedup.fresh_read" -> 1,
    "operators.sessionize" -> 1)

  /** Per-layer figures the workloads compute themselves, with their units. */
  val WorkloadLayerMetrics: Seq[(String, String)] = Seq(
    "functions.dictget_ns_per_row" -> "ns/row", "functions.bitmap_state_ns_per_row" -> "ns/row",
    "functions.uniq_exact_ns_per_row" -> "ns/row", "functions.minhash_ns_per_row" -> "ns/row",
    "text.tokens_ns_per_row" -> "ns/row", "text.quality_ns_per_row" -> "ns/row",
    "text.langid_ns_per_row" -> "ns/row", "text.pass_ratio" -> "ratio",
    "mv.compact_bytes_rewritten" -> "bytes", "mv.files_per_partition" -> "count",
    "mv.files_written_per_batch" -> "count", "mv.state_rows_per_input_row" -> "ratio",
    "dedup.shuffle_records_per_doc" -> "count", "dedup.kept_ratio" -> "ratio",
    "dedup.index_files" -> "count")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Harness.session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark)
    val wl: Workload = name match {
      case "dashboard_read" => new DashboardRead(spark, seed, tracer, cpus)
      case "mv_ingest" => new MvIngest(spark, seed, tracer)
      case "corpus_dedup" => new CorpusDedup(spark, seed, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    if (trace) tracer.start()

    tracer.active = trace
    tracer.op = -1
    val setupS = (0 until SetupReps).map(r => Harness.timedMs(wl.setup(s"$work/setup$r"))._2 / 1000)
    tracer.active = false

    var i = 0
    val (_, warmMs) = Harness.timedMs(while (i < wl.warmupOps) { wl.op(i); i += 1 })

    // the timed loop, whole rounds of the mix; in the traced run each kind
    // of operation alternates traced and untraced, starting traced
    val outs = ArrayBuffer.empty[(Outcome, Boolean)]
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9 || (i - wl.warmupOps) % wl.cycle != 0) {
      val k = wl.kind(i)
      val traced = trace && seen(k) % 2 == 0
      seen(k) += 1
      tracer.active = traced
      tracer.op = i
      attempted += 1
      try {
        val o = wl.op(i)
        outs += (o -> traced)
        if (!o.checked) { failed += 1; System.err.println(s"perfbench: op $i (${o.kind}) gave a wrong result") }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"perfbench: op $i failed: $e")
      }
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    tracer.active = false

    val (problems, finishMs) = Harness.timedMs {
      try wl.finish()
      catch { case e: Exception => Seq(s"end-of-run check failed to run: $e") }
    }
    System.err.println(f"perfbench: session $sessionS%.1f s, setups ${setupS.map(s => f"$s%.1f").mkString("/")} s, " +
      f"warm-up ${warmMs / 1000}%.1f s, loop $loopS%.1f s (${outs.size} ops), checks ${finishMs / 1000}%.1f s")
    problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))
    attempted += problems.size
    failed += problems.size

    val metrics =
      if (!trace) {
        val ms = outs.map(_._1.ms).toSeq
        Seq(
          "setup_s" -> Metric(sessionS + Harness.median(setupS), "s"),
          "op_p50_ms" -> Metric(Harness.median(ms), "ms"),
          "ops_per_s" -> Metric(outs.size / loopS, "1/s"),
          "rows_per_s" -> Metric(outs.map(_._1.rows).sum / loopS, "rows/s"),
          "stored_bytes_per_input_byte" ->
            Metric(wl.storedBytes.toDouble / math.max(1L, wl.inputBytes), "ratio"),
          "heap_retained_mb" -> Metric(retainedHeapMb(), "MB"))
      } else {
        tracer.dump(a.getOrElse("trace-out", s"$work/trace.jsonl"))
        layerMetrics(tracer, wl, outs.toSeq)
      }
    spark.stop()

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = metrics.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.exit(if (failed == 0) 0 else 1)
  }

  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  private def layerMetrics(t: Tracer, wl: Workload,
      outs: Seq[(Outcome, Boolean)]): Seq[(String, Metric)] = {
    val p50 = Harness.median _
    val spans = SpanLevels.flatMap { case (name, level) =>
      val ss = t.named(name)
      def m(suffix: String, unit: String, f: Span => Double) = s"$name.$suffix" -> Metric(p50(ss.map(f)), unit)
      Seq(m("ms", "ms", _.ms)) ++
        (if (level >= 1) Seq(m("driver_ms", "ms", _.driverMs), m("jobs", "count", _.stats.jobs.toDouble),
          m("cpu_ms", "ms", _.stats.cpuNs / 1e6)) else Nil) ++
        (if (level >= 2) Seq(m("shuffle_write_bytes", "bytes", _.stats.shuffleWriteBytes.toDouble),
          m("shuffle_fetch_wait_ms", "ms", _.stats.fetchWaitMs.toDouble),
          m("spill_bytes", "bytes", _.stats.spillBytes.toDouble)) else Nil)
    }
    val templates = DashboardRead.Templates.map { tpl =>
      s"engine.tpl.$tpl.ms" -> Metric(p50(t.named(s"engine.tpl.$tpl").map(_.ms)), "ms")
    }
    val opSelf = "engine.query_self_ms" ->
      Metric(p50(t.spans.filter(s => s.parent < 0 && s.name.startsWith("engine.tpl.")).map(_.selfMs).toSeq), "ms")
    // plan-shape counts per traced op: every executed plan of the op
    val perOp = t.spans.filter(_.op >= 0).groupBy(_.op).values.toSeq
    def planCount(f: SpanStats => Int) = p50(perOp.map(_.map(s => f(s.stats)).sum.toDouble))
    val shape = Seq(
      "engine.exchanges" -> Metric(planCount(_.exchanges), "count"),
      "engine.codegen_stages" -> Metric(planCount(_.codegenStages), "count"),
      "functions.fallback_exprs" -> Metric(planCount(_.fallbackExprs), "count"))
    val own = wl.layerMetrics(t)
    val ownAll = WorkloadLayerMetrics.map { case (k, unit) => k -> own.getOrElse(k, Metric(0, unit)) }
    val tracedMs = outs.collect { case (o, true) => o.ms }
    val plainMs = outs.collect { case (o, false) => o.ms }
    val overhead = p50(tracedMs) - p50(plainMs)
    val tr = Seq(
      "trace.overhead_ms" -> Metric(overhead, "ms"),
      "trace.overhead_share" -> Metric(overhead / p50(plainMs), "ratio"),
      "trace.spans" -> Metric(t.spans.size.toDouble, "count"))
    spans ++ templates ++ Seq(opSelf) ++ shape ++ ownAll ++ tr
  }
}
