package graft.perfbench

/** Per-layer metrics of a traced run, from the spans of its traced
  * calls and the listener's task counters. Every listed metric is
  * reported on every workload; a layer the workload never calls
  * reads 0.
  */
final class Report(ctx: Ctx) {
  import Report._

  private def p50ms(ops: Seq[Op], pred: Op => Boolean): Double =
    Stats.quantile(ops.filter(pred).map(_.ns / 1e6).sorted, 0.5)

  /** Summed latency of the named stage calls of the pass, in seconds
    * (corpus_dedup).
    */
  private def stageS(ops: Seq[Op], names: Set[String]): Double =
    ops.filter(o => names(o.name)).map(_.ns).sum / 1e9

  def perLayer(allOps: Seq[Op]): Seq[(String, Double, String)] = {
    val ops = allOps.filter(_.traced)
    val spans = ctx.tracer.spans
    val self = Tracer.selfTimes(spans)
    val counters = ctx.tracer.listener.countersBySpan.values
    val engineSpans = spans.filter(_.layer == "engine")
    val moduleSpans = spans.filterNot(_.layer == "engine")
    val nOps = math.max(1, ops.size).toDouble
    // engine busy: per calling span, the time at least one job ran
    val engineBusy = engineSpans.groupBy(_.parent).values.map { js =>
      Tracer.coverage(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue)
    }.sum / 1e9
    val layerRows = Layers.flatMap { l =>
      if (l == "engine") Seq(
        ("engine.calls", engineSpans.size.toDouble, "count"),
        ("engine.busy_s", engineBusy, "s"),
        ("engine.failed", engineSpans.count(_.failed).toDouble, "count"))
      else {
        val ls = moduleSpans.filter(_.layer == l)
        Seq(
          (s"$l.calls", ls.size.toDouble, "count"),
          (s"$l.busy_s", ls.map(s => self(s.id)).sum / 1e9, "s"),
          (s"$l.failed", ops.count(o => o.layer == l && o.failed).toDouble, "count"))
      }
    }
    def sumC(f: EngineCounters => Long) = counters.map(f).sum.toDouble
    val mb = 1048576.0
    // traced against untraced latency of the same call kind, median
    // over kinds; 0 where a run has no untraced calls (corpus_dedup)
    val untraced = allOps.filterNot(_.traced).groupBy(_.name)
    val ratios = ops.groupBy(_.name).toSeq.collect { case (name, t) if untraced.contains(name) =>
      Stats.median(t.map(_.ns.toDouble)) / Stats.median(untraced(name).map(_.ns.toDouble))
    }
    val overhead = if (ratios.isEmpty) 0.0 else 100.0 * (Stats.median(ratios) - 1.0)
    val named: Seq[(String, Double, String)] = Seq(
      ("engine.jobs_per_op", sumC(_.jobs) / nOps, "count"),
      ("engine.tasks_per_op", sumC(_.tasks) / nOps, "count"),
      ("engine.sched_delay_s", sumC(_.schedDelayMs) / 1e3 / nOps, "s"),
      ("engine.shuffle_mb", sumC(_.shuffleBytes) / mb / nOps, "MB"),
      ("engine.spill_mb", sumC(_.spillBytes) / mb / nOps, "MB"),
      ("engine.gc_s", sumC(_.gcMs) / 1e3 / nOps, "s"),
      ("engine.input_mb", sumC(_.inputBytes) / mb / nOps, "MB"),
      ("analytics.dashboard_p50_ms", p50ms(ops, o =>
        o.layer == "analytics" && !o.name.startsWith("chat")), "ms"),
      ("analytics.chatbot_p50_ms", p50ms(ops, _.name.startsWith("chat")), "ms"),
      ("text.search_p50_ms", p50ms(ops, o => Set("tfidf", "bm25", "search")(o.name)), "ms"),
      ("sim.knn_p50_ms", p50ms(ops, _.name == "knn"), "ms"),
      ("forecast.series_p50_ms", p50ms(ops, _.name == "forecast"), "ms"),
      ("text.analyze_s", stageS(ops, Set("langid", "quality")), "s"),
      ("dedup.neardup_index_s", stageS(ops, Set("neardup_index")), "s"),
      ("dedup.simhash_s", stageS(ops, Set("simhash")), "s"),
      ("dedup.ngram_s", stageS(ops, Set("ngram")), "s"),
      ("dedup.clusters_s", stageS(ops, Set("clusters")), "s"),
      ("pipeline.clean_s", stageS(ops, Set("clean", "decontaminate")), "s"),
      ("etl.load_p50_ms", p50ms(ops, _.name == "load"), "ms"),
      ("relational.apply_p50_ms", p50ms(ops, _.name == "apply"), "ms"),
      ("relational.read_p50_ms", p50ms(ops, _.name == "read_current"), "ms"),
      ("trace.overhead_pct", overhead, "%"),
      ("trace.cost_pct", 100.0 * (ctx.tracer.costNs.get + ctx.tracer.listener.costNs.get) /
        math.max(1L, ops.map(_.ns).sum), "%"))
    val guards = GuardMetrics.map { case (n, u) => (n, ctx.layerMetrics.getOrElse(n, 0.0), u) }
    layerRows ++ named ++ guards
  }
}

object Report {
  val Layers: Seq[String] = Seq("etl", "analytics", "text", "dedup", "sim", "forecast",
    "pipeline", "relational", "engine")

  /** Per-layer metrics set by the workloads themselves. */
  val GuardMetrics: Seq[(String, String)] = Seq(
    "dedup.candidate_pairs" -> "count",
    "dedup.verify_yield" -> "ratio",
    "dedup.planted_recall" -> "ratio",
    "relational.write_amp" -> "ratio",
    "relational.store_per_live" -> "ratio",
    "sim.knn_recall_at_k" -> "ratio")
}
