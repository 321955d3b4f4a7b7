package graft.perfbench

import PerfBench._

/** Turns a run's samples into the printed metric lines and the result
  * JSON: end-to-end metrics on untraced runs, per-layer metrics on
  * traced ones.
  */
object Report {

  val Layers: Seq[String] = Seq("graft.session", "sources", "textanalysis", "dedup", "encoder",
    "indexbuilder", "ann.build", "ann.publish", "ann.insert", "ann.walk_driver", "ann.walk_dist",
    "functions")
  val LayerStats: Seq[(String, String)] = Seq("busy_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "gap_ms" -> "ms", "wait_ms" -> "ms", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "rows_out" -> "count")
  val Ratios: Seq[(String, String)] = Seq("encoder.fill" -> "ratio", "encoder.model_share" -> "ratio",
    "textanalysis.kept_frac" -> "ratio", "dedup.kept_frac" -> "ratio") ++
    Seq("fvec_dot", "fvec_avg", "minhash_sigs", "word_ngrams").flatMap(k =>
      Seq(s"functions.$k.rows_per_s" -> "1/s", s"functions.$k.vs_scala" -> "ratio")) ++
    Seq("trace.overhead_ms" -> "ms")

  private def line(name: String, v: Double, unit: String, rest: String = ""): Unit =
    println(f"metric $name%-28s $v%14.4f $unit%-6s $rest")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def build(workload: String, res: Result, lc: Lifecycle, tr: Tracer, traced: Boolean,
            kernels: Map[String, Double]): String = {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val n = res.attempted
    val setupS = median(res.setups.toSeq)
    // an op type without a successful sample leaves the round undefined:
    // NaN fails metrics_complete rather than reading as a faster round
    val unsampled = res.ops.filterNot(op => res.lat.get(op).exists(_.nonEmpty))
    res.check("every_op_sampled", unsampled.isEmpty, s"no successful ${unsampled.mkString(", ")}")
    val roundMs = if (unsampled.nonEmpty) Double.NaN else res.ops.map(op => median(res.lat(op).toSeq)).sum
    val itemsPerS = if (res.wallMs > 0 && res.items > 0) res.items / (res.wallMs / 1000) else Double.NaN

    // every metric the workload defines, with unit, sample count and tail
    line("setup_s", setupS, "s", s"n=${res.setups.size} samples=${res.setups.map(x => f"$x%.2f").mkString(",")}")
    for ((op, xs) <- res.lat) {
      val name = workload match {
        case "ingest" => s"${op}_s"
        case _ => s"${op}_p50_ms"
      }
      val scale = if (workload == "ingest") 1000.0 else 1.0
      line(name, median(xs.toSeq) / scale, if (workload == "ingest") "s" else "ms", s"n=${xs.size}")
      if (workload == "serve") tailPct(xs.size) match {
        case Some(p) => line(s"${op}_tail_ms", pct(xs.toSeq, p), "ms", s"p$p n=${xs.size}")
        case None => line(s"${op}_tail_ms", xs.max, "ms", s"max n=${xs.size} (fewer than 11 samples)")
      }
    }
    line("index_mb", res.indexMb, "MB",
      if (workload == "ingest") "MAIN+CHUNKS+layered adjacency" else "flat+layered generations")
    if (workload != "ingest") {
      line("qps", itemsPerS, "1/s", f"queries=${res.items} wall_ms=${res.wallMs}%.1f")
      line("recall_at_4", if (res.recall.isEmpty) 0.0 else res.recall.sum / res.recall.size, "ratio",
        s"n=${res.recall.size}")
    }
    line("cached_mb", res.cachedMb, "MB", "cached + checkpointed data")
    line("fail_frac", if (n == 0) 0.0 else res.failed.toDouble / n, "ratio", s"n=$n")
    println(s"digest ${sha(res.digests.toSeq.sorted.mkString(";"))} ops=${res.digests.size}")

    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("round_ms") = (roundMs, "ms")
      metrics("items_per_s") = (itemsPerS, "1/s")
    } else {
      val stats = Layers.map(l => l -> tr.layerStats(l)).toMap
      for (l <- Layers; (s, u) <- LayerStats) metrics(s"$l.$s") = (stats(l)(s), u)
      val encBusyNs = stats("encoder")("busy_ms") * 1e6 * tr.spans.count(_.name == "encoder")
      val calls = lc.tracedEncCalls.toDouble
      val ratios = Map(
        "encoder.fill" -> (if (calls == 0) 0.0 else lc.tracedEncTexts / calls / lc.BatchSize),
        "encoder.model_share" -> (if (encBusyNs == 0) 0.0 else lc.tracedEncNanos / encBusyNs)) ++
        res.extra ++ kernels
      for ((r, u) <- Ratios) metrics(r) = (ratios.getOrElse(r, 0.0), u)
    }
    for ((k, (v, u)) <- metrics if traced) line(k, v, u)

    val complete = metrics.values.forall { case (v, _) => !v.isNaN && !v.isInfinite }
    res.check("metrics_complete", complete)
    res.check("ops_attempted", n > 0)
    for ((k, ok) <- res.checks) println(s"check $k ${if (ok) "pass" else "FAIL"}")
    val correct = res.checks.values.forall(identity)
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(n, 1)}, "failed": ${res.failed}, "metrics": {$body}}"""
  }
}
