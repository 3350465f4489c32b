package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run, named `<Layer>.<metric>`.
  *
  * `busy_s` is the wall inside the harness's calls into a layer per
  * untraced pass; `errors` counts its failed calls and inconsistent ops
  * (the out-of-process oracle check adds wrong results later).
  * The Spark counters (`task_cpu_s`, `shuffle_mb`, `spill_mb`,
  * `task_skew`, `exchanges`) cover the spans of the traced passes (per
  * pass), plus the one-off set-up builds, the ingest phase and the
  * source-only drain; so does `plan.nlj`, the BroadcastNestedLoopJoin and
  * CartesianProduct nodes of the executed plans. `stream.*` are
  * per-trigger means over the traced passes.
  */
object PerLayer {
  def apply(h: Harness, passes: Seq[Map[String, Any]], startS: Double,
            warmupS: Double): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val untraced = passes.filter(_("traced") == false).map(_("pass").asInstanceOf[Int]).toSet
    val traced = passes.filter(_("traced") == true).map(_("pass").asInstanceOf[Int]).toSet
    val nU = math.max(1, untraced.size).toDouble
    val nT = math.max(1, traced.size).toDouble
    val t = h.tracer

    // weight of a span in the traced sums: 1/nT for a traced pass, 1 for
    // the set-up builds, the ingest phase and the source-only drain
    def weight(s: Span): Double =
      if (!s.traced) 0.0
      else s.phase match {
        case "timed" if traced(s.pass) => 1.0 / nT
        case "setup" => 1.0
        case "ingest" | "extra" => 1.0
        case _ => 0.0
      }
    val counters = t.synchronized(t.counters.toMap)
    val bySpan = t.spans.map(s => s -> weight(s)).filter(_._2 > 0)

    for (layer <- Harness.Layers) {
      val cs = h.calls.filter(_.layer == layer)
      m(s"$layer.busy_s") =
        cs.filter(c => c.phase == "timed" && untraced(c.pass)).map(_.wallNs).sum / 1e9 / nU
      m(s"$layer.errors") = (cs.count(!_.ok) +
        h.ops.count(o => o.layer == layer && !o.consistent)).toDouble
      val mine = bySpan.filter(_._1.layer == layer)
      def sum(f: SpanCounters => Double): Double =
        mine.map { case (s, w) => counters.get(s.id).map(f).getOrElse(0.0) * w }.sum
      m(s"$layer.task_cpu_s") = sum(_.taskCpuNs / 1e9)
      m(s"$layer.shuffle_mb") = sum(_.shuffleBytes / 1e6)
      m(s"$layer.spill_mb") = sum(_.spillBytes / 1e6)
      m(s"$layer.exchanges") = sum(_.exchanges.toDouble)
      val skews = mine.flatMap { case (s, _) => counters.get(s.id).toSeq.flatMap(_.stageSkew) }
      m(s"$layer.task_skew") = if (skews.isEmpty) 0.0 else skews.sum / skews.size
    }
    for (b <- Harness.Builders)
      m(s"$b.build_s") =
        h.calls.filter(c => c.phase == "setup" && c.layer == b).map(_.wallNs).sum / 1e9
    m("GraftSession.start_s") = startS
    m("GraftSession.warmup_s") = warmupS
    m("plan.nlj") = bySpan.map { case (s, w) =>
      counters.get(s.id).map(_.nestedLoopJoins * w).getOrElse(0.0) }.sum

    val spanPhase = t.spans.map(s => s.id -> (s.phase, s.pass)).toMap
    val triggers = t.synchronized(t.progress.toList).filter { case (sid, _) =>
      sid.flatMap(spanPhase.get).exists { case (ph, p) => ph == "timed" && traced(p) }
    }.map(_._2)
    def perTrigger(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (triggers.isEmpty) 0.0 else triggers.map(f).sum / triggers.size
    def dur(k: String)(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    for (k <- Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")) {
      val name = if (k == "queryPlanning") "planning" else k
      m(s"stream.${name}_ms") = perTrigger(dur(k))
    }
    m("stream.state_commit_ms") = perTrigger(_.stateOperators.map(_.commitTimeMs.toDouble).sum)
    m("stream.state_mb") =
      if (triggers.isEmpty) 0.0
      else triggers.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1e6).max
    for (k <- Seq("ThrottledLinesSource.offset_slope_ms_per_kline", "npm-stream.scaling",
        "layout.bytes_per_input_byte"))
      m(k) = h.extra.get(k).map(_.asInstanceOf[Double]).getOrElse(0.0)
    m("layout.ingest_s") = h.extra.get("ingest_s").map(_.asInstanceOf[Double]).getOrElse(0.0)
    val tp = passes.filter(_("traced") == true).map(_("wall_s").asInstanceOf[Double])
    val up = passes.filter(_("traced") == false).map(_("wall_s").asInstanceOf[Double])
    m("trace.overhead") = if (tp.isEmpty || up.isEmpty) 0.0 else Harness.median(tp) / Harness.median(up) - 1.0
    m
  }
}
