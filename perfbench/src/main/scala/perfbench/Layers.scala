package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced passes, each a mean per pass unless it
  * is a ratio. Also completes the span tree: the planning of each write
  * hangs under the execute phase whose `save()` ran it, micro-batches
  * under the construct phase that ran them, Spark jobs under the
  * micro-batch that contains them, else under the phase whose span id
  * they carried, else under the phase that contains their start. */
object Layers {
  import Harness.{Exec, Pass}

  def apply(traced: Seq[Pass], plainPassSecs: Seq[Double], rec: Recorder,
      spans: Spans, cores: Int): Map[String, Double] = {
    val n = traced.size.toDouble
    val execs = traced.flatMap(_.execs)
    val phaseOf: Map[Long, String] = execs.flatMap(_.phases.map {
      case (layer, (id, _, _)) => id -> layer }).toMap
    val phaseSpans: Seq[(String, Long, Long, Long)] = execs.flatMap(
      _.phases.map { case (l, (id, a, b)) => (l, id, a, b) })
    def containing(t: Long, layer: Option[String]) = phaseSpans.find {
      case (l, _, a, b) => layer.forall(_ == l) && a <= t && t <= b }

    // ---- complete the span tree with write planning, micro-batches, jobs
    val plans = execs.flatMap(e => e.phases.get("execute").flatMap {
      case (id, a, b) => rec.plansBetween(a, b).lastOption.map { p =>
        spans.add(Span(spans.nextId(), id, "plan", e.name, p.start, p.end))
        p
      }
    })
    val batches = traced.flatMap(p => rec.batchesBetween(p.start, p.end))
    val batchSpans = batches.map { b =>
      val parent = containing(b.start, Some("construct")).map(_._2)
        .getOrElse(traced.find(p => p.start <= b.start && b.start <= p.end)
          .map(_.id).getOrElse(0L))
      Span(spans.nextId(), parent, "batch", "micro-batch", b.start, b.end)
    }
    batchSpans.foreach(spans.add)
    val jobs = traced.flatMap(p => rec.jobsBetween(p.start, p.end))
    val jobLayer = mutable.HashMap[Int, String]()
    jobs.foreach { j =>
      val tagged = phaseOf.get(j.span).map(l => (l, j.span))
      val byTime = containing(j.start, None).map { case (l, id, _, _) => (l, id) }
      val (layer, phaseId) = tagged.orElse(byTime).getOrElse(("pass", 0L))
      jobLayer(j.id) = layer
      val parent = batchSpans.find(b => b.start <= j.start && j.end <= b.end)
        .map(_.id).getOrElse(phaseId)
      spans.add(Span(spans.nextId(), parent, "job", s"job ${j.id}",
        j.start, j.end))
    }

    // ---- self time per layer: span length minus what its children cover
    val passIds = traced.map(_.id).toSet
    val inTraced = mutable.HashSet[Long]() ++= passIds
    val all = spans.all
    val children = all.groupBy(_.parent)
    def mark(id: Long): Unit = children.getOrElse(id, Nil).foreach { c =>
      inTraced += c.id; mark(c.id) }
    passIds.foreach(mark)
    val selfByLayer = all.filter(s => inTraced(s.id)).groupBy(_.layer).map {
      case (layer, ss) => layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        s.dur - Intervals.covered(kids, s.start, s.end)
      }.sum / 1e9 / n
    }

    // ---- counters
    def of(layer: String) = jobs.filter(j => jobLayer.get(j.id).contains(layer))
    def phaseSecs(layer: String) = execs.flatMap(_.phases.get(layer))
      .map { case (_, a, b) => (b - a) / 1e9 }.sum / n
    val queryNs = execs.map(e => (e.end - e.start).toDouble).sum
    val gapNs = execs.map { e =>
      val ivs = jobs.filter(j => j.start < e.end && j.end > e.start)
        .map(j => (j.start, j.end))
      (e.end - e.start) - Intervals.covered(ivs, e.start, e.end)
    }.sum.toDouble
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    def perPass(x: Double) = x / n
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val scan = jobs.map(_.scanBytes).sum.toDouble
    val out = jobs.map(_.outBytes).sum.toDouble
    val busyS = jobs.map(_.busyMs).sum / 1e3
    val tracedSecs = traced.map(_.secs)
    val planKeys = Seq("analysis", "optimization", "planning")
    // the write plans inside the execute phase; execution is the rest
    val planSecs = perPass(plans.map(p => (p.end - p.start) / 1e9).sum)
    val execSecs = phaseSecs("execute") - planSecs

    val m = mutable.LinkedHashMap[String, Double](
      "construct_s" -> phaseSecs("construct"),
      "construct_jobs" -> perPass(of("construct").size),
      "construct_tasks" -> perPass(of("construct").map(_.tasks).sum),
      "driver_gap_s" -> perPass(gapNs / 1e9),
      "plan_s" -> planSecs)
    planKeys.foreach(k => m(s"plan.${k}_ms") = perPass(plans.flatMap(
      _.phases.get(k)).map { case (a, b) => (b - a) / 1e6 }.sum))
    m ++= Seq(
      "exec_s" -> execSecs,
      "exec_jobs" -> perPass(of("execute").size),
      "exec_stages" -> perPass(of("execute").map(_.stages).sum),
      "exec_tasks" -> perPass(of("execute").map(_.tasks).sum),
      "task_busy_s" -> perPass(busyS),
      "task_cpu_s" -> perPass(jobs.map(_.cpuNs).sum / 1e9),
      "slot_util" -> ratio(busyS, tracedSecs.sum * cores),
      "scan_bytes" -> perPass(scan),
      "shuffle_read_bytes" -> perPass(jobs.map(_.shuffleRead).sum),
      "shuffle_write_bytes" -> perPass(jobs.map(_.shuffleWrite).sum),
      "spill_bytes" -> perPass(jobs.map(_.spill).sum),
      "task_failures" -> perPass(jobs.map(_.taskFailures).sum),
      "stage_retries" -> perPass(jobs.map(_.stageRetries).sum),
      "codegen_compiles" -> perPass(traced.map(_.codegen._1).sum),
      "codegen_compile_ms" -> perPass(traced.map(_.codegen._2).sum),
      "batches" -> perPass(batches.size),
      "batch_input_rows" -> perPass(batches.map(_.inputRows).sum))
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
      "latestOffset", "getBatch").foreach(k => m(s"${k}_ms") = perPass(dur(k)))
    m ++= Seq(
      "sink_share" -> ratio(dur("addBatch"), dur("triggerExecution")),
      "output_bytes" -> perPass(out),
      "write_amp" -> ratio(out, scan),
      "gc_s" -> perPass(traced.map(_.gcMs).sum / 1e3),
      "traced_pass_s" -> Stats.median(tracedSecs),
      "trace_overhead_s" ->
        (Stats.median(tracedSecs) - Stats.median(plainPassSecs)),
      "share.construct" -> ratio(phaseSecs("construct") * n * 1e9, queryNs),
      "share.plan" -> ratio(planSecs * n * 1e9, queryNs),
      "share.execute" -> ratio(execSecs * n * 1e9, queryNs),
      "share.driver_gap" -> ratio(gapNs, queryNs),
      "share.sink_body" -> ratio(dur("addBatch") * 1e6, queryNs))
    Seq("pass", "query", "construct", "plan", "execute", "batch", "job")
      .foreach(l => m(s"self.${l}_s") = selfByLayer.getOrElse(l, 0.0))
    m.toMap
  }
}
