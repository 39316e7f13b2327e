package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run, per timed op unless the name says
  * otherwise (`*_share`, `*_per_*`, `host.*`, `similarity.recall_at_10`).
  * A layer the workload does not reach reads 0. */
object Layers {

  /** Every per-layer metric, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms",
    "jvm.codegen_classes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.sched_delay_ms" -> "ms",
    "spark.driver_ms" -> "ms", "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.busy_share" -> "ratio",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.action_ms" -> "ms",
    "sources.bytes_read" -> "bytes", "sources.rows_read" -> "count",
    "sources.infer_ms" -> "ms",
    "sources.rows_read_per_row_returned" -> "ratio",
    "jobs.collect_ms" -> "ms", "jobs.landed_per_parsed" -> "ratio",
    "sinks.write_ms" -> "ms", "sinks.commit_ms" -> "ms",
    "sinks.rows_written" -> "count", "sinks.bytes_written" -> "bytes",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.fixed_ms" -> "ms",
    "streaming.start_ms" -> "ms",
    "plans.guard_ms" -> "ms", "auth.decide_us" -> "us",
    "operators.build_ms" -> "ms", "plans.refused_share" -> "ratio",
    "similarity.search_ms" -> "ms", "dedup.pass_ms" -> "ms",
    "dedup.pairs" -> "count", "similarity.recall_at_10" -> "ratio",
    "host.load_1m_start" -> "load", "host.load_1m_end" -> "load",
    "host.cpu_per_wall" -> "ratio", "host.steal_share" -> "ratio")

  /** Harness spans whose summed duration per op is a layer metric. */
  private val SpanMetrics = Seq(
    "jobs.collect" -> "jobs.collect_ms", "plans.guard" -> "plans.guard_ms",
    "operators.build" -> "operators.build_ms",
    "similarity.search" -> "similarity.search_ms",
    "dedup.pass" -> "dedup.pass_ms")

  private val TriggerPhases = Seq(
    "latestOffset" -> "streaming.latest_offset_ms",
    "getBatch" -> "streaming.get_batch_ms",
    "queryPlanning" -> "streaming.query_planning_ms",
    "addBatch" -> "streaming.add_batch_ms",
    "walCommit" -> "streaming.wal_commit_ms",
    "commitOffsets" -> "streaming.commit_offsets_ms")

  /** Total time covered by a set of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def compute(trace: Trace, timed: Timed, s0: Probes.Sample,
      s1: Probes.Sample, nproc: Int): Map[String, Double] = {
    val recs = timed.loop.records
    val n = math.max(1, recs.size).toDouble
    val ids = recs.map(_.id).toSet
    val jobs = trace.jobs.values.asScala.toSeq
      .flatMap(j => timed.opOfJob(j).filter(ids).map(_ -> j))
    val js = jobs.map(_._2)
    def perOp(xs: Iterable[Double]): Double = xs.sum / n
    val wallMs = timed.loop.wallS * 1e3

    // wall time of each op not covered by any of its running jobs
    val jobsByOp = jobs.groupBy(_._1)
    val inJobs = recs.map { r =>
      val (lo, hi) = (trace.wallMs(r.startNs), trace.wallMs(r.endNs))
      val iv = jobsByOp.getOrElse(r.id, Nil).map(_._2)
        .map(j => (j.startMs.toDouble,
          if (j.endMs < 0) hi else j.endMs.toDouble))
      (hi - lo, covered(iv, lo, hi))
    }

    val windows = recs.map(r => (trace.wallMs(r.startNs), trace.wallMs(r.endNs)))
    val writes = trace.execs.asScala.toSeq.filter(e => e.write &&
      trace.execEndMs(e).exists(t =>
        windows.exists { case (a, b) => a <= t && t <= b }))

    val spans = trace.spans.asScala.toSeq.filter(s => ids(s.op))
    val spanSum = spans.groupBy(_.name).view.mapValues(_.map(_.ms).sum).toMap

    val trig = timed.triggers
    val rowsIn = recs.map(_.rowsIn).sum.toDouble
    val rowsOut = recs.map(_.rowsOut).sum.toDouble
    val rowsRead = js.map(_.rowsRead).sum.toDouble
    val c = timed.counters
    val wallS = (s1.ns - s0.ns) / 1e9

    val m = Map[String, Double](
      "jvm.gc_ms" -> (s1.gcMs - s0.gcMs) / n,
      "jvm.jit_ms" -> (s1.jitMs - s0.jitMs) / n,
      "jvm.codegen_classes" -> (s1.codegen - s0.codegen) / n,
      "spark.jobs" -> js.size / n,
      "spark.stages" -> perOp(js.map(_.stages.toDouble)),
      "spark.tasks" -> perOp(js.map(_.tasks.toDouble)),
      "spark.sched_delay_ms" -> perOp(js.map(_.schedDelayMs.toDouble)),
      "spark.driver_ms" -> perOp(inJobs.map { case (w, cov) => w - cov }),
      "spark.task_run_ms" -> perOp(js.map(_.runMs.toDouble)),
      "spark.task_cpu_ms" -> perOp(js.map(_.cpuNs / 1e6)),
      "spark.busy_share" ->
        js.map(_.runMs).sum / math.max(1.0, wallMs * nproc),
      "spark.shuffle_read_bytes" -> perOp(js.map(_.shuffleRead.toDouble)),
      "spark.shuffle_write_bytes" -> perOp(js.map(_.shuffleWrite.toDouble)),
      "spark.spill_bytes" -> perOp(js.map(_.spill.toDouble)),
      "spark.action_ms" -> perOp(inJobs.map(_._2)),
      "sources.bytes_read" -> perOp(js.map(_.bytesRead.toDouble)),
      "sources.rows_read" -> rowsRead / n,
      "sources.infer_ms" ->
        perOp(js.filter(_.execId < 0).map(_.durMs.toDouble)),
      "sources.rows_read_per_row_returned" ->
        (if (rowsOut > 0) rowsRead / rowsOut else 0.0),
      "jobs.landed_per_parsed" -> (if (rowsIn > 0) rowsOut / rowsIn else 0.0),
      "sinks.write_ms" -> perOp(writes.map(_.ms)),
      "sinks.commit_ms" -> perOp(writes.map(_.commitMs)),
      "sinks.rows_written" -> perOp(js.map(_.rowsWritten.toDouble)),
      "sinks.bytes_written" -> perOp(js.map(_.bytesWritten.toDouble)),
      "streaming.fixed_ms" -> perOp(trig.map(t =>
        (t.ms - t.durations.getOrElse("addBatch", 0L)).toDouble)),
      "streaming.start_ms" -> c.getOrElse("streaming.start_ms", 0.0),
      "auth.decide_us" -> spanSum.getOrElse("auth.decide", 0.0) * 1e3 / n,
      "plans.refused_share" -> c.getOrElse("refused", 0.0) / n,
      "dedup.pairs" -> c.getOrElse("dedup.pairs", 0.0) / n,
      "similarity.recall_at_10" -> c.getOrElse("recall_sum", 0.0) /
        math.max(1.0, c.getOrElse("recall_n", 0.0)),
      "host.load_1m_start" -> s0.load1m,
      "host.load_1m_end" -> s1.load1m,
      "host.cpu_per_wall" -> (s1.cpuS - s0.cpuS) / math.max(1e-9, wallS),
      "host.steal_share" -> Probes.stealShare(s0, s1),
    ) ++ SpanMetrics.map { case (span, k) =>
      k -> spanSum.getOrElse(span, 0.0) / n
    } ++ TriggerPhases.map { case (phase, k) =>
      k -> perOp(trig.map(_.durations.getOrElse(phase, 0L).toDouble))
    }
    val names = Units.map(_._1).toSet
    require(m.keySet == names, "layer metrics out of step: " +
      ((m.keySet -- names) ++ (names -- m.keySet)).mkString(", "))
    m
  }

  /** Self time per span name: each span's duration minus the time its
    * child spans cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).view.mapValues(_.map { s =>
      s.ms - covered(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)),
        s.startMs, s.endMs)
    }.sum).toMap
  }
}
