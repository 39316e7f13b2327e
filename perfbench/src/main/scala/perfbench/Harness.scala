package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Seeded randomness. Every input and every op literal is drawn from
  * `Rng.at(seed, stream, i)`, so the same seed gives the same inputs, and
  * warm-up ops (their own stream) never replay a timed op. */
object Rng {
  val Inputs = 1L
  val Timed = 2L
  val Warmup = 3L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def at(seed: Long, stream: Long, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(mix(seed) ^ stream) ^ i))
}

/** What an op returns once its output has been checked: the input rows it
  * parsed, the rows it returned or landed, and a mismatch if the output
  * was wrong. */
final case class Done(rowsIn: Long, rowsOut: Long, mismatch: Option[String])

/** One timed call. `call` is timed; `check` runs after the clock stops and
  * compares the output with what the harness predicted on its own. */
final case class Op[R](kind: String, call: () => R, check: R => Done) {
  def exec(id: Long, trace: Trace): OpRecord = {
    val t0 = System.nanoTime
    val res =
      try Right(trace.op(id, kind)(call()))
      catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime
    res match {
      case Left(e) => OpRecord(id, kind, t0, t1, ok = false,
        err = Some(Op.describe(e)), 0L, 0L)
      case Right(r) =>
        val d =
          try check(r)
          catch { case NonFatal(e) =>
            Done(0L, 0L, Some("check threw " + Op.describe(e))) }
        OpRecord(id, kind, t0, t1, ok = d.mismatch.isEmpty,
          err = d.mismatch, d.rowsIn, d.rowsOut)
    }
  }
}

object Op {
  def describe(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.take(1)
      .mkString.take(200)
    s"${e.getClass.getName}: $m"
  }
}

final case class OpRecord(id: Long, kind: String, startNs: Long,
    endNs: Long, ok: Boolean, err: Option[String], rowsIn: Long,
    rowsOut: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def toJson: Map[String, Any] = Map("id" -> id, "kind" -> kind,
    "ms" -> ms, "ok" -> ok, "err" -> err.orNull, "rows_in" -> rowsIn,
    "rows_out" -> rowsOut)
}

/** Closed-loop load: each client sends its next op only after the
  * previous one returned. Op `i` is the same op on every run of a seed,
  * whichever client draws it. */
object Loop {
  final case class Result(records: Seq[OpRecord], startNs: Long,
      endNs: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  /** Clients stop drawing ops once `seconds` have passed and the next op
    * `i` satisfies `stopBefore(i)`; one-client workloads use it so their
    * op mix does not depend on where the clock ran out (end on a fixed
    * kind, or not before a whole pattern). */
  def closed(clients: Int, seconds: Double, trace: Trace,
      stopBefore: Long => Boolean = _ => true)(
      opAt: Long => Op[_]): Result = {
    val next = new AtomicLong(0L)
    val out = new ConcurrentLinkedQueue[OpRecord]()
    val start = System.nanoTime
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime < deadline || !stopBefore(i)) {
          out.add(opAt(i).exec(i, trace))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val recs = out.asScala.toSeq.sortBy(_.id)
    Result(recs, start, (start +: recs.map(_.endNs)).max)
  }

  /** Untimed warm-up: `n` ops of the same kinds from the warm-up stream.
    * A failure here is a failure of the run: it would otherwise hide a
    * broken path until the timed loop. */
  def warm(n: Int, trace: Trace)(opAt: Long => Op[_]): Unit =
    (0 until n).foreach { i =>
      val r = opAt(i.toLong).exec(-1L - i, trace)
      if (!r.ok) throw new IllegalStateException(
        s"warm-up op ${r.kind} failed: ${r.err.getOrElse("")}")
    }
}

/** Process and host probes for the run-conditions block. */
object Probes {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
  def load1m: Double = os.getSystemLoadAverage
  def cpuS: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean =>
      b.getProcessCpuTime / 1e9
    case _ => -1.0
  }
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime
    else -1L
  }
  def codegenClasses: Long =
    try org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    catch { case NonFatal(_) => -1L }
  /** Committed heap in MiB: with a pinned, pre-touched heap all of it is
    * resident from the start. */
  def heapCommittedMb: Double = java.lang.management.ManagementFactory
    .getMemoryMXBean.getHeapMemoryUsage.getCommitted / (1024.0 * 1024.0)
  /** Peak resident set (VmHWM) in MiB; -1 where /proc is absent. */
  def rssPeakMb: Double =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Path.of("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toLong / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  /** (all, stolen) cpu ticks of the host since boot, from /proc/stat:
    * stolen ticks are time the hypervisor ran another guest while this
    * one had work. */
  def hostTicks: (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Path.of("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }

  final case class Sample(ns: Long, cpuS: Double, gcMs: Long, jitMs: Long,
      codegen: Long, load1m: Double, ticks: (Long, Long))
  def sample(): Sample = Sample(System.nanoTime, cpuS, gcMs, jitMs,
    codegenClasses, load1m, hostTicks)

  /** Share of the host's cpu ticks between two samples that were stolen. */
  def stealShare(a: Sample, b: Sample): Double = {
    val all = b.ticks._1 - a.ticks._1
    if (all > 0) (b.ticks._2 - a.ticks._2).toDouble / all else 0.0
  }
}
