package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What a workload's timed part hands back. `opOfJob` attributes a traced
  * Spark job to a timed op (by default through the op id the harness put
  * on the job); `checks` lists run-level output mismatches. */
final case class Timed(
    loop: Loop.Result,
    counters: Map[String, Double] = Map.empty,
    checks: Seq[String] = Nil,
    triggers: Seq[Trigger] = Nil,
    opOfJob: JobStat => Option[Long] = j => Some(j.op))

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Trace, work: File, nproc: Int) {
  /** Seconds since JVM start at each named set-up milestone. */
  val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(name: String): Unit = marks(name) = Main.sinceStartS
}

trait Workload {
  /** Inputs, predictions and warm-up; untimed, counted in `setup_s`. */
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx): Timed
}

/** One benchmark run in a fresh JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --out FILE`. Writes one JSON result file; `run.py` turns it
  * into metrics. */
object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "ingest_batch" -> (() => new IngestBatch),
    "stream_collect" -> (() => new StreamCollect),
    "interactive_query" -> (() => new InteractiveQuery),
    "ann_dedup" -> (() => new AnnDedup))

  def session(nproc: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()

  /** `graft.Scratch` puts streaming checkpoints on /dev/shm when it can;
    * the benchmark keeps every file it writes inside its work directory,
    * so point the (not yet initialised) scratch root there. Returns the
    * root the library will use. */
  private def pinScratch(dir: File): String = {
    dir.mkdirs()
    try {
      val c = Class.forName("graft.Scratch$")
      val root = c.getDeclaredField("root")
      val done = c.getDeclaredField("bitmap$0")
      root.setAccessible(true); done.setAccessible(true)
      root.set(null, dir.getAbsolutePath)
      done.setBoolean(null, true)
    } catch { case _: ReflectiveOperationException => () }
    graft.Scratch.root
  }

  def sinceStartS: Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String): String =
      a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val make = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    val out = new File(arg("out"))
    val nproc = Runtime.getRuntime.availableProcessors

    System.setProperty("derby.stream.error.file",
      new File(work, "derby.log").getPath)
    val scratchRoot = pinScratch(new File(work, "scratch"))
    val spark = session(nproc, work)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val trace = new Trace(traced, spark.sparkContext)
      trace.register(spark)
      val ctx = Ctx(spark, seed, seconds, trace, work, nproc)
      ctx.mark("session")
      val w = make()
      w.setup(ctx)
      val setupS = sinceStartS
      val s0 = Probes.sample()
      val timed = w.run(ctx)
      val s1 = Probes.sample()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val layers =
        if (traced) Layers.compute(trace, timed, s0, s1, nproc) else Map.empty
      val spans = trace.spans.toArray(Array.empty[Span]).toSeq
      val (vmHwm, heapMb) = (Probes.rssPeakMb, Probes.heapCommittedMb)
      val wallS = (s1.ns - s0.ns) / 1e9
      val result = Map[String, Any](
        "workload" -> name, "seed" -> seed, "trace" -> traced,
        "setup_s" -> setupS,
        "setup_marks" -> ctx.marks,
        "timed_wall_s" -> timed.loop.wallS,
        "ops" -> timed.loop.records.map(_.toJson),
        "checks" -> timed.checks,
        "counters" -> timed.counters,
        // the pre-touched heap is a fixed floor, so the peak resident set
        // is reported without it: what the run adds outside the heap
        "rss_peak_mb" -> (vmHwm - heapMb),
        "layers" -> layers,
        "self_ms" -> Layers.selfMs(spans),
        "spans" -> spans.map(_.toJson),
        "conditions" -> Map(
          "nproc" -> nproc,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
          "heap_committed_mb" -> heapMb, "vmhwm_mb" -> vmHwm,
          "seed" -> seed,
          "load_1m_start" -> s0.load1m, "load_1m_end" -> s1.load1m,
          "process_cpu_s" -> (s1.cpuS - s0.cpuS), "wall_s" -> wallS,
          "cpu_per_wall" -> (s1.cpuS - s0.cpuS) / math.max(1e-9, wallS),
          "steal_share" -> Probes.stealShare(s0, s1),
          "spark_version" -> spark.version,
          "java_version" -> System.getProperty("java.version"),
          "scratch_root" -> scratchRoot))
      java.nio.file.Files.writeString(out.toPath, new ObjectMapper()
        .registerModule(DefaultScalaModule).writeValueAsString(result))
    } finally spark.stop()
  }
}
