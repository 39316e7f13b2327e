package perfbench

import java.io.File
import java.util.Properties

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingCollect

/** `stream_collect`: `StreamingCollect.runContinuousCollection` drains a
  * backlog of manifests, each naming one small VPC Flow object, through
  * the WHERE pre-filter into embedded Derby plus one Invocations ledger
  * row per micro-batch. One op is one micro-batch; its latency is the
  * trigger's duration. */
object StreamCollect {
  val RowsPerObject = 2000
  /** Backlog per timed second. */
  val ManifestsPerSecond = 2.0
  val WarmupManifests = 4
  val Columns = "srcaddr, dstaddr, srcport, dstport, protocol, packets, " +
    "bytes, action"

  final case class Backlog(manifestDir: File, survivors: IndexedSeq[Long])

  /** Writes `n` objects and one manifest per object. Manifest mtimes rise
    * with their index, and the file source takes the oldest first, so
    * micro-batch `i` reads manifest `i`. */
  def backlog(dir: File, seed: Long, stream: Long, n: Int, port: Int,
      minPackets: Int): Backlog = {
    val mdir = new File(dir, "manifests")
    mdir.mkdirs()
    val base = System.currentTimeMillis() - 10L * 86400 * 1000
    val survivors = (0 until n).map { i =>
      val obj = new File(dir, f"objects/obj-$i%05d.log.gz")
      val flows = Gen.vpcObject(obj, seed, stream * 100000L + i,
        RowsPerObject)
      val m = new File(mdir, f"m-$i%05d.txt")
      java.nio.file.Files.writeString(m.toPath, obj.getAbsolutePath + "\n")
      m.setLastModified(base + i * 1000L)
      Gen.vpcSurvivors(flows, port, minPackets)
    }
    Backlog(mdir, survivors)
  }
}

final class StreamCollect extends Workload {
  import StreamCollect._

  private val progress = new StreamProgress
  private var timedBacklog: Backlog = _
  private var port, minPackets = 0

  private def spec(b: Backlog) = StreamingCollect.StreamSpec(
    schema = graft.schema.SchemaRegistry.builtins("VPCFlow"),
    inputDir = b.manifestDir.getAbsolutePath,
    query = Some(Gen.vpcWhere(port, minPackets, Columns)))

  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private def collect(ctx: Ctx, b: Backlog, db: String): Unit =
    StreamingCollect.runContinuousCollection(ctx.spark, spec(b),
      b.manifestDir.getAbsolutePath, s"jdbc:derby:memory:$db;create=true",
      props, "vpcflow_cc", instanceMemoryMb = 1560, engine = "postgres",
      jobid = db)

  def setup(ctx: Ctx): Unit = {
    val r = Rng.at(ctx.seed, Rng.Inputs, 7L)
    port = 1024 + r.nextInt(100)
    minPackets = 1 + r.nextInt(10)
    ctx.spark.streams.addListener(progress)
    val n = math.max(1, (ctx.seconds * ManifestsPerSecond).round.toInt)
    timedBacklog = backlog(new File(ctx.work, "timed"), ctx.seed, Rng.Timed,
      n, port, minPackets)
    val warm = backlog(new File(ctx.work, "warm"), ctx.seed, Rng.Warmup,
      WarmupManifests, port, minPackets)
    ctx.mark("inputs")
    collect(ctx, warm, "warm")
    val landed = ledger("warm").map(_._2).sum
    if (landed != warm.survivors.sum)
      throw new IllegalStateException(
        s"warm-up landed $landed rows, predicted ${warm.survivors.sum}")
  }

  /** (invocation id, nrecords) rows of the Invocations ledger, read over
    * plain JDBC. */
  private def ledger(db: String): Seq[(String, Long)] =
    query(db, "SELECT \"invocationid\", \"nrecords\" FROM invocations")(
      rs => (rs.getString(1), rs.getLong(2)))

  private def query[A](db: String, sql: String)(
      row: java.sql.ResultSet => A): Seq[A] = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db",
      props)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = Seq.newBuilder[A]
      while (rs.next()) out += row(rs)
      out.result()
    } finally c.close()
  }

  def run(ctx: Ctx): Timed = {
    progress.triggers.clear()
    val b = timedBacklog
    val t0 = System.nanoTime
    val failure =
      try { ctx.trace.span("streaming.collect")(collect(ctx, b, "timed")); None }
      catch { case scala.util.control.NonFatal(e) => Some(Op.describe(e)) }
    val t1 = System.nanoTime
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val trig = progress.triggers.asScala.toSeq
      .filter(_.inputRows > 0).sortBy(_.batchId)
    val landed = ledger("timed").toMap
    val derbyRows = query("timed", "SELECT COUNT(*) FROM vpcflow_cc")(
      _.getLong(1)).head
    val byBatch = trig.map(t => t.batchId -> t).toMap
    val toNs = (ms: Long) => ((ms - ctx.trace.wallMs(0L)) * 1e6).toLong
    val records = b.survivors.indices.map { i =>
      val want = b.survivors(i)
      byBatch.get(i.toLong) match {
        case None => OpRecord(i, "micro_batch", t1, t1, ok = false,
          Some(failure.getOrElse("no micro-batch for this manifest")), 0, 0)
        case Some(t) =>
          val got = landed.get(s"batch-$i")
          val s = toNs(t.startMs)
          OpRecord(i, "micro_batch", s, s + t.ms * 1000000L,
            ok = got.contains(want),
            err = if (got.contains(want)) None
                  else Some(s"ledger ${got.getOrElse("missing")}, predicted $want"),
            RowsPerObject.toLong, got.getOrElse(0L))
      }
    }
    val want = b.survivors.sum
    val checks = Seq(
      failure.map("stream failed: " + _),
      Option.when(derbyRows != want)(s"Derby holds $derbyRows rows, predicted $want"),
      Option.when(landed.values.sum != derbyRows)(
        s"ledger sums ${landed.values.sum}, Derby holds $derbyRows"),
      Option.when(trig.size != b.survivors.size)(
        s"${trig.size} triggers for ${b.survivors.size} manifests")).flatten
    val startMs = trig.headOption.map(t =>
      t.startMs - ctx.trace.wallMs(t0)).getOrElse(0.0)
    // micro-batch jobs inherit the timed run's span; Spark tags each with
    // its batch id, which is the op id
    val timedSpans = ctx.trace.spans.asScala
      .collect { case s if s.name == "streaming.collect" => s.id }.toSet
    Timed(Loop.Result(records, t0, t1),
      counters = Map("streaming.start_ms" -> startMs),
      checks = checks, triggers = trig,
      opOfJob = j => Option.when(j.batch >= 0 && timedSpans(j.span))(j.batch))
  }
}
