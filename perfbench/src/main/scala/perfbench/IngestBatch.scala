package perfbench

import java.io.File

/** `ingest_batch`: one client, closed loop; one op is one
  * `graft.jobs.CollectMain.run` job document in the reference wire format
  * (DataType, S3Folders, QueryString, a parquet Sink). The row count the
  * job reports must equal the survivors the generator predicts. */
object IngestBatch {
  val VpcRows = 20000
  val TrailRecords = 2500

  /** Every 4th job is a full dump (no WHERE); one in 8 reads CloudTrail
    * JSON (a chosen share, not measured traffic); the rest are VPC Flow
    * jobs with a WHERE pre-filter. */
  val Pattern: Vector[String] = Vector("vpc_where", "vpc_where", "trail_where",
    "vpc_dump", "vpc_where", "vpc_where", "vpc_where", "vpc_dump")

  /** An op's job parameters: kind plus its seeded literals. */
  final case class Spec(kind: String, port: Int, minPackets: Int,
      event: String)

  def spec(seed: Long, stream: Long, i: Long): Spec = {
    val r = Rng.at(seed, stream, i)
    Spec(Pattern((i % Pattern.size).toInt), 1024 + r.nextInt(100),
      1 + r.nextInt(10), Gen.EventNames(r.nextInt(Gen.EventNames.length)))
  }
}

final class IngestBatch extends Workload {
  import IngestBatch._

  /** Two VPC Flow and two CloudTrail objects, and what they hold. */
  private final case class Inputs(vpcPaths: Seq[String],
      flows: Array[Gen.Flow], trailPaths: Seq[String],
      events: Array[String])

  private var timed: Inputs = _
  private var outRoot: File = _

  private def inputs(dir: File, seed: Long, stream: Long, vpcRows: Int,
      trailRecords: Int): Inputs = {
    val vpc = (0 until 2).map(o => new File(dir, s"vpc/obj-$o.log.gz"))
    val trail = (0 until 2).map(o => new File(dir, s"trail/obj-$o.json.gz"))
    Inputs(vpc.map(_.getAbsolutePath),
      vpc.indices.flatMap(o =>
        Gen.vpcObject(vpc(o), seed, stream * 10 + o, vpcRows).toSeq).toArray,
      trail.map(_.getAbsolutePath),
      trail.indices.flatMap(o => Gen.cloudTrailObject(trail(o), seed,
        stream * 10 + o, trailRecords).toSeq).toArray)
  }

  def setup(ctx: Ctx): Unit = {
    outRoot = new File(ctx.work, "out")
    timed = inputs(new File(ctx.work, "objects"), ctx.seed, Rng.Timed,
      VpcRows, TrailRecords)
    val warm = inputs(new File(ctx.work, "warm"), ctx.seed, Rng.Warmup,
      VpcRows, TrailRecords)
    ctx.mark("inputs")
    // the first half of the pattern: every kind, the WHERE job twice
    Loop.warm(Pattern.size / 2, ctx.trace)(i =>
      op(ctx, warm, spec(ctx.seed, Rng.Warmup, i), -1L - i))
  }

  private def jobDoc(in: Inputs, s: Spec, out: String): String = {
    def arr(xs: Seq[String]) = xs.map(p => "\"" + p + "\"").mkString("[", ",", "]")
    val (dataType, paths, query, name) = s.kind match {
      case "vpc_where" => ("VPCFlow", in.vpcPaths,
        Some(Gen.vpcWhere(s.port, s.minPackets)), "vpcflow")
      case "vpc_dump" => ("VPCFlow", in.vpcPaths, None, "vpcflow")
      case _ => ("CloudTrail", in.trailPaths, Some(
        "SELECT * FROM S3Object[*].Records[*] s WHERE " +
          s"s.eventName = '${s.event}'"), "cloudtrail")
    }
    val q = query.map(x => s""""QueryString":"$x",""").getOrElse("")
    s"""{"DataType":"$dataType","S3Folders":${arr(paths)},""" +
      s""""DatasetName":"$name",$q"Sink":{"Type":"parquet","Path":"$out"}}"""
  }

  /** (rows parsed, rows the job must land) */
  private def predicted(in: Inputs, s: Spec): (Long, Long) = s.kind match {
    case "vpc_where" => (in.flows.length.toLong,
      Gen.vpcSurvivors(in.flows, s.port, s.minPackets))
    case "vpc_dump" => (in.flows.length.toLong, in.flows.length.toLong)
    case _ => (in.events.length.toLong, in.events.count(_ == s.event).toLong)
  }

  private def op(ctx: Ctx, in: Inputs, s: Spec, i: Long): Op[Long] = {
    val out = new File(outRoot, s"job-$i")
    val doc = jobDoc(in, s, out.getAbsolutePath)
    Op[Long](s.kind,
      () => ctx.trace.span("jobs.collect")(
        graft.jobs.CollectMain.run(ctx.spark, doc)),
      n => {
        Gen.rmTree(out)
        val (parsed, want) = predicted(in, s)
        Done(parsed, n,
          if (n == want) None else Some(s"landed $n rows, predicted $want"))
      })
  }

  // a run covers at least one whole pattern, so a slow host cannot cut
  // its mix short of the full dumps and the CloudTrail job
  def run(ctx: Ctx): Timed =
    Timed(Loop.closed(1, ctx.seconds, ctx.trace, _ >= Pattern.size)(i =>
      op(ctx, timed, spec(ctx.seed, Rng.Timed, i), i)))
}
