package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

/** Seeded log-object generators. Each keeps, beside the file it writes,
  * exactly the fields the benchmark's own predictions need, so expected
  * outputs never come from the code under test. */
object Gen {

  def writeGz(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f)), StandardCharsets.UTF_8))
    try body(w) finally w.close()
  }

  // ---- VPC Flow Logs (version 2 default format, space-delimited) -------

  val VpcHeader = "version account-id interface-id srcaddr dstaddr " +
    "srcport dstport protocol packets bytes start end action log-status"

  private val WellKnown = Array(22, 53, 80, 123, 443, 3389, 5432, 8080)

  /** One flow record's predicted typed fields: `dstport`/`packets` are
    * None where the record carries the `-` token (NODATA rows), which
    * coerces to NULL. */
  final case class Flow(action: String, dstport: Option[Int],
      packets: Option[Long])

  /** Writes `rows` flow records; about 3% are NODATA records whose numeric
    * fields are `-`, the tokens that take the coercion regex fallback. */
  def vpcObject(f: File, seed: Long, obj: Long, rows: Int): Array[Flow] = {
    val r = Rng.at(seed, Rng.Inputs, 1000000L + obj)
    val out = new Array[Flow](rows)
    writeGz(f) { w =>
      w.write(VpcHeader); w.write('\n')
      var i = 0
      while (i < rows) {
        val eni = f"eni-${r.nextInt(1 << 20)}%05x"
        val src = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        val dst = s"172.16.${r.nextInt(256)}.${r.nextInt(256)}"
        val start = 1700000000L + r.nextInt(86400)
        if (r.nextInt(100) < 3) {
          w.write(s"2 123456789012 $eni - - - - - - - $start ${start + 60}" +
            " - NODATA\n")
          out(i) = Flow("-", None, None)
        } else {
          val dport =
            if (r.nextInt(100) < 60) WellKnown(r.nextInt(WellKnown.length))
            else 1024 + r.nextInt(64512)
          val sport = 1024 + r.nextInt(64512)
          val proto = if (r.nextInt(10) == 0) 17 else 6
          val packets = 1L + r.nextInt(1000)
          val bytes = packets * (40 + r.nextInt(1400))
          val action = if (r.nextInt(100) < 80) "ACCEPT" else "REJECT"
          w.write(s"2 123456789012 $eni $src $dst $sport $dport $proto " +
            s"$packets $bytes $start ${start + 60} $action OK\n")
          out(i) = Flow(action, Some(dport), Some(packets))
        }
        i += 1
      }
    }
    out
  }

  /** The WHERE pre-filter both ingest workloads use, in the reference's
    * S3-Select dialect, and its prediction. */
  def vpcWhere(port: Int, minPackets: Int, select: String = "*"): String =
    s"SELECT $select FROM S3Object s WHERE s.action = 'ACCEPT' " +
      s"AND s.dstport < $port AND s.packets >= $minPackets"

  def vpcSurvivors(flows: Array[Flow], port: Int, minPackets: Int): Long =
    flows.count(f => f.action == "ACCEPT" &&
      f.dstport.exists(_ < port) && f.packets.exists(_ >= minPackets))

  // ---- CloudTrail (JSON `Records` documents) ---------------------------

  val EventNames = Array("GetObject", "PutObject", "ListBuckets",
    "AssumeRole", "DescribeInstances", "ConsoleLogin")

  /** One single-line `{"Records":[...]}` document; returns each record's
    * eventName. */
  def cloudTrailObject(f: File, seed: Long, obj: Long,
      records: Int): Array[String] = {
    val r = Rng.at(seed, Rng.Inputs, 2000000L + obj)
    val names = new Array[String](records)
    writeGz(f) { w =>
      w.write("{\"Records\":[")
      var i = 0
      while (i < records) {
        if (i > 0) w.write(',')
        val name = EventNames(r.nextInt(EventNames.length))
        names(i) = name
        val user = s"user${r.nextInt(50)}"
        val sec = r.nextInt(86400)
        val err = if (r.nextInt(20) == 0) "\"errorCode\":\"AccessDenied\"," +
          "\"errorMessage\":\"Access Denied\"," else ""
        val resources = if (r.nextBoolean()) "[]" else
          s"""[{"ARN":"arn:aws:s3:::bucket-${r.nextInt(9)}","type":"AWS::S3::Bucket"}]"""
        w.write(s"""{"eventVersion":"1.08","userIdentity":{"type":"IAMUser",""" +
          s""""principalId":"AID${r.nextInt(1 << 30)}","arn":"arn:aws:iam::""" +
          s"""123456789012:user/$user","accountId":"123456789012",""" +
          s""""userName":"$user"},"eventTime":"2024-03-01T""" +
          f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02dZ" +
          s"""","eventSource":"s3.amazonaws.com","eventName":"$name",""" +
          s""""awsRegion":"eu-west-1","sourceIPAddress":"198.51.100.""" +
          s"""${r.nextInt(256)}","userAgent":"aws-cli/2.15",$err""" +
          s""""requestParameters":{"bucketName":"bucket-${r.nextInt(9)}",""" +
          s""""key":"k/${r.nextInt(100000)}"},"responseElements":null,""" +
          s""""requestID":"R${r.nextLong() & 0xffffffffL}",""" +
          s""""eventID":"E${r.nextLong() & 0xffffffffffL}",""" +
          s""""readOnly":${r.nextBoolean()},"resources":$resources,""" +
          s""""eventType":"AwsApiCall","recipientAccountId":"123456789012"}""")
        i += 1
      }
      w.write("]}\n")
    }
    names
  }

  /** Removes a directory tree (harness scratch only). */
  def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(): Unit
  }
}
