package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.similarity.Similarity

/** `ann_dedup`: one client, closed loop; ops alternate between
  * `Similarity.hnswTopKIndexed` for a seeded batch of 10 queries against
  * an index `saveHnswIndex` built in setup, and `Dedup.minhashNearDups`
  * over a seeded fifth of the documents. ANN recall@10 against the
  * harness's own brute force must be at least 0.8; near-dup pairs must
  * equal those of the setup pass over the same fifth. */
object AnnDedup {
  val Vectors = 2000
  val Dim = 64
  val Labels = 10
  val QueriesPerOp = 10
  val K = 10
  val Documents = 5000
  val Fifths = 5
  val MinRecall = 0.8

  private val Vocabulary = ("spark stream batch query table column row " +
    "value key hash join sort merge scan filter group agg window order " +
    "part line data vector index fast slow big small customer event " +
    "log flow trail bucket object schema parse coerce sink commit")
    .split(" ")

  /** Unit vectors: a gaussian draw plus a weak per-label pull. */
  def vectors(seed: Long): Array[Array[Float]] = {
    val r = Rng.at(seed, Rng.Inputs, 30L)
    def gauss(): Array[Double] = Array.fill(Dim) {
      // Box-Muller from the seeded stream
      math.sqrt(-2 * math.log(1 - r.nextDouble())) *
        math.cos(2 * math.Pi * r.nextDouble())
    }
    val centers = Array.fill(Labels)(gauss())
    Array.tabulate(Vectors) { i =>
      val g = gauss()
      val c = centers(i % Labels)
      val v = g.indices.map(d => g(d) + 0.3 * c(d))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toArray
    }
  }

  /** Word documents, 10 to 100 words; one in ten is a copy of an earlier
    * document with one word replaced, so near-duplicates exist. */
  def documents(seed: Long): Array[String] = {
    val r = Rng.at(seed, Rng.Inputs, 31L)
    val docs = new Array[String](Documents)
    docs.indices.foreach { i =>
      docs(i) =
        if (i > 0 && r.nextInt(10) == 0) {
          val w = docs(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = Vocabulary(r.nextInt(Vocabulary.length))
          w.mkString(" ")
        } else Array.fill(10 + r.nextInt(91))(
          Vocabulary(r.nextInt(Vocabulary.length))).mkString(" ")
    }
    docs
  }

  /** Exact top-k by cosine (self excluded, ties to the lower id). */
  def exactTopK(vs: Array[Array[Float]], q: Int, k: Int): Set[Long] = {
    def dot(a: Array[Float], b: Array[Float]) = {
      var s = 0.0; var d = 0
      while (d < a.length) { s += a(d).toDouble * b(d); d += 1 }
      s
    }
    val nq = math.sqrt(dot(vs(q), vs(q)))
    vs.indices.filter(_ != q)
      .map(j => (j, dot(vs(q), vs(j)) / (nq * math.sqrt(dot(vs(j), vs(j))))))
      .sortBy { case (j, c) => (-c, j) }.take(k).map(_._1.toLong).toSet
  }

  final case class Spec(kind: String, queries: Seq[Int])

  /** The fifth of the documents every dedup op of a seed passes over. */
  def fifth(seed: Long): Int = Rng.at(seed, Rng.Inputs, 33L).nextInt(Fifths)

  /** Even ops search, odd ops deduplicate. */
  def spec(seed: Long, stream: Long, i: Long): Spec = {
    val r = Rng.at(seed, stream, i)
    Spec(if (i % 2 == 0) "ann_search" else "dedup_pass",
      Iterator.continually(r.nextInt(Vectors)).distinct.take(QueriesPerOp)
        .toSeq.sorted)
  }
}

final class AnnDedup extends Workload {
  import AnnDedup._

  private var vs: Array[Array[Float]] = Array.empty
  private var corpus: DataFrame = _
  private var indexDir: String = _
  private var slice: DataFrame = _
  private var refPairs = Set.empty[(Long, Long)]
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def add(k: String, v: Double): Unit = counters.merge(k, v, _ + _)

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    vs = vectors(ctx.seed)
    val embPath = new File(ctx.work, "embeddings").getAbsolutePath
    spark.createDataFrame(
      java.util.Arrays.asList(vs.indices.map(i =>
        Row(i.toLong, vs(i).toSeq, i % Labels)): _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))))
      .write.parquet(embPath)
    corpus = spark.read.parquet(embPath)
    ctx.mark("embeddings")
    indexDir = new File(ctx.work, "hnsw").getAbsolutePath
    Similarity.saveHnswIndex(corpus, indexDir)
    ctx.mark("index")

    val text = documents(ctx.seed)
    val docPath = new File(ctx.work, "documents").getAbsolutePath
    spark.createDataFrame(java.util.Arrays.asList(text.indices.map(i =>
        Row(i.toLong, text(i))): _*),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .write.parquet(docPath)
    val salt = Rng.at(ctx.seed, Rng.Inputs, 32L).nextLong(1000000L)
    slice = spark.read.parquet(docPath)
      .where(s"pmod(doc_id * 7919 + $salt, $Fifths) = ${fifth(ctx.seed)}")
    ctx.mark("inputs")
    // the reference pass also warms the dedup path up; warm-up adds a search
    refPairs = pairs()
    ctx.mark("reference")
    Loop.warm(1, ctx.trace)(i => op(ctx, spec(ctx.seed, Rng.Warmup, i)))
    counters.clear()
  }

  private def pairs(): Set[(Long, Long)] =
    Dedup.minhashNearDups(slice).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def op(ctx: Ctx, s: Spec): Op[Set[(Long, Long)]] =
    if (s.kind == "ann_search") Op(s.kind, () =>
      ctx.trace.span("similarity.search") {
        val qs = corpus.where(col("vec_id").isin(s.queries.map(_.toLong): _*))
        Similarity.hnswTopKIndexed(qs, indexDir, K)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }, (got: Set[(Long, Long)]) => {
        val hits = s.queries.map(q =>
          exactTopK(vs, q, K).count(n => got((q.toLong, n)))).sum
        val recall = hits.toDouble / (s.queries.size * K)
        add("recall_sum", recall); add("recall_n", 1)
        Done(0L, got.size.toLong,
          Option.when(recall < MinRecall)(f"recall@$K $recall%.3f < $MinRecall"))
      })
    else Op(s.kind, () => ctx.trace.span("dedup.pass")(pairs()),
      (got: Set[(Long, Long)]) => {
        add("dedup.pairs", got.size)
        Done(0L, got.size.toLong, Option.when(got != refPairs)(
          s"${got.size} pairs, setup pass found ${refPairs.size}"))
      })

  def run(ctx: Ctx): Timed = {
    counters.clear()
    // ends after a search: one more search than dedup passes per run
    val loop = Loop.closed(1, ctx.seconds, ctx.trace, _ % 2 == 1)(i =>
      op(ctx, spec(ctx.seed, Rng.Timed, i)))
    import scala.jdk.CollectionConverters._
    Timed(loop, counters = counters.asScala.toMap)
  }
}
