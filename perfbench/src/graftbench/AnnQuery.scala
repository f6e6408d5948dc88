package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Similarity

/** `ann_query`: an IVF index over Gaussian-mixture embeddings with uneven
  * cluster sizes, built with `Similarity.trainCentroids` + `ivfAssign`,
  * then a closed loop with one client: each request sends a fixed-size
  * batch of held-out query vectors to `ivfProbe` and the next request
  * starts when it returns (see perfbench/README.md). */
final class AnnQuery(val ctx: Ctx) extends Workload {
  import AnnQuery._

  val data: Vectors = generate(ctx.seed, ctx.n)
  private var emb: DataFrame = _
  private var cents: DataFrame = _
  private var index: DataFrame = _
  private var centroids: Array[Array[Double]] = _
  private var cellSize: Map[Int, Long] = Map.empty

  def inputs: Seq[(String, Long)] = Seq("index_vectors" -> data.index.size.toLong,
    "query_vectors" -> data.queries.size.toLong, "dim" -> Dim.toLong,
    "mixture_components" -> Components.toLong, "seed" -> ctx.seed)

  /** Load the generated vectors into Spark (cached), as a caller would. */
  def setup(): Unit = {
    if (emb != null) emb.unpersist()
    emb = ctx.spark.createDataFrame(
      java.util.Arrays.asList(data.index.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }: _*),
      EmbSchema).persist()
    emb.count()
  }

  override def minCycles: Int = MinRequests

  private val trainS = ArrayBuffer.empty[Double]
  private val assignS = ArrayBuffer.empty[Double]

  /** Train the coarse quantizer and assign every vector to its cell. */
  private def buildIndex(): Unit = {
    if (index != null) index.unpersist()
    val (c, tS) = Clock.seconds(Similarity.trainCentroids(emb, k = Cells, iters = Iters))
    val (ix, aS) = Clock.seconds {
      val ix = Similarity.ivfAssign(emb.select(col("vec_id"), col("embedding").as("emb")), c).persist()
      ix.count(); ix
    }
    cents = c; index = ix
    trainS += tS; assignS += aS
    centroids = cents.collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    cellSize = index.groupBy("cell").count().collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val sizes = centroids.indices.map(i => cellSize.getOrElse(i, 0L).toDouble)
    ctx.checks.check("index: every vector is in exactly one cell",
      sizes.sum == data.index.size, s"${sizes.sum} assigned of ${data.index.size}")
  }

  /** Warm-up builds the index (timed: index_build_s) and sends a few
    * unmeasured requests. */
  override def warmup(): Unit = {
    buildIndex()
    (0 until WarmRequests).foreach(_ => request(measured = false))
  }

  private var next = 0
  private val latencyMs = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]
  private val candidates = ArrayBuffer.empty[Double]

  private def request(measured: Boolean): Double = {
    val ids = (0 until Batch).map(j => (next + j) % data.queries.size)
    next += Batch
    val q = ctx.spark.createDataFrame(
      java.util.Arrays.asList(ids.map(i => Row(-1L - i, data.queries(i))): _*), QuerySchema)
    val (res, s) = phase("request") {
      ctx.checks.op("ivfProbe request")(
        Similarity.ivfProbe(index, q, cents, maxQueryId = 0, k = K, nProbe = NProbe).collect())
    }
    res.foreach { rows =>
      val got = rows.groupBy(_.getLong(0)).map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      ids.foreach { i =>
        val want = exactTopK(data.queries(i))
        val hit = got.getOrElse(-1L - i, Set.empty[Long]).count(want.contains)
        if (measured) recalls += hit.toDouble / K
        if (measured) candidates += probedVectors(data.queries(i)).toDouble / K
      }
      ctx.checks.check("request: k results for every query",
        ids.forall(i => got.get(-1L - i).exists(_.size == K)), s"${rows.length} rows")
    }
    if (measured) latencyMs += s * 1000.0
    s
  }

  def cycle(traced: Boolean, measured: Boolean): Double = request(measured)

  /** Exact top-k by cosine over the index vectors, in plain Scala. */
  private def exactTopK(q: Array[Double]): Set[Long] =
    data.index.indices.map(i => (cosine(q, data.index(i)), i)).sortBy(x => (-x._1, x._2))
      .take(K).map(_._2.toLong).toSet

  /** Vectors in the query's `NProbe` nearest cells, from the centroids and
    * cell sizes (the probe's candidate set, computed by the benchmark). */
  private def probedVectors(q: Array[Double]): Long =
    centroids.indices.sortBy(c => -cosine(q, centroids(c))).take(NProbe)
      .map(c => cellSize.getOrElse(c, 0L)).sum

  def report(r: Report): Unit = {
    val p50 = Stats.median(latencyMs.toSeq)
    r.endToEnd("items_per_s") = Metric(latencyMs.size * Batch / (latencyMs.sum / 1000.0), "1/s")
    r.endToEnd("cycle_ms") = Metric(p50, "ms")
    r.extra("query_p50_ms") = Metric(p50, "ms")
    // the highest percentile with at least ten samples beyond it, when
    // the run had enough requests for that to be a tail
    val n = latencyMs.size
    if (n >= 30) {
      val q = 1.0 - 10.0 / n
      r.extra(f"query_p${q * 100}%.0f_ms") = Metric(Stats.quantile(latencyMs.toSeq, q), "ms")
    }
    r.extra("requests") = Metric(latencyMs.size.toDouble, "count")
    r.extra("queries_per_s") = Metric(latencyMs.size * Batch / (latencyMs.sum / 1000.0), "1/s")
    val recall = Stats.mean(recalls.toSeq)
    r.extra("recall_at_10") = Metric(recall, "ratio")
    r.extra("index_build_s") = Metric(trainS.last + assignS.last, "s")
    ctx.checks.check(f"recall_at_10 $recall%.3f >= $RecallFloor", recall >= RecallFloor)
  }

  def layers(r: Report, rec: SparkRecorder): Unit = {
    Layers.put(r, "ops.similarity.train_s", trainS.last)
    Layers.put(r, "ops.similarity.assign_s", assignS.last)
    Layers.put(r, "ops.similarity.jobs_per_query",
      Stats.median(ctx.tracer.named("phase.request").map(s => rec.jobsIn(s).toDouble / Batch)))
    Layers.put(r, "ops.similarity.candidates_per_query", Stats.median(candidates.toSeq))
    val sizes = centroids.indices.map(i => cellSize.getOrElse(i, 0L).toDouble)
    Layers.put(r, "ops.similarity.cell_skew", sizes.max / Stats.mean(sizes))
  }
}

object AnnQuery {
  val Dim = 16
  val Components = 16
  val Cells = 16
  val Iters = 2
  val K = 10
  val NProbe = 3
  val Batch = 4
  val MinRequests = 8
  val WarmRequests = 2
  val RecallFloor = 0.8

  val EmbSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))
  val QuerySchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("emb", ArrayType(DoubleType, containsNull = false))))

  final case class Vectors(index: IndexedSeq[Array[Double]], queries: IndexedSeq[Array[Double]])

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Gaussian mixture: component weights are Zipf, so a few components
    * hold most vectors and the IVF cells come out skewed. Vectors are
    * rounded to 4 decimals so their text form is exact. */
  def generate(seed: Long, n: Int => Int): Vectors = {
    val r = Gen.rng(seed, 31)
    val weights = new Gen.Zipf(Components, 1.0)
    val centers = Array.fill(Components) {
      val c = Array.fill(Dim)(r.nextGaussian())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm * 3.0)
    }
    def draw(): Array[Double] = {
      val c = centers(weights.sample(r))
      c.map(x => math.rint((x + r.nextGaussian() * 0.9) * 1e4) / 1e4)
    }
    Vectors(IndexedSeq.fill(n(6000))(draw()), IndexedSeq.fill(n(1000))(draw()))
  }
}
