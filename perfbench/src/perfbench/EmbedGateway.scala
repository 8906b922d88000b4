package perfbench

import graft.config.PipelineConfig
import graft.pipeline.{BatchedEmbedder, HttpEmbedBackend}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Gateway embedding, measured in traced `ingest_full` runs:
  * `BatchedEmbedder.embed` over pre-chunked texts with
  * `RetryingBackend(HttpEmbedBackend)`, at the program's defaults,
  * against the loopback gateway stub. One warm-up pass, then `Passes`
  * traced passes.
  *
  * The batch is the program's pinned `batch_size` and the stub's cap is
  * the OpenAI embeddings API's limit of 2,048 inputs per request. The
  * 50 ms service time per request is an assumption of this benchmark,
  * not a measurement of a real gateway. */
final class EmbedGateway(spark: SparkSession, seed: Long, nTexts: Int = 12000) {
  val BatchSize: Int = PipelineConfig.Default.batchSize
  val ServiceMs = 50L
  val MaxInputs = 2048
  val FailShare = 0.05
  val GatewayThreads = 16
  val Passes = 3

  private val texts: Vector[String] = Gen.chunkTexts(seed, nTexts, new Gen.Vocab(seed))
  private val parts = spark.sparkContext.defaultParallelism
  private val failing: Set[Long] = failingBatches(parts)
  private var last: Array[(Long, Seq[Double])] = _
  private var stats = Vector.empty[Gateway.Stats]
  private val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  def inputStats: Seq[(String, Any)] =
    Seq("gateway_texts" -> nTexts, "gateway_chars" -> texts.map(_.length.toLong).sum, "batch" -> BatchSize,
      "service_ms" -> ServiceMs, "max_inputs" -> MaxInputs, "fail_share" -> FailShare)

  /** Keys of the batches whose first attempt fails: in every partition
    * the share of its batches, rounded, picked by the seed. The seed
    * moves which requests retry, not how many lie on one task's path.
    * Partitions and batches are cut as `parallelize` and `embed` cut
    * them; the check confirms each pass met exactly these. */
  private def failingBatches(parts: Int): Set[Long] = {
    val r = new java.util.SplittableRandom(seed ^ 0x503L)
    (0 until parts).flatMap { p =>
      val batches = texts.slice((p.toLong * nTexts / parts).toInt, ((p + 1).toLong * nTexts / parts).toInt)
        .grouped(BatchSize).toVector
      val picked = batches.indices.map(i => (r.nextLong(), i)).sorted.take(math.round(FailShare * batches.size).toInt)
      picked.map { case (_, i) => Gateway.key(batches(i)) }
    }.toSet
  }

  private def embedOnce(gw: Gateway, df: DataFrame, tr: Tracer): Array[(Long, Seq[Double])] = {
    val url = gw.url
    val backend = () => new BatchedEmbedder.RetryingBackend(
      new HttpEmbedBackend(url, Map("api-key" -> "perfbench")))
    tr.span("pipeline.BatchedEmbedder.embed") {
      BatchedEmbedder.embed(df, "text", BatchSize, backend).select("id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    }
  }

  /** Start the stub, warm up once, then time `Passes` traced passes. */
  def run(tr: Tracer): Unit = {
    val gw = new Gateway(seed, ServiceMs, MaxInputs, in => failing(Gateway.key(in)), GatewayThreads)
    val session = spark
    import session.implicits._
    val df = spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, parts)
      .toDF("id", "text").cache()
    try {
      df.count()
      embedOnce(gw, df, new Tracer(spark.sparkContext, false))
      (1 to Passes).foreach { _ =>
        gw.newEpoch()
        val t0 = System.nanoTime()
        val (rows, ms) = Common.timed(embedOnce(gw, df, tr))
        stats :+= gw.stats(System.nanoTime() - t0)
        last = rows
        passMs += ms
      }
    } finally {
      df.unpersist()
      gw.close()
    }
  }

  /** Every row's vector is the gateway's function of its text, in input
    * order, with no row lost; no request was refused; every pass saw
    * exactly the planned 503s. */
  def check(): Seq[String] = {
    val fails = Seq.newBuilder[String]
    if (last == null) return Seq("the gateway leg did not run")
    if (last.length != nTexts) fails += s"${last.length} rows embedded of $nTexts"
    last.iterator.zipWithIndex.find { case ((id, v), i) =>
      id != i || !v.sameElements(Gateway.vectorOf(texts(i)))
    }.foreach { case ((id, _), i) => fails += s"row $i (id $id) does not carry the gateway's vector of its text" }
    if (stats.exists(_.refused > 0)) fails += "the gateway refused an over-sized request"
    stats.find(_.failed503 != failing.size).foreach { st =>
      fails += s"a pass saw ${st.failed503} failed first attempts, the plan has ${failing.size}"
    }
    fails.result()
  }

  def layers: Map[String, Double] = {
    val n = math.max(1, stats.size).toDouble
    val reqs = stats.map(_.requests).sum
    Map(
      "pipeline.BatchedEmbedder.requests" -> reqs / n,
      "pipeline.BatchedEmbedder.texts_per_request" -> stats.map(_.texts).sum.toDouble / math.max(1L, reqs - stats.map(_.failed503).sum),
      "pipeline.BatchedEmbedder.retries" -> stats.map(_.failed503).sum / n,
      "pipeline.HttpEmbedBackend.inflight_mean" -> stats.map(_.inflightMean).sum / n,
      "pipeline.HttpEmbedBackend.inflight_max" -> stats.map(_.inflightMax).max.toDouble,
      "pipeline.HttpEmbedBackend.gateway_idle_share" -> stats.map(_.idleShare).sum / n,
      "gateway_cpu_share" -> stats.map(_.cpuShare).sum / n,
      "embed_chunks_per_s" -> nTexts * passMs.size / math.max(1e-9, passMs.sum / 1000.0))
  }
}
