package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.functions.Similarity
import graft.sources.{VectorIndex, VectorStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Top-3 retrieval over a live store: `VectorIndex.build` over it, then
  * one closed-loop client that sends one query vector per request and
  * gets the top-3 two ways — `VectorIndex.query`, and an exact scan of
  * the store (`VectorStore.read` + `Similarity.cosineIn`). Queries mix
  * noise-perturbed stored vectors with random vectors that have no
  * close match. */
final class Retrieval(spark: SparkSession, store: Path, index: Path, seed: Long) {
  val K = 3 // top_n_documents in the reference config
  val Cells = 16
  val Iters = 3
  val Probes = 4
  val NQueries = 64
  val NearShare = 0.6

  private val rows = VectorStore.read(spark, store.toString)
    .select(col("chunk_id"), xxhash64(col("chunk_id")), col("vector").cast("array<double>"))
    .collect().sortBy(_.getString(0))
  private val chunkIds = rows.map(_.getString(0))
  private val ids = rows.map(_.getLong(1))
  private val vecs = rows.map(_.getSeq[Double](2).toArray)
  private val idOf = chunkIds.zip(ids).toMap
  private val vecOf = ids.zip(vecs).toMap
  val queries: Vector[Array[Double]] = Gen.queries(seed, vecs.toIndexedSeq, NQueries, NearShare)
  private val hits = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Seq[(Long, Double)])]

  def build(tr: Tracer): Unit = tr.span("sources.VectorIndex.build") {
    VectorIndex.build(
      VectorStore.read(spark, store.toString).select(xxhash64(col("chunk_id")).as("id"), col("vector")),
      "id", "vector", Cells, Iters, index.toString)
  }

  private def exactTop(q: Array[Double]): Seq[(String, Double)] =
    VectorStore.read(spark, store.toString)
      .select(col("chunk_id"),
        Similarity.cosineIn(spark, typedLit(q.toSeq), col("vector").cast("array<double>")).as("sim"))
      .orderBy(col("sim").desc, col("chunk_id")).limit(K)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** One request, both paths: (IVF ms, exact ms, recall of IVF vs exact). */
  def request(tr: Tracer, i: Int): (Double, Double, Double) = {
    val q = queries(i % queries.size)
    val (ivf, ivfMs) = Common.timed(tr.span("sources.VectorIndex.query") {
      VectorIndex.query(spark, index.toString, "id", "vector", Seq((-1L - i, q)), Probes, K)
        .collect().map((r: Row) => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq
    })
    val (exact, exactMs) = Common.timed(tr.span("functions.Similarity.exact")(exactTop(q)))
    hits += ((q, ivf))
    val exactIds = exact.map(e => idOf(e._1)).toSet
    (ivfMs, exactMs, ivf.count(h => exactIds(h._1)).toDouble / K)
  }

  private def bruteTop(q: Array[Double]): Seq[(String, Double)] =
    chunkIds.indices.map(i => (chunkIds(i), Common.cosine(q, vecs(i))))
      .sortBy { case (c, s) => (-s, c) }.take(K)

  /** Exact top-3 equals a driver-side brute force on a query sample;
    * every IVF hit's score equals its exact cosine; the index holds
    * every stored vector. */
  def check(): Seq[String] = {
    val fails = Seq.newBuilder[String]
    queries.take(4).zipWithIndex.foreach { case (q, i) =>
      val got = exactTop(q)
      val want = bruteTop(q)
      if (got != want) fails += s"exact top-$K of query $i: $got, brute force says $want"
    }
    hits.foreach { case (q, hs) =>
      hs.foreach { case (id, sim) =>
        vecOf.get(id) match {
          case None => fails += s"IVF hit $id is not a stored vector"
          case Some(v) if Common.cosine(q, v) != sim =>
            fails += s"IVF hit $id scored $sim, exact cosine ${Common.cosine(q, v)}"
          case _ =>
        }
      }
    }
    val indexed = spark.read.parquet(index.toString).count()
    if (indexed != ids.length) fails += s"index holds $indexed vectors, store ${ids.length}"
    fails.result().take(5)
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val builds = Layers.spansNamed(tr, "sources.VectorIndex.build")
    val ivf = Layers.spansNamed(tr, "sources.VectorIndex.query")
    val exact = Layers.spansNamed(tr, "functions.Similarity.exact")
    val ivfJobs = Layers.jobsUnder(tr, ivf)
    val nq = math.max(1, ivf.size).toDouble
    val cents = VectorIndex.loadCentroids(spark, index.toString)
    val cellDirs = Files.list(index).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("cell=")).map(_.stripPrefix("cell=").toInt).toSet
    val probed = queries.map(q => VectorIndex.probeCells(cents, q, Probes).count(cellDirs)).sum / queries.size.toDouble
    Map(
      "sources.VectorIndex.build_s" -> Layers.meanDur(builds),
      "sources.VectorIndex.build_jobs" -> Layers.jobsUnder(tr, builds).size / math.max(1, builds.size).toDouble,
      "sources.VectorIndex.cells_probed_per_query" -> probed,
      "sources.VectorIndex.rows_scanned_per_result" -> Layers.stagesOf(tr, ivfJobs).map(_.inRecords).sum / (nq * K),
      "sources.VectorIndex.jobs_per_query" -> ivfJobs.size / nq,
      "functions.Similarity.busy_s" -> Layers.meanDur(exact),
      "sources.VectorStore.scan_bytes_per_query" ->
        Layers.stagesOf(tr, Layers.jobsUnder(tr, exact)).map(_.inBytes).sum / math.max(1, exact.size).toDouble)
  }
}
