package perfbench

import java.nio.file.Path

import graft.functions.{Chunkers, Embedders, TextFunctions => TF}
import graft.pipeline.{DocPipeline, IngestJob, Ledger}
import graft.sources.{ParseOps, VectorStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `ingest_full`: timed `IngestJob.fullRefresh` over a landing zone of
  * real files; each refresh replaces the previous store. */
final class IngestFull(nFiles: Int = 300) extends Workload {
  val name = "ingest_full"
  val LoadDt = "2024-01-01"
  val StubPattern = "^\\[(docx|pptx|pdf|eml|msg):[0-9]+ bytes\\]$"

  private var corpus: Gen.Corpus = _
  private var seed = 0L
  private var landing: Path = _
  private var landedBytes = 0L
  private val expectedChunks = scala.collection.mutable.Map.empty[String, Int]
  private var spark: SparkSession = _
  private var dir: Path = _
  private var lastReport: IngestJob.RunReport = _
  private var gatewayFailures = Seq.empty[String]

  def generate(s: Long, inputs: Path): Seq[(String, Any)] = {
    seed = s
    val vocab = new Gen.Vocab(seed)
    corpus = Gen.corpus(seed, nFiles)
    landing = inputs.resolve("landing")
    landedBytes = Gen.land(corpus, landing, vocab)
    corpus.files.filter(f => Gen.PlainFormats(f.fmt)).foreach { f =>
      val toks = Gen.plainTokens(java.nio.file.Files.readAllBytes(landing.resolve(f.name)))
      expectedChunks(f.name) = math.max(1, (toks + DocPipeline.ChunkWords - 1) / DocPipeline.ChunkWords)
    }
    CorpusStats(corpus, landedBytes)
  }

  /** A first full refresh of the corpus into a fresh directory: the
    * store the timed refreshes replace. The five set-ups are also the
    * JIT's warm-up for the timed refreshes. */
  def setup(s: SparkSession, d: Path): Unit = {
    spark = s
    dir = d
    refresh()
  }

  def store: Path = dir.resolve("store")

  private def refresh(): IngestJob.RunReport =
    IngestJob.fullRefresh(spark, Common.landed(spark, landing), dir.resolve("ledger").toString, store.toString, LoadDt)

  override def throughput = Some("ingest_docs_per_s" -> "files/s")

  def run(tr: Tracer, deadlineNs: Long, ph: Phase): Unit = {
    do {
      ph.attempted += 1
      val (rep, ms) = Common.timed(tr.span("op")(tr.span("pipeline.IngestJob.fullRefresh")(refresh())))
      lastReport = rep
      ph.opMs += ms
      ph.items += rep.filesProcessed
    } while (System.nanoTime() < deadlineNs)
    val (files, bytes) = Common.parquetFootprint(store)
    ph.add("functions.Chunkers.chunks", "count", lastReport.chunksUpserted.toDouble)
    ph.add("store_bytes_per_chunk", "B", bytes.toDouble / math.max(1L, lastReport.chunksUpserted))
    ph.add("sources.VectorStore.files", "count", files.toDouble)
    ph.add("sources.VectorStore.bytes", "B", bytes.toDouble)
  }

  def check(): Seq[String] = {
    val st = VectorStore.read(spark, store.toString)
    val perName = st.groupBy("name")
      .agg(count(lit(1)).as("n"), max("index").as("mx"), min("index").as("mn"),
        max(when(col("text").rlike(StubPattern), 1).otherwise(0)).as("stub"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    val rows = perName.values.map(_._1).sum
    val ids = st.select("chunk_id").distinct().count()
    val fails = Seq.newBuilder[String]
    fails ++= gatewayFailures
    if (rows != lastReport.chunksUpserted)
      fails += s"store rows $rows != chunk total ${lastReport.chunksUpserted}"
    if (ids != rows) fails += s"duplicate chunk ids: $ids distinct of $rows rows"
    val missing = corpus.files.map(_.name).filterNot(perName.contains)
    if (missing.nonEmpty) fails += s"${missing.size} supported files have no chunk, e.g. ${missing.head}"
    perName.collect { case (n, (c, mx, mn, _)) if mn != 0 || mx + 1 != c => n }.headOption
      .foreach(n => fails += s"chunk ordinals of $n are not 0..n-1")
    expectedChunks.collect { case (n, e) if perName.get(n).exists(_._1 != e) => n }.headOption
      .foreach(n => fails += s"$n has ${perName(n)._1} chunks, expected ${expectedChunks(n)}")
    val stubs = perName.collect { case (n, (_, _, _, 1)) => n }.toSet
    val corrupt = corpus.files.filter(_.corrupt).map(_.name).toSet
    if (stubs != corrupt) fails += s"stub-fallback files ${stubs.size} != corrupt files ${corrupt.size}"
    fails.result()
  }

  def layers(tr: Tracer, ph: Phase): Map[String, Double] = {
    val ops = Layers.ops(tr)
    val n = math.max(1, ops.size).toDouble
    val jobs = Layers.jobsUnder(tr, ops)
    val refresh = Layers.spansNamed(tr, "pipeline.IngestJob.fullRefresh")
    val timed = Map(
      "pipeline.IngestJob.fullRefresh_s" -> Layers.meanDur(refresh),
      "pipeline.IngestJob.driver_gap_s" -> refresh.map(s => Layers.driverGap(s, Layers.jobsUnder(tr, Seq(s)))).sum / n,
      "sources.VectorStore.write_s" -> Layers.siteSeconds(jobs, "VectorStore") / n,
      "sources.VectorStore.bytes_written" ->
        Layers.stagesOf(tr, Layers.jobsOf(jobs, "VectorStore")).map(_.outBytes).sum / n,
      "pipeline.Ledger.write_s" -> Layers.siteSeconds(jobs, "Ledger") / n)
    timed ++ isolated(tr) ++ gateway(tr)
  }

  /** Gateway embedding ([[EmbedGateway]]): no other timed path calls it,
    * because `IngestJob` embeds with the deterministic Catalyst kernel. */
  private def gateway(tr: Tracer): Map[String, Double] = {
    val g = new EmbedGateway(spark, seed)
    println(s"# gateway inputs: ${g.inputStats.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    g.run(tr)
    tr.drain()
    gatewayFailures = g.check()
    g.layers
  }

  /** Each layer of the refresh materialized on its own, on the previous
    * layer's cached output: read, parse, clean, chunk, embed, then the
    * enrich + store write and the ledger write. The stages mirror
    * IngestJob.prepareVectorData; the check below holds them to it by
    * comparing the resulting store with the timed refresh's store. */
  private def isolated(tr: Tracer): Map[String, Double] = {
    val isoStore = dir.resolve("iso_store").toString
    var stub = 0L
    var supported = 0L
    var chunks = 0L
    tr.span("iso") {
      val read = tr.span("sources.binaryFile") {
        val f = Common.landed(spark, landing)
          .withColumn("file_type", TF.extExtract(col("name")))
          .filter(ParseOps.isSupported(col("file_type")))
          .withColumn("source", lit("")).cache()
        supported = f.count(); f
      }
      val parsed = tr.span("sources.ParseOps") {
        val p = read.withColumn("parsed", ParseOps.parseText(col("file_type"), col("content")))
          .drop("content").cache()
        stub = p.filter(col("parsed").rlike(StubPattern)).count(); p
      }
      read.unpersist()
      val cleaned = tr.span("functions.TextFunctions") {
        val c = parsed.withColumn("clean", TF.cleanText(col("parsed"))).drop("parsed").cache()
        c.count(); c
      }
      parsed.unpersist()
      val chunked = tr.span("functions.Chunkers") {
        val c = cleaned.select(col("name"), col("url"), to_date(col("last_modified")).as("modified_dt"),
          col("source"), posexplode(Chunkers.chunkFixedWordsIn(spark, col("clean"),
            DocPipeline.ChunkWords, DocPipeline.OverlapFraction)).as(Seq("index", "text")))
          .withColumn("index", col("index").cast("int")).cache()
        chunks = c.count(); c
      }
      cleaned.unpersist()
      val embedded = tr.span("functions.Embedders") {
        val e = chunked.withColumn("vector",
          Embedders.l2Normalize(Embedders.deterministicEmbedIn(spark, col("text"))).cast("array<float>"))
          .cache()
        e.count(); e
      }
      chunked.unpersist()
      tr.span("sources.VectorStore") {
        VectorStore.replaceAll(spark, isoStore, embedded
          .withColumn("n_tokens", TF.wordCount(col("text")).cast("int"))
          .withColumn("chunk_id", TF.chunkId(col("name"), col("index")))
          .withColumn("load_dt", to_date(lit(LoadDt)))
          .withColumn("title", col("name"))
          .select("name", "url", "modified_dt", "index", "text", "vector",
            "n_tokens", "chunk_id", "load_dt", "source", "title"))
      }
      embedded.unpersist()
      tr.span("pipeline.Ledger") {
        Ledger.write(Common.landed(spark, landing).select(col("name"), col("url"), col("last_modified"),
          TF.extExtract(col("name")).as("file_type")), dir.resolve("iso_ledger").toString)
      }
    }
    tr.drain()
    val isoMatches = Common.digest(VectorStore.read(spark, isoStore), Common.StoreCols) ==
      Common.digest(VectorStore.read(spark, store.toString), Common.StoreCols)
    require(isoMatches, "isolated-stage store differs from the timed refresh's store")
    def dur(n: String) = Layers.meanDur(Layers.spansNamed(tr, n))
    val stages = Seq("sources.binaryFile", "sources.ParseOps", "functions.TextFunctions",
      "functions.Chunkers", "functions.Embedders", "sources.VectorStore", "pipeline.Ledger")
    Map(
      "sources.ParseOps.busy_s" -> dur("sources.ParseOps"),
      "sources.ParseOps.bytes_per_s" -> landedBytes / math.max(1e-9, dur("sources.ParseOps")),
      "sources.ParseOps.fallback_share" -> stub.toDouble / math.max(1L, supported),
      "functions.TextFunctions.clean_busy_s" -> dur("functions.TextFunctions"),
      "functions.Chunkers.busy_s" -> dur("functions.Chunkers"),
      "functions.Chunkers.chunks" -> chunks.toDouble,
      "functions.Chunkers.chunks_per_file" -> chunks.toDouble / math.max(1L, supported),
      "functions.Embedders.busy_s" -> dur("functions.Embedders"),
      "functions.Embedders.vectors" -> chunks.toDouble,
      "trace.isolated_read_s" -> dur("sources.binaryFile"),
      "trace.isolated_store_write_s" -> dur("sources.VectorStore"),
      "trace.isolated_ledger_write_s" -> dur("pipeline.Ledger"),
      "trace.isolated_sum_s" -> stages.map(dur).sum)
  }
}

/** Input stats of a generated corpus. */
object CorpusStats {
  def apply(c: Gen.Corpus, bytes: Long): Seq[(String, Any)] = {
    val n = c.files.size.toDouble
    Seq("files" -> c.files.size, "bytes" -> bytes,
      "words" -> c.files.map(_.words.toLong).sum,
      "formats" -> c.files.groupBy(_.fmt).toSeq.sortBy(_._1)
        .map { case (f, fs) => f"$f:${fs.size / n}%.3f" }.mkString(","),
      "corrupt_share" -> f"${c.files.count(_.corrupt) / n}%.4f")
  }
}
