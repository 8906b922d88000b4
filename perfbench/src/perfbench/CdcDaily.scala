package perfbench

import java.nio.file.Path

import graft.pipeline.{IngestJob, Ledger}
import graft.sources.VectorStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `cdc_daily`: a long-lived store taken through one day after another.
  * A day is `IngestJob.incremental` over the changed landing zone, then
  * `IngestJob.deleteFiles` for the files that disappeared, under a new
  * `load_dt`, then `VectorStore.compact`. Set-up is day 0, days 1 and 2
  * are an untimed warm-up, and the timed loop starts at day 3. A traced
  * run then serves top-3 retrieval over the store the days left
  * ([[Retrieval]]), so the read side of the store layout is measured
  * on the same layout the writes produced. */
final class CdcDaily(nFiles: Int = 300) extends Workload {
  val name = "cdc_daily"
  val MinDays = 3
  /** Days keep getting faster for several days after the first; two
    * untimed days take the steepest part of that out of the timed loop. */
  val WarmUpDays = 2
  /** Three set-ups, not five: the days, not more refreshes, are what
    * warm this loop, and a run must stay inside the time budget. */
  override val setupReps = 3
  val InitialLoadDt = "2024-01-01"
  val Requests = 8

  private var retrievalFailures = Seq.empty[String]

  private var seed = 0L
  private var vocab: Gen.Vocab = _
  private var corpus: Gen.Corpus = _
  private var inputs: Path = _
  private var spark: SparkSession = _
  private var dir: Path = _
  private var live: Vector[Gen.FileSpec] = _
  private var day = 0

  private def landing = dir.resolve("landing")
  def store: Path = dir.resolve("store")
  private def ledger = dir.resolve("ledger")

  def generate(s: Long, in: Path): Seq[(String, Any)] = {
    seed = s
    inputs = in
    vocab = new Gen.Vocab(seed)
    corpus = Gen.corpus(seed, nFiles)
    val bytes = Gen.land(corpus, in.resolve("landing"), vocab)
    val p = Gen.dayPlan(seed, 1, corpus.files)
    CorpusStats(corpus, bytes) ++ Seq(
      "day_updated" -> p.updated.size, "day_added" -> p.added.size, "day_deleted" -> p.deleted.size)
  }

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s
    dir = d
    Common.copyTree(inputs.resolve("landing"), landing)
    live = corpus.files
    day = 0
    IngestJob.fullRefresh(spark, Common.landed(spark, landing), ledger.toString, store.toString, InitialLoadDt)
  }

  /** Untimed days: their plans differ from the full refresh's. */
  override def warmUp(): Unit =
    (1 to WarmUpDays).foreach(_ => runDay(new Tracer(spark.sparkContext, false), new Phase))

  /** Land the next day's changes (untimed: the source system does
    * that), then time the day's program work. */
  private def runDay(tr: Tracer, ph: Phase): Unit = {
    day += 1
    val plan = Gen.dayPlan(seed, day, live)
    val landedBytes = Gen.applyDay(plan, landing, seed, vocab)
    val replaced = plan.updated.map(f => f.name -> f).toMap
    val gone = plan.deleted.toSet
    live = live.filterNot(f => gone(f.name)).map(f => replaced.getOrElse(f.name, f)) ++ plan.added
    val session = spark
    import session.implicits._
    val deleted = plan.deleted.toDF("name")
    if (tr.enabled) tracedDiff(tr, ph)
    val before = if (tr.enabled) Common.partitionFiles(store) else Map.empty[String, Set[String]]
    val io0 = Proc.io()
    ph.attempted += 1
    val (_, ms) = Common.timed(tr.span("op") {
      tr.span("pipeline.IngestJob.incremental") {
        IngestJob.incremental(spark, Common.landed(spark, landing), ledger.toString, store.toString, plan.loadDt)
      }
      tr.span("pipeline.IngestJob.deleteFiles") {
        IngestJob.deleteFiles(spark, deleted, ledger.toString, store.toString)
      }
      tr.span("sources.VectorStore.compact")(VectorStore.compact(spark, store.toString))
    })
    val io1 = Proc.io()
    ph.opMs += ms
    ph.add("cdc_write_amp", "ratio", (io1.wchar - io0.wchar).toDouble / math.max(1L, landedBytes))
    if (tr.enabled) {
      val after = Common.partitionFiles(store)
      val rewritten = before.keys.filter(k => after.get(k).exists(_ != before(k))).toSeq
      ph.add("sources.VectorStore.partitions_rewritten", "count", rewritten.size.toDouble)
      val carried = if (rewritten.isEmpty) 0L
        else VectorStore.read(spark, store.toString)
          .filter(col("load_dt").cast("string").isin(rewritten: _*)).count()
      ph.add("sources.VectorStore.records_carried", "count", carried.toDouble)
    }
  }

  /** The CDC diff on its own, before the day that runs it for real. */
  private def tracedDiff(tr: Tracer, ph: Phase): Unit = {
    val files = Common.landed(spark, landing).select("name", "last_modified")
    val (changed, ms) = Common.timed(tr.span("pipeline.Ledger.diff") {
      Ledger.newAndUpdated(files, Ledger.read(spark, ledger.toString)).count()
    })
    ph.add("pipeline.Ledger.diff_s", "s", ms / 1000.0)
    ph.add("pipeline.Ledger.changed_share", "ratio", changed.toDouble / math.max(1, live.size))
  }

  def run(tr: Tracer, deadlineNs: Long, ph: Phase): Unit = {
    do runDay(tr, ph) while (System.nanoTime() < deadlineNs || ph.opMs.size < MinDays)
    val (files, bytes) = Common.parquetFootprint(store)
    val rows = VectorStore.read(spark, store.toString).count()
    ph.add("store_bytes_per_chunk", "B", bytes.toDouble / math.max(1L, rows))
    ph.add("sources.VectorStore.files", "count", files.toDouble)
    ph.add("sources.VectorStore.bytes", "B", bytes.toDouble)
  }

  /** The store after the days must equal a full refresh of the final
    * listing on every column but `load_dt`, hold no orphan or duplicate
    * chunk, and the ledger must equal the final listing. */
  def check(): Seq[String] = {
    val fails = Seq.newBuilder[String]
    fails ++= retrievalFailures
    val fresh = dir.resolve("check_store").toString
    val listing = Common.landed(spark, landing)
    IngestJob.fullRefresh(spark, listing, dir.resolve("check_ledger").toString, fresh, InitialLoadDt)
    val st = VectorStore.read(spark, store.toString)
    val got = Common.digest(st, Common.StoreCols)
    val want = Common.digest(VectorStore.read(spark, fresh), Common.StoreCols)
    if (got != want) fails += s"store after $day days differs from a full refresh: $got vs $want"
    val ids = st.select("chunk_id").distinct().count()
    if (ids != got._1) fails += s"duplicate chunks: $ids distinct ids of ${got._1} rows"
    val orphans = st.select("name").distinct().join(listing.select("name"), Seq("name"), "left_anti").count()
    if (orphans != 0) fails += s"$orphans files in the store are not in the listing"
    val ledgerDigest = Common.digest(Ledger.read(spark, ledger.toString), Seq("name", "last_modified"))
    val listingDigest = Common.digest(listing, Seq("name", "last_modified"))
    if (ledgerDigest != listingDigest) fails += "ledger differs from the final listing"
    val listed = listing.count()
    if (listed != live.size) fails += s"landing holds $listed files, the day plans say ${live.size}"
    fails.result()
  }

  def layers(tr: Tracer, ph: Phase): Map[String, Double] = {
    val ops = Layers.ops(tr)
    val n = math.max(1, ops.size).toDouble
    val jobs = Layers.jobsUnder(tr, ops)
    val ingest = Seq("pipeline.IngestJob.incremental", "pipeline.IngestJob.deleteFiles")
      .flatMap(Layers.spansNamed(tr, _))
    val compacts = Layers.spansNamed(tr, "sources.VectorStore.compact")
    Map(
      "pipeline.IngestJob.incremental_s" -> Layers.meanDur(Layers.spansNamed(tr, "pipeline.IngestJob.incremental")),
      "pipeline.IngestJob.deleteFiles_s" -> Layers.meanDur(Layers.spansNamed(tr, "pipeline.IngestJob.deleteFiles")),
      "pipeline.IngestJob.driver_gap_s" -> ingest.map(s => Layers.driverGap(s, Layers.jobsUnder(tr, Seq(s)))).sum / n,
      "pipeline.Ledger.write_s" -> Layers.siteSeconds(jobs, "Ledger") / n,
      "sources.VectorStore.write_s" -> Layers.siteSeconds(jobs, "VectorStore") / n,
      "sources.VectorStore.compact_s" -> Layers.meanDur(compacts),
      "sources.VectorStore.bytes_written" ->
        Layers.stagesOf(tr, Layers.jobsOf(jobs, "VectorStore")).map(_.outBytes).sum / n) ++
      retrieval(tr, ph)
  }

  /** Index build and closed-loop top-3 requests over the final store. */
  private def retrieval(tr: Tracer, ph: Phase): Map[String, Double] = {
    val r = new Retrieval(spark, store, dir.resolve("index"), seed)
    r.build(tr)
    (0 until Requests).foreach { i =>
      val (ivfMs, exactMs, recall) = r.request(tr, i)
      ph.add("query_ms", "ms", ivfMs)
      ph.add("exact_query_ms", "ms", exactMs)
      ph.add("recall_at_3", "ratio", recall)
    }
    tr.drain()
    retrievalFailures = r.check()
    r.layers(tr) + ("index_build_s" -> Layers.meanDur(Layers.spansNamed(tr, "sources.VectorIndex.build")))
  }
}
