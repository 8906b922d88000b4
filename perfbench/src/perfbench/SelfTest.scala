package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.pipeline.{BatchedEmbedder, HttpEmbedBackend}
import graft.sources.VectorStore

/** The benchmark's own tests:
  *
  *   python3 perfbench/run.py --self-test
  *
  * Generator determinism, the gateway stub's contract, the metric-name
  * grammar of BENCHMARK.json, and output checks that must fail on a
  * store with one chunk dropped. Exits non-zero when any test fails. */
object SelfTest {

  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def files(dir: Path): Map[String, (Seq[Byte], Long)] =
    Files.list(dir).iterator().asScala.map { p =>
      p.getFileName.toString -> (Files.readAllBytes(p).toSeq, Files.getLastModifiedTime(p).toMillis)
    }.toMap

  def generatorIsDeterministic(work: Path): Unit = {
    val vocab = new Gen.Vocab(7)
    val c = Gen.corpus(7, 80)
    Gen.land(c, work.resolve("a"), vocab)
    Gen.land(Gen.corpus(7, 80), work.resolve("b"), new Gen.Vocab(7))
    assert(files(work.resolve("a")) == files(work.resolve("b")), "same seed, different landed bytes")
    Gen.land(Gen.corpus(8, 80), work.resolve("c"), new Gen.Vocab(8))
    assert(files(work.resolve("a")) != files(work.resolve("c")), "different seeds, same landed bytes")
    assert(Gen.corpus(8, 80).files.map(_.words).sum == c.files.map(_.words).sum,
      "corpus size must not depend on the seed")
    assert(c.files.count(_.corrupt) == math.round(80 * Gen.CorruptShare), "corrupt count")
    val d1 = Gen.dayPlan(7, 3, c.files)
    assert(d1 == Gen.dayPlan(7, 3, c.files), "day plan differs for the same seed")
    Gen.applyDay(d1, work.resolve("a"), 7, vocab)
    Gen.applyDay(Gen.dayPlan(7, 3, c.files), work.resolve("b"), 7, new Gen.Vocab(7))
    assert(files(work.resolve("a")) == files(work.resolve("b")), "same day plan, different landed bytes")
    val stored = IndexedSeq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    assert(Gen.queries(3, stored, 10, 0.5).map(_.toSeq) == Gen.queries(3, stored, 10, 0.5).map(_.toSeq),
      "query vectors differ for the same seed")
    assert(Gen.chunkTexts(3, 50, vocab) == Gen.chunkTexts(3, 50, new Gen.Vocab(7)), "gateway texts differ")
  }

  def gatewayContract(): Unit = {
    val order = "\"index\": (\\d+)".r.findAllMatchIn(Gateway.response(Vector.tabulate(8)(_.toString), 1L))
      .map(_.group(1).toInt).toSeq
    assert(order.sorted == (0 until 8) && order != (0 until 8), s"entries must be a shuffled permutation: $order")

    val gw = new Gateway(seed = 3, serviceMs = 0, maxInputs = 4, failsFirst = in => (Gateway.key(in) >>> 32 & 1L) == 0L,
      threads = 2)
    try {
      val raw = new HttpEmbedBackend(gw.url, Map.empty)
      def attempt(texts: Seq[String]): Boolean =
        try { raw.embedBatch(texts); true } catch { case _: java.io.IOException => false }
      val bodies = (0 until 24).map(i => Seq(s"text $i", "quote \" and \\ slash", s"tab\there $i"))
      val first = bodies.map(attempt)
      assert(first.contains(false) && first.contains(true), s"half the keys must fail some first attempts: $first")
      assert(bodies.forall(attempt), "a retried body must succeed")
      assert(gw.failed503.get == first.count(!_), "503 count must equal failed first attempts")
      gw.newEpoch()
      assert(bodies.map(attempt) == first, "which bodies fail must repeat exactly")

      gw.newEpoch()
      val retrying = new BatchedEmbedder.RetryingBackend(raw, maxRetries = 2, baseDelayMs = 1L)
      bodies.foreach { texts =>
        val got = retrying.embedBatch(texts)
        assert(got.map(_.toSeq) == texts.map(t => Gateway.vectorOf(t).toSeq),
          s"vectors must be the gateway's function of each text, in input order: $texts")
      }
      assert(!attempt(Seq("1", "2", "3", "4", "5")) && gw.refused.get == 1, "over-cap request must be refused")
    } finally gw.close()
  }

  def metricNames(benchmarkJson: Path): Unit = {
    val d = Main.declared(benchmarkJson)
    val all = d.endToEnd ++ d.perLayer
    all.foreach { case (n, u) =>
      assert(n.matches(Stats.NamePattern), s"bad metric name $n")
      assert(u.matches(Stats.UnitPattern), s"bad unit $u of $n")
    }
    assert(all.map(_._1).distinct.size == all.size, "metric names must be unique")
    assert(d.endToEnd.contains("setup_s" -> "s"), "setup_s in s is required")
    assert(!"9bad name".matches(Stats.NamePattern) && !"_x".matches(Stats.NamePattern) &&
      !("x" * 65).matches(Stats.NamePattern), "grammar accepts a bad name")
  }

  /** A workload's check passes on its own output, then fails once one
    * chunk is deleted from the store. */
  def checkCatchesDroppedChunk(wl: Workload, store: => Path, work: Path): Unit = {
    val spark = Main.session(2, work)
    wl.generate(5, work.resolve("inputs"))
    wl.setup(spark, work.resolve("rep"))
    wl.run(new Tracer(spark.sparkContext, false), System.nanoTime(), new Phase)
    val ok = wl.check()
    assert(ok.isEmpty, s"${wl.name}: check fails on a correct store: $ok")
    val victim = VectorStore.read(spark, store.toString).select("chunk_id").orderBy("chunk_id").head().getString(0)
    import spark.implicits._
    VectorStore.deleteWhere(spark, store.toString, Seq(victim).toDF("chunk_id"), "chunk_id")
    assert(wl.check().nonEmpty, s"${wl.name}: check passes on a store with chunk $victim dropped")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(args("work"))
    val ingest = new IngestFull(nFiles = 60)
    val cdc = new CdcDaily(nFiles = 60)
    val tests: Seq[(String, () => Unit)] = Seq(
      "generator is deterministic" -> (() => generatorIsDeterministic(work.resolve("gen"))),
      "gateway contract" -> (() => gatewayContract()),
      "metric-name grammar" -> (() => metricNames(Paths.get(args("benchmark-json")))),
      "ingest_full check catches a dropped chunk" ->
        (() => checkCatchesDroppedChunk(ingest, ingest.store, work.resolve("ingest"))),
      "cdc_daily check catches a dropped chunk" ->
        (() => checkCatchesDroppedChunk(cdc, cdc.store, work.resolve("cdc"))))
    var failed = 0
    tests.foreach { case (name, t) =>
      try { t(); println(s"ok   $name") }
      catch { case e: Throwable => failed += 1; println(s"FAIL $name: ${e.getMessage}") }
    }
    println(s"${tests.size - failed} passed, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
