package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one timed phase measured. */
final class Phase {
  val opMs = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var attempted = 0L
  var failed = 0L
  var ioStart: Proc.Io = _
  var ioEnd: Proc.Io = _
  /** Workload-specific end-to-end figures: name → (samples, unit). */
  val samples = mutable.LinkedHashMap.empty[String, (mutable.ArrayBuffer[Double], String)]
  def add(name: String, unit: String, v: Double): Unit =
    samples.getOrElseUpdate(name, (mutable.ArrayBuffer.empty[Double], unit))._1 += v
  def opSeconds: Double = opMs.sum / 1000.0
}

/** One workload: a seeded input generator, a set-up that can run again
  * in a fresh session, a timed loop of one kind of operation, output
  * checks, and its per-layer numbers. */
trait Workload {
  def name: String
  /** Generate inputs under `dir`; returns the input stats to print. */
  def generate(seed: Long, dir: Path): Seq[(String, Any)]
  /** Untimed state for the timed phase, built from scratch under `dir`. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Run timed operations until `deadlineNs` (at least one). */
  def run(tr: Tracer, deadlineNs: Long, ph: Phase): Unit
  /** Output checks; each string is a failure. */
  def check(): Seq[String]
  /** Per-layer metrics from a traced phase. */
  def layers(tr: Tracer, ph: Phase): Map[String, Double]
  /** Untimed operations after the set-ups that only warm the JVM for
    * the timed loop; not part of `setup_s`. */
  def warmUp(): Unit = ()
  /** Set-ups per run; their median is `setup_s`. */
  def setupReps: Int = 5
  /** Name and unit of the phase's `items` per second of operations,
    * printed (not gated) where items are work the program reports. */
  def throughput: Option[(String, String)] = None
}

object Main {

  def session(cpus: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(name: String): Workload = name match {
    case "ingest_full"   => new IngestFull
    case "cdc_daily"     => new CdcDaily
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  final case class Declared(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

  def declared(path: Path): Declared = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    def list(k: String) = root.get(k).elements().asScala.toSeq
      .map(n => n.get("name").asText() -> n.get("unit").asText())
    Declared(list("end_to_end"), list("per_layer"))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toVector
    all.reverse.foreach(Files.deleteIfExists)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work"))
    val decl = declared(Paths.get(args("benchmark-json")))
    val cpus = Runtime.getRuntime.availableProcessors()
    val out = System.out
    def say(s: String): Unit = out.println(s)

    val wl = workload(wlName)
    Files.createDirectories(work)
    val g0 = System.nanoTime()
    val inputStats = wl.generate(seed, work.resolve("inputs"))
    val genS = (System.nanoTime() - g0) / 1e9

    // set up setupReps times, each in a fresh session and directory; the
    // last one's state is what the timed phase runs on
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to wl.setupReps).foreach { rep =>
      if (spark != null) stopSession(spark)
      deleteTree(work.resolve(s"rep${rep - 1}"))
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      wl.setup(spark, work.resolve(s"rep$rep"))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val ext = spark.catalog.functionExists("graft_cosine")

    say(s"# provenance: workload=$wlName seed=$seed cpus=$cpus master=local[$cpus] " +
      s"extension_loaded=$ext spark=${spark.version} trace=${if (trace) 1 else 0} " +
      s"source=${args.getOrElse("source-id", "unknown")}")
    say(f"# warm-up after set-up: $warmS%.3f s")
    say(s"# inputs: generate_s=${"%.3f".format(genS)} " +
      inputStats.map { case (k, v) => s"$k=$v" }.mkString(" "))

    // tracing off for the end-to-end phase; a traced run spends the
    // second half of its seconds on the same loop with tracing on, so
    // the overhead is measured inside one run
    def runPhase(traced: Boolean, secs: Double): (Phase, Tracer) = {
      val tr = new Tracer(spark.sparkContext, traced)
      val ph = new Phase
      ph.ioStart = Proc.io()
      wl.run(tr, System.nanoTime() + (secs * 1e9).toLong, ph)
      ph.ioEnd = Proc.io()
      tr.drain()
      (ph, tr)
    }
    val (plain, _) = runPhase(traced = false, if (trace) seconds / 2 else seconds)
    val tracedPhase = if (trace) Some(runPhase(traced = true, seconds / 2)) else None

    // per-layer numbers first: a traced run may add checks of its own
    val layerValues = tracedPhase.map { case (ph, tr) => Layers.generic(tr, ph, cpus) ++ wl.layers(tr, ph) }
    tracedPhase.foreach { case (_, tr) =>
      tr.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        say(f"# traced span $name%s: n=${ss.size}%d, total ${ss.map(_.durS).sum}%.3f s, " +
          f"self ${ss.map(Layers.selfSeconds(tr, _)).sum}%.3f s")
      }
      val jobs = Layers.jobsUnder(tr, Layers.ops(tr))
      val module = Layers.modules(jobs)
      jobs.groupBy(j => module(j.id)).toSeq.sortBy(-_._2.map(j => j.endMs - j.startMs).sum).foreach { case (m, js) =>
        say(f"# traced jobs for $m%s: n=${js.size}%d, ${js.map(j => j.endMs - j.startMs).sum / 1000.0}%.3f s " +
          s"(${js.map(_.callSite).distinct.take(4).mkString("; ")})")
      }
    }
    val failures = wl.check()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"check failed: $f"))
      stopSession(spark)
      sys.exit(3)
    }

    def e2e(ph: Phase): Map[String, Double] = Map(
      "op_p50_ms" -> Stats.median(ph.opMs.toSeq),
      "setup_s" -> Stats.median(setupS.toSeq))
    val plainE2e = e2e(plain)
    val (tail, tailLabel) = Stats.tail(plain.opMs.toSeq)
    say(s"# ops_ms: ${plain.opMs.map(v => f"$v%.1f").mkString(" ")}")
    say(f"# metric op_p50_ms = ${plainE2e("op_p50_ms")}%.3f ms (median of n=${plain.opMs.size} ops)")
    say(f"# metric op_tail_ms = $tail%.3f ms ($tailLabel of n=${plain.opMs.size} ops)")
    wl.throughput.foreach { case (n, u) =>
      say(f"# metric $n = ${plain.items / math.max(1e-9, plain.opSeconds)}%.3f $u (${plain.items} over ${plain.opSeconds}%.3f s of n=${plain.opMs.size} ops)")
    }
    say(f"# metric setup_s = ${plainE2e("setup_s")}%.3f s (median of n=${wl.setupReps} set-ups: ${setupS.map(v => f"$v%.3f").mkString(", ")})")
    say(f"# metric peak_rss_mb = ${Proc.peakRssMb()}%.1f MB (n=1)")
    say(f"# metric error_rate = ${plain.failed.toDouble / math.max(1L, plain.attempted)}%.4f ratio (${plain.failed} of n=${plain.attempted} ops)")
    def sayAll(ph: Phase, tag: String): Unit = ph.samples.foreach { case (n, (xs, unit)) =>
      val (t, lbl) = Stats.tail(xs.toSeq)
      if (xs.size == 1) say(f"# metric$tag $n = ${xs.head}%.6f $unit (n=1)")
      else say(f"# metric$tag $n = ${Stats.median(xs.toSeq)}%.6f $unit (median of n=${xs.size}; $lbl ${t}%.6f)")
    }
    sayAll(plain, "")
    tracedPhase.foreach(p => sayAll(p._1, " (traced)"))

    val metrics: Seq[Stats.Metric] = tracedPhase match {
      case None =>
        decl.endToEnd.map { case (n, u) =>
          Stats.Metric(n, plainE2e.getOrElse(n, sys.error(s"end-to-end metric $n not measured")), u)
        }
      case Some((ph, tr)) =>
        val tracedE2e = e2e(ph)
        val computed = mutable.LinkedHashMap.empty[String, Double]
        computed ++= layerValues.get
        computed("trace.overhead.op_p50_ms") = tracedE2e("op_p50_ms") - plainE2e("op_p50_ms")
        (ph.samples.toSeq ++ plain.samples.toSeq).foreach { case (n, (xs, _)) =>
          if (!computed.contains(n)) computed(n) = Stats.median(xs.toSeq)
        }
        // on ingest_full: how much of the untraced refresh the isolated
        // layer stages account for
        computed.get("trace.isolated_sum_s").foreach { s =>
          computed("trace.isolated_vs_untraced") = s * 1000.0 / plainE2e("op_p50_ms")
        }
        tr.close()
        val unknown = computed.keySet -- decl.perLayer.map(_._1)
        require(unknown.isEmpty, s"computed metrics not declared in BENCHMARK.json: ${unknown.mkString(", ")}")
        val idle = decl.perLayer.map(_._1).filterNot(computed.contains)
        if (idle.nonEmpty) say(s"# layers not exercised by $wlName (reported as 0): ${idle.mkString(" ")}")
        decl.perLayer.map { case (n, u) => Stats.Metric(n, computed.getOrElse(n, 0.0), u) }
    }
    stopSession(spark)
    say(Stats.resultLine(correct = true, plain.attempted + tracedPhase.map(_._1.attempted).getOrElse(0L),
      plain.failed + tracedPhase.map(_._1.failed).getOrElse(0L), metrics))
  }
}
