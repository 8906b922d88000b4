package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into the program's
  * public functions, plus a SparkListener that attributes every job,
  * stage and task to the span open when the job was submitted (through
  * the `perfbench.span` local property). Everything stays in memory;
  * [[Layers]] turns it into per-layer numbers when the run ends.
  *
  * With tracing off, [[span]] only runs its body: no listener, no
  * local properties, no records.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0L
  val listener: Listener = if (enabled) new Listener else null
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val parent = stack.headOption
    val s = Span(nextId, name, parent.map(_.id).getOrElse(0L),
      parent.map(_.op).getOrElse(nextId), System.nanoTime())
    stack.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      spans += s
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain(sc)

  def close(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener) }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, op: Long, startNs: Long) {
    var endNs: Long = startNs
    def durS: Double = (endNs - startNs) / 1e9
  }

  final class StageAgg {
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  /** `execution` is the SQL execution the job ran for: jobs that AQE
    * submits from its own threads carry no user call site, only that. */
  final case class Job(id: Int, span: Long, callSite: String, execution: String, startMs: Long, stages: Seq[Int]) {
    var endMs: Long = startMs
  }

  /** Module of a Spark call site, e.g. "parquet at VectorStore.scala:12"
    * → "VectorStore". */
  def siteFile(callSite: String): String = {
    val m = """at (\w+)\.scala:\d+""".r.findFirstMatchIn(callSite)
    m.map(_.group(1)).getOrElse("other")
  }

  final class Listener extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse(""))
      val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      jobs += Job(e.jobId, span, site, execution, e.time, e.stageIds)
      e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageAgg))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.taskMs += e.taskInfo.duration
      }
    }
  }
}

/** JVM process counters from /proc: the I/O the whole process did
  * (page-cache writes included in `wchar`) and resident memory. */
object Proc {
  final case class Io(rchar: Long, wchar: Long, readBytes: Long, writeBytes: Long)

  def io(): Io = {
    val kv = scala.util.Using(scala.io.Source.fromFile("/proc/self/io"))(_.getLines().toVector)
      .getOrElse(Vector.empty)
      .flatMap(l => l.split(":\\s*") match { case Array(k, v) => Some(k -> v.trim.toLong); case _ => None })
      .toMap
    Io(kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L),
      kv.getOrElse("read_bytes", 0L), kv.getOrElse("write_bytes", 0L))
  }

  /** Peak resident set size (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(_.getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)).getOrElse(0.0)
}
