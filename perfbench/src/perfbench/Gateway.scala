package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback embedding gateway stub (JDK HTTP server) speaking the
  * OpenAI embeddings shape: `{"input": [...]}` in, `{"data": [{"index":
  * i, "embedding": [...]}, ...]}` out, with the entries in a shuffled
  * order so the client must honour `index`.
  *
  *  - Each request costs a fixed modeled service time (a sleep, so the
  *    stub's own CPU stays small) and carries at most `maxInputs` texts;
  *    a larger request is refused with 413.
  *  - The first attempt of a request fails with 503 when `failsFirst`
  *    holds for the texts it carries; a retry of the same body succeeds,
  *    so the failure pattern repeats exactly. [[newEpoch]] forgets which
  *    bodies were seen, so every timed pass sees the same failures.
  *  - The vector for a text is [[vectorOf]]: dyadic components that
  *    print and parse back exactly.
  */
final class Gateway(seed: Long, serviceMs: Long, maxInputs: Int, failsFirst: Vector[String] => Boolean,
    threads: Int) {
  import Gateway._

  // the JDK server writes headers and body separately; without
  // TCP_NODELAY each response stalls on Nagle + delayed ACK
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  private val seen = ConcurrentHashMap.newKeySet[String]()

  val requests = new AtomicLong()
  val texts = new AtomicLong()
  val failed503 = new AtomicLong()
  val refused = new AtomicLong()
  private val cpuNs = new AtomicLong()
  // in-flight integral for mean/max/idle, guarded by `this`
  private var inflight = 0
  private var maxInflight = 0
  private var lastChangeNs = System.nanoTime()
  private var busyIntegral = 0.0 // sum of inflight * dt (ns)
  private var idleNs = 0L

  private def change(delta: Int): Unit = synchronized {
    val now = System.nanoTime()
    val dt = now - lastChangeNs
    busyIntegral += inflight.toDouble * dt
    if (inflight == 0) idleNs += dt
    inflight += delta
    maxInflight = math.max(maxInflight, inflight)
    lastChangeNs = now
  }

  server.createContext("/embeddings", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/embeddings"

  private def handle(ex: HttpExchange): Unit = {
    change(+1)
    val t0 = threadCpu()
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      requests.incrementAndGet()
      val inputs = parseInputs(body)
      val (status, out) =
        if (inputs.length > maxInputs) { refused.incrementAndGet(); (413, "{\"error\": \"too many inputs\"}") }
        else if (seen.add(body) && failsFirst(inputs)) {
          failed503.incrementAndGet(); (503, "{\"error\": \"overloaded\"}")
        } else {
          texts.addAndGet(inputs.length)
          (200, response(inputs, seed ^ body.hashCode))
        }
      cpuNs.addAndGet(threadCpu() - t0)
      Thread.sleep(serviceMs)
      val bytes = out.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      change(-1)
    }
  }

  /** Forget first attempts and zero the counters. */
  def newEpoch(): Unit = synchronized {
    seen.clear()
    Seq(requests, texts, failed503, refused, cpuNs).foreach(_.set(0))
    maxInflight = inflight
    busyIntegral = 0.0
    idleNs = 0L
    lastChangeNs = System.nanoTime()
  }

  /** Counters since the last [[newEpoch]], over `wallNs` of wall time. */
  def stats(wallNs: Long): Stats = synchronized {
    change(0)
    val wall = math.max(1L, wallNs).toDouble
    Stats(requests.get, texts.get, failed503.get, refused.get,
      busyIntegral / wall, maxInflight, math.min(1.0, idleNs / wall), cpuNs.get / wall)
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Gateway {
  /** The program's pinned embedding width (the reference's). */
  val Dim: Int = graft.config.PipelineConfig.Default.embeddingDim

  final case class Stats(requests: Long, texts: Long, failed503: Long, refused: Long,
      inflightMean: Double, inflightMax: Int, idleShare: Double, cpuShare: Double)

  private val bean = java.lang.management.ManagementFactory.getThreadMXBean
  private def threadCpu(): Long = bean.getCurrentThreadCpuTime

  /** FNV-1a 64 of the text's UTF-8 bytes. */
  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(UTF_8).foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
    h
  }

  /** The gateway's function of a text: `Dim` multiples of 1/1024 in
    * [-1, 1), exactly representable in JSON. */
  def vectorOf(text: String): Array[Double] = {
    var x = fnv(text) | 1L
    Array.fill(Dim) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ((x >>> 40) & 0x7ff).toDouble / 1024.0 - 1.0
    }
  }

  /** Key of the texts one request carries. */
  def key(inputs: Seq[String]): Long = fnv(inputs.mkString("\u0000"))

  /** The `input` array of a request body, JSON-unescaped. The client
    * writes a flat array of strings (HttpEmbedBackend.requestBody). */
  def parseInputs(body: String): Vector[String] = {
    val start = body.indexOf('[', body.indexOf("\"input\""))
    val out = Vector.newBuilder[String]
    var i = start + 1
    var done = false
    while (!done && i < body.length) {
      body.charAt(i) match {
        case ']' => done = true
        case '"' =>
          val sb = new StringBuilder
          i += 1
          while (body.charAt(i) != '"') {
            if (body.charAt(i) == '\\') {
              i += 1
              body.charAt(i) match {
                case 'u' => sb.append(Integer.parseInt(body.substring(i + 1, i + 5), 16).toChar); i += 4
                case 'n' => sb.append('\n')
                case 't' => sb.append('\t')
                case c   => sb.append(c)
              }
            } else sb.append(body.charAt(i))
            i += 1
          }
          out += sb.toString
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** Entries in a shuffled order, each carrying its input `index`. */
  def response(inputs: Vector[String], shuffleSeed: Long): String = {
    val order = new scala.util.Random(shuffleSeed).shuffle(inputs.indices.toVector)
    order.map { i =>
      s"""{"object": "embedding", "index": $i, "embedding": [${vectorOf(inputs(i)).mkString(", ")}]}"""
    }.mkString("{\"object\": \"list\", \"data\": [", ", ", "], \"model\": \"stub\"}")
  }
}
