package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded input generator. Everything the program sees — landed files,
  * their modification times, CDC day plans, query vectors, gateway
  * texts — is a pure function of the seed, so the same seed writes
  * byte-identical inputs.
  *
  * Variance that does not matter for the program's behaviour is taken
  * out on purpose: the format mix and corrupt count are fixed counts,
  * and each format's file lengths are the stratified quantiles of a
  * fixed Pareto law (the seed only permutes which file gets which
  * length). Different seeds then differ in content and order, not in
  * corpus size or per-format work, and run-to-run spread measures the
  * program rather than the draw.
  */
object Gen {

  /** Decoded by a UDF each, plus the three plain-text decodes. `msg`
    * is not generated: writing MS-CFB containers is out of scope. */
  val Formats: Seq[(String, Double)] = Seq(
    "txt" -> 0.18, "md" -> 0.10, "csv" -> 0.10, "html" -> 0.14,
    "eml" -> 0.14, "docx" -> 0.14, "pptx" -> 0.10, "pdf" -> 0.10)
  /** Only the zip and pdf decoders can fail; a corrupt file of those
    * types must degrade to the `[type:N bytes]` stub. */
  val CorruptibleFormats = Set("docx", "pptx", "pdf")
  val CorruptShare = 0.04
  val PlainFormats = Set("txt", "md", "csv")

  val VocabSize = 6000
  val ZipfS = 1.07
  val ParetoAlpha = 1.5
  val MinWords = 40
  val MaxWords = 4000

  /** Day 0 of the landing zone; every CDC day is strictly later. */
  val BaseEpochMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val DayMs: Long = 86400000L

  final case class FileSpec(name: String, fmt: String, words: Int, corrupt: Boolean)

  final case class Corpus(files: Vector[FileSpec], seed: Long)

  final class Vocab(seed: Long) {
    val words: Array[String] = {
      val r = new SplittableRandom(seed ^ 0x5EEDL)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < VocabSize) {
        val len = 2 + r.nextInt(9)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1, ZipfS))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, VocabSize - 1))
    }
    def text(r: SplittableRandom, n: Int): Seq[String] = Seq.fill(n)(draw(r))
  }

  private def shuffle[T](xs: Vector[T], r: SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** Stratified Pareto word counts: the i-th of n quantiles, capped. */
  def lengths(n: Int): Vector[Int] = Vector.tabulate(n) { i =>
    val u = (i + 0.5) / n
    math.min(MaxWords, (MinWords / math.pow(1 - u, 1 / ParetoAlpha)).toInt)
  }

  /** `n` files: fixed format counts, each format with its own stratified
    * lengths (so the bytes and decode work per format do not depend on
    * the seed), in a seeded order with a seeded choice of corrupt files. */
  def corpus(seed: Long, n: Int, prefix: String = "doc"): Corpus = {
    val r = new SplittableRandom(seed)
    val counts = Formats.map { case (f, share) => f -> math.max(1, math.round(n * share).toInt) }
    val sized = counts.flatMap { case (f, c) => lengths(c).map(f -> _) }.toVector.take(n)
    val specs = sized ++ lengths(n - sized.length).map("txt" -> _)
    val corruptible = specs.indices.filter(i => CorruptibleFormats(specs(i)._1)).toVector
    val corruptIdx = shuffle(corruptible, r).take(math.round(n * CorruptShare).toInt).toSet
    val order = shuffle(specs.indices.toVector, r)
    Corpus(order.zipWithIndex.map { case (src, i) =>
      val (fmt, words) = specs(src)
      FileSpec(f"$prefix%s_$i%05d.$fmt%s", fmt, words, corruptIdx(src))
    }, seed)
  }

  // ------------------------------------------------------------ formats

  private def lines(ws: Seq[String], perLine: Int): Seq[String] =
    ws.grouped(perLine).map(_.mkString(" ")).toSeq

  private def zip(entries: Seq[(String, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTime(0L) // fixed timestamps keep the archive byte-identical
      z.putNextEntry(e)
      z.write(body.getBytes(UTF_8))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def pdf(textLines: Seq[String]): Array[Byte] = {
    val content = textLines.map(l => s"($l) Tj T*").mkString("BT /F1 10 Tf 12 TL 72 760 Td\n", "\n", "\nET")
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
      s"<< /Length ${content.getBytes(UTF_8).length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.zipWithIndex.map { case (o, i) =>
      val off = sb.length
      sb.append(s"${i + 1} 0 obj\n$o\nendobj\n")
      off
    }
    val xref = sb.length
    sb.append(s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    sb.toString.getBytes(UTF_8)
  }

  /** Bytes that no decoder accepts: the right magic, then an alphabet
    * (digits and upper case) that can never spell a PDF operator or a
    * zip structure. */
  private def corruptBytes(fmt: String, n: Int, r: SplittableRandom): Array[Byte] = {
    val magic = if (fmt == "pdf") "%PDF-1.4\n" else "PK"
    val alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    (magic + Seq.fill(math.max(16, n))(alphabet.charAt(r.nextInt(alphabet.length))).mkString)
      .getBytes(UTF_8)
  }

  /** The file's bytes. `version` > 0 is a CDC rewrite; the content is a
    * pure function of (seed, name, version, words). */
  def render(f: FileSpec, seed: Long, version: Int, vocab: Vocab): Array[Byte] = {
    val r = new SplittableRandom(seed * 31 + f.name.hashCode * 17L + version)
    if (f.corrupt) return corruptBytes(f.fmt, f.words * 6, r)
    val ws = vocab.text(r, f.words)
    f.fmt match {
      case "txt" => lines(ws, 12).mkString("\n").getBytes(UTF_8)
      case "md" =>
        val (head, body) = ws.splitAt(math.min(4, ws.length))
        (s"# ${head.mkString(" ")}\n\n" + lines(body, 10).map("- " + _).mkString("\n")).getBytes(UTF_8)
      case "csv" => lines(ws, 5).map(_.replace(' ', ',')).mkString("\n").getBytes(UTF_8)
      case "html" =>
        lines(ws, 15).map(l => s"<p>$l</p>")
          .mkString("<html><head><title>doc</title></head><body>\n", "\n", "\n</body></html>")
          .getBytes(UTF_8)
      case "eml" =>
        ("From: a@example.com\r\nTo: b@example.com\r\nSubject: report\r\n" +
          "Content-Type: text/plain; charset=utf-8\r\n\r\n" +
          lines(ws, 14).mkString("\r\n")).getBytes(UTF_8)
      case "docx" =>
        val paras = lines(ws, 25).map(l => s"<w:p><w:r><w:t>$l</w:t></w:r></w:p>").mkString
        zip(Seq("word/document.xml" ->
          ("<?xml version=\"1.0\" encoding=\"UTF-8\"?><w:document xmlns:w=\"http://schemas" +
            s".openxmlformats.org/wordprocessingml/2006/main\"><w:body>$paras</w:body></w:document>")))
      case "pptx" =>
        val slides = ws.grouped(60).zipWithIndex.map { case (sw, i) =>
          val paras = lines(sw, 12).map(l => s"<a:p><a:r><a:t>$l</a:t></a:r></a:p>").mkString
          s"ppt/slides/slide${i + 1}.xml" ->
            ("<?xml version=\"1.0\" encoding=\"UTF-8\"?><p:sld xmlns:p=\"urn:p\" xmlns:a=\"urn:a\">" +
              s"<p:cSld><p:spTree><p:sp><p:txBody>$paras</p:txBody></p:sp></p:spTree></p:cSld></p:sld>")
        }.toSeq
        zip(slides)
      case "pdf" => pdf(lines(ws, 12))
    }
  }

  /** Whitespace tokens the chunker sees for a plain-decoded file — an
    * independent expectation of its chunk count. */
  def plainTokens(bytes: Array[Byte]): Int =
    new String(bytes, UTF_8).trim.split("\\s+").count(_.nonEmpty)

  def writeFile(dir: Path, name: String, bytes: Array[Byte], mtimeMs: Long): Long = {
    val p = dir.resolve(name)
    Files.write(p, bytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
    bytes.length.toLong
  }

  /** Initial modification time: spread over the 30 days before day 0. */
  def initialMtime(f: FileSpec, seed: Long): Long =
    BaseEpochMs - 1000L * (1 + math.floorMod(f.name.hashCode * 7919L + seed, 30L * 86400L))

  /** Write the corpus into `dir`; returns total bytes. */
  def land(c: Corpus, dir: Path, vocab: Vocab): Long = {
    Files.createDirectories(dir)
    c.files.map(f => writeFile(dir, f.name, render(f, c.seed, 0, vocab), initialMtime(f, c.seed))).sum
  }

  // ------------------------------------------------------------ CDC days

  final case class DayPlan(day: Int, loadDt: String, updated: Vector[FileSpec],
      added: Vector[FileSpec], deleted: Vector[String])

  val UpdateShare = 0.03
  val AddShare = 0.01
  val DeleteShare = 0.005

  /** One day's changes against the current listing: updates drawn
    * uniformly from every age (half shrink, half grow), new files, and
    * deletions. Pure in (seed, day, listing). */
  def dayPlan(seed: Long, day: Int, live: Vector[FileSpec]): DayPlan = {
    val r = new SplittableRandom(seed * 1000003L + day)
    val n = live.length
    val picked = shuffle(live.indices.toVector, r)
    val nUpd = math.max(1, math.round(n * UpdateShare).toInt)
    val nDel = math.max(1, math.round(n * DeleteShare).toInt)
    val updated = picked.take(nUpd).zipWithIndex.map { case (i, k) =>
      val f = live(i)
      val w = if (k % 2 == 0) math.max(MinWords / 2, (f.words * (0.4 + 0.4 * r.nextDouble())).toInt)
              else math.min(MaxWords, (f.words * (1.2 + 0.8 * r.nextDouble())).toInt)
      f.copy(words = w, corrupt = false)
    }
    val deleted = picked.slice(nUpd, nUpd + nDel).map(live(_).name)
    val fresh = corpus(seed * 7 + day, math.max(1, math.round(n * AddShare).toInt), f"d$day%03d")
    val loadDt = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString
    DayPlan(day, loadDt, updated, fresh.files, deleted)
  }

  /** Apply a day to the landing dir; returns landed bytes of new and
    * updated files. */
  def applyDay(p: DayPlan, dir: Path, seed: Long, vocab: Vocab): Long = {
    val mtime = BaseEpochMs + p.day * DayMs + 3600000L
    val written = (p.updated ++ p.added).map(f => writeFile(dir, f.name, render(f, seed, p.day, vocab), mtime)).sum
    p.deleted.foreach(n => Files.deleteIfExists(dir.resolve(n)))
    written
  }

  // ------------------------------------------------------------ queries, texts

  /** Query vectors: `near` of them are stored vectors with small seeded
    * noise, the rest are random unit vectors with no close match. */
  def queries(seed: Long, stored: IndexedSeq[Array[Double]], n: Int, nearShare: Double): Vector[Array[Double]] = {
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    def unit(v: Array[Double]) = { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    Vector.tabulate(n) { i =>
      if (i < math.round(n * nearShare)) {
        val base = stored(r.nextInt(stored.length))
        unit(base.map(x => x + 0.02 * (r.nextDouble() * 2 - 1)))
      } else unit(Array.fill(stored.head.length)(r.nextDouble() * 2 - 1))
    }
  }

  /** Pre-chunked gateway texts: chunk-sized Zipfian word runs. */
  def chunkTexts(seed: Long, n: Int, vocab: Vocab): Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x7E47L)
    Vector.fill(n)(vocab.text(r, 12 + r.nextInt(16)).mkString(" "))
  }
}
