package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by the workloads. */
object Common {

  /** The landing zone as IngestJob's landed-files frame, read with
    * `binaryFile`; `last_modified` is the file's modification time. */
  def landed(spark: SparkSession, dir: Path): DataFrame = {
    val name = element_at(split(col("path"), "/"), -1)
    spark.read.format("binaryFile").load(dir.toString)
      .select(name.as("name"), concat(lit("https://docs.example.com/"), name).as("url"),
        col("modificationTime").as("last_modified"), col("content"))
  }

  /** Store columns compared by the checks (all but `load_dt`). */
  val StoreCols = Seq("name", "url", "modified_dt", "index", "text", "vector",
    "n_tokens", "chunk_id", "source", "title")

  /** Order-independent digest of a frame over `cols`: row count, and
    * the exact (decimal) sum and xor of per-row 64-bit hashes. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, String, Long) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
      bit_xor(col("h"))).head()
    (r.getLong(0), String.valueOf(r.get(1)), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(p.getFileName.toString)
      Files.copy(p, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** (data files, bytes) of a parquet directory tree. */
  def parquetFootprint(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val files = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Partition dir → set of its data-file names. */
  def partitionFiles(store: Path): Map[String, Set[String]] =
    if (!Files.exists(store)) Map.empty
    else Files.list(store).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("load_dt="))
      .map(p => p.getFileName.toString.stripPrefix("load_dt=") ->
        Files.list(p).iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet)
      .toMap

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Cosine exactly as the fused kernel folds it: one left-to-right pass
    * per sum, then dot / (sqrt(na) * sqrt(nb)). */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
