package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._
import graft.operators.{Dedup, Indexing}
import graft.sources.{MiniYaml, StaticSources}

/** The write path over the generated markdown tree: load it through the
  * markdown source, build the prefix index, apply the change batches
  * (incremental index update and exact dedup of each batch), publish every
  * page as static JSON, then probe the updated index. One instance is one
  * pass into its own output directory. */
final class Ingest(spark: SparkSession, data: String, out: String, seed: Long) {
  import Ingest._

  private val md = s"$data/md"
  val batches: Int = new File(md).listFiles().count(f => f.isDirectory && f.getName.startsWith("b"))
  val index = s"$out/index"
  val site = s"$out/site"

  private def load(dir: String): DataFrame =
    StaticSources.load(spark, s"$md/$dir/*.md", "markdown", sparkSchema = Some(Schema))

  private def deleted(b: Int): Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(new File(s"$md/b$b.json").toPath), "UTF-8")
    "\"(doc-[0-9]+)\"".r.findAllMatchIn(txt).map(_.group(1)).toSeq
  }

  private var snapshot: DataFrame = _
  var pagesWritten: Int = 0
  /** Index files each update added or replaced, and bytes the index took
    * on disk across the build and every update. */
  val rewritten = scala.collection.mutable.ArrayBuffer.empty[Int]
  var bytesWritten: Long = 0L

  private def listing(): Map[String, (Long, Long)] =
    files(new File(index)).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap

  /** Seeded lookup probes: half exact tag values, half language prefixes. */
  val probes: Seq[(String, String, Boolean)] = {
    val rnd = new scala.util.Random(seed)
    (0 until 8).map { i =>
      if (i % 2 == 0) ("tags", Tags(rnd.nextInt(Tags.size)), false)
      else ("lang", Langs(rnd.nextInt(Langs.size)).take(1), true)
    }
  }

  /** The pass as named, ordered steps; each is one timed operation. */
  def steps: Seq[(String, () => Unit)] =
    Seq[(String, () => Unit)](
      "load" -> (() => {
        snapshot = load("v0").persist()
        Spans.span("sources.parse")(snapshot.write.format("noop").mode("overwrite").save())
      }),
      "index_write" -> (() => {
        Spans.span("index.write")(Indexing.writeIndex(snapshot, "slug", Fields, index))
        bytesWritten += listing().values.map(_._1).sum
      })) ++
    (0 until batches).flatMap { b =>
      Seq[(String, () => Unit)](
        s"update_$b" -> (() => {
          val changed = load(s"b$b")
          val gone = deleted(b) ++ changed.select("slug").collect().map(_.getString(0))
          val next = snapshot.filter(!col("slug").isin(gone: _*)).unionByName(changed).persist()
          val before = listing()
          Spans.span("index.update")(
            Indexing.updateIndexFromSnapshots(spark, index, snapshot, next, "slug", Fields))
          val fresh = listing().filter { case (p, v) => !before.get(p).contains(v) }
          rewritten += fresh.size
          bytesWritten += fresh.values.map(_._1).sum
          snapshot.unpersist()
          snapshot = next
        }),
        s"dedup_$b" -> (() => {
          val batch = load(s"b$b").select(col("slug").as("doc_id"), col("text"))
          val corpus = snapshot.select(col("slug").as("doc_id"), col("text"))
            .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
          Dedup.exactIncremental(batch, corpus).count()
        }))
    } ++
    Seq[(String, () => Unit)](
      "ssg" -> (() => Spans.span("ssg.write") {
        val cat = new Catalog(Seq(SourceDef("docs", snapshot, slugField = "slug")))
        pagesWritten = Ssg.writeAllPages(cat.from("docs").orderBy("rank").pageSize(100), site, "docs",
          java.time.Instant.EPOCH).size
      })) ++
    probes.zipWithIndex.map { case ((f, v, prefix), i) =>
      s"lookup_$i" -> (() => { lookup(f, v, prefix); () })
    }

  def lookup(field: String, value: String, prefix: Boolean): Array[String] =
    Spans.span("index.lookup")(
      Indexing.lookup(spark, index, field, value, startsWith = prefix)
        .select("slug").collect().map(_.getString(0)).sorted)

  def close(): Unit = if (snapshot != null) snapshot.unpersist()

  /** What the checker compares against the generator's final snapshot. */
  def dump(path: String): Unit = {
    val lookups = probes.map { case (f, v, pfx) =>
      Map("field" -> f, "value" -> v, "prefix" -> pfx, "slugs" -> lookup(f, v, pfx).toList)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), MiniYaml.toJson(Map(
      "index" -> index, "site" -> site, "pages" -> pagesWritten, "lookups" -> lookups.toList)))
  }

  /** Write-path metrics from the measured calls of [[steps]] and their spans. */
  def layerMetrics(calls: Seq[(String, Double, Counters)], spans: Seq[Span]): Map[String, Any] = {
    def ms(n: String): Double = {
      val xs = spans.filter(_.name == n).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val lookups = calls.filter(_._1.startsWith("lookup_"))
    val v0 = files(new File(s"$md/v0"))
    Map(
      "sources.parse_ms" -> ms("sources.parse"),
      "sources.files_per_s" -> v0.size / (ms("sources.parse") / 1e3).max(1e-9),
      "index.write_ms" -> ms("index.write"),
      "index.update_ms" -> ms("index.update"),
      "index.files_rewritten_per_update" -> rewritten.sum.toDouble / rewritten.size.max(1),
      "index.bytes_written" -> bytesWritten.toDouble,
      "index.bytes_stored_per_input_byte" ->
        files(new File(index)).map(_.length()).sum.toDouble / v0.map(_.length()).sum.max(1L),
      "index.files_scanned_per_lookup" -> lookups.map(_._3.filesScanned).sum.toDouble / lookups.size.max(1),
      "index.lookup_ms" -> lookups.map(_._2).sum / lookups.size.max(1),
      "ssg.pages_per_s" -> pagesWritten / (ms("ssg.write") / 1e3).max(1e-9))
  }
}

object Ingest {
  val Fields: Seq[String] = Seq("tags", "lang")
  val Tags: Seq[String] = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu")
  val Langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")
  val Schema: StructType = StructType(Seq(
    StructField("slug", StringType), StructField("title", StringType),
    StructField("lang", StringType), StructField("tags", ArrayType(StringType)),
    StructField("rank", LongType), StructField("text", StringType)))

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
}
