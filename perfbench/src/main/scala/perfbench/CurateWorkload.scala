package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.{CrawlPipeline, Dedup, TextAnalysis}

/** `curate_crawl`: the batch corpus path with no store and no serving.
  * Each pass runs the text chain (crawl → curate → dedup → pack) over
  * the text corpus and the image crawl over its slice. Every stage is
  * timed through Spark's `noop` writer, which computes every output
  * column and keeps the final sort (a `count()` would let the
  * optimizer drop both). */
final class CurateWorkload(spark: SparkSession, trace: Trace, cfg: Main.Config,
    res: Result) {
  import CurateWorkload._

  private case class Stage(name: String, query: String, image: Boolean,
      run: (SparkSession, String) => DataFrame)

  private val stages = Seq(
    Stage("CrawlPipeline.crawl", "tx_crawl", image = false, CrawlPipeline.crawl),
    Stage("TextAnalysis.curate", "tx_curate", image = false, (s, d) => TextAnalysis.curate(s, d)),
    Stage("Dedup.minhashLsh", "dd_minhash", image = false, Dedup.minhashLsh),
    Stage("TextAnalysis.pack", "tx_pack", image = false, TextAnalysis.pack),
    Stage("CrawlPipeline.crawlImages", "mm_crawl", image = true, CrawlPipeline.crawlImages))

  private var textDir: File = _
  private var imageDir: File = _
  private var textDocs = 0L
  private var imageDocs = 0L

  /** One set-up: draw the corpus and write the text and image tables. */
  private def setupOnce(k: Int): Double = {
    val t0 = System.nanoTime()
    val dir = new File(cfg.work, s"corpus$k")
    val img = new File(cfg.work, s"corpus${k}_img")
    val docs = cfg.docsDir match {
      case Some(d) => spark.read.parquet(s"$d/documents.parquet")
      case None => Corpus.frame(spark, Corpus.docs(cfg.seed, ReplicaDocs, 0, 0,
        TextReplicas * ReplicaDocs))
    }
    docs.write.parquet(s"${dir.getPath}/documents.parquet")
    // the image slice: replicas 0-1, or a fifth of a given table
    val text = spark.read.parquet(s"${dir.getPath}/documents.parquet")
    val slice = if (cfg.docsDir.isEmpty) text.filter(s"doc_id < ${Corpus.id(ImageReplicas, 0)}")
      else text.orderBy("doc_id").limit((text.count() / 5).toInt)
    slice.write.parquet(s"${img.getPath}/documents.parquet")
    val s = (System.nanoTime() - t0) / 1e9
    if (textDir != null) { Files.rm(textDir); Files.rm(imageDir) }
    textDir = dir; imageDir = img
    s
  }

  private def dirOf(st: Stage) = (if (st.image) imageDir else textDir).getPath

  /** One pass; returns each stage's wall seconds, in `stages` order. */
  private def pass(): Seq[Double] = stages.map { st =>
    val t0 = System.nanoTime()
    trace.call(st.name) {
      st.run(spark, dirOf(st)).write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Passes until `seconds` have elapsed, at least `MinPasses` of each
    * kind. With `alternate`, every second pass is traced, so JIT warm-up
    * biases neither side of the tracing overhead. Returns (traced, stage
    * seconds) per pass. */
  private def window(seconds: Double, alternate: Boolean): Seq[(Boolean, Seq[Double])] = {
    val out = ArrayBuffer[(Boolean, Seq[Double])]()
    val minPasses = if (alternate) 2 * MinPasses else MinPasses
    val until = System.nanoTime() + (seconds * 1e9).toLong
    while (out.size < minPasses || System.nanoTime() < until) {
      val traced = alternate && out.size % 2 == 1
      if (traced) trace.resume()
      val walls = pass()
      trace.pause()
      out += ((traced, walls))
    }
    out.toSeq
  }

  /** For a `noop` write: whether the optimized plan under the write,
    * past projections, is still a Sort. None for other executions. */
  private def sortKept(qe: QueryExecution): Option[Boolean] = {
    def top(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => top(c)
      case other => other
    }
    qe.optimizedPlan match {
      case w: V2WriteCommand => Some(top(w.query).isInstanceOf[Sort])
      case _ => None
    }
  }

  /** Write each stage's output for the oracle check and count its rows
    * (outside the timed region). */
  private def writeChecks(): Map[String, Long] = {
    val out = new File(cfg.work, "check")
    val rows = stages.map { st =>
      val p = s"${out.getPath}/${st.query}"
      st.run(spark, dirOf(st)).coalesce(1).write.mode("overwrite").parquet(p)
      st.name -> spark.read.parquet(p).count()
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => stages.exists(_.query == k) }
    java.nio.file.Files.write(new File(out, "oracle_sql.json").toPath,
      oracle.map { case (k, v) => s""""$k":${Json.str(v)}""" }
        .mkString("{", ",", "}").getBytes(UTF_8))
    val dirs = stages.map(st => s""""${st.query}":${Json.str(dirOf(st))}""")
    java.nio.file.Files.write(new File(out, "tables.json").toPath,
      dirs.mkString("{", ",", "}").getBytes(UTF_8))
    rows
  }

  /** The headline figures of a set of passes: the median text-chain and
    * image-crawl seconds, and the geometric mean over the stages of each
    * stage's median milliseconds. */
  private case class Figures(textS: Double, imageS: Double, stageGeoMs: Double)

  private def figures(passes: Seq[Seq[Double]]): Figures = {
    def chain(image: Boolean) = Stats.median(passes.map(w =>
      stages.indices.filter(stages(_).image == image).map(w).sum))
    val stageMs = stages.indices.map(k => Stats.median(passes.map(_(k))) * 1000)
    Figures(chain(false), chain(true), math.exp(stageMs.map(math.log).sum / stageMs.size))
  }

  def run(sessionS: Double): Unit = {
    val setups = (0 until SetupReps).map(setupOnce)
    res.e2e("setup_s", sessionS + Stats.median(setups), "s")
    res.record("setup_s_each", setups.map(s => f"$s%.3f").mkString("[", ",", "]"))
    def table(dir: File) = spark.read.parquet(s"${dir.getPath}/documents.parquet")
    val (tRows, tMd5) = Corpus.fingerprint(table(textDir))
    val (iRows, iMd5) = Corpus.fingerprint(table(imageDir))
    textDocs = tRows; imageDocs = iRows
    res.record("corpus", s"""{"text_docs":$tRows,"text_md5":"$tMd5",""" +
      s""""image_docs":$iRows,"image_md5":"$iMd5"}""")

    // the untimed output pass for the oracle check warms the JIT; the
    // median over at least three timed passes absorbs what it leaves
    val tracing = trace.enabled
    trace.pause()
    val rows = writeChecks()
    stages.foreach(st => res.check(rows(st.name) > 0, s"${st.query}: no output rows"))

    // every timed write must keep its stage's final sort
    val sorted = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        sortKept(qe).foreach(sorted.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)

    val docs = textDocs + imageDocs
    val passes = window(cfg.seconds, alternate = tracing)
    if (tracing) {
      val ref = figures(passes.filter(!_._1).map(_._2))
      res.record("untraced_reference",
        f"""{"ops_per_s":${docs / (ref.textS + ref.imageS)}%.4f,"latency_ms":${ref.stageGeoMs}%.4f,""" +
          f""""fresh_s":${ref.textS}%.4f}""")
    }
    val timed = passes.filter(_._1 == tracing).map(_._2)
    val f = figures(timed)
    res.e2e("ops_per_s", docs / (f.textS + f.imageS), "1/s")
    res.e2e("latency_ms", f.stageGeoMs, "ms")
    res.e2e("fresh_s", f.textS, "s")
    res.attempt(passes.size.toLong * stages.size)
    Thread.sleep(200) // the listener bus delivers asynchronously
    spark.listenerManager.unregister(qel)
    res.check(sorted.size >= stages.size && !sorted.contains(false),
      s"timed sink dropped a final sort: $sorted")
    val each = stages.indices.map(k => s""""${stages(k).query}_s_each":""" +
      timed.map(w => f"${w(k)}%.3f").mkString("[", ",", "]"))
    res.record("workload_metrics",
      f"""{"text_docs_per_s":${textDocs / f.textS}%.4f,"image_docs_per_s":${imageDocs / f.imageS}%.4f,""" +
        s""""passes":${timed.size},${each.mkString(",")}}""")
    res.record("check_dir", Json.str(new File(cfg.work, "check").getPath))

    res.layer("client.text_docs_per_s", textDocs / f.textS, "docs/s")
    res.layer("client.image_docs_per_s", imageDocs / f.imageS, "docs/s")
    stages.foreach(st => Layers.batch(res, st.name, trace.stats(st.name), rows(st.name).toDouble))
    res.layer("TextAnalysis.curate.keep_ratio", rows("TextAnalysis.curate").toDouble / textDocs, "ratio")
    res.layer("Dedup.minhashLsh.pairs", rows("Dedup.minhashLsh").toDouble, "count")
  }
}

object CurateWorkload {
  /** Ten ScaleGen replicas for the text chain; the image crawl takes
    * replicas 0-1, as the sf1 image slice does. */
  val TextReplicas = 10
  val ReplicaDocs = 70
  val ImageReplicas = 2
  val SetupReps = 3
  val MinPasses = 3
}
