package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{GraftVectorDB, ResponseGen}
import graft.tools.Serve

/** `serve_write`: a store built during set-up, then a closed loop of
  * read clients (each waits for its reply) over HTTP `/search` and the
  * library's search calls, beside one writer appending batches. */
final class ServeWorkload(spark: SparkSession, trace: Trace, cfg: Main.Config,
    res: Result) {
  import ServeWorkload._

  private val seed = cfg.seed
  // a given documents table shares replica 0's vocabulary
  private val queryReplicas = if (cfg.docsDir.isEmpty) StoreReplicas else 1
  private var db: GraftVectorDB = _
  private var storeDir: File = _
  private var storeDocs: DataFrame = _
  private var port = 0
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  // one latency sample per completed read: (kind, ms)
  private val lat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]
  private val selfMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
  private val twinMs = new java.util.concurrent.atomic.AtomicLong(0)

  // -------------------------------------------------------------- set-up

  private val rowsOut = scala.collection.mutable.Map[String, Long]()

  /** Builds the store (corpus, bulk ingest, ANN and lexical indexes) once:
    * the lexical sidecar's fixed cost makes a build take 15-30 s here, so
    * repeats do not fit the run budget. Returns its wall seconds. */
  private def setup(): Double = {
    val t0 = System.nanoTime()
    storeDir = new File(cfg.work, "store")
    db = new GraftVectorDB(spark, storeDir.getPath)
    val docs = cfg.docsDir match {
      case Some(d) => spark.read.parquet(s"$d/documents.parquet")
      case None => Corpus.frame(spark,
        Corpus.docs(seed, ReplicaDocs, 0, 0, StoreReplicas * ReplicaDocs))
    }
    storeDocs = docs
    val rows = trace.call("GraftVectorDB.ingest_bulk")(db.ingest(docs))
    val ann = trace.call("GraftVectorDB.buildAnnIndex")(db.buildAnnIndex())
    val lex = trace.call("GraftVectorDB.indexLexical")(db.indexLexical())
    res.check(rows > 0 && ann > 0 && lex > 0,
      s"set-up: ingest $rows rows, ann $ann, lexical $lex")
    rowsOut("GraftVectorDB.ingest_bulk") = rows
    rowsOut("GraftVectorDB.buildAnnIndex") = ann
    rowsOut("GraftVectorDB.indexLexical") = lex
    (System.nanoTime() - t0) / 1e9
  }

  // --------------------------------------------------------------- reads

  private def post(body: String): (Int, JValue) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), JsonMethods.parse(r.body()))
  }

  private def httpSearch(text: String, loc: Option[String]): (Int, List[(String, Double)]) = {
    val body = JObject(List("query" -> JObject("text" -> JString(text)), "top_n" -> JInt(TopN)) ++
      loc.map(l => "search_location" -> JString(l)))
    val (code, json) = post(JsonMethods.compact(JsonMethods.render(body)))
    val rows = (json \ "results" \ "text") match {
      case JArray(items) => items.map(r =>
        ((r \ "doc_name").extract[String](DefaultFormats, manifest[String]) + "#" +
          (r \ "content_id").extract[String](DefaultFormats, manifest[String]),
          (r \ "sim_r") match { case JDouble(v) => v; case JInt(v) => v.toDouble; case _ => Double.NaN }))
      case _ => Nil
    }
    (code, rows)
  }

  private def descending(xs: Seq[Double]) =
    xs.forall(!_.isNaN) && xs.zip(xs.drop(1)).forall { case (a, b) => a >= b }

  private def keys(rows: Array[Row]): Seq[(String, Double)] = rows.toSeq.map(r =>
    (r.getAs[String]("doc_name") + "#" + r.getAs[String]("content_id"),
      r.getAs[Double]("sim_r")))

  /** One read of `kind`; returns its latency in ms (client-side). */
  private def read(kind: String, text: String, loc: String, batch: Seq[String],
      req: Long): Double = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    kind match {
      case "http" | "http_scoped" =>
        val l = if (kind == "http") None else Some(loc)
        val (code, rows) = trace.call("Serve.search", req, claim = Some(Trace.ServerGroup))(
          httpSearch(text, l))
        val dt = ms
        res.check(code == 200 && rows.size == TopN && descending(rows.map(_._2)),
          s"$kind '$text': HTTP $code, ${rows.size} rows, sims ${rows.map(_._2)}")
        if (trace.on) {
          // the same query straight through the library: Serve's own
          // cost is the HTTP time minus searchAnn and ResponseGen
          val t1 = System.nanoTime()
          val hits = trace.call("GraftVectorDB.searchAnn", req)(
            db.searchAnn(text, TopN, location = l).collect())
          trace.call("ResponseGen", req) {
            val msgs = ResponseGen.assemble(Some(text), Nil, hits.toSeq)
            ResponseGen.ExtractiveModel.generate(msgs, hits.toSeq)
            ResponseGen.sources(hits.toSeq)
          }
          val t3 = System.nanoTime()
          selfMs.add(dt - (t3 - t1) / 1e6)
          twinMs.addAndGet((t3 - t1) / 1000000L)
          res.check(hits.length == TopN, s"searchAnn '$text': ${hits.length} rows")
        }
        dt
      case "exact" =>
        val rows = trace.call("GraftVectorDB.search", req)(db.search(text, TopN).collect())
        val dt = ms
        res.check(rows.length == TopN && descending(keys(rows).map(_._2)),
          s"search '$text': ${rows.length} rows")
        dt
      case "pq" =>
        val rows = trace.call("GraftVectorDB.searchAnnPq", req)(db.searchAnnPq(text, TopN).collect())
        val dt = ms
        res.check(rows.length == TopN && descending(keys(rows).map(_._2)),
          s"searchAnnPq '$text': ${rows.length} rows")
        dt
      case "hybrid" =>
        val rows = trace.call("GraftVectorDB.searchHybrid", req)(db.searchHybrid(text, TopN).collect())
        val dt = ms
        res.check(rows.length == TopN, s"searchHybrid '$text': ${rows.length} rows")
        dt
      case "batch" =>
        import spark.implicits._
        val qs = batch.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("q_id", "q_text")
        val rows = trace.call("GraftVectorDB.searchAllAnn", req)(db.searchAllAnn(qs, TopN).collect())
        val dt = ms
        val perQuery = rows.groupBy(_.getAs[Long]("q_id")).values.map(_.length)
        res.check(rows.length == batch.size * TopN && perQuery.forall(_ == TopN),
          s"searchAllAnn: ${rows.length} rows for ${batch.size} queries")
        dt
    }
  }

  /** Closed-loop reader. The kinds follow the fixed [[Mix]] order, each
    * client from its own offset, so every seed runs the same mix; the
    * seed picks the query texts and folders. A reader runs until the
    * window ends, the writer is done and it has completed a whole cycle. */
  private def reader(client: Int, t0: Long, until: Long, writing: AtomicBoolean,
      reqs: AtomicLong): Unit = {
    val rnd = new java.util.SplittableRandom(seed * 31 + client)
    val texts = Corpus.queries(seed, ReplicaDocs, queryReplicas, 512, 100 + client)
    var i = 0
    while (System.nanoTime() < until || writing.get() || i < Mix.size) {
      val kind = Mix((i + client * Mix.size / 2) % Mix.size)
      val text = texts(i % texts.size)
      val loc = s"corpus/src${rnd.nextInt(Corpus.Sources)}/"
      val batch = (0 until BatchQueries).map(j => texts((i + 1 + j) % texts.size))
      i += 1
      val req = reqs.incrementAndGet()
      try {
        lat.add((kind, trace.call("client." + kind, req, claim = Some(""))(
          read(kind, text, loc, batch, req))))
      } catch {
        case e: Throwable =>
          res.attempt(); res.fail(s"$kind '$text': ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      // the traced run's library twins of HTTP reads are not part of the load
      if (i % Mix.size == 0)
        readerDone.put(client, (i, (System.nanoTime() - t0) / 1e9 - twinMs.get() / 1000.0))
    }
  }

  // reads issued by each reader up to the end of its last whole cycle,
  // and the seconds that took
  private val readerDone = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Double)]

  // -------------------------------------------------------------- writer

  private val appendMs = ArrayBuffer[Double]()
  private val appendDocs = ArrayBuffer[Int]()
  private val freshS = ArrayBuffer[Double]()
  private val firstProbeMs = ArrayBuffer[Double]()
  private var inputBytes = 0L
  // batch number and position in the held-back replicas carry over
  // between windows, so every append brings new content
  private var batches = 0
  private var next = 0L

  /** Appends batches until the window ends, at least [[MinAppends]];
    * readers keep going until the last append is visible, so its whole
    * duration runs under load. */
  private def writerLoop(until: Long, writing: AtomicBoolean): Unit = try {
    val start = batches
    while (batches - start < MinAppends || System.nanoTime() < until) {
      val b = batches
      batches += 1
      val rows = Corpus.docs(seed, ReplicaDocs, StoreReplicas, next, AppendBatch - 1) :+
        Corpus.planted(seed, Corpus.id(PlantedReplica, b), b)
      next += AppendBatch - 1
      val plant = rows.last
      val plantName = s"corpus/${plant.source}/doc_${plant.doc_id}.txt"
      val frame = Corpus.frame(spark, rows)
      inputBytes += rows.map(_.text.getBytes("UTF-8").length.toLong).sum
      val t0 = System.nanoTime()
      try {
        val n = trace.call("GraftVectorDB.ingest")(db.ingest(frame, Seq("text")))
        appendMs += (System.nanoTime() - t0) / 1e6
        appendDocs += rows.size
        res.check(n > 0, s"append $b: $n rows")
        // probe until the planted doc is served from its own folder
        val deadline = t0 + FreshDeadlineS * 1000000000L
        var seen = false
        var first = true
        while (!seen && System.nanoTime() < deadline) {
          val p0 = System.nanoTime()
          val hits = trace.call("GraftVectorDB.searchAnn.probe")(
            db.searchAnn(plant.text, TopN, location = Some(s"corpus/${plant.source}/")).collect())
          if (first) { firstProbeMs += (System.nanoTime() - p0) / 1e6; first = false }
          seen = hits.exists(_.getAs[String]("doc_name") == plantName)
          if (!seen) Thread.sleep(20)
        }
        if (seen) freshS += (System.nanoTime() - t0) / 1e9
        res.check(seen, s"append $b: planted $plantName not visible after ${FreshDeadlineS}s")
      } catch {
        case e: Throwable =>
          res.attempt(); res.fail(s"append $b: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  } finally writing.set(false)

  // ------------------------------------------------------------- window

  /** Run `clients` readers (plus the writer) for `seconds`, or until the
    * writer's last append is visible; returns the window's wall seconds. */
  private def window(clients: Int, seconds: Double): Double = {
    lat.clear(); selfMs.clear(); twinMs.set(0); readerDone.clear()
    appendMs.clear(); appendDocs.clear(); freshS.clear(); firstProbeMs.clear()
    val writing = new AtomicBoolean(true)
    val reqs = new AtomicLong(0)
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map(c =>
        thread(s"reader-$c")(reader(c, t0, until, writing, reqs))) :+
      thread("writer")(writerLoop(until, writing))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private case class ReadStats(qps: Double, httpP50: Double, p50: Double, p95: Double, n: Int)

  /** - `qps`: reads completed per second, measured: each reader's count
    *   of whole [[Mix]] cycles over the time they took, summed. Whole
    *   cycles keep the mix of kinds fixed: a window holds only one or two
    *   cycles per reader, and one hybrid read costs several HTTP ones.
    * - `httpP50`: the median latency of HTTP `/search` (plain and scoped),
    *   the path a user of the server sees. A median over all kinds would
    *   fall in the gap between the fast and the slow kinds. The slow
    *   kinds' latencies fall in two groups of about equal size (a read
    *   that meets one of the writer's many-task stages queues behind
    *   it), so their medians jump between the groups from run to run.
    * The pooled p50/p95 are recorded beside them. */
  private def readStats(): ReadStats = {
    import scala.jdk.CollectionConverters._
    val ms = lat.asScala.toSeq.map(_._2)
    val httpMs = lat.asScala.toSeq.collect { case (k, v) if k.startsWith("http") => v }
    val qps = readerDone.values.asScala.map { case (n, t) => n / t }.sum
    ReadStats(qps, Stats.median(httpMs), Stats.median(ms), Stats.pct(ms, 95), ms.size)
  }

  /** Tie-aware recall of the served (ANN) top-5 against the exact top-5:
    * a served row counts when it is in the exact set or scores at least
    * the exact 5th score. */
  private def recallAt5(): Double = {
    import spark.implicits._
    val texts = Corpus.queries(seed, ReplicaDocs, queryReplicas, RecallQueries, 999)
    val exactAll = db.searchAll(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("q_id", "q_text"), TopN).collect().groupBy(_.getAs[Long]("q_id"))
    val per = texts.indices.map { i =>
      val (code, served) = httpSearch(texts(i), None)
      val exact = keys(exactAll.getOrElse(i.toLong, Array.empty[Row]))
      res.check(code == 200 && exact.size == TopN,
        s"recall '${texts(i)}': HTTP $code, exact ${exact.size}")
      val floor = if (exact.isEmpty) Double.PositiveInfinity else exact.map(_._2).min
      val set = exact.map(_._1).toSet
      served.count { case (k, s) => set(k) || s >= floor - 1e-9 }.toDouble / TopN
    }
    per.sum / per.size
  }

  def run(sessionS: Double): Unit = {
    res.e2e("setup_s", sessionS + setup(), "s")
    val (rows, md5) = Corpus.fingerprint(storeDocs)
    res.record("corpus", s"""{"docs":$rows,"md5":"$md5"}""")

    val server = Serve.start(spark, 0)
    try {
      port = server.getAddress.getPort
      val init = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/initialize"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"save_dir": "${storeDir.getAbsolutePath}"}""")).build()
      val code = http.send(init, HttpResponse.BodyHandlers.ofString()).statusCode()
      if (!res.check(code == 200, s"/initialize: HTTP $code")) return

      // warm every path once so caches fill before timing
      val warm = Corpus.queries(seed, ReplicaDocs, queryReplicas, BatchQueries, 7)
      val tracing = trace.enabled
      trace.pause()
      Mix.distinct.foreach(k => read(k, warm.head, "corpus/src0/", warm, 0))

      val clients = if (tracing) 1 else ReadClients
      val bytes0 = Files.bytes(storeDir)
      if (tracing) {
        // untraced reference window with the traced run's single client:
        // traced minus untraced is the tracing overhead
        window(1, cfg.seconds / 2)
        val r = readStats()
        res.record("untraced_reference", f"""{"ops_per_s":${r.qps}%.4f,"latency_ms":${r.httpP50}%.4f,""" +
          f""""fresh_s":${Stats.median(freshS.toSeq)}%.4f}""")
        trace.resume()
      }
      val wall = window(clients, cfg.seconds)
      trace.pause()
      import scala.jdk.CollectionConverters._
      val r = readStats()
      val freshP50 = Stats.median(freshS.toSeq)
      res.e2e("ops_per_s", r.qps, "1/s")
      res.e2e("latency_ms", r.httpP50, "ms")
      res.e2e("fresh_s", freshP50, "s")
      res.check(r.n >= 1, "no read completed in the window")
      val recall = recallAt5()
      res.check(recall >= 0.9, f"recall_at_5 $recall%.3f below 0.9")

      val byKind = lat.asScala.toSeq.groupBy(_._1).map { case (k, v) =>
        f""""$k":{"n":${v.size},"p50_ms":${Stats.median(v.map(_._2))}%.3f,"mean_ms":${v.map(_._2).sum / v.size}%.3f}""" }
      val ingestS = appendMs.sum / 1000
      val docsPerS = if (ingestS > 0) appendDocs.sum / ingestS else 0.0
      val storeBytes = Files.bytes(storeDir)
      res.record("workload_metrics",
        f"""{"search_qps":${r.qps}%.4f,"search_p50_ms":${r.p50}%.4f,"search_p95_ms":${r.p95}%.4f,""" +
          f""""http_p50_ms":${r.httpP50}%.4f,"window_s":$wall%.3f,"reads":${r.n},"recall_at_5":$recall%.4f,"appends":${appendMs.size},""" +
          f""""ingest_docs_per_s":$docsPerS%.4f,"fresh_p50_s":$freshP50%.4f,""" +
          s""""append_s_each":${appendMs.map(x => f"${x / 1000}%.3f").mkString("[", ",", "]")},""" +
          s""""fresh_s_each":${freshS.map(x => f"$x%.3f").mkString("[", ",", "]")},""" +
          s""""by_kind":${byKind.mkString("{", ",", "}")}}""")

      // per-layer metrics (printed by the traced run)
      res.layer("client.search_qps", r.qps, "1/s")
      res.layer("client.search_p95_ms", r.p95, "ms")
      res.layer("client.recall_at_5", recall, "ratio")
      res.layer("client.ingest_docs_per_s", docsPerS, "docs/s")
      res.layer("client.fresh_p50_s", freshP50, "s")
      val httpStats = trace.stats("Serve.search")
      Layers.interactive(res, "Serve.search", httpStats)
      res.layer("Serve.self_ms_p50", Stats.median(selfMs.asScala.toSeq), "ms")
      Seq("searchAnn", "search", "searchAnnPq", "searchHybrid", "searchAllAnn").foreach(c =>
        Layers.interactive(res, s"GraftVectorDB.$c", trace.stats(s"GraftVectorDB.$c")))
      res.layer("ResponseGen.ms_p50", trace.stats("ResponseGen").msP50, "ms")
      Layers.interactive(res, "GraftVectorDB.ingest", trace.stats("GraftVectorDB.ingest"))
      res.layer("GraftVectorDB.ingest.docs_per_s", docsPerS, "docs/s")
      res.layer("GraftVectorDB.ingest.store_bytes_per_input_byte",
        if (inputBytes > 0) (storeBytes - bytes0).toDouble / inputBytes else 0.0, "ratio")
      res.layer("GraftVectorDB.store_files", Files.count(storeDir).toDouble, "count")
      res.layer("GraftVectorDB.searchAnn.first_after_append_ms",
        Stats.median(firstProbeMs.toSeq), "ms")
      Seq("ingest_bulk", "buildAnnIndex", "indexLexical").foreach { c =>
        val n = s"GraftVectorDB.$c"
        Layers.batch(res, n, trace.stats(n), rowsOut.getOrElse(n, 0L).toDouble)
      }
    } finally server.stop(0)
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t
  }
}

object ServeWorkload {
  /** ScaleGen's replicas 0-8 form the store; the writer appends the
    * held-back replica 9 (and 10, … once 9 is used up). */
  val StoreReplicas = 9
  val ReplicaDocs = 56
  val PlantedReplica = 999
  val AppendBatch = 50
  val MinAppends = 2
  val ReadClients = 2
  val TopN = 5
  val BatchQueries = 16
  val RecallQueries = 6
  val FreshDeadlineS = 30
  /** 40% HTTP, 15% scoped HTTP, 15% exact, 15% PQ, 10% hybrid, 5%
    * batch, with the heavy kinds spread through the cycle. */
  val Mix: IndexedSeq[String] = IndexedSeq(
    "http", "exact", "http", "pq", "http_scoped", "http", "hybrid", "http",
    "exact", "http_scoped", "http", "pq", "http", "batch", "http_scoped",
    "exact", "http", "pq", "http", "hybrid")
}
