package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

/** The benchmark program: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file> [--docs <dir>]`.
  *
  * Runs one workload against the library through its public API and
  * writes a JSON record to `--out`: the end-to-end metrics (untraced run)
  * or the per-layer metrics (traced run), operation counts, failures,
  * and a self-describing run record. `run.py` builds this program,
  * launches it, adds the curation oracle check and prints the result. */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, out: File, docsDir: Option[String])

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      kv.get("docs"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val res = new Result
    val load0 = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.local(cores, "graft-perfbench")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val trace = new Trace(spark, cfg.trace)
    try {
      cfg.workload match {
        case "serve_write" => new ServeWorkload(spark, trace, cfg, res).run(sessionS)
        case "curate_crawl" => new CurateWorkload(spark, trace, cfg, res).run(sessionS)
        case other => sys.error(s"unknown workload '$other'")
      }
    } catch {
      case e: Throwable =>
        res.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      trace.close()
      if (cfg.trace) res.record("unattributed_jobs", trace.unattributedJobs.toString)
      Files.write(new File(cfg.work, "spans.json").toPath, trace.spansJson.getBytes(UTF_8))
      spark.stop()
    }
    res.e2e("peak_rss_mb", peakRssMb(), "MB")
    res.record("seed", cfg.seed.toString)
    res.record("workload", s""""${cfg.workload}"""")
    res.record("trace", if (cfg.trace) "1" else "0")
    res.record("nproc", cores.toString)
    res.record("heap_max_mb", (Runtime.getRuntime.maxMemory / 1048576).toString)
    res.record("session_s", f"$sessionS%.3f")
    res.record("loadavg1_start", f"$load0%.2f")
    res.record("loadavg1_end", f"${loadAvg()}%.2f")
    Files.write(cfg.out.toPath, res.json.getBytes(UTF_8))
    // Spark leaves non-daemon threads behind; the record is written
    System.exit(0)
  }

  def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }
}

/** Thread-safe accumulator of metrics, counts and the run record. */
final class Result {
  private val e2eM = mutable.LinkedHashMap[String, (Double, String)]()
  private val layerM = mutable.LinkedHashMap[String, (Double, String)]()
  private val rec = mutable.LinkedHashMap[String, String]()
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failedN = 0L

  def e2e(name: String, v: Double, unit: String): Unit = synchronized(e2eM(name) = (v, unit))
  def layer(name: String, v: Double, unit: String): Unit = synchronized(layerM(name) = (v, unit))
  /** `json` is a raw JSON value. */
  def record(key: String, json: String): Unit = synchronized(rec(key) = json)
  def attempt(n: Long = 1): Unit = synchronized(attempted += n)
  def fail(msg: String): Unit = synchronized {
    if (failures.size < 50) failures += msg
    else if (failures.size == 50) failures += "(further failures not listed)"
    failedN += 1
  }

  /** Count one checked operation: attempted, and failed unless `ok`. */
  def check(ok: Boolean, msg: => String): Boolean = {
    attempt()
    if (!ok) fail(msg)
    ok
  }

  private def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  def json: String = synchronized {
    s"""{"attempted":$attempted,"failed":$failedN,""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""end_to_end":${metricsJson(e2eM)},"per_layer":${metricsJson(layerM)},""" +
      s""""record":${rec.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}"""
  }
}

/** JSON string literal: quotes, backslashes and control characters escaped. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
