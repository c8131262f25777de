package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the library, plus a
  * SparkListener that credits every task to the call that caused it.
  *
  * Attribution is by stage: a job's stages map to its id when the job
  * starts (first job wins for a shared stage), and a task is credited
  * to the job owning its stage. A job belongs to the call whose job
  * group was set on the submitting thread. The HTTP server runs its jobs
  * on its own threads, which carry no group; a job whose call site passes
  * through the server's handler is put in [[Trace.ServerGroup]] and goes
  * to the client span open when it started, which is exact only with
  * one client in flight (the traced run's setting).
  *
  * With tracing off nothing is registered and `call` only runs the body.
  * Spans stay in memory until [[spansJson]] writes them out. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]

  private val jobGroup = new ConcurrentHashMap[Int, String]
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val jobWork = new ConcurrentHashMap[Int, Work]
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse(
        if (e.stageInfos.exists(_.details.contains(ServerFrame))) ServerGroup else "")
      jobGroup.put(e.jobId, group)
      jobStartMs.put(e.jobId, e.time)
      jobWork.put(e.jobId, new Work(jobs = 1))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      started.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobWork.get(j)))
        .foreach { w =>
          w.synchronized {
            w.tasks += 1
            if (m != null) {
              w.taskMs += m.executorRunTime
              w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
    }
  }
  @volatile private var recording = false
  if (enabled) resume()

  /** Whether spans and jobs are being recorded now. */
  def on: Boolean = recording

  /** Stop recording (an untraced stretch inside a traced run). */
  def pause(): Unit = if (recording) {
    drain()
    recording = false
    sc.removeSparkListener(listener)
  }

  def resume(): Unit = if (enabled && !recording) {
    sc.addSparkListener(listener)
    recording = true
  }

  /** Run `body` as one span named `name`. While tracing, its jobs carry
    * a job group unique to this span. With `claim`, the span sets no
    * group and instead owns the jobs of group `claim` that start inside
    * it: jobs another component runs on its own threads. `req` ties
    * spans of one request. */
  def call[T](name: String, req: Long = 0L, claim: Option[String] = None)(body: => T): T = {
    if (!recording) return body
    val id = ids.incrementAndGet()
    val group = claim.getOrElse(s"pb$id")
    if (claim.isEmpty) sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try body
    finally {
      val dur = System.nanoTime() - t0
      if (claim.isEmpty) sc.clearJobGroup()
      spans.add(Span(name, id, req, group, claim.nonEmpty, w0, System.currentTimeMillis(), dur))
    }
  }

  /** Jobs that carried no group: submitted from threads no span covers. */
  def unattributedJobs: Int = jobGroup.values.asScala.count(_.isEmpty)

  /** Wait (bounded) until the listener has seen every job end. */
  private def drain(): Unit = if (recording) {
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (ended.get() < started.get() && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
  }

  def close(): Unit = pause()

  /** Work credited to one span: its group's jobs, and for a claiming
    * span only those that started inside its window. */
  private def workOf(s: Span): Work = {
    val total = new Work(jobs = 0)
    jobWork.asScala.foreach { case (job, w) =>
      val mine = jobGroup.getOrDefault(job, "") == s.group && (!s.claims || {
        val t = jobStartMs.get(job).longValue
        t >= s.startMs && t <= s.endMs
      })
      if (mine) w.synchronized(total.add(w))
    }
    total
  }

  /** Per-call statistics for every span named `name`. */
  def stats(name: String): CallStats = {
    val mine = spans.asScala.filter(_.name == name).toSeq
    val work = mine.map(workOf)
    CallStats(mine.map(_.durNs / 1e6), work, cores)
  }

  def spansJson: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    f"""{"id":${s.id},"name":"${s.name}","req":${s.req},"group":"${s.group}",""" +
      f""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.durNs / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  /** Group of the jobs the HTTP server submits, found by call site. */
  val ServerGroup = "pb-serve"
  private val ServerFrame = "graft.tools.ServeState"

  final case class Span(name: String, id: Long, req: Long, group: String,
      claims: Boolean, startMs: Long, endMs: Long, durNs: Long)

  final class Work(var jobs: Int = 0, var tasks: Long = 0, var taskMs: Long = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0) {
    def add(o: Work): Unit = {
      jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
      shuffleWrite += o.shuffleWrite; spill += o.spill
    }
  }

  final case class CallStats(durMs: Seq[Double], work: Seq[Work], cores: Int) {
    private def mean(f: Work => Double): Double =
      if (work.isEmpty) 0.0 else work.map(f).sum / work.size
    def msP50: Double = Stats.median(durMs)
    def jobs: Double = mean(_.jobs.toDouble)
    def tasks: Double = mean(_.tasks.toDouble)
    def taskMs: Double = mean(_.taskMs.toDouble)
    def shuffleWriteMb: Double = mean(_.shuffleWrite / 1048576.0)
    def spillMb: Double = mean(_.spill / 1048576.0)
    /** task time ÷ (cores × wall): near 1 is compute-bound, near 0 is
      * scheduling, Spark-driver or I/O time. */
    def busyFrac: Double =
      if (durMs.sum <= 0) 0.0 else work.map(_.taskMs).sum / (cores * durMs.sum)
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]; 0 when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
