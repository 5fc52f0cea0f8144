package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans around the benchmark's calls into each layer, plus Spark
  * job attribution. A span sets the `perfbench.span` local property on the
  * calling thread; the listener reads it back from every job start (AQE's
  * asynchronous query-stage jobs inherit it too) and charges the job's
  * tasks to that span. Off until [[start]]: the untraced path pays one
  * volatile read per span. */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer._

  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val tasks = new ConcurrentHashMap[Long, TaskAcc]
  // listener times are epoch millis; spans use nanoTime
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, Job(sid, e.time * 1000000L - epochBaseNs))
      e.stageIds.foreach(s => stageSpan.put(s, sid))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = e.time * 1000000L - epochBaseNs)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val sid = stageSpan.getOrDefault(e.stageId, 0L)
        tasks.computeIfAbsent(sid, _ => new TaskAcc).add(m)
      }
    }
  }

  def enabled: Boolean = on

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Time `body` as a span named `name` under the thread's open span. */
  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val parents = stack.get()
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(Key)
      stack.set(id :: parents)
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, t0,
          System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Inclusive summaries (a span plus its descendants) of every span named
    * `name`. Call after [[stop]]. */
  def summaries(name: String): Seq[Summary] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Long] =
      s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobList = jobs.asScala.values.toSeq
    all.filter(_.name == name).map { s =>
      val ids = subtree(s).toSet
      val js = jobList.filter(j => ids(j.span))
        .map(j => (j.startNs, if (j.endNs > 0) j.endNs else s.endNs))
      val acc = ids.toSeq.flatMap(i => Option(tasks.get(i)))
      val busyNs = union(js.map { case (a, b) =>
        (math.max(a, s.startNs), math.min(b, s.endNs)) })
      Summary(
        wallS = (s.endNs - s.startNs) / 1e9,
        jobs = js.size,
        firstJobMs = if (js.isEmpty) Double.NaN
          else (js.map(_._1).min - s.startNs) / 1e6,
        driverGapS = math.max(0L, s.endNs - s.startNs - busyNs) / 1e9,
        tasks = acc.map(_.tasks.get).sum,
        taskRunS = acc.map(_.runMs.get).sum / 1e3,
        taskCpuS = acc.map(_.cpuNs.get).sum / 1e9,
        scanBytes = acc.map(_.scanBytes.get).sum,
        shuffleBytes = acc.map(_.shuffleBytes.get).sum,
        spillBytes = acc.map(_.spillBytes.get).sum,
        gcS = acc.map(_.gcMs.get).sum / 1e3)
    }
  }

  def spanCount: Int = spans.size

  def writeSpans(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s => Json.obj(Seq(
      "run" -> Json.str(runId), "id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    Files.write(file, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Tracer {
  val Key = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
      endNs: Long)
  final case class Job(span: Long, startNs: Long) { @volatile var endNs = 0L }

  final class TaskAcc {
    val tasks, runMs, cpuNs, scanBytes, shuffleBytes, spillBytes, gcMs =
      new AtomicLong
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  final case class Summary(wallS: Double, jobs: Int, firstJobMs: Double,
      driverGapS: Double, tasks: Long, taskRunS: Double, taskCpuS: Double,
      scanBytes: Long, shuffleBytes: Long, spillBytes: Long, gcS: Double)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  /** The Spark-runtime metrics of a set of top-level spans, named as the
    * benchmark reports them: totals divided by `units` (the passes, heads
    * or rosters the spans cover), so each is per unit of work. */
  def sparkMetrics(ss: Seq[Summary], units: Double): Seq[Metric] = {
    def per(x: Double) = x / math.max(1.0, units)
    Seq(
      Metric("spark.jobs", per(ss.map(_.jobs).sum), "count"),
      Metric("spark.tasks", per(ss.map(_.tasks).sum), "count"),
      Metric("spark.first_job_ms",
        Stats.median(ss.map(_.firstJobMs).filterNot(_.isNaN)), "ms"),
      Metric("spark.driver_gap_s", per(ss.map(_.driverGapS).sum), "s"),
      Metric("spark.task_run_s", per(ss.map(_.taskRunS).sum), "s"),
      Metric("spark.task_cpu_s", per(ss.map(_.taskCpuS).sum), "s"),
      Metric("spark.scan_bytes", per(ss.map(_.scanBytes).sum), "bytes"),
      Metric("spark.shuffle_bytes", per(ss.map(_.shuffleBytes).sum), "bytes"),
      Metric("spark.spill_bytes", per(ss.map(_.spillBytes).sum), "bytes"),
      Metric("spark.gc_s", per(ss.map(_.gcS).sum), "s"))
  }
}
