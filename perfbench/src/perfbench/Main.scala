package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry: `--workload <name|all> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Each workload sets up its inputs (timed, several times; `setup_s` is the
  * median), warms the JVM with one untimed pass, then measures for
  * `--seconds`. Every output is checked; a mismatch counts as a failed
  * operation. Standard output ends with one JSON line (`correct`,
  * `attempted`, `failed`, `metrics`); the line before it carries every
  * named metric of the workload with its sample counts.
  *
  * `--trace 1` splits the measured window: an untraced first part, then a
  * traced part whose spans (name, start, end, parent, run id) attribute
  * Spark jobs and task metrics to the layer call that caused them. The
  * per-layer metrics come from the traced part; `trace.overhead_pct`
  * compares its primary samples with the untraced part's. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean)

  private val Workloads: Map[String, Workload] = Seq[Workload](
    ChainBackfill, ChainTail, AnalyticsRoster).map(w => w.name -> w).toMap

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(w == "all" || Workloads.contains(w), s"unknown workload $w")
    Args(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val runDir = work.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)
    var code = 1
    try {
      val cores = Runtime.getRuntime.availableProcessors()
      val spark = graft.GraftSession.builder(s"local[$cores]", cores)
        .config("spark.local.dir", runDir.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val names = if (a.workload == "all") Seq("chain_backfill", "chain_tail",
        "analytics_roster") else Seq(a.workload)
      val outcomes = names.map { n =>
        val dir = Files.createDirectories(runDir.resolve(n))
        val tracer = new Tracer(spark, s"$n-${a.seed}")
        val ctx = Ctx(spark, dir, a.seed, a.seconds, a.trace, tracer, cores)
        val o = Workloads(n).run(ctx)
        if (a.trace) tracer.writeSpans(
          work.resolve("spans").resolve(s"$n-seed${a.seed}.jsonl"))
        println(Json.obj(Seq("workload" -> Json.str(n),
          "detail" -> Json.metrics(o.detail)) ++
          o.notes.map { case (k, v) => k -> Json.str(v) }))
        n -> o
      }
      val metrics = outcomes.flatMap { case (n, o) =>
        val ms = if (a.trace) o.perLayer else o.endToEnd
        if (outcomes.size == 1) ms else ms.map(m => m.copy(name = s"$n.${m.name}"))
      }
      val attempted = outcomes.map(_._2.attempted).sum
      val failed = outcomes.map(_._2.failed).sum
      println(Json.obj(Seq(
        "correct" -> (if (failed == 0) "true" else "false"),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.metrics(metrics))))
      code = 0
    } catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
    } finally {
      try SparkSession.getActiveSession.foreach(_.stop())
      catch { case _: Throwable => () }
      deleteTree(runDir)
    }
    System.out.flush()
    System.exit(code)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** What a workload needs from the harness. `dir` is the workload's scratch
  * root inside the run directory, deleted when the run ends. */
final case class Ctx(spark: SparkSession, dir: Path, seed: Long,
    seconds: Int, trace: Boolean, tracer: Tracer, cores: Int) {
  private val seq = new java.util.concurrent.atomic.AtomicInteger
  /** A fresh, not yet existing path under the scratch root. */
  def fresh(prefix: String): String =
    dir.resolve(s"$prefix-${seq.incrementAndGet()}").toString
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** One workload's result: contract metrics (end-to-end and per-layer),
  * every named metric for the detail line, and free-form notes. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Seq[Metric], perLayer: Seq[Metric], detail: Seq[Metric],
    notes: Map[String, String])

final case class Metric(name: String, value: Double, unit: String)
