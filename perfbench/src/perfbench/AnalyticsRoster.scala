package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{SparkEntry, Tables}
import graft.store.{GraftStore, IndexStore}
import org.apache.spark.sql.functions.col

/** `analytics_roster`: a fixed roster of `SparkEntry.queries` entries that
  * covers every operator module and every ROADMAP target, plus an `ivfpq`
  * `IndexStore.build` and `IndexStore.search`, closed loop with one
  * client. Each entry is timed from the call to its `.count()`. The only
  * workload where the operators and IndexStore do the work and the chain
  * store and ETL do none.
  *
  * The roster reads the `events`, `documents` and `embeddings` tables of
  * the engine's sf0.1 test corpus, kept in `perfbench/data/sf0.1`, so its
  * outputs can be checked against recorded golden row counts and digests
  * (`roster_golden.json`); `--seed` sets the roster order and the index
  * probes. The warm-up runs every entry once and checks its content digest
  * (row count only for entries without a DuckDB oracle, which are
  * estimate-shaped); measured runs check row counts, and every index probe
  * must find its source. Every check, warm-up included, is counted. */
object AnalyticsRoster extends Workload {
  val name = "analytics_roster"
  val DataDir = Paths.get("perfbench", "data", "sf0.1")
  val DataTables = Seq("events", "documents", "embeddings")
  val SetupReps = 5
  val Probes = 16
  val GoldenFile = Paths.get("perfbench", "roster_golden.json")

  /** One entry per operator family, each a ROADMAP target:
    * `multimodal_video_clusters` also runs `connectedComponents`, the
    * kernel of `curation_pipeline`. These six and the index take ~12 s
    * per warm pass on sf0.1 and 4 cores; the 17-entry roster, more than
    * twice that, is more than a run can hold. */
  val Roster: Seq[(String, String)] = Seq(
    "agg_session_window" -> "relational",
    "dedup_incremental" -> "dedup",
    "ann_recall_report" -> "ann",
    "corpus_shards" -> "curation",
    "text_tokenize_bpe" -> "text",
    "multimodal_video_clusters" -> "multimodal")
  private val family = (Roster :+ ("index" -> "index")).toMap

  final case class Golden(rows: Long, digest: Option[Long])

  def readGolden(): Map[String, Golden] =
    if (!Files.exists(GoldenFile)) Map.empty
    else {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(GoldenFile), StandardCharsets.UTF_8))
      (j \ "entries").asInstanceOf[JObject].obj.map { case (k, v) =>
        k -> Golden((v \ "rows").asInstanceOf[JInt].num.toLong, v \ "digest" match {
          case JInt(d) => Some(d.toLong)
          case _ => None
        })
      }.toMap
    }

  def writeGolden(g: Map[String, Golden]): Unit = {
    val entries = g.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Json.obj(Seq("rows" -> v.rows.toString,
        "digest" -> v.digest.fold("null")(_.toString))) }
    Files.write(GoldenFile, (Json.obj(Seq(
      "data" -> Json.str(DataDir.toString),
      "entries" -> Json.obj(entries))) + "\n").getBytes(StandardCharsets.UTF_8))
  }

  final class Samples {
    val entryS = Seq.newBuilder[(String, Double)]
    var attempted, failed = 0L
    def op(ok: Boolean, what: => String = ""): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"perfbench: check failed: $what") }
    }
    /** Median wall per item (entries, `index.build`, `index.search`). */
    def medians: Map[String, Double] =
      entryS.result().groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    var dir = ""
    // stage the tables in the run's scratch (entries may write next to
    // them) and open each through the engine's loader
    val setupS = Seq.fill(SetupReps)(Stats.timed {
      dir = ctx.fresh("data")
      Files.createDirectories(Paths.get(dir))
      DataTables.foreach { t =>
        Files.copy(DataDir.resolve(s"$t.parquet"), Paths.get(dir, s"$t.parquet"))
        Tables.t(spark, dir, t).count()
      }
    }._2)
    val rnd = new java.util.Random(ctx.seed)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val probeIds = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle((0L until vecs.count()).toVector).take(Probes)
    // nudged copies of corpus vectors: each must find its source first
    val probes = vecs.filter(col("vec_id").isin(probeIds: _*))
      .selectExpr("vec_id + 1000000000 AS vec_id",
        "transform(embedding, x -> x * 1.001f) AS embedding")
      .localCheckpoint()
    val golden = readGolden()
    val recording = sys.props.contains("perfbench.record")
    val recorded = Map.newBuilder[String, Golden]
    val tr = ctx.tracer

    def index(s: Samples): Unit = {
      val store = new GraftStore(ctx.fresh("index"))
      val (_, b) = Stats.timed(tr("ops:index")(tr("index.build")(
        IndexStore.build(store, "ivfpq", spark.read.parquet(s"$dir/embeddings.parquet")))))
      val (top, q) = Stats.timed(tr("ops:index")(tr("index.search")(
        IndexStore.search(store, spark, "ivfpq", probes)
          .filter(col("rank") === 1).select("query_id", "neighbor_id").collect())))
      s.entryS += ("index.build" -> b)
      s.entryS += ("index.search" -> q)
      s.op(true)
      s.op(top.length == Probes &&
        top.forall(r => r.getLong(0) - 1000000000L == r.getLong(1)), "index.search")
    }

    /** One roster entry, timed from the call to its `.count()`; with
      * `digest`, the content digest replaces the count (warm-up). */
    def entry(s: Samples, e: String, digest: Boolean): Unit = {
      val oracled = SparkEntry.oracleSql.contains(e)
      val want = golden.get(e)
      val ((rows, sum), t) = Stats.timed(tr(s"ops:${family(e)}")(tr(s"entry:$e") {
        val df = SparkEntry.queries(e)(spark, dir)
        if (digest && oracled) { val d = Digest.of(df); (d.rows, Some(d.sum)) }
        else (df.count(), None)
      }))
      s.entryS += (e -> t)
      if (recording && digest) recorded += e -> Golden(rows, sum)
      s.op(recording || want.exists(g => g.rows == rows &&
        (sum.isEmpty || g.digest == sum)), s"$e: $rows rows, digest $sum; want $want")
    }

    val items = Roster.map(_._1) :+ "index"
    /** Items in seeded permutations, cycle after cycle, until `until` has
      * passed and every item has run at least once. */
    def loop(s: Samples, until: Long, digest: Boolean): Unit = {
      val seen = scala.collection.mutable.Set.empty[String]
      while (seen.size < items.size || System.nanoTime() < until)
        scala.util.Random.javaRandomToRandom(rnd).shuffle(items).foreach { it =>
          if (seen.size < items.size || System.nanoTime() < until) {
            if (it == "index") index(s) else entry(s, it, digest)
            seen += it
          }
        }
    }

    // warm-up: every item once, checking every content digest
    val warm = new Samples
    val (_, warmS) = Stats.timed(loop(warm, 0L, digest = true))
    if (recording) writeGolden(recorded.result().toMap)

    val plain = new Samples
    val traced = new Samples
    val heap = new HeapPeak
    heap.start()
    val t0 = System.nanoTime()
    val end = t0 + ctx.seconds * 1000000000L
    loop(plain, if (ctx.trace) t0 + (end - t0) * 2 / 5 else end, digest = false)
    if (ctx.trace) {
      tr.start()
      loop(traced, end, digest = false)
      tr.stop()
    }
    val measuredS = Stats.secondsSince(t0)
    val (heapMb, liveMb) = heap.stop()
    val attempted = warm.attempted + plain.attempted + traced.attempted
    val failed = warm.failed + plain.failed + traced.failed

    val med = plain.medians
    val queryS = Roster.map(e => med(e._1))
    val rosterS = med.values.sum
    val indexS = med("index.build") + med("index.search")
    val named = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
      Metric("heap_used_peak_mb", heapMb, "MB"),
      Metric("heap_live_mb", liveMb, "MB"),
      Metric("roster_s", rosterS, "s"),
      // six entries: too few to name a percentile of
      Metric("query_s_mean", queryS.sum / queryS.size, "s"),
      Metric("index_s", indexS, "s"),
      Metric("entry_samples", plain.entryS.result().size, "count"),
      Metric("warmup_s", warmS, "s"), Metric("measured_s", measuredS, "s")) ++
      med.toSeq.sortBy(_._1).map { case (e, v) => Metric(s"entry.$e.s", v, "s") }
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("op_ms_mean", queryS.sum / queryS.size * 1e3, "ms"),
      Metric("batch_s", rosterS, "s"),
      Metric("aux_s", indexS, "s"),
      Metric("heap_live_mb", liveMb, "MB"))
    val perLayer = if (!ctx.trace) Nil else {
      // per roster (one sample of every item), from the traced medians
      val tmed = traced.medians
      val runs = traced.entryS.result().map(_._1).filter(_ != "index.search")
        .groupBy(k => family(k.stripSuffix(".build"))).map { case (f, v) => f -> v.size }
      val fam = PerLayer.Families.flatMap { f =>
        val ss = tr.summaries(s"ops:$f")
        val n = runs.getOrElse(f, 0).toDouble / family.count(_._2 == f)
        Seq(s"ops.${f}_s" -> ss.map(_.wallS).sum / n,
          s"ops.${f}_jobs" -> ss.map(_.jobs).sum / n,
          s"ops.${f}_driver_gap_s" -> ss.map(_.driverGapS).sum / n,
          s"ops.${f}_shuffle_bytes" -> ss.map(_.shuffleBytes).sum / n)
      }
      val rosters = runs.values.sum.toDouble / family.size
      PerLayer.fill(fam.toMap ++ Map(
        "trace.overhead_pct" -> (tmed.values.sum / rosterS - 1) * 100,
        "trace.spans" -> tr.spanCount / rosters),
        Tracer.sparkMetrics(PerLayer.Families.flatMap(f => tr.summaries(s"ops:$f")),
          rosters))
    }
    // per-entry job counts of the traced run go to the detail line
    val entryJobs = if (!ctx.trace) Nil else Roster.map(_._1).map { e =>
      val ss = tr.summaries(s"entry:$e")
      Metric(s"entry.$e.jobs", ss.map(_.jobs).sum.toDouble / math.max(1, ss.size), "count")
    }
    Outcome(attempted, failed, endToEnd, perLayer, named ++ entryJobs, Map(
      "loop" -> (s"closed, 1 client; ${Roster.size} entries + ivfpq build/search " +
        "in seeded permutations until the window ends and each ran once"),
      "generator" -> (s"sf0.1 ${DataTables.mkString("/")} from $DataDir; " +
        s"$Probes ivfpq probes from seed ${ctx.seed}"),
      "samples" -> s"${plain.entryS.result().size} item runs"))
  }
}
