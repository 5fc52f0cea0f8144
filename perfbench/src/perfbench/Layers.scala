package perfbench

import java.nio.file.{Files, Paths}

import graft.chain.{ChainOps, ContractRegistry}
import graft.etl.{ChainSource, WatchTokens}
import graft.store.GraftStore
import org.apache.spark.sql.functions.col

/** Traced forms of the engine's composite calls: the same public layer
  * functions in the same order, each inside its own span. Lazy steps are
  * materialized (`localCheckpoint`) inside their span so their work is
  * charged to the layer that does it; that and the hit counts are the
  * tracing overhead the traced run reports. */
object Layers {

  /** `Backfill.run` over [from, to] with the default watch set and all
    * three tables: fetchRange → normalizeTxs / selector / receipts /
    * tokenTransfers → stage per table → commit. */
  def backfill(ctx: Ctx, source: ChainSource, store: GraftStore, from: Long,
      to: Long, t: LayerTotals, count: Boolean = true): Long = {
    val (spark, tr) = (ctx.spark, ctx.tracer)
    val watch = WatchTokens.Default.toSeq.sortBy(_._1)
    val fetch = tr("etl.fetch") {
      val f = source.fetchRange(spark, from, to)
      f.blocks.count() // materializes the persisted fetch
      f
    }
    try {
      val norm = tr("chain.decode")(
        ChainOps.normalizeTxs(fetch.transactions).localCheckpoint())
      val matching = tr("chain.decode")(watch.map { case (ctype, addrs) =>
        norm.filter(col("to_addr").isin(addrs: _*) &&
          ContractRegistry(ctype).isCall(col("input"))).select(col("hash"))
      }.reduce(_.unionByName(_)).distinct().localCheckpoint())
      val receipts = tr("etl.receipts")(
        source.receiptsFor(spark, from, to, matching).localCheckpoint())
      val transfers = tr("chain.decode")(watch.map { case (ctype, addrs) =>
        ChainOps.tokenTransfers(norm, fetch.blocks, receipts, addrs, ctype)
      }.reduce(_.unionByName(_)).localCheckpoint())
      if (count) tr("trace.counts") {
        t.matches += matching.count()
        t.transfersOut += transfers.count()
        t.watchedTxs += norm.filter(
          col("to_addr").isin(watch.flatMap(_._2): _*)).count()
      }
      val leaves = tr("store.stage")(store.stage("transactions", norm)) ++
        tr("store.stage")(store.stage("token_transfers", transfers)) ++
        tr("store.stage")(store.stage("blocks", fetch.blocks))
      tr("store.commit")(store.commit(leaves, meta = Map("tip" -> to.toString)))
    } finally fetch.release()
    to - from + 1
  }

  /** `Tail.processHead` for one head: resume cursor, stored tip hash,
    * parent-linkage check, and on a broken link the fork-point walk-back,
    * `Tail.rollbackFrom` and re-backfill; otherwise an append. */
  def processHead(ctx: Ctx, store: GraftStore, source: ChainSource,
      head: graft.etl.Tail.Head, t: LayerTotals): Unit = {
    val (spark, tr) = (ctx.spark, ctx.tracer)
    val last = tr("store.manifest")(
      graft.etl.Backfill.maxIngestedHeight(spark, store))
    if (head.number <= last) return
    def append(from: Long): Unit = {
      val (b0, f0) = dataBytes(store.root)
      tr("backfill")(backfill(ctx, source, store, from, head.number, t,
        count = false))
      val (b1, f1) = dataBytes(store.root)
      t.bytesWritten += b1 - b0
      t.filesWritten += f1 - f0
    }
    if (last >= 0) {
      t.tipLeaves += store.leavesForHeights("blocks", last, last).size
      val storedTipHash = tr("store.tip_read")(
        store.readHeightRange(spark, "blocks", last, last)
          .filter(col("number") === last).select("hash").head().getString(0))
      val linked =
        if (head.number == last + 1) head.parent_hash == storedTipHash
        else {
          val seam = tr("etl.seam")(source.blocks(spark, last + 1, last + 1)
            .select("parent_hash").collect())
          seam.nonEmpty && seam.head.getString(0) == storedTipHash
        }
      if (!linked) {
        val fork = tr("tail.fork_point")(forkPoint(ctx, store, source, last))
        val (b0, _) = dataBytes(store.root)
        tr("store.rollback")(graft.etl.Tail.rollbackFrom(spark, store, fork))
        t.rollbackBytes += dataBytes(store.root)._1 - b0
        append(fork)
        return
      }
    }
    append(last + 1)
  }

  /** The engine's fork-point walk-back (private in `Tail`): first height
    * within 100 below the stored tip where store and source disagree. */
  private def forkPoint(ctx: Ctx, store: GraftStore, source: ChainSource,
      storedTip: Long): Long = {
    import org.apache.spark.sql.functions.min
    val from = math.max(0L, storedTip - 100L)
    val stored = store.readHeightRange(ctx.spark, "blocks", from, Long.MaxValue)
      .filter(col("number") >= from)
      .select(col("number"), col("hash").as("stored_hash"))
    val fresh = source.blocks(ctx.spark, from, storedTip)
      .select(col("number"), col("hash").as("source_hash"))
    stored.join(fresh, "number")
      .filter(col("stored_hash") =!= col("source_hash"))
      .agg(min("number")).head().get(0) match {
      case n: Long => n
      case _ => storedTip + 1
    }
  }

  /** Bytes and count of the parquet data files under a store root. Leaves
    * are immutable and nothing here vacuums, so a difference of two
    * readings is what was written in between. */
  def dataBytes(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try {
      val sizes = s.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => Files.size(p)).toArray
      (sizes.sum, sizes.length.toLong)
    } finally s.close()
  }

  /** Median wall of reading the manifest (leaf list + footer stats) —
    * the read every store call starts with. */
  def manifestReadMs(store: GraftStore): Seq[Double] =
    Seq.fill(5)(Stats.timed { store.currentLeaves(); store.currentStats() }
      ._2 * 1e3)
}

/** Counts gathered by the traced forms, per traced run. */
final class LayerTotals {
  var matches, transfersOut, watchedTxs, bytesWritten, filesWritten,
    leavesLive, rollbackBytes = 0L
  @volatile var compactBytes = 0L
  val manifestMs = Seq.newBuilder[Double]
  val tipLeaves = Seq.newBuilder[Int]

  /** Record a freshly backfilled store: all its files were just written. */
  def storeSnapshot(store: GraftStore): Unit = {
    val (b, f) = Layers.dataBytes(store.root)
    bytesWritten += b
    filesWritten += f
    leavesLive += store.currentLeaves().size
    manifestMs ++= Layers.manifestReadMs(store)
  }

  def spanS(tr: Tracer, names: String*): Double =
    names.flatMap(tr.summaries).map(_.wallS).sum
}

/** The per-layer metrics every traced run reports, in one list: a layer a
  * workload does not exercise reads 0. */
object PerLayer {
  val Families: Seq[String] =
    Seq("relational", "dedup", "ann", "index", "curation", "text", "multimodal")

  val Units: Seq[(String, String)] = Seq(
    "etl.rpc_round_trips" -> "count", "etl.rpc_calls" -> "count",
    "etl.wire_bytes" -> "bytes", "etl.node_busy_s" -> "s",
    "etl.node_busy_share" -> "ratio", "etl.receipt_calls_per_match" -> "ratio",
    "etl.fetch_s" -> "s",
    "chain.decode_s" -> "s", "chain.transfers_out" -> "count",
    "chain.selector_hit_ratio" -> "ratio",
    "store.stage_s" -> "s", "store.commit_s" -> "s",
    "store.bytes_written" -> "bytes", "store.files_written" -> "count",
    "store.leaves_live" -> "count", "store.manifest_read_ms" -> "ms",
    "store.leaves_read_per_lookup" -> "count",
    "store.leaves_pruned_ratio" -> "ratio",
    "store.rollback_s" -> "s", "store.rollback_bytes_rewritten" -> "bytes",
    "store.compact_s" -> "s", "store.compact_bytes_rewritten" -> "bytes",
    "store.heads_stalled_by_compact" -> "count") ++
    Families.flatMap(f => Seq(s"ops.${f}_s" -> "s", s"ops.${f}_jobs" -> "count",
      s"ops.${f}_driver_gap_s" -> "s", s"ops.${f}_shuffle_bytes" -> "bytes")) ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.first_job_ms" -> "ms", "spark.driver_gap_s" -> "s",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.scan_bytes" -> "bytes", "spark.shuffle_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
      "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  def fill(values: Map[String, Double], more: Seq[Metric]): Seq[Metric] = {
    val all = values ++ more.map(m => m.name -> m.value)
    Units.map { case (n, u) =>
      Metric(n, all.get(n).filterNot(_.isNaN).getOrElse(0.0), u) }
  }
}
