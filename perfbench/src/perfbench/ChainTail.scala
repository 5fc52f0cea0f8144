package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.etl.{Backfill, Export, RpcSource, Tail}
import graft.store.GraftStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** `chain_tail`: the live new-heads tail on a prefilled store. The node
  * advances its tip on a fixed schedule (open loop, below capacity); every
  * [[ReorgEvery]]th head replaces the last [[ReorgDepth]] blocks with
  * another branch, and `Export.compact` runs every [[CompactEvery]] heads
  * on its own thread, as an external scheduler would, one head after each
  * reorg so every run sees the same overlap. Heads reach the
  * engine through the production wiring: the `ChainHeadsProvider` stream
  * with `apiUrl` feeding `Tail.attach`. Each head is timed from its
  * scheduled announcement until the store manifest's tip reaches it. */
object ChainTail extends Workload {
  val name = "chain_tail"
  val Prefill = 200
  val IntervalMs = 3000L
  val ReorgEvery = 3
  val ReorgDepth = 2
  val CompactEvery = 3
  val WarmHeads = 4
  val WarmIntervalMs = 1000L
  val SetupReps = 3
  val CommitTimeoutMs = 30000L

  /** The announcement schedule: head k (k >= 1) moves the tip to
    * Prefill - 1 + k; a reorg head first swaps the previous ReorgDepth
    * heights from their orphan branch to the canonical one. */
  final class Plan(seed: Long, heads: Int) {
    val canonical: Vector[ChainGen.GBlock] =
      ChainGen.canonical(seed, Prefill + heads)
    def isReorg(k: Int): Boolean = k % ReorgEvery == 0
    def height(k: Int): Long = Prefill - 1L + k
    /** Orphans served before reorg head k, keyed by k. */
    val orphans: Map[Int, Vector[ChainGen.GBlock]] =
      (1 to heads).filter(isReorg).map { k =>
        val first = height(k) - ReorgDepth
        val parent = canonical(first.toInt - 1).block
        k -> ChainGen.extend(seed, k, first, ReorgDepth,
          (parent.hash, BigInt(parent.total_difficulty)))
      }.toMap
    def load(node: Node): Unit = {
      node.load(canonical)
      orphans.values.foreach(node.load)
      node.tip.set(Prefill - 1)
    }
    /** The chain the node serves once head k is announced: canonical, but
      * orphans still stand where their reorg head has not come yet. */
    def served(k: Int): Vector[ChainGen.GBlock] =
      orphans.filter(_._1 > k).values.flatten
        .filter(_.block.number <= height(k))
        .foldLeft(canonical.take(height(k).toInt + 1)) { (c, o) =>
          c.updated(o.block.number.toInt, o) }
  }

  /** One measured window's samples. */
  final class Window {
    val headMs, reorgMs, lateMs, compactS = Seq.newBuilder[Double]
    val compactions = Seq.newBuilder[(Long, Long)]
    val heads = Seq.newBuilder[(Long, Long)] // (announced, committed) ns
    var lagMax = 0L
    var restarts = 0
    var attempted, failed = 0L
    var nodeRows = (0L, 0L, 0L, 0L)
    var count = 0
  }

  def run(ctx: Ctx): Outcome = {
    val maxHeads = WarmHeads + 2 + (ctx.seconds * 1000L / IntervalMs).toInt * 2
    val node = new Node(Prefill + maxHeads + 1, ctx.cores)
    try {
      var plan: Plan = null
      var store: GraftStore = null
      val setupS = Seq.fill(SetupReps)(Stats.timed {
        plan = new Plan(ctx.seed, maxHeads)
        plan.load(node)
        store = new GraftStore(ctx.fresh("store"))
        val src = new RpcSource(node.url)
        try Backfill.run(ctx.spark, src, store, 0, Prefill - 1)
        finally src.close()
      }._2)
      val source = new RpcSource(node.url)
      val totals = new LayerTotals
      var k = 0 // heads announced so far
      def window(traced: Boolean, nHeads: Int, untilNs: Long,
          intervalMs: Long = IntervalMs): Window = {
        val w = new Window
        val sup = new Supervisor(ctx, store, source, traced, totals)
        try {
          awaitTip(store, plan.height(k), System.nanoTime() + CommitTimeoutMs * 1000000L)
          node.resetCounters()
          drive(ctx, node, store, plan, k, nHeads, untilNs, intervalMs, traced,
            totals, w, sup)
          k += w.count
        } finally sup.stop()
        w.restarts = sup.restarts
        w
      }
      // warm-up heads come faster: their latency is not reported
      val (_, warmS) = Stats.timed(
        window(traced = false, WarmHeads, Long.MaxValue, WarmIntervalMs))

      val heap = new HeapPeak
      heap.start()
      val t0 = System.nanoTime()
      val end = t0 + ctx.seconds * 1000000000L
      val plainEnd = if (ctx.trace) t0 + (end - t0) * 2 / 5 else end
      val plain = window(traced = false, Int.MaxValue, plainEnd)
      val traced = if (!ctx.trace) new Window else {
        ctx.tracer.start()
        try window(traced = true, Int.MaxValue, end)
        finally ctx.tracer.stop()
      }
      val measuredS = Stats.secondsSince(t0)
      val (heapMb, liveMb) = heap.stop()
      source.close()

      // the final store equals the node's canonical chain
      val exp = ChainGen.expected(plan.served(k))
      val finalOk = Digest.of(store.read(ctx.spark, "blocks")) == exp.blocks &&
        Digest.of(store.read(ctx.spark, "transactions")) == exp.txs &&
        Digest.of(store.read(ctx.spark, "token_transfers")) == exp.transfers
      val attempted = plain.attempted + traced.attempted + 1
      val failed = plain.failed + traced.failed + (if (finalOk) 0 else 1)
      if (!finalOk) System.err.println(
        "perfbench: check failed: final store differs from the served chain")

      val hm = plain.headMs.result()
      val rm = plain.reorgMs.result()
      val cs = plain.compactS.result()
      val named = Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
        Metric("heap_used_peak_mb", heapMb, "MB"),
        Metric("heap_live_mb", liveMb, "MB"),
        Metric("head_commit_ms_mean", mean(hm), "ms"),
        Metric("reorg_commit_ms_mean", mean(rm), "ms"),
        Metric("tail_lag_blocks_max", plain.lagMax.toDouble, "blocks"),
        Metric("compact_s_mean", mean(cs), "s"),
        Metric("tail_restarts", plain.restarts + traced.restarts, "count"),
        Metric("generator_late_ms_max",
          (0.0 +: plain.lateMs.result()).max, "ms"),
        Metric("warmup_s", warmS, "s"), Metric("measured_s", measuredS, "s"),
        Metric("head_samples", hm.size, "count"),
        Metric("reorg_samples", rm.size, "count"),
        Metric("compact_samples", cs.size, "count"))
      val endToEnd = Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("op_ms_mean", mean(hm), "ms"),
        Metric("batch_s", mean(rm) / 1e3, "s"),
        Metric("aux_s", mean(cs), "s"),
        Metric("heap_live_mb", liveMb, "MB"))
      val perLayer = if (!ctx.trace) Nil else {
        val tr = ctx.tracer
        val n = math.max(1, traced.count).toDouble
        val (posts, calls, bytes, busy) = traced.nodeRows
        val rollbacks = tr.summaries("store.rollback")
        val compacts = tr.summaries("store.compact")
        val stalled = traced.heads.result().count { case (a, c) =>
          traced.compactions.result().exists { case (s, e) => s < c && e > a } }
        PerLayer.fill(Map(
          "etl.rpc_round_trips" -> posts / n,
          "etl.rpc_calls" -> calls / n,
          "etl.wire_bytes" -> bytes / n,
          "etl.node_busy_s" -> busy / 1e9 / n,
          "etl.node_busy_share" -> busy / 1e9 / (ctx.seconds * 0.6),
          "etl.fetch_s" -> totals.spanS(tr, "etl.fetch", "etl.receipts",
            "etl.seam") / n,
          "chain.decode_s" -> totals.spanS(tr, "chain.decode") / n,
          "store.stage_s" -> totals.spanS(tr, "store.stage") / n,
          "store.commit_s" -> totals.spanS(tr, "store.commit") / n,
          "store.bytes_written" -> totals.bytesWritten / n,
          "store.files_written" -> totals.filesWritten / n,
          "store.leaves_live" -> store.currentLeaves().size.toDouble,
          "store.manifest_read_ms" ->
            Stats.median(tr.summaries("store.manifest").map(_.wallS * 1e3)),
          "store.leaves_read_per_lookup" -> Stats.median(
            totals.tipLeaves.result().map(_.toDouble)),
          "store.rollback_s" -> Stats.median(rollbacks.map(_.wallS)),
          "store.rollback_bytes_rewritten" ->
            totals.rollbackBytes.toDouble / math.max(1, rollbacks.size),
          "store.compact_s" -> Stats.median(compacts.map(_.wallS)),
          "store.compact_bytes_rewritten" ->
            totals.compactBytes.toDouble / math.max(1, compacts.size),
          "store.heads_stalled_by_compact" -> stalled.toDouble,
          "trace.overhead_pct" -> (mean(traced.headMs.result()) /
            mean(hm) - 1) * 100,
          "trace.spans" -> tr.spanCount / n),
          Tracer.sparkMetrics(tr.summaries("tail.head") ++ compacts, n))
      }
      Outcome(attempted, failed, endToEnd, perLayer, named, Map(
        "loop" -> (s"open, 1 head per ${IntervalMs} ms; reorg of depth " +
          s"$ReorgDepth every $ReorgEvery heads; Export.compact every " +
          s"$CompactEvery heads (one after each reorg) on its own thread"),
        "generator" -> s"prefill $Prefill blocks, seed ${ctx.seed}; ${ChainGen.params}",
        "samples" -> s"${hm.size} heads, ${rm.size} reorgs, ${cs.size} compactions"))
    } finally node.close()
  }

  /** The heads stream into the store: `Tail.attach` untraced; traced, the
    * same micro-batch body with `processHead` split into its layer calls.
    * Like a deployment's supervisor, a query that dies is restarted from
    * its checkpoint (the tail is replay-safe by height); each restart is
    * counted and reported. */
  final class Supervisor(ctx: Ctx, store: GraftStore, source: RpcSource,
      traced: Boolean, totals: LayerTotals) {
    private val checkpoint = ctx.fresh("checkpoint")
    @volatile var restarts = 0
    @volatile private var q = start()

    private def start(): StreamingQuery = {
      val spark = ctx.spark
      val heads = spark.readStream.format("graft.sources.ChainHeadsProvider")
        .option("apiUrl", source.url)
        .option("numBlocks", Int.MaxValue.toString)
        // the first batch catches up over the whole prefill in one go
        .option("blocksPerBatch", "1000000")
        .load()
      val writer =
        if (!traced) Tail.attach(spark, store, source, heads)
        else heads.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.select("number", "hash", "parent_hash").collect()
          if (rows.nonEmpty) {
            val r = rows.maxBy(_.getLong(0))
            ctx.tracer("tail.head")(Layers.processHead(ctx, store, source,
              Tail.Head(r.getLong(0), r.getString(1), r.getString(2)), totals))
          }
          ()
        }
      writer.option("checkpointLocation", checkpoint).start()
    }

    /** Restart the query if it has died. */
    def check(): Unit = if (!q.isActive) {
      restarts += 1
      q = start()
    }

    def stop(): Unit = q.stop()
  }

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  private def storeTip(store: GraftStore): Long =
    store.currentMeta().get(store.metaKey("tip")).map(_.toLong).getOrElse(-1L)

  private def awaitTip(store: GraftStore, h: Long, deadlineNs: Long): Boolean = {
    while (storeTip(store) < h && System.nanoTime() < deadlineNs)
      Thread.sleep(2)
    storeTip(store) >= h
  }

  /** Announce heads k0+1.. on schedule until `nHeads` or `untilNs`, with
    * a watcher timing each commit and compactions fired on cadence; then
    * wait for the last head to commit. */
  private def drive(ctx: Ctx, node: Node, store: GraftStore, plan: Plan,
      k0: Int, nHeads: Int, untilNs: Long, intervalMs: Long, traced: Boolean,
      totals: LayerTotals, w: Window, sup: Supervisor): Unit = {
    val announced = new ConcurrentHashMap[Long, java.lang.Long] // height -> due ns
    val committed = new ConcurrentHashMap[Long, java.lang.Long]
    val lastAnnounced = new AtomicLong(plan.height(k0))
    @volatile var stop = false
    val watcher = new Thread(() => {
      var seen = plan.height(k0)
      while (!stop) {
        val tip = storeTip(store)
        val now = System.nanoTime()
        w.lagMax = math.max(w.lagMax, node.tip.get - tip)
        sup.check()
        while (seen < tip && announced.containsKey(seen + 1)) {
          seen += 1
          committed.put(seen, now)
        }
        Thread.sleep(2)
      }
    }, "perfbench-watcher")
    watcher.setDaemon(true)
    watcher.start()
    var compactor: Thread = null
    val t0 = System.nanoTime()
    var i = 0
    // the window ends on time, but not before it has seen a plain head, a
    // reorg head and a compaction
    def seenAll = i >= ReorgEvery + 1
    while (i < nHeads && (System.nanoTime() < untilNs || !seenAll)) {
      i += 1
      val k = k0 + i
      val due = t0 + i * intervalMs * 1000000L
      val sleepNs = due - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      w.lateMs += math.max(0L, System.nanoTime() - due) / 1e6
      if (plan.isReorg(k)) node.load(
        plan.canonical.slice((plan.height(k) - ReorgDepth).toInt, plan.height(k).toInt))
      announced.put(plan.height(k), due)
      node.tip.set(plan.height(k))
      lastAnnounced.set(plan.height(k))
      if (k % CompactEvery == 1 && (compactor == null || !compactor.isAlive)) {
        compactor = new Thread(() => {
          val before = store.currentLeaves()
          val c0 = System.nanoTime()
          ctx.tracer("store.compact")(Export.compact(ctx.spark, store))
          val c1 = System.nanoTime()
          w.compactS += (c1 - c0) / 1e9
          w.compactions += ((c0, c1))
          if (traced) {
            val gone = before.toSet -- store.currentLeaves()
            totals.compactBytes += gone.toSeq.map(l =>
              Layers.dataBytes(s"${store.root}/${l.dir}")._1).sum
          }
        }, "perfbench-compactor")
        compactor.start()
      }
    }
    w.count = i
    awaitTip(store, lastAnnounced.get, System.nanoTime() + CommitTimeoutMs * 1000000L)
    Thread.sleep(5)
    stop = true
    watcher.join()
    if (compactor != null) compactor.join()
    w.nodeRows = (node.posts.get, node.calls.get, node.wireBytes.get, node.busyNs.get)
    for (j <- 1 to i) {
      val k = k0 + j
      val h = plan.height(k)
      val due = announced.get(h).longValue
      w.attempted += 1
      Option(committed.get(h)) match {
        case Some(c) =>
          val ms = (c.longValue - due) / 1e6
          if (plan.isReorg(k)) w.reorgMs += ms else w.headMs += ms
          w.heads += ((due, c.longValue))
        case None =>
          w.failed += 1
          System.err.println(s"perfbench: check failed: head $k never committed")
      }
    }
  }
}
