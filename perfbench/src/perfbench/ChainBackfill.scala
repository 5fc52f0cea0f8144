package perfbench

import graft.chain.{ChainOps, TransferType}
import graft.etl.{Backfill, RpcSource}
import graft.store.GraftStore
import org.apache.spark.sql.Row

/** `chain_backfill`: the reference's main job. Each pass backfills the
  * seeded chain from the loopback node into a fresh store through
  * `RpcSource` + `Backfill.run` (as `export` does), checks the stored rows
  * against the generator, runs the three `verify` checks, then issues a
  * closed-loop stream of `view` lookups (one client) through the same
  * store reads the CLI uses. */
object ChainBackfill extends Workload {
  val name = "chain_backfill"
  val Blocks = 1920 // 12 segments: every generator pair once
  val ViewsPerPass = 8
  val WarmBlocks = 1000
  val SetupReps = 9

  sealed trait Lookup
  final case class BlockNo(n: Long) extends Lookup
  final case class TxsOf(n: Long) extends Lookup
  final case class TxHash(h: String) extends Lookup
  final case class AddrTransfers(a: String) extends Lookup

  /** Seeded lookup stream cycling the four view kinds; each with its
    * expected rows (digests computed from the generated rows). */
  def lookups(chain: Vector[ChainGen.GBlock], seed: Long)
      : Iterator[(Lookup, Seq[Long])] = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    val withTxs = chain.filter(_.txs.nonEmpty)
    val transfers = chain.flatMap(g => g.transfers)
    Iterator.from(0).map { i =>
      i % 4 match {
        case 0 =>
          val g = chain(r.nextInt(chain.size))
          BlockNo(g.block.number) -> Seq(Digest.rowDigest(ChainGen.blockRow(g.block)))
        case 1 =>
          val g = withTxs(r.nextInt(withTxs.size))
          TxsOf(g.block.number) -> g.txs.map(t => Digest.rowDigest(ChainGen.txRow(t)))
        case 2 =>
          val g = withTxs(r.nextInt(withTxs.size))
          val t = g.txs(r.nextInt(g.txs.size))
          TxHash(t.hash) -> Seq(Digest.rowDigest(ChainGen.txRow(t)))
        case _ =>
          val t = transfers(r.nextInt(transfers.size))
          val a = if (r.nextBoolean()) t.from_addr else t.to_addr
          AddrTransfers(a) -> transfers
            .filter(x => x.from_addr == a || x.to_addr == a)
            .map(x => Digest.rowDigest(Seq(x.from_addr, x.to_addr, x.value,
              x.tx_hash, x.address)))
      }
    }.map { case (l, d) => l -> d.sorted }
  }

  /** One lookup as the CLI's `view` runs it: height-keyed lookups through
    * the stat-pruned `readHeightRange`, hash and address lookups over the
    * whole table. Returns the rows' digests. */
  def view(ctx: Ctx, store: GraftStore, l: Lookup): Seq[Long] = {
    val s = ctx.spark
    val rows: Array[Row] = l match {
      case BlockNo(n) => ChainOps.blockByNumber(
        store.readHeightRange(s, "blocks", n, n), n).collect()
      case TxsOf(n) => ChainOps.txsOfBlock(
        store.readHeightRange(s, "transactions", n, n), n).collect()
      case TxHash(h) =>
        ChainOps.txByHash(store.read(s, "transactions"), h).collect()
      case AddrTransfers(a) => ChainOps.addressTransfers(
        store.read(s, "token_transfers"), a, TransferType.All).collect()
    }
    rows.toSeq.map(r => Digest.rowDigest(r.toSeq)).sorted
  }

  /** Leaves a lookup lists, and the table's live leaves. */
  def leavesRead(store: GraftStore, l: Lookup): (Int, Int) = {
    val (table, read) = l match {
      case BlockNo(n) => "blocks" -> store.leavesForHeights("blocks", n, n).size
      case TxsOf(n) =>
        "transactions" -> store.leavesForHeights("transactions", n, n).size
      case TxHash(_) => "transactions" -> store.leavesOf("transactions").size
      case AddrTransfers(_) =>
        "token_transfers" -> store.leavesOf("token_transfers").size
    }
    (read, store.leavesOf(table).size)
  }

  /** The `verify` verb's three checks; returns the number of bad rows. */
  def verify(ctx: Ctx, store: GraftStore): Long = {
    val blocks = store.read(ctx.spark, "blocks")
    ChainOps.continuityGapsScalable(blocks, store.bucketSize).count() +
      ChainOps.identityMismatchesScalable(blocks, store.bucketSize).count() +
      ChainOps.transactionCountMismatches(blocks,
        store.read(ctx.spark, "transactions")).count()
  }

  /** Stored tables equal the generator's rows and golden transfers. */
  def matches(ctx: Ctx, store: GraftStore, exp: ChainGen.Expected): Boolean =
    Digest.of(store.read(ctx.spark, "blocks")) == exp.blocks &&
      Digest.of(store.read(ctx.spark, "transactions")) == exp.txs &&
      Digest.of(store.read(ctx.spark, "token_transfers")) == exp.transfers

  final class Samples {
    val backfillS, verifyS, viewMs, bytesPerBlock = Seq.newBuilder[Double]
    val node = Seq.newBuilder[(Long, Long, Long, Long, Long)]
    val lookupLeaves = Seq.newBuilder[(Int, Int)]
    val layer = new LayerTotals
    var passes, attempted, failed = 0L
    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"perfbench: check failed: $what") }
    }
  }

  def pass(ctx: Ctx, node: Node, exp: ChainGen.Expected,
      views: Iterator[(Lookup, Seq[Long])], nViews: Int, s: Samples): Unit = {
    val tr = ctx.tracer
    val store = new GraftStore(ctx.fresh("store"))
    val source = new RpcSource(node.url)
    try {
      node.resetCounters()
      val (_, bf) = Stats.timed(tr("backfill") {
        if (tr.enabled) Layers.backfill(ctx, source, store, 0, Blocks - 1, s.layer)
        else Backfill.run(ctx.spark, source, store, 0, Blocks - 1)
      })
      s.backfillS += bf
      s.node += ((node.posts.get, node.calls.get, node.wireBytes.get,
        node.busyNs.get, node.receiptCalls.get))
      s.op(matches(ctx, store, exp), "stored tables differ from the generator")
      val (bytes, _) = Layers.dataBytes(store.root)
      s.bytesPerBlock += bytes.toDouble / Blocks
      if (tr.enabled) s.layer.storeSnapshot(store)

      val (bad, vs) = Stats.timed(tr("verify")(verify(ctx, store)))
      s.verifyS += vs
      s.op(bad == 0, s"verify found $bad bad rows")

      views.take(nViews).foreach { case (l, want) =>
        if (tr.enabled) s.lookupLeaves += leavesRead(store, l)
        val (got, t) = Stats.timed(tr("view")(view(ctx, store, l)))
        s.viewMs += t * 1e3
        s.op(got == want, s"view $l returned ${got.size} rows, want ${want.size}")
      }
      s.passes += 1
    } finally source.close()
  }

  /** JIT warm-up over the measured code paths on a prefix of the chain:
    * backfill, verify and views, unchecked and not reported. */
  def warmUp(ctx: Ctx, node: Node, views: Iterator[(Lookup, Seq[Long])]): Unit = {
    val store = new GraftStore(ctx.fresh("warmup"))
    val source = new RpcSource(node.url)
    try {
      Backfill.run(ctx.spark, source, store, 0, WarmBlocks - 1)
      verify(ctx, store)
      views.take(8).foreach { case (l, _) => view(ctx, store, l) }
    } finally source.close()
  }

  def run(ctx: Ctx): Outcome = {
    val node = new Node(Blocks, ctx.cores)
    try {
      var chain: Vector[ChainGen.GBlock] = null
      var exp: ChainGen.Expected = null
      val setupS = Seq.fill(SetupReps)(Stats.timed {
        chain = ChainGen.canonical(ctx.seed, Blocks)
        node.load(chain)
        node.tip.set(Blocks - 1)
        exp = ChainGen.expected(chain)
      }._2)
      val views = lookups(chain, ctx.seed)
      val (_, warmS) = Stats.timed(warmUp(ctx, node, views))

      val plain = new Samples
      val traced = new Samples
      val heap = new HeapPeak
      heap.start()
      val t0 = System.nanoTime()
      val end = t0 + ctx.seconds * 1000000000L
      val plainEnd = if (ctx.trace) t0 + (end - t0) * 2 / 5 else end
      // passes until the window ends; one that would overrun it by more
      // than half a pass is not started, so every run fits the same count
      def passes(s: Samples, until: Long): Unit = {
        val from = System.nanoTime()
        do pass(ctx, node, exp, views, ViewsPerPass, s)
        while (System.nanoTime() + (System.nanoTime() - from) / s.passes / 2 < until)
      }
      passes(plain, plainEnd)
      if (ctx.trace) {
        ctx.tracer.start()
        passes(traced, end)
        ctx.tracer.stop()
      }
      val measuredS = Stats.secondsSince(t0)
      val (heapMb, liveMb) = heap.stop()
      val all = Seq(plain, traced)
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum

      val bf = plain.backfillS.result()
      val vf = plain.verifyS.result()
      val vm = plain.viewMs.result()
      val named = Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
        Metric("heap_used_peak_mb", heapMb, "MB"),
        Metric("heap_live_mb", liveMb, "MB"),
        Metric("backfill_blocks_per_s", Blocks / Stats.median(bf), "blocks/s"),
        Metric("verify_s", Stats.median(vf), "s"),
        Metric("view_ms_p50", Stats.median(vm), "ms"),
        Metric("view_ms_mean", vm.sum / vm.size, "ms"),
        Metric("store_bytes_per_block",
          Stats.median(plain.bytesPerBlock.result()), "bytes"),
        Metric("warmup_s", warmS, "s"), Metric("measured_s", measuredS, "s"),
        Metric("backfill_samples", bf.size, "count"),
        Metric("view_samples", vm.size, "count"))
      val endToEnd = Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("op_ms_mean", vm.sum / vm.size, "ms"),
        Metric("batch_s", Stats.median(bf), "s"),
        Metric("aux_s", Stats.median(vf), "s"),
        Metric("heap_live_mb", liveMb, "MB"))

      val perLayer = if (!ctx.trace) Nil else {
        val t = traced
        val n = t.passes.toDouble
        val nodeRows = t.node.result()
        val bfT = t.backfillS.result()
        val leaves = t.lookupLeaves.result()
        val l = t.layer
        val tops = Seq("backfill", "verify", "view").flatMap(ctx.tracer.summaries)
        PerLayer.fill(Map(
          "etl.rpc_round_trips" -> nodeRows.map(_._1).sum / n,
          "etl.rpc_calls" -> nodeRows.map(_._2).sum / n,
          "etl.wire_bytes" -> nodeRows.map(_._3).sum / n,
          "etl.node_busy_s" -> nodeRows.map(_._4).sum / 1e9 / n,
          "etl.node_busy_share" -> nodeRows.map(_._4).sum / 1e9 / bfT.sum,
          "etl.receipt_calls_per_match" ->
            nodeRows.map(_._5).sum.toDouble / math.max(1L, l.matches),
          "etl.fetch_s" -> l.spanS(ctx.tracer, "etl.fetch", "etl.receipts") / n,
          "chain.decode_s" -> l.spanS(ctx.tracer, "chain.decode") / n,
          "chain.transfers_out" -> l.transfersOut / n,
          "chain.selector_hit_ratio" ->
            l.matches.toDouble / math.max(1L, l.watchedTxs),
          "store.stage_s" -> l.spanS(ctx.tracer, "store.stage") / n,
          "store.commit_s" -> l.spanS(ctx.tracer, "store.commit") / n,
          "store.bytes_written" -> l.bytesWritten / n,
          "store.files_written" -> l.filesWritten / n,
          "store.leaves_live" -> l.leavesLive / n,
          "store.manifest_read_ms" -> Stats.median(l.manifestMs.result()),
          "store.leaves_read_per_lookup" ->
            leaves.map(_._1).sum.toDouble / leaves.size,
          "store.leaves_pruned_ratio" ->
            (1 - leaves.map(_._1).sum.toDouble / leaves.map(_._2).sum),
          "trace.overhead_pct" ->
            (Stats.median(bfT) / Stats.median(bf) - 1) * 100,
          "trace.spans" -> ctx.tracer.spanCount / n),
          Tracer.sparkMetrics(tops, n))
      }
      Outcome(attempted, failed, endToEnd, perLayer, named, Map(
        "loop" -> s"closed, 1 client; passes of backfill + verify + $ViewsPerPass views",
        "generator" -> s"$Blocks blocks, seed ${ctx.seed}; ${ChainGen.params}",
        "samples" -> s"${bf.size} backfills, ${vm.size} views"))
    } finally node.close()
  }
}
