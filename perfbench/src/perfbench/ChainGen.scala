package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.chain.{Block, ChainFixture, Receipt, TokenTransfer, Transaction}

/** Seeded synthetic chain with golden token transfers taken from the
  * generator's own intents (as [[graft.chain.ChainFixture]] does), never
  * from the decoder under test.
  *
  * The input properties the ingest path depends on vary along the chain in
  * segments of [[SegmentBlocks]]: the mean transactions per block and the
  * share of transactions sent to the watched CBC-20 token (every pair once
  * per 12 segments, in seeded order), and within those the selector mix — transfer, transferFrom, batchTransfer of several sizes,
  * a near-miss selector and a transfer sent to an unwatched address (the
  * last two must not decode). About 1 in 13 receipts fails. */
object ChainGen {
  val SegmentBlocks = 160
  val TxMeans: Seq[Int] = Seq(1, 2, 4, 6)
  val CbcShares: Seq[Double] = Seq(0.1, 0.3, 0.6)
  val BatchSizes: Seq[Int] = Seq(2, 3, 5, 8)
  private val Combos = TxMeans.size * CbcShares.size
  val Watched: String = ChainFixture.Watched
  val Addresses = 400
  private val addrs = Vector.tabulate(Addresses)(ChainFixture.addr)

  /** One block with its transactions, receipts and golden transfers. */
  final case class GBlock(block: Block, txs: Vector[Transaction],
      receipts: Vector[Receipt], transfers: Vector[TokenTransfer])

  def params: String =
    s"segments of $SegmentBlocks blocks take each (tx/block mean in " +
      s"${TxMeans.mkString("{", ",", "}")}, uniform 0..2*mean; CBC-20 share " +
      s"in ${CbcShares.mkString("{", ",", "}")}) pair once per $Combos " +
      "segments, in seeded order; CBC-20 mix " +
      "transfer 35%, transferFrom 20%, batchTransfer 25% (sizes " +
      s"${BatchSizes.mkString(",")}), near-miss selector 10%, " +
      s"unwatched recipient 10%; $Addresses addresses; 1/13 receipts fail"

  private val sha256 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))

  private def sha(s: String): String = {
    val d = sha256.get().digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    for (i <- d.indices) {
      out(2 * i) = Character.forDigit((d(i) >> 4) & 0xf, 16)
      out(2 * i + 1) = Character.forDigit(d(i) & 0xf, 16)
    }
    new String(out)
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def valWord(v: BigInt): String = String.format("%064x", v.bigInteger)

  /** Block `n` of branch `branch` (0 = canonical) on top of `parent`. A
    * block's content depends only on (seed, branch, n). */
  def block(seed: Long, branch: Int, n: Long, parent: String,
      parentTd: BigInt): GBlock = {
    // every run of Combos segments holds each (tx mean, CBC-20 share) pair
    // once, in a seeded order: seeds reorder the work but do not change
    // how much of it there is
    val segment = n / SegmentBlocks
    val order = new scala.util.Random(mix(seed, segment / Combos))
      .shuffle((0 until Combos).toVector)
    val combo = order((segment % Combos).toInt)
    val txMean = TxMeans(combo / CbcShares.size)
    val cbcShare = CbcShares(combo % CbcShares.size)
    val r = new SplittableRandom(mix(mix(seed, branch), n))
    val tag = s"$seed-$branch-$n"
    val hash = sha(s"block-$tag")
    val ts = 1700000000L + 10L * n + branch
    val nTx = r.nextInt(2 * txMean + 1)
    val txs = Vector.newBuilder[Transaction]
    val receipts = Vector.newBuilder[Receipt]
    val golden = Vector.newBuilder[TokenTransfer]
    def addr() = addrs(r.nextInt(Addresses))
    for (i <- 0 until nTx) {
      val txHash = sha(s"tx-$tag-$i")
      val from = addr()
      val ok = r.nextInt(13) != 0
      val status = if (ok) 1 else 0
      def transfer(f: String, to: String, v: BigInt, idx: Int) =
        golden += TokenTransfer(n, f, to, valWord(v), txHash, Watched,
          idx.toLong, status)
      val (to, input, value) =
        if (r.nextDouble() < cbcShare) {
          val k = r.nextInt(100)
          if (k < 35) {
            val (t, v) = (addr(), BigInt(r.nextLong() >>> 1))
            transfer(from, t, v, 0)
            (Watched, ChainFixture.transferCalldata(t, v), "0")
          } else if (k < 55) {
            val (f, t, v) = (addr(), addr(), BigInt(1 + r.nextInt(1000000)))
            transfer(f, t, v, 0)
            (Watched, ChainFixture.transferFromCalldata(f, t, v), "0")
          } else if (k < 80) {
            val size = BatchSizes(r.nextInt(BatchSizes.size))
            val tos = Seq.fill(size)(addr())
            val vs = Seq.fill(size)(BigInt(1 + r.nextInt(1000000)))
            tos.zip(vs).zipWithIndex.foreach { case ((t, v), j) =>
              transfer(from, t, v, j) }
            (Watched, ChainFixture.batchTransferCalldata(tos, vs), "0")
          } else if (k < 90)
            (Watched, "4b40e902" + "0" * 20 + addr() + valWord(BigInt(9)), "0")
          else
            (addr(), ChainFixture.transferCalldata(addr(), BigInt(7)), "0")
        } else if (r.nextInt(10) < 7)
          (addr(), "", (BigInt(r.nextInt(1000000)) * BigInt(10).pow(12)).toString)
        else ("", "60806040" + sha(s"code-$tag-$i"), "0")
      txs += Transaction(txHash, i.toString, hash, n, i.toLong, from, to,
        value, "21000", "1000000000", input)
      receipts += Receipt(txHash, ok)
    }
    val difficulty = BigInt(2).pow(70) + n + branch
    GBlock(
      Block(n, hash, parent, "%016x".format(n), sha(s"uncles-$tag"), "00" * 256,
        sha(s"txroot-$tag"), sha(s"state-$tag"), sha(s"rcpt-$tag"),
        ChainFixture.addr(n.toInt % 7), difficulty.toString,
        (parentTd + difficulty).toString, "", 10000000L, 21000L * nTx, ts,
        nTx.toLong, 0),
      txs.result(), receipts.result(), golden.result())
  }

  /** `count` blocks of `branch` starting at height `from`, linked to
    * `parent` (hash, total difficulty). */
  def extend(seed: Long, branch: Int, from: Long, count: Int,
      parent: (String, BigInt)): Vector[GBlock] = {
    var p = parent
    Vector.tabulate(count) { k =>
      val g = block(seed, branch, from + k, p._1, p._2)
      p = (g.block.hash, BigInt(g.block.total_difficulty))
      g
    }
  }

  def canonical(seed: Long, count: Int): Vector[GBlock] =
    extend(seed, 0, 0L, count, (ChainFixture.ZeroHash, BigInt(0)))

  // ---- expected store contents (digests of the generated rows) ----

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  def blockRow(b: Block): Seq[Any] = b.productIterator.toSeq
  def txRow(t: Transaction): Seq[Any] = t.productIterator.toSeq
  /** Stored transfer row: the golden fields plus `created_at` (the block
    * timestamp), in the table's column order. */
  def transferRow(t: TokenTransfer, ts: Long): Seq[Any] =
    Seq(t.block_number, t.from_addr, t.to_addr, t.value, t.tx_hash,
      t.address, t.transfer_index,
      tsFmt.format(java.time.Instant.ofEpochSecond(ts)), t.status)

  final case class Expected(blocks: Digest.D, txs: Digest.D,
      transfers: Digest.D)

  def expected(chain: Seq[GBlock]): Expected = Expected(
    Digest.ofRows(chain.map(g => blockRow(g.block))),
    Digest.ofRows(chain.flatMap(_.txs.map(txRow))),
    Digest.ofRows(chain.flatMap(g =>
      g.transfers.map(transferRow(_, g.block.timestamp)))))
}
