package graft

import java.nio.file.{Files, Paths}

import graft.store.{GraftStore, IndexStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-store lifecycle beyond the single-writer happy path: commit
  * exclusion across INSTANCES (the multi-writer regime — streaming curate
  * plus an index append over one root), snapshot time travel, and vacuum
  * (physical reclamation of dropped/orphaned leaves — the manifest itself
  * never deletes files). */
class StoreSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"payload-$i")).toDF("k", "v")
  }

  private def commitKeyed(store: GraftStore, table: String,
      df: DataFrame): Unit =
    store.commit(store.stageKeyed(table, df, pmod(col("k"), lit(4L)),
      Seq(col("k"))))

  test("concurrent commits from separate instances all survive") {
    val root = tempDir("graft-store-conc")
    // each thread uses its OWN GraftStore instance — instance-level
    // synchronization alone would let publish()'s read-modify-write of
    // _current interleave and erase earlier commits
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        commitKeyed(new GraftStore(root), "t", rows(i.toLong)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val live = new GraftStore(root).read(spark, "t")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(live == (0L until 8L), s"lost commits: $live")
  }

  test("vacuum looping against live commits loses nothing: every commit " +
      "survives and _current always resolves") {
    val root = tempDir("graft-store-race")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(-1L))
    // a retention daemon on the same root as a live writer: vacuum takes
    // the same file commit lock as commit (the round's ADVICE fix), so
    // no interleave may compute a reference set that misses a commit
    // publishing "between" — this hammers that window for real
    @volatile var stop = false
    @volatile var vacuumError: Option[Throwable] = None
    val vacuumer = new Thread(() =>
      try {
        while (!stop) new GraftStore(root).vacuum(
          keepSnapshots = 1, graceMs = 60000L)
      } catch { case t: Throwable => vacuumError = Some(t) })
    vacuumer.start()
    try (0L until 10L).foreach(i => commitKeyed(store, "t", rows(i)))
    finally { stop = true; vacuumer.join() }
    assert(vacuumError.isEmpty, s"vacuum crashed mid-race: $vacuumError")
    val reopened = new GraftStore(root)
    val live = reopened.read(spark, "t")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(live == (-1L +: (0L until 10L)), s"lost commits: $live")
    // the pointer target survived every sweep and is the newest snapshot
    val current = reopened.currentSnapshot().get
    assert(Files.exists(Paths.get(root, current)))
    assert(reopened.snapshots().last == current)
  }

  test("contending full-table rewrites: one wins, the loser fails stale " +
      "and converges on a fresh-snapshot retry") {
    val root = tempDir("graft-store-rewrite")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    // both writers plan a compaction from the SAME snapshot: each stages
    // a replacement and drops the leaves it read. Whichever commits
    // second must fail loudly (its drops are gone) — silently winning
    // would resurrect the first rewrite's dropped rows.
    val baseline = store.leavesOf("t")
    val stagedA = store.stageKeyed("t", rows(10L),
      pmod(col("k"), lit(4L)), Seq(col("k")))
    val stagedB = store.stageKeyed("t", rows(20L),
      pmod(col("k"), lit(4L)), Seq(col("k")))
    store.commit(stagedA, drops = baseline)
    intercept[GraftStore.StaleSnapshotException] {
      store.commit(stagedB, drops = baseline)
    }
    // the documented recovery: recompute drops from the CURRENT snapshot
    // and retry — B's rewrite then replaces A's cleanly
    store.commit(stagedB, drops = store.leavesOf("t"))
    val live = store.read(spark, "t")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(live == Set(20L), s"rewrite race left wrong state: $live")
  }

  test("retryOnStale reruns a stale attempt and forgets the stats of " +
      "the leaves that attempt staged") {
    val root = tempDir("graft-store-retry")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    val baseline = store.leavesOf("t")
    // a concurrent rewrite retires the leaves the first attempt drops
    store.commit(store.stageKeyed("t", rows(3L), pmod(col("k"), lit(4L)),
      Seq(col("k"))), drops = baseline)
    var aborted = Seq.empty[store.Leaf]
    var attempts = 0
    store.retryOnStale(maxAttempts = 2) {
      attempts += 1
      if (attempts == 1) {
        aborted = store.stageKeyed("t", rows(10L), pmod(col("k"), lit(4L)),
          Seq(col("k")))
        store.commit(aborted, drops = baseline)
      } else // adopting the aborted leaves shows their stats were dropped
        store.commit(aborted, drops = store.leavesOf("t"))
    }
    assert(attempts == 2)
    assert(store.read(spark, "t").select("k").collect()
      .map(_.getLong(0)).toSeq == Seq(10L))
    val stats = store.currentStats()
    assert(aborted.nonEmpty && aborted.forall(l => !stats.contains(l.dir)))
  }

  test("time travel: a historic snapshot replays its exact version") {
    val root = tempDir("graft-store-tt")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    val v1 = store.snapshots().last
    // v2 rewrites the table (drop everything, add the new rows) — the
    // compaction/rebuild shape
    store.commit(
      store.stageKeyed("t", rows(10L), pmod(col("k"), lit(4L)),
        Seq(col("k"))),
      drops = store.leavesOf("t"))
    val now = store.read(spark, "t")
      .select("k").collect().map(_.getLong(0)).toSet
    val then_ = store.readAt(spark, "t", v1)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(now == Set(10L))
    assert(then_ == Set(1L, 2L))
  }

  /** The schema Spark infers for `table`'s live leaves — the read
    * [[GraftStore]] made before it recorded schemas. */
  private def inferred(store: GraftStore, table: String) =
    spark.read.option("recursiveFileLookup", "true")
      .parquet(store.leavesOf(table).map(l => s"${store.root}/${l.dir}"): _*)
      .schema

  /** Every live leaf of `table` carries one recorded schema, equal to the
    * inferred one, and the store's read returns it. */
  private def assertSchemaRecorded(store: GraftStore, table: String): Unit = {
    val stats = store.currentStats()
    val recorded = store.leavesOf(table).map(l => stats(l.dir).schemaJson)
    assert(recorded.nonEmpty && recorded.distinct.size == 1 &&
      recorded.head.isDefined, s"$table: recorded schemas $recorded")
    assert(recorded.head.get == inferred(store, table).json,
      s"$table: recorded ${recorded.head.get} vs inferred " +
        inferred(store, table).json)
    assert(store.read(spark, table).schema == inferred(store, table))
  }

  /** Spark jobs a committed point lookup at `h` runs: 1 with a recorded
    * schema, 2 when the read first infers it. */
  private def lookupJobs(store: GraftStore, h: Long): Int =
    SparkJobs.count(spark) {
      assert(store.readHeightRange(spark, "blocks", h, h)
        .filter(col("number") === h).collect().length == 1)
    }

  // also covers the schema record: recorded schemas skip inference;
  // legacy manifests, mixed schemas and foreign-staged leaves infer
  test("manifest footer stats prune height reads below bucket " +
      "granularity; a stats-free legacy manifest falls back to keeping " +
      "every leaf") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft-store-stats")
    val store = new GraftStore(root)
    def blocksDf(lo: Long, hi: Long) =
      (lo to hi).map(n => (n, s"payload-$n")).toDF("number", "payload")
    // three tail-shaped commits into the SAME height bucket (bucketSize
    // 10000) with disjoint ranges — the live-tip regime where every
    // commit adds one more leaf to bucket 0
    Seq((0L, 9L), (100L, 109L), (200L, 209L)).foreach { case (lo, hi) =>
      store.commit(store.stage("blocks", blocksDf(lo, hi)))
    }
    val all = store.leavesOf("blocks")
    assert(all.size == 3 && all.forall(_.bucket == 0L))
    // every leaf carries footer stats in the manifest
    val stats = store.currentStats()
    assert(all.forall(l => stats.contains(l.dir)),
      s"stats missing for ${all.filterNot(l => stats.contains(l.dir))}")
    assert(all.map(l => stats(l.dir).rows).sum == 30L)
    assert(stats.values.forall(s => s.minH.isDefined && s.maxH.isDefined))
    // a point lookup touches ONE leaf of the three in the bucket, and
    // lists fewer files than the unpruned read
    val hit = store.leavesForHeights("blocks", 105L, 105L)
    assert(hit.size == 1, s"stats did not prune: $hit")
    assert(store.readHeightRange(spark, "blocks", 105L, 105L)
      .filter(col("number") === 105L).count() == 1)
    assert(store.readHeightRange(spark, "blocks", 105L, 105L)
      .inputFiles.length < store.read(spark, "blocks").inputFiles.length)
    // a range spanning two leaves keeps exactly those
    assert(store.leavesForHeights("blocks", 5L, 102L).size == 2)
    // stats and schemas ride through a commit that doesn't touch the
    // table
    commitKeyed(store, "other", rows(1L))
    assert(store.leavesForHeights("blocks", 105L, 105L).size == 1)
    // every leaf records the schema inference would return, so a
    // committed point lookup is one Spark job: the query's own
    assertSchemaRecorded(store, "blocks")
    assert(lookupJobs(store, 105L) == 1)
    // historic snapshots, leavesAt and vacuum parse the schema lines;
    // readAt takes the schema from its own snapshot
    val v1 = store.currentSnapshot().get
    assert(store.leavesAt(v1).toSet == store.currentLeaves().toSet)
    assert(store.readAt(spark, "blocks", v1).schema ==
      inferred(store, "blocks"))
    assert(store.readAt(spark, "blocks", v1).count() == 30L)
    commitKeyed(store, "other", rows(2L))
    assert(store.vacuum(keepSnapshots = 2, graceMs = 0L) == 0L)
    assert(store.readAt(spark, "blocks", v1).count() == 30L)

    // leaves staged by ANOTHER instance carry no stats or schema in the
    // committing instance: kept by every height read and inferred
    val foreign = new GraftStore(root).stage("blocks", blocksDf(300L, 309L))
      .map(l => store.Leaf(l.table, l.bucket, l.dir))
    store.commit(foreign)
    assert(foreign.forall(l => !store.currentStats().contains(l.dir)))
    assert(store.leavesForHeights("blocks", 105L, 105L).size == 2)
    assert(store.read(spark, "blocks").schema == inferred(store, "blocks"))
    assert(store.read(spark, "blocks").count() == 40L)
    assert(lookupJobs(store, 105L) == 2)
    assert(lookupJobs(store, 305L) == 2)
    store.commit(Nil, drops = foreign)
    assert(lookupJobs(store, 105L) == 1)

    // leaves whose recorded schemas differ read as before: Spark infers
    val wide = store.stage("blocks", blocksDf(400L, 409L)
      .withColumn("extra", lit(7)))
    store.commit(wide)
    val schemas = store.currentStats().values.flatMap(_.schemaJson).toSet
    assert(schemas.size == 3, s"expected blocks, wide and other: $schemas")
    assert(store.read(spark, "blocks").schema == inferred(store, "blocks"))
    assert(store.read(spark, "blocks").count() == 40L)
    store.commit(Nil, drops = wide)
    assertSchemaRecorded(store, "blocks")

    // a manifest written before schemas were recorded (stats lines of
    // five fields, no dictionary): stats still prune, schemas infer
    val snap = Paths.get(root).resolve(store.currentSnapshot().get)
    val lines = Files.readAllLines(snap).asScala.toSeq
    assert(lines.exists(_.startsWith("#schema\t")))
    Files.write(snap, lines.filterNot(_.startsWith("#schema\t")).map(l =>
      if (l.startsWith("#stats\t")) l.split("\t", -1).take(5).mkString("\t")
      else l).asJava)
    val noSchema = new GraftStore(root)
    assert(noSchema.currentStats().values.forall(_.schemaJson.isEmpty))
    assert(noSchema.leavesForHeights("blocks", 105L, 105L).size == 1)
    assert(noSchema.read(spark, "blocks").schema == inferred(store, "blocks"))
    assert(lookupJobs(noSchema, 105L) == 2)
    // legacy manifest without #stats lines (a pre-stats store): nothing
    // is pruned away and reads stay correct
    Files.write(snap, Files.readAllLines(snap).asScala
      .filterNot(_.startsWith("#stats")).asJava)
    val legacy = new GraftStore(root)
    assert(legacy.currentStats().isEmpty)
    assert(legacy.leavesForHeights("blocks", 105L, 105L).size == 3)
    assert(legacy.readHeightRange(spark, "blocks", 105L, 105L)
      .filter(col("number") === 105L).count() == 1)
    assert(lookupJobs(legacy, 105L) == 2)
    // the next commit by a current writer keeps the legacy leaves
    // stats-free and records schemas only for what it staged
    legacy.commit(legacy.stage("blocks", blocksDf(500L, 509L)))
    assert(legacy.currentStats().size == 1)
    assert(legacy.read(spark, "blocks").count() == 40L)

    // the chain tables as ingest writes them (transfers in address
    // sub-directories, and z-ordered) and a keyed index table
    val fx = graft.chain.ChainFixture.build(60)
    Seq(false, true).foreach { z =>
      val chain = new GraftStore(tempDir(s"graft-store-schema-z$z"),
        bucketSize = 20L, zOrderTransfers = z)
      graft.etl.Backfill.run(spark, new graft.etl.FixtureSource(fx), chain,
        0, 59)
      chain.Tables.foreach(assertSchemaRecorded(chain, _))
      assert(lookupJobs(chain, 42L) == 1)
    }
    val idx = new GraftStore(tempDir("graft-store-schema-idx"))
    IndexStore.build(idx, "band", (0L until 20L)
      .map(i => (i, s"doc $i about the quick brown fox jumps $i"))
      .toDF("doc_id", "text"))
    assertSchemaRecorded(idx, IndexStore.tableOf("band"))
  }

  test("incremental read between snapshots: appends surface whole, " +
      "rewrite survivors are subtracted bucket-locally, deletes are " +
      "manifest-only") {
    val root = tempDir("graft-store-cdc")
    val store = new GraftStore(root)
    val keys = (df: DataFrame) =>
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    // v1: eight rows across the four k%4 buckets
    commitKeyed(store, "t", rows(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val v1 = store.snapshots().last
    // v2: a plain append
    commitKeyed(store, "t", rows(10L, 11L))
    val v2 = store.snapshots().last
    // v3: bucket-0 rewrite — the reorg/compaction shape: drop the bucket's
    // leaves, re-stage survivors 0 and 4 alongside new row 20, delete 8's
    // worth of nothing (no other bucket is touched)
    store.commit(
      store.stageKeyed("t", rows(0L, 4L, 20L), pmod(col("k"), lit(4L)),
        Seq(col("k"))),
      drops = store.leavesOf("t").filter(_.bucket == 0L))
    val v3 = store.snapshots().last
    // append increment: exactly the appended rows
    assert(keys(store.readNewRows(spark, "t", v1, v2, Seq("k")))
      == Seq(10L, 11L))
    // rewrite increment: survivors 0 and 4 were re-staged into a fresh
    // leaf dir (physically "added"), but only 20 is logically new
    val phys = store.leavesAddedBetween("t", v2, v3)
    assert(phys.map(_.bucket).toSet == Set(0L),
      s"rewrite touched unexpected buckets: $phys")
    assert(keys(store.readLeaves(spark, "t", phys)).toSet
      == Set(0L, 4L, 20L))
    assert(keys(store.readNewRows(spark, "t", v2, v3, Seq("k"))) == Seq(20L))
    // spanning increment composes: appends + the rewrite's one new row
    assert(keys(store.readNewRows(spark, "t", v1, v3, Seq("k")))
      == Seq(10L, 11L, 20L))
    // same-snapshot increment is empty but keeps the schema
    val none = store.readNewRows(spark, "t", v3, v3, Seq("k"))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
    // the manifest diff carries the removed side (reorg/retention
    // consumers): the rewrite dropped bucket 0's original leaf
    val (added, removed) = store.leavesDiff(v2, v3)
    assert(added.forall(_.table == "t") && removed.forall(_.table == "t"))
    assert(removed.map(_.bucket).toSet == Set(0L))
  }

  test("readNewRows pinned to two snapshots is stable while writers " +
      "append and rewrite concurrently") {
    val root = tempDir("graft-store-cdc-race")
    val store = new GraftStore(root)
    val keys = (df: DataFrame) =>
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    commitKeyed(store, "t", rows(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val v1 = store.snapshots().last
    commitKeyed(store, "t", rows(10L, 11L))
    val v2 = store.snapshots().last
    // an incremental consumer's increment is pinned to two committed
    // versions; live writers churning the CURRENT snapshot (appends and
    // full-bucket compaction rewrites that re-stage the pinned leaves'
    // rows into fresh dirs) must never change what the pinned increment
    // returns — snapshot manifests are immutable and vacuum isn't running
    @volatile var stop = false
    @volatile var appended = 0
    @volatile var writerError: Option[Throwable] = None
    val appender = new Thread(() => {
      try {
        val w = new GraftStore(root)
        var i = 0
        while (!stop) {
          commitKeyed(w, "t", rows(100L + i))
          appended += 1
          i += 1
        }
      } catch { case t: Throwable => writerError = Some(t) }
    })
    val rewriter = new Thread(() => {
      try {
        val w = new GraftStore(root)
        while (!stop) {
          try {
            val drops = w.leavesOf("t").filter(_.bucket == 0L)
            if (drops.nonEmpty) {
              val survivors = w.readLeaves(spark, "t", drops)
              w.commit(
                w.stageKeyed("t", survivors, pmod(col("k"), lit(4L)),
                  Seq(col("k"))),
                drops)
            }
          } catch { // racing the appender: recompute and go again
            case _: GraftStore.StaleSnapshotException => ()
          }
        }
      } catch { case t: Throwable => writerError = Some(t) }
    })
    appender.start(); rewriter.start()
    try {
      (1 to 8).foreach { i =>
        assert(keys(store.readNewRows(spark, "t", v1, v2, Seq("k")))
          == Seq(10L, 11L), s"pinned increment drifted on iteration $i")
      }
    } finally { stop = true; appender.join(); rewriter.join() }
    assert(writerError.isEmpty, s"writer crashed mid-race: $writerError")
    // nothing the writers did was lost either: base + append rows all live
    val live = keys(new GraftStore(root).read(spark, "t"))
    val expected =
      ((0L to 7L) ++ Seq(10L, 11L) ++ (0 until appended).map(100L + _))
        .sorted
    assert(live == expected, s"lost writes: $live vs $expected")
  }

  test("height-pruned reads racing a rollback/re-ingest loop always see " +
      "one committed state, never a mix") {
    val root = tempDir("graft-store-rollback-race")
    val store = new GraftStore(root)
    val fx = graft.chain.ChainFixture.build(200)
    graft.etl.Backfill.run(spark, new graft.etl.FixtureSource(fx), store,
      0, 199)
    val full = (120L to 180L).toSeq
    val rolled = (120L to 149L).toSeq
    @volatile var stop = false
    @volatile var loopError: Option[Throwable] = None
    val roller = new Thread(() => {
      try {
        val w = new GraftStore(root)
        val reingest = fx.blocksDF(spark).filter(col("number") >= 150)
        (1 to 3).foreach { _ =>
          graft.etl.Tail.rollbackFrom(spark, w, 150L)
          w.commit(w.stage("blocks", reingest),
            meta = Map("tip" -> "199"))
        }
      } catch { case t: Throwable => loopError = Some(t) }
      finally stop = true
    })
    roller.start()
    try {
      while (!stop) {
        // each read resolves ONE leaf list; with footer-stats pruning it
        // must return a committed state — all of 120..180 or the
        // rolled-back 120..149 — never a partial mix of the two
        val got = store.readHeightRange(spark, "blocks", 120L, 180L)
          .filter(col("number").between(120L, 180L))
          .select("number").collect().map(_.getLong(0)).sorted.toSeq
        assert(got == full || got == rolled,
          s"mixed-snapshot read: ${got.size} rows [${got.headOption}" +
            s"..${got.lastOption}]")
      }
    } finally roller.join()
    assert(loopError.isEmpty, s"rollback loop crashed: $loopError")
    // loop ends re-ingested: the store converges to the full chain
    assert(store.readHeightRange(spark, "blocks", 0L, 199L)
      .select("number").distinct().count() == 200L)
  }

  test("snapshot sequence is monotonic across store re-instantiation " +
      "(restart/reboot survival)") {
    val root = tempDir("graft-store-seq")
    commitKeyed(new GraftStore(root), "t", rows(1L))
    commitKeyed(new GraftStore(root), "t", rows(2L)) // fresh instance =
    commitKeyed(new GraftStore(root), "t", rows(3L)) // fresh process state
    val store = new GraftStore(root)
    val seqs = store.snapshots().map(
      _.stripPrefix("snapshot-").takeWhile(_.isDigit).toLong)
    assert(seqs == seqs.sorted && seqs.distinct == seqs,
      s"non-monotonic snapshot sequence: $seqs")
    assert(store.currentSnapshot().contains(store.snapshots().last))
  }

  test("vacuum never reclaims the snapshot _current points to, even when " +
      "a higher-named stray snapshot exists") {
    val root = tempDir("graft-store-cur")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    val current = store.currentSnapshot().get
    // simulate a crashed commit: a snapshot file with a HIGHER sequence
    // that _current never adopted — name order calls it "newest"
    val stray = "snapshot-00000000000000009999-deadbeef.txt"
    Files.write(Paths.get(root, stray),
      Files.readAllBytes(Paths.get(root, current)))
    assert(store.snapshots().last == stray) // adversarial name order...
    store.vacuum(keepSnapshots = 1, graceMs = 0L)
    // ...yet the live manifest survives and reads still work
    assert(Files.exists(Paths.get(root, current)),
      "_current's snapshot was vacuumed")
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("a commit whose staged leaves were vacuumed away fails loudly " +
      "instead of publishing dangling references") {
    val root = tempDir("graft-store-dangle")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L))
    // the unsafe interleave: stage, then a zero-grace vacuum sweeps the
    // orphan before the commit lands
    val staged = store.stageKeyed("t", rows(50L),
      pmod(col("k"), lit(4L)), Seq(col("k")))
    // age the staged leaves past any same-millisecond mtime/cutoff tie:
    // vacuum keeps dirs whose mtime >= cutoff, and a fast FS can land
    // the write and the vacuum in the same ms
    staged.foreach { l =>
      Files.setLastModifiedTime(Paths.get(root, l.dir),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L))
    }
    store.vacuum(keepSnapshots = 1, graceMs = 0L)
    val err = intercept[GraftStore.StaleSnapshotException] {
      store.commit(staged)
    }
    assert(err.getMessage.contains("grace"))
    // the manifest never adopted the dangling refs: reads still work
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("an overflow-digit stray neither poisons the sequence counter nor " +
      "survives vacuum") {
    val root = tempDir("graft-store-ovf")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L))
    // 23 digits: beyond Long — publish can never mint this. It must sort
    // FIRST (ancient garbage), not poison nextSeq into Long.MaxValue
    // saturation, and must be reclaimable by vacuum.
    val stray = "snapshot-99999999999999999999999-feedface.txt"
    Files.write(Paths.get(root, stray), "t\t0\tbogus".getBytes)
    assert(store.snapshots().head == stray)
    commitKeyed(store, "t", rows(2L)) // sequence continues normally
    val seqs = store.snapshots().filterNot(_ == stray).map(
      _.stripPrefix("snapshot-").takeWhile(_.isDigit).toLong)
    assert(seqs == seqs.sorted && seqs.last < Long.MaxValue && seqs.last < 100,
      s"sequence poisoned: $seqs")
    store.vacuum(keepSnapshots = 1, graceMs = 0L)
    assert(!Files.exists(Paths.get(root, stray)), "overflow stray retained")
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("legacy negative-nanos snapshot names neither crash listing nor " +
      "outrank real snapshots") {
    val root = tempDir("graft-store-neg")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(7L))
    Files.write(Paths.get(root, "snapshot--12345-cafe.txt"),
      "t\t0\tbogus".getBytes)
    assert(store.snapshots().head == "snapshot--12345-cafe.txt")
    assert(store.currentSnapshot().contains(store.snapshots().last))
    commitKeyed(store, "t", rows(8L)) // nextSeq must not choke either
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSet == Set(7L, 8L))
  }

  test("vacuum reclaims dropped leaves and old snapshots; current reads " +
      "survive; grace shields young orphans") {
    val root = tempDir("graft-store-vac")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    val v1 = store.snapshots().last
    store.commit(
      store.stageKeyed("t", rows(10L), pmod(col("k"), lit(4L)),
        Seq(col("k"))),
      drops = store.leavesOf("t"))
    // stage WITHOUT committing: an in-flight writer's orphan
    val orphan = store.stageKeyed("t", rows(99L), pmod(col("k"), lit(4L)),
      Seq(col("k")))
    assert(orphan.nonEmpty)
    // a generous grace keeps both the orphan and the dropped v1 leaves
    // (all younger than the window)
    assert(store.vacuum(keepSnapshots = 2, graceMs = 3600000L) == 0L)
    // zero grace, keep only current: v1's leaves and the orphan go
    val deleted = store.vacuum(keepSnapshots = 1, graceMs = 0L)
    assert(deleted >= orphan.size)
    assert(store.snapshots() == Seq(store.snapshots().last))
    intercept[IllegalArgumentException](store.readAt(spark, "t", v1))
    val live = store.read(spark, "t")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(live.toSeq == Seq((10L, "payload-10")))
    // every surviving leaf dir on disk is referenced by the one snapshot
    val referenced = store.currentLeaves().map(_.dir).toSet
    val onDisk = Files.walk(Paths.get(root)).iterator()
    while (onDisk.hasNext) {
      val p = onDisk.next()
      val rel = Paths.get(root).relativize(p).toString
      if (rel.contains("__bucket=") && Files.isDirectory(p))
        assert(referenced.contains(rel), s"unreferenced survivor: $rel")
    }
  }
}
