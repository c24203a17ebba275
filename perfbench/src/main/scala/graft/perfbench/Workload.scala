package graft.perfbench

import java.util.SplittableRandom

import graft.model.{SingletEntryM, TabletRowM}
import graft.streaming.StreamedBlock

/** The fixed make-up of one workload. Everything the program receives is
  * generated from these numbers and the run's seed. */
final case class Shape(
    name: String,
    tablets: Int,
    keysPerTablet: Int,
    hotKeys: Int,         // (tablet, key) pairs in the hot set, spread over all tablets
    hotShare: Double,     // share of rows that pick a hot key
    tombShare: Double,    // share of rows that are deletions
    bootBlocks: Int,      // backfilled heights 1..bootBlocks
    bootRowsPerBlock: Int,
    shards: Int,          // backfill shards
    blocksPerBatch: Int,
    rowsPerBlock: Int,
    singlets: Int,        // one singlet entry per block, round-robin over these ids
    indexMinMutations: Long,
    histKinds: Seq[String], // the historical mix, read in turn
    histPerIter: Int,       // historical reads per iteration
    minTimedIters: Int,     // timed iterations every run makes at least
    probes: Int,          // as-of join probes per join
    diffWindow: Int)      // heights covered by one diff

object Shape {
  /** Commit, changefeed and merge heavy: the reference flush shape on a
    * shallow store, with the index trigger scaled so that every timed
    * commit builds one snapshot inside the commit path. */
  val liveHead: Shape = Shape("live_head",
    tablets = 4, keysPerTablet = 2048, hotKeys = 512, hotShare = 0.8, tombShare = 0.06,
    bootBlocks = 20, bootRowsPerBlock = 500, shards = 2,
    blocksPerBatch = 10, rowsPerBlock = 500, singlets = 8,
    indexMinMutations = 300L, histKinds = Seq("row_at"), histPerIter = 3,
    minTimedIters = 2, probes = 256, diffWindow = 20)

  /** Read and snapshot heavy: a deep backfilled store (many versions per
    * key) with a trickle of uniform writes and a heavy historical mix. */
  val historyReads: Shape = Shape("history_reads",
    tablets = 4, keysPerTablet = 256, hotKeys = 0, hotShare = 0.0, tombShare = 0.06,
    bootBlocks = 400, bootRowsPerBlock = 100, shards = 2,
    blocksPerBatch = 2, rowsPerBlock = 100, singlets = 4,
    indexMinMutations = 25000L,
    histKinds = Seq("tablet_at", "row_at", "asof_join", "history", "diff"), histPerIter = 3,
    minTimedIters = 2, probes = 256, diffWindow = 50)

  val all: Seq[Shape] = Seq(liveHead, historyReads)
  def byName(n: String): Option[Shape] = all.find(_.name == n)
}

/** Seeded generator of blocks. One instance per run; blocks are generated
  * in height order and cached until both their `new` and `irreversible`
  * deliveries have been handed out. */
final class Generator(shape: Shape, seed: Long) {
  import Generator._

  private val rng = new SplittableRandom(seed)
  val Collection = 1

  def tabletId(i: Int): String = f"t$i%02d"
  def key(i: Int): String = f"k$i%05d"
  def singletId(i: Int): String = f"s$i%02d"

  // The hot set: distinct (tablet, key) pairs spread over every tablet.
  private val hot: Array[(Int, Int)] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    while (seen.size < shape.hotKeys)
      seen += ((seen.size % shape.tablets, r.nextInt(shape.keysPerTablet)))
    seen.toArray
  }

  private def pickKey(r: SplittableRandom): (Int, Int) =
    if (hot.nonEmpty && r.nextDouble() < shape.hotShare) hot(r.nextInt(hot.length))
    else (r.nextInt(shape.tablets), r.nextInt(shape.keysPerTablet))

  /** A (tablet, key) pair drawn like the writes draw theirs. */
  def readPair(r: SplittableRandom): (String, String) = {
    val (t, k) = pickKey(r)
    (tabletId(t), key(k))
  }

  /** Tablet rows of one block: distinct keys (one mutation per key and
    * height, the store's write invariant). */
  def rowsAt(height: Long, n: Int): Seq[TabletRowM] = {
    val keys = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    while (keys.size < n) keys += pickKey(rng)
    keys.iterator.zipWithIndex.map { case ((t, k), i) =>
      val del = rng.nextDouble() < shape.tombShare
      TabletRowM(Collection, tabletId(t), height, key(k),
        if (del) Array.emptyByteArray else s"v$height.$i".getBytes(Utf8), del)
    }.toSeq
  }

  def singletAt(height: Long): SingletEntryM = {
    val del = rng.nextDouble() < shape.tombShare
    SingletEntryM(Collection, singletId((height % shape.singlets).toInt), height,
      if (del) Array.emptyByteArray else s"s$height".getBytes(Utf8), del)
  }

  /** The backfilled history, heights 1..bootBlocks. */
  def bootstrap(): Seq[TabletRowM] =
    (1L to shape.bootBlocks.toLong).flatMap(h => rowsAt(h, shape.bootRowsPerBlock))

  private val blocks = scala.collection.mutable.Map.empty[Long, (Seq[TabletRowM], SingletEntryM)]
  private def block(h: Long) =
    blocks.getOrElseUpdate(h, (rowsAt(h, shape.rowsPerBlock), singletAt(h)))

  def streamed(h: Long, step: String): StreamedBlock = {
    val (rows, entry) = block(h)
    StreamedBlock(blockId(h), blockId(h - 1), h, step, rows, Seq(entry))
  }

  /** Live batch `k` after a bootstrap ending at `h0`. Batch 0 opens with one
    * irreversible block (a restarted pipeline catching up from the archive);
    * after that every block arrives as `new` and again as `irreversible` in
    * the next batch. Returns (irreversible, new) blocks. */
  def batch(k: Int, h0: Long): (Seq[StreamedBlock], Seq[StreamedBlock]) = {
    val nb = shape.blocksPerBatch
    val newLo = h0 + 2 + k.toLong * nb
    val irr =
      if (k == 0) Seq(h0 + 1)
      else (newLo - nb until newLo)
    val irrBlocks = irr.map(streamed(_, StreamedBlock.StepIrreversible))
    irr.foreach(blocks.remove)
    (irrBlocks, (newLo until newLo + nb).map(streamed(_, StreamedBlock.StepNew)))
  }
}

object Generator {
  val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  def blockId(h: Long): String = s"b$h"
  def str(b: Array[Byte]): String = if (b == null) null else new String(b, Utf8)
}
