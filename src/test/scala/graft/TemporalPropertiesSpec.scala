package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, encode}
import graft.read.TemporalReads
import graft.snapshot.Snapshots
import scala.util.Random

/** Property-style checks over SEEDED random mutation streams (SURVEY.md §5):
  * the Spark read path must agree with a direct Scala reference model for
  * (1) as-of reads at every boundary height, (2) speculative-overlay
  * precedence under random block splits, (3) snapshot ∪ tail equivalence at
  * random snapshot heights. Deterministic seeds keep failures replayable.
  */
class TemporalPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private case class Mut(tablet: String, height: Long, pk: String, v: String, del: Boolean)

  private def randomStream(rnd: Random, n: Int): Vector[Mut] =
    Vector.tabulate(n) { i =>
      Mut(
        tablet = s"t${rnd.nextInt(3)}",
        height = i.toLong, // gap-free ascending heights
        pk = s"pk${rnd.nextInt(6)}",
        v = s"v$i",
        del = rnd.nextInt(5) == 0)
    }

  private def toDF(ms: Seq[Mut]): DataFrame =
    ms.map(m => (m.tablet, m.height, m.pk, m.v, m.del))
      .toDF("tablet_id", "height", "primary_key", "vv", "is_deletion")
      .withColumn("value", encode(col("vv"), "utf-8")).drop("vv")

  /** Reference model: winner per pk = argmax (height, sourceRank); tombstone
    * erases; ascending pk order. `layers` = durable (rank 0) then each
    * speculative block in application order. */
  private def model(layers: Seq[Seq[Mut]], tablet: String, h: Long): Seq[(String, Long, String)] =
    layers.zipWithIndex
      .flatMap { case (ms, rank) => ms.map(m => (m, rank)) }
      .filter { case (m, _) => m.tablet == tablet && m.height <= h }
      .groupBy(_._1.pk)
      .map { case (_, cands) => cands.maxBy { case (m, r) => (m.height, r) } }
      .collect { case (m, _) if !m.del => (m.pk, m.height, m.v) }
      .toSeq.sortBy(_._1)

  private def sparkRead(df: DataFrame, tablet: String, h: Long,
      spec: Seq[DataFrame] = Nil): Seq[(String, Long, String)] =
    TemporalReads.readTabletAt(df, tablet, h, spec).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8")))

  test("as-of reads agree with the reference model at every boundary height") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val ms = randomStream(rnd, 40)
      val df = toDF(ms)
      // Boundaries: 0, each mutating height ±0, past-the-end.
      for (h <- Seq(0L, 7L, 20L, 39L, 100L)) {
        assert(sparkRead(df, "t1", h) === model(Seq(ms), "t1", h), s"seed=$seed h=$h")
      }
    }
  }

  test("speculative overlay precedence agrees with ordered application") {
    for (seed <- 10 to 14) {
      val rnd = new Random(seed)
      val ms = randomStream(rnd, 40)
      // Random split: durable prefix + two speculative blocks (in order).
      val cut1 = 20 + rnd.nextInt(10)
      val cut2 = cut1 + rnd.nextInt(40 - cut1)
      val (durable, rest) = ms.splitAt(cut1)
      val (spec1, spec2) = rest.splitAt(cut2 - cut1)
      // Overlay heights may collide with durable ones: re-stamp the
      // speculative blocks at the durable head height to force rank
      // tie-breaks (the hard case — SURVEY §7.4 risk 1). Within one block
      // a pk must appear once (the reference's batch map semantics dedupe
      // same-key writes, store/kv/store.go:452–455) — keep the last.
      val head = durable.map(_.height).max
      def restamp(b: Seq[Mut]) = b.map(_.copy(height = head))
        .groupBy(_.pk).map(_._2.last).toSeq.sortBy(_.v)
      val s1 = restamp(spec1)
      val s2 = restamp(spec2)
      val out = sparkRead(toDF(durable), "t0", head, Seq(toDF(s1), toDF(s2)))
      assert(out === model(Seq(durable, s1, s2), "t0", head), s"seed=$seed")
    }
  }

  test("store round-trip property: ingest → corrupted snapshots → reindex → " +
    "snapshot-aware reads (incl. ignore ranges) equal the reference model") {
    import graft.model.{BlockRef, TabletRowM, WriteRequest}
    implicit val s = spark
    for (seed <- 30 to 31) {
      val rnd = new Random(seed)
      val ms = randomStream(rnd, 30)
      val store = new graft.store.StateStore(tmpDir(s"prop$seed"))
      ms.grouped(10).foreach { batch =>
        store.writeBatch(batch.map(m => WriteRequest(
          m.height, BlockRef(s"b${m.height}", m.height),
          Seq(TabletRowM(1, m.tablet, m.height, m.pk, m.v.getBytes("UTF-8"), m.del)),
          Nil)))
      }
      // Index entries whose CONTENT is corrupt from day one (junk key at a
      // height no mutation has): reads through them would silently lose
      // the pre-snapshot state — the scenario ReindexTablets repairs.
      val snapHeights = Seq(9L, 19L, 29L)
      snapHeights.foreach { h =>
        store.writeTabletSnapshot(
          Seq(("junk", 999L)).toDF("primary_key", "height"), "t1", h, 0L, 1)
      }
      store.reindexTablets()
      for (h <- Seq(0L, 9L, 15L, 29L)) {
        val expected = model(Seq(ms), "t1", h)
        def viaStore(ignore: Option[(Long, Long)]) =
          store.readTabletAt("t1", h, Nil, ignore).collect().toSeq
            .map(r => (r.getString(0), r.getLong(1),
              new String(r.getAs[Array[Byte]](2), "UTF-8")))
        assert(viaStore(None) === expected, s"seed=$seed h=$h")
        // An ignore window over the middle snapshot must only widen the
        // tail scan, never change the result.
        assert(viaStore(Some((5L, 25L))) === expected, s"seed=$seed h=$h ignored")
      }
    }
  }

  test("snapshot ∪ tail reads equal direct reads for random streams and heights") {
    for (seed <- 20 to 23) {
      val rnd = new Random(seed)
      val ms = randomStream(rnd, 50)
      val df = toDF(ms)
      for (_ <- 1 to 3) {
        val snapH = rnd.nextInt(50).toLong
        val atH = snapH + rnd.nextInt(50 - snapH.toInt + 1).toLong
        val snap = Snapshots.buildTabletIndex(df, "t2", snapH)
        val viaSnap = Snapshots
          .readTabletAtWithSnapshot(df, snap, snapH, "t2", atH)
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
        val direct = sparkRead(df, "t2", atH).map(t => (t._1, t._2))
        assert(viaSnap === direct, s"seed=$seed snapH=$snapH atH=$atH")
      }
    }
  }

  test("snapshot-pruned as-of joins equal full-history as-of joins for " +
    "random streams, random snapshot heights, and random probe sets") {
    for (seed <- 30 to 33) {
      val rnd = new Random(seed)
      val ms = randomStream(rnd, 50)
      val df = toDF(ms)
      // Probes mix: known and unknown keys, all three tablets, heights on
      // both sides of any snapshot (incl. 0 and past-the-end).
      val probes = Vector.tabulate(24) { i =>
        (i.toLong, s"t${rnd.nextInt(3)}",
          if (rnd.nextInt(6) == 0) "pk-none" else s"pk${rnd.nextInt(6)}",
          rnd.nextInt(60).toLong)
      }.toDF("probe_id", "tablet_id", "primary_key", "at_height")
      def render(dfr: DataFrame): Seq[(Long, Option[(Long, String)])] =
        dfr.collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(4)) None
           else Some((r.getLong(4),
             new String(r.getAs[Array[Byte]](5), "UTF-8"))))).toSeq
      val direct = render(TemporalReads.asOfJoin(df, probes))
      for (_ <- 1 to 3) {
        val snapH = rnd.nextInt(55).toLong
        val snap = Snapshots.buildTabletIndex(df, "t1", snapH)
        val pruned = render(
          Snapshots.asOfJoinWithSnapshot(df, probes, snap, snapH, "t1"))
        assert(pruned === direct, s"seed=$seed snapH=$snapH")
        val bounded = render(Snapshots.asOfJoinWithSnapshot(
          df, probes, snap, snapH, "t1", Snapshots.hydrationBoundOf(snap)))
        assert(bounded === direct, s"seed=$seed snapH=$snapH bounded")
      }
    }
  }
}
