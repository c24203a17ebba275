package graft.read

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The four point-in-time read operators of the reference, as declarative
  * DataFrame transformations (reference read.go:35–413).
  *
  * Semantics being reproduced:
  *   - `ReadTabletAt(H)` (read.go:35–178): for each primary key, the row with
  *     the greatest height ≤ H wins ("last-write-wins"); tombstones erase the
  *     key; speculative (not-yet-final) writes overlay durable rows *in block
  *     order*; result sorted ascending by primary key.
  *   - `ReadTabletRowAt` (read.go:186–293): same, restricted to one key.
  *   - `ReadSingletEntryAt` (read.go:300–349): latest entry ≤ H.
  *   - `ReadSingletEntries` (read.go:356–408): full history, most recent first,
  *     speculative entries ranked above durable ones at equal height.
  *
  * Spark-first design notes (scale posture):
  *   - The last-write-wins argmax is `max_by(struct(payload), struct(height,
  *     source_rank))` under `groupBy(primary_key)` — one shuffle, map-side
  *     partial aggregation, whole-stage codegen. No window sort is needed.
  *   - Tombstones participate in the argmax and are filtered *after* it, so a
  *     delete-then-reinsert sequence resolves correctly (read_test.go:89–144).
  *   - `source_rank` breaks height ties: durable = 0, speculative = 1 + index
  *     in block order (SURVEY.md §7.4 risk 1).
  *   - All filters are plain Catalyst predicates, so `tablet_id`/`height`
  *     bounds push down to the Parquet/Delta scan (partition + row-group
  *     pruning at 100 TB).
  */
object TemporalReads {

  val SourceRankCol = "source_rank"

  /** Tag a durable mutation set with overlay rank 0. */
  def durable(rows: DataFrame): DataFrame =
    if (rows.columns.contains(SourceRankCol)) rows
    else rows.withColumn(SourceRankCol, lit(0))

  /** Tag speculative write sets (in block order) with ranks 1..n, union all.
    * Mirrors the ordered application of `speculativeWrites` (read.go:155–169).
    *
    * A PRE-RANKED frame — one that already carries `source_rank` — keeps
    * its own ranks: that is how a whole reversible segment travels as ONE
    * frame (rank = 1 + block index, see
    * [[graft.streaming.IngestionPipeline.speculativeTabletRowsFor]])
    * instead of one relation per block. Frames without the column are
    * tagged with their position, as before; a caller mixing the two forms
    * owns keeping the ranks apart. */
  def withSpeculative(rows: DataFrame, speculative: Seq[DataFrame]): DataFrame =
    speculative.zipWithIndex.foldLeft(durable(rows)) { case (acc, (spec, i)) =>
      acc.unionByName(
        if (spec.columns.contains(SourceRankCol)) spec
        else spec.withColumn(SourceRankCol, lit(i + 1)))
    }

  /** Last-write-wins per key: argmax of (height, source_rank) per `keyCols`,
    * carrying `payloadCols`. Returns keyCols ++ height ++ payloadCols ++
    * is_deletion. Tombstones are kept (filter after, see readTabletAt). */
  def latestPerKey(rows: DataFrame, keyCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    val ranked = if (rows.columns.contains(SourceRankCol)) rows else durable(rows)
    val payload = struct(
      (col("height") +: col("is_deletion") +: payloadCols.map(col)): _*)
    val winner = max_by(payload, struct(col("height"), col(SourceRankCol)))
    ranked
      .groupBy(keyCols.map(col): _*)
      .agg(winner.as("w"))
      .select(keyCols.map(col) ++ Seq(col("w.height").as("height")) ++
        payloadCols.map(c => col(s"w.$c").as(c)) :+ col("w.is_deletion").as("is_deletion"): _*)
  }

  /** All live rows of one tablet as of height H, sorted by primary key
    * (read.go:35–178; final sort read.go:173–174). */
  def readTabletAt(
      rows: DataFrame,
      tabletId: String,
      atHeight: Long,
      speculative: Seq[DataFrame] = Nil): DataFrame = {
    val all = withSpeculative(rows, speculative)
      .filter(col("tablet_id") === lit(tabletId) && col("height") <= lit(atHeight))
    latestPerKey(all, Seq("primary_key"), Seq("value"))
      .where(!col("is_deletion"))
      .select("primary_key", "height", "value")
      .orderBy("primary_key")
  }

  /** One row of one tablet as of height H (read.go:186–293). The primary-key
    * equality predicate is pushed into the scan (P3, read.go:240–260). */
  def readTabletRowAt(
      rows: DataFrame,
      tabletId: String,
      primaryKey: String,
      atHeight: Long,
      speculative: Seq[DataFrame] = Nil): DataFrame =
    readTabletAt(
      rows.filter(col("primary_key") === lit(primaryKey)),
      tabletId,
      atHeight,
      speculative.map(_.filter(col("primary_key") === lit(primaryKey))))

  /** Latest entry of one singlet as of height H (read.go:300–349). The
    * reference stores singlets under inverted height so this is a forward
    * limit-1 scan; `max_by` + height-predicate pushdown is the columnar
    * equivalent (SURVEY.md §4 "reverse-key as-of lookup"). */
  def readSingletEntryAt(
      entries: DataFrame,
      singletId: String,
      atHeight: Long,
      speculative: Seq[DataFrame] = Nil): DataFrame = {
    val all = withSpeculative(entries, speculative)
      .filter(col("singlet_id") === lit(singletId) && col("height") <= lit(atHeight))
    latestPerKey(all, Seq("singlet_id"), Seq("value"))
      .where(!col("is_deletion"))
      .select("singlet_id", "height", "value")
  }

  /** Full history of one singlet, most recent first; speculative entries rank
    * above durable at equal height (read.go:356–408, O3). */
  def readSingletEntries(
      entries: DataFrame,
      singletId: String,
      speculative: Seq[DataFrame] = Nil): DataFrame =
    withSpeculative(entries, speculative)
      .filter(col("singlet_id") === lit(singletId))
      .orderBy(col("height").desc, col(SourceRankCol).desc)
      .select("singlet_id", "height", "value", "is_deletion")

  /** AS-OF JOIN: resolve a whole batch of point-in-time lookups in one
    * distributed pass — for each probe `(tablet_id, primary_key, at_height)`,
    * the latest mutation with `height <= at_height` (none if tombstoned or
    * absent). The batch generalization of [[readTabletRowAt]]: one
    * equi-join on the entity key + per-probe argmax, instead of one query
    * per probe. At scale the join shuffles both sides on
    * `(tablet_id, primary_key)` (or broadcasts a small probe set) and the
    * argmax is a single map-side-combined aggregation — no window sort, no
    * per-probe scans.
    *
    * Probes must carry a unique `probe_id` so identical `(key, height)`
    * probes stay distinct in the output. */
  def asOfJoin(rows: DataFrame, probes: DataFrame): DataFrame =
    asOfResolve(rows, probes).orderBy("probe_id")

  /** The join + argmax core of [[asOfJoin]], without the presentation
    * sort — shared with the snapshot-pruned variant
    * ([[graft.snapshot.Snapshots.asOfJoinWithSnapshot]]), which resolves
    * two disjoint probe partitions against different candidate sets and
    * unions them before its own final sort. */
  private[graft] def asOfResolve(rows: DataFrame, probes: DataFrame): DataFrame = {
    val m = rows.select(col("tablet_id").as("m_tablet_id"),
      col("primary_key").as("m_pk"), col("height").as("mut_height"),
      col("value"), col("is_deletion"))
    // The height bound lives in the JOIN condition: a probe whose key only
    // mutates later still yields its (null) row, like a point read would.
    val joined = probes.join(m,
      col("tablet_id") === col("m_tablet_id") &&
        col("primary_key") === col("m_pk") &&
        col("mut_height") <= col("at_height"),
      "left")
    val payload = struct(col("mut_height"), col("is_deletion"), col("value"))
    // Deterministic tie-break: two mutations of one key at one height (legal
    // for the generic API, even though the store's write path never emits
    // them) resolve by (height, is_deletion, value) — the oracle SQL orders
    // by the same keys, so the hash-compare can never go flaky on a tie.
    joined
      .groupBy("probe_id", "tablet_id", "primary_key", "at_height")
      .agg(max_by(payload, payload).as("w"))
      .select(col("probe_id"), col("tablet_id"), col("primary_key"), col("at_height"),
        when(col("w.mut_height").isNotNull && !col("w.is_deletion"), col("w.mut_height"))
          .as("height"),
        when(col("w.mut_height").isNotNull && !col("w.is_deletion"), col("w.value"))
          .as("value"))
  }

  /** STATE DIFF between two heights — the changefeed/CDF read (beyond the
    * reference's API, but the question every indexer asks of it: "what
    * changed between block H1 and block H2?"; Delta's CDF and Iceberg's
    * incremental scan are this same surface). For each primary key, the
    * as-of state at `fromHeight` vs at `toHeight`:
    *
    *   - `added`   — not live at from (absent or tombstoned), live at to
    *   - `deleted` — live at from, tombstoned at to (`change_height` = the
    *                 tombstone's height)
    *   - `updated` — live at both with a winning mutation inside
    *                 `(fromHeight, toHeight]` (a rewrite counts, like CDF)
    *
    * Keys with no winning mutation in the window emit nothing. A
    * delete-then-reinsert inside the window nets to `updated`; a
    * tombstone-before-from then insert nets to `added`.
    *
    * Plan shape: ONE scan (`height <= toHeight`, pushed) and ONE shuffle —
    * both ends' argmax compute in a single groupBy via conditional
    * ordering keys (`max_by` ignores null keys, so the from-side argmax
    * simply blinds itself to the window). No self-join of two as-of
    * reads, no window sort — at 100 TB the naive two-read-and-join
    * formulation scans the history twice and shuffles three times. */
  def readTabletDiff(
      rows: DataFrame,
      tabletId: String,
      fromHeight: Long,
      toHeight: Long): DataFrame = {
    require(fromHeight <= toHeight,
      s"diff window inverted: $fromHeight > $toHeight")
    val scoped = durable(rows).filter(
      col("tablet_id") === lit(tabletId) && col("height") <= lit(toHeight))
    val payload = struct(col("height"), col("is_deletion"), col("value"))
    val ord = struct(col("height"), col(SourceRankCol))
    val agged = scoped
      .groupBy("primary_key")
      .agg(
        max_by(payload, when(col("height") <= lit(fromHeight), ord)).as("pre"),
        max_by(payload, ord).as("post"))
    val oldLive = col("pre").isNotNull && !col("pre.is_deletion")
    val newLive = !col("post.is_deletion") // post never null: scope is non-empty per key
    agged
      .withColumn("change_type",
        when(!oldLive && newLive, lit("added"))
          .when(oldLive && !newLive, lit("deleted"))
          .when(oldLive && newLive && col("post.height") > lit(fromHeight),
            lit("updated")))
      .filter(col("change_type").isNotNull)
      .select(
        col("primary_key"),
        col("change_type"),
        col("post.height").as("change_height"),
        when(oldLive, col("pre.value")).as("old_value"),
        when(newLive, col("post.value")).as("new_value"))
      .orderBy("primary_key")
  }

  /** `HasSeenAnyRowForTablet` (read.go:410–415): existence probe. Planned as a
    * limit-1 scan — Catalyst stops at the first matching row-group. */
  def hasSeenAnyRowForTablet(rows: DataFrame, tabletId: String): Boolean =
    !rows.filter(col("tablet_id") === lit(tabletId)).limit(1).isEmpty

  /** Batch variant used by the verification harness: per probe id, whether any
    * row exists (left semi-join against the distinct tablet ids). */
  def existenceProbe(rows: DataFrame, probes: DataFrame): DataFrame = {
    val seen = rows.select(col("tablet_id")).distinct().withColumn("seen", lit(true))
    probes
      .join(broadcast(seen), Seq("tablet_id"), "left")
      .select(col("tablet_id"), coalesce(col("seen"), lit(false)).as("seen"))
      .orderBy("tablet_id")
  }
}
