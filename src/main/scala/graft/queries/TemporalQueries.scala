package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.read.TemporalReads
import graft.snapshot.Snapshots

/** The reference's query surface (SURVEY.md §2.1–§2.7) exercised over the
  * driver's `events` table, with DuckDB oracles.
  *
  * The `events` stream is deterministically reinterpreted as a mutation
  * stream — the same mapping in Spark and in the oracle CTE:
  *   tablet_id   = event_type          (5 tablets)
  *   height      = event_id            (monotonic, gap-free)
  *   primary_key = lpad(user_id, 4, '0')
  *   value       = props
  *   is_deletion = event_id % 23 == 7  (tombstones interleaved; height 0 is a
  *                                      plain insert so the height-0 edge case
  *                                      stays queryable — read_test.go:168–182)
  */
object TemporalQueries {

  /** Shared oracle CTE — keep textually in sync with [[mutations]]. */
  val MutationsCte: String =
    """WITH mutations AS (
      |  SELECT event_type AS tablet_id, event_id AS height,
      |         lpad(CAST(user_id AS VARCHAR), 4, '0') AS primary_key,
      |         props AS value, (event_id % 23 = 7) AS is_deletion
      |  FROM events
      |)""".stripMargin

  /** events.parquet has carried `ts` as TIMESTAMP(NANOS) (which Spark's
    * vectorized reader won't even infer) and, after a driver regeneration,
    * TIMESTAMP(MICROS). An explicit schema either prunes the column away or
    * long-reads the raw physical int64 — the UNIT of that int64 is whatever
    * the footer's logical type says, so it must be detected, never assumed. */
  val EventsSchemaNoTs = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
  val EventsSchemaTsRaw =
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(EventsSchemaNoTs).parquet(s"$dir/events.parquet")

  private val tsTickCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Nanoseconds per tick of the raw int64 `ts` column, read from the parquet
    * footer's logical-type annotation. TIMESTAMP(NANOS)→1, MICROS→1e3,
    * MILLIS→1e6; a plain un-annotated INT64 is taken as already-nanoseconds.
    *
    * Memoized per (data file, mtime, length) — NOT per path alone: the
    * driver regenerates this corpus in place with changing units, and a
    * long-lived JVM that cached by path would silently mis-scale every
    * read after a regeneration (the exact failure class footer detection
    * exists to close). The listing re-runs per call; it is driver-side
    * metadata, and only the footer OPEN is cached. */
  def tsNanosPerTick(spark: SparkSession, eventsPath: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(eventsPath)
    val fs = path.getFileSystem(conf)
    val rootStatus = fs.getFileStatus(path)
    val dataStatus =
      if (rootStatus.isFile) rootStatus
      else {
        val parts = fs.listStatus(path)
          .filter(_.getPath.getName.endsWith(".parquet"))
        require(parts.nonEmpty,
          s"no .parquet data files under $eventsPath — cannot detect the ts unit")
        parts.minBy(_.getPath.getName)
      }
    val cacheKey =
      s"${dataStatus.getPath}@${dataStatus.getModificationTime}:${dataStatus.getLen}"
    tsTickCache.computeIfAbsent(cacheKey, (_: String) => {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromPath(dataStatus.getPath, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        if (!schema.containsField("ts")) 1L
        else schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS  => 1L
            }
          case _ => 1L
        }
      } finally reader.close()
    }: Long)
  }

  /** Events with the timestamp normalized to epoch NANOSECONDS (long),
    * whatever unit the footer declares. The scale-up is a codegen'd
    * projection inside the scan stage; when the data is already ns it is
    * elided entirely. */
  def eventsWithTs(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.schema(EventsSchemaTsRaw).parquet(s"$dir/events.parquet")
    val tick = tsNanosPerTick(spark, s"$dir/events.parquet")
    if (tick == 1L) raw else raw.withColumn("ts", col("ts") * lit(tick))
  }

  /** Run `f` in a session with [[graft.functions.GraftExtensions]] injected,
    * sharing the caller's SparkContext; the caller's default/active session
    * is restored afterwards. The returned DataFrame stays bound to the
    * extension session, which keeps working after the restore (sessions are
    * lightweight views over the shared context) — this is how a query body
    * exercises the injected StateAsOfRule under the driver's plain session. */
  def withGraftSession[T](base: SparkSession)(f: SparkSession => T): T = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try f(SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate())
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  def mutations(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_type").as("tablet_id"),
      col("event_id").as("height"),
      lpad(col("user_id").cast("string"), 4, "0").as("primary_key"),
      col("props").as("value"),
      (col("event_id") % 23 === 7).as("is_deletion"))

  /** Commit-window boundaries for the streaming CDC gate query: four
    * generation-aligned windows over the 'error' tablet's first 6000
    * heights (fixed, SF-independent — heights are the gap-free event_id).
    * The leading bound is -1, NOT 0: height 0 is a valid mutation height
    * (read_test.go:168–182 — the same edge t_read_tablet_at_h0 pins), and
    * a (0, 1500] first window would silently drop it from the stream
    * while the oracle's pre-state at 0 still sees it. */
  private val CdcBounds: Seq[Long] = Seq(-1L, 1500L, 3000L, 4500L, 6000L)

  private def lwwOracle(tablet: String, h: Long): String =
    s"""$MutationsCte, ranked AS (
       |  SELECT primary_key, height, value, is_deletion,
       |         row_number() OVER (PARTITION BY primary_key ORDER BY height DESC) AS rn
       |  FROM mutations WHERE tablet_id = '$tablet' AND height <= $h
       |)
       |SELECT primary_key, height, value FROM ranked
       |WHERE rn = 1 AND NOT is_deletion ORDER BY primary_key""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ReadTabletAt — the flagship (J1/A1/P4/O1).
    QuerySpec.sql("t_read_tablet_at", lwwOracle("click", 8000)) { (s, dir) =>
      TemporalReads.readTabletAt(mutations(s, dir), "click", 8000)
    },

    // Height-0 edge case: height 0 is a valid queryable height (§7.4 risk 3).
    QuerySpec.sql("t_read_tablet_at_h0", lwwOracle("error", 0)) { (s, dir) =>
      TemporalReads.readTabletAt(mutations(s, dir), "error", 0)
    },

    // ReadTabletRowAt — single-key as-of lookup (P3).
    QuerySpec.sql(
      "t_read_tablet_row_at",
      s"""$MutationsCte, ranked AS (
         |  SELECT primary_key, height, value, is_deletion,
         |         row_number() OVER (PARTITION BY primary_key ORDER BY height DESC) AS rn
         |  FROM mutations
         |  WHERE tablet_id = 'view' AND primary_key = '0042' AND height <= 9000
         |)
         |SELECT primary_key, height, value FROM ranked
         |WHERE rn = 1 AND NOT is_deletion""".stripMargin) { (s, dir) =>
      TemporalReads.readTabletRowAt(mutations(s, dir), "view", "0042", 9000)
    },

    // ReadSingletEntryAt — as-of point lookup (A2/O2). Singlet stream = one
    // value per tablet_id (the per-type "latest props").
    QuerySpec.sql(
      "t_read_singlet_entry_at",
      s"""$MutationsCte
         |SELECT singlet_id, height, value FROM (
         |  SELECT tablet_id AS singlet_id, height, value, is_deletion,
         |         row_number() OVER (ORDER BY height DESC) AS rn
         |  FROM mutations WHERE tablet_id = 'error' AND height <= 9000
         |) WHERE rn = 1 AND NOT is_deletion""".stripMargin) { (s, dir) =>
      TemporalReads.readSingletEntryAt(
        mutations(s, dir).withColumnRenamed("tablet_id", "singlet_id"), "error", 9000)
    },

    // ReadSingletEntries — bounded history, most recent first (O3).
    QuerySpec.sql(
      "t_singlet_history",
      s"""$MutationsCte
         |SELECT tablet_id AS singlet_id, height, value, is_deletion
         |FROM mutations WHERE tablet_id = 'signup' AND height <= 2000
         |ORDER BY height DESC""".stripMargin) { (s, dir) =>
      TemporalReads.readSingletEntries(
        mutations(s, dir)
          .filter(col("height") <= 2000)
          .withColumnRenamed("tablet_id", "singlet_id"),
        "signup")
        .drop(TemporalReads.SourceRankCol)
    },

    // State diff between two heights — the changefeed/CDF read. One scan +
    // one shuffle in Spark (dual conditional argmax); the oracle states the
    // same thing as two ranked as-of reads joined.
    QuerySpec.sql(
      "t_tablet_diff",
      s"""$MutationsCte, pre AS (
         |  SELECT primary_key, height, value, is_deletion,
         |         row_number() OVER (PARTITION BY primary_key ORDER BY height DESC) AS rn
         |  FROM mutations WHERE tablet_id = 'click' AND height <= 6000
         |), post AS (
         |  SELECT primary_key, height, value, is_deletion,
         |         row_number() OVER (PARTITION BY primary_key ORDER BY height DESC) AS rn
         |  FROM mutations WHERE tablet_id = 'click' AND height <= 9000
         |), p1 AS (SELECT * FROM pre WHERE rn = 1),
         |p2 AS (SELECT * FROM post WHERE rn = 1),
         |classified AS (
         |  SELECT p2.primary_key,
         |         CASE
         |           WHEN (p1.primary_key IS NULL OR p1.is_deletion) AND NOT p2.is_deletion
         |             THEN 'added'
         |           WHEN p1.primary_key IS NOT NULL AND NOT p1.is_deletion AND p2.is_deletion
         |             THEN 'deleted'
         |           WHEN p1.primary_key IS NOT NULL AND NOT p1.is_deletion
         |                AND NOT p2.is_deletion AND p2.height > 6000
         |             THEN 'updated'
         |         END AS change_type,
         |         p2.height AS change_height,
         |         CASE WHEN p1.primary_key IS NOT NULL AND NOT p1.is_deletion
         |              THEN p1.value END AS old_value,
         |         CASE WHEN NOT p2.is_deletion THEN p2.value END AS new_value
         |  FROM p2 LEFT JOIN p1 ON p1.primary_key = p2.primary_key
         |)
         |SELECT primary_key, change_type, change_height, old_value, new_value
         |FROM classified WHERE change_type IS NOT NULL
         |ORDER BY primary_key""".stripMargin) { (s, dir) =>
      TemporalReads.readTabletDiff(mutations(s, dir), "click", 6000, 9000)
    },

    // STREAMING changefeed CDC, end to end through the real store: the
    // 'error' tablet's first 6000 heights are committed into a
    // manifest-protocol store in four generation-aligned windows; a live
    // changefeed subscription (generation-as-offset source ->
    // flatMapGroupsWithState CDC view) drains after each commit; the
    // collected events must equal the UNION of the four batch diffs —
    // the stream ≡ batch contract, verified here against DuckDB replaying
    // every window as a ranked as-of pair (the same classification the
    // t_tablet_diff oracle uses, once per window).
    QuerySpec.sql(
      "t_changefeed_cdc", {
        def windowDiff(lo: Long, hi: Long): String =
          s"""SELECT primary_key, change_type, change_height, old_value, new_value FROM (
             |  SELECT p2.primary_key,
             |    CASE
             |      WHEN (p1.primary_key IS NULL OR p1.is_deletion) AND NOT p2.is_deletion
             |        THEN 'added'
             |      WHEN p1.primary_key IS NOT NULL AND NOT p1.is_deletion AND p2.is_deletion
             |        THEN 'deleted'
             |      WHEN p1.primary_key IS NOT NULL AND NOT p1.is_deletion AND NOT p2.is_deletion
             |        THEN 'updated'
             |    END AS change_type,
             |    p2.height AS change_height,
             |    CASE WHEN p1.primary_key IS NOT NULL AND NOT p1.is_deletion
             |         THEN p1.value END AS old_value,
             |    CASE WHEN NOT p2.is_deletion THEN p2.value END AS new_value
             |  FROM (SELECT * FROM (
             |          SELECT primary_key, height, value, is_deletion,
             |                 row_number() OVER (PARTITION BY primary_key ORDER BY height DESC) AS rn
             |          FROM mutations WHERE tablet_id = 'error'
             |            AND height > $lo AND height <= $hi) WHERE rn = 1) p2
             |  LEFT JOIN (SELECT * FROM (
             |          SELECT primary_key, height, value, is_deletion,
             |                 row_number() OVER (PARTITION BY primary_key ORDER BY height DESC) AS rn
             |          FROM mutations WHERE tablet_id = 'error'
             |            AND height <= $lo) WHERE rn = 1) p1
             |    ON p1.primary_key = p2.primary_key
             |) WHERE change_type IS NOT NULL""".stripMargin
        val windows = CdcBounds.sliding(2).map { case Seq(lo, hi) =>
          s"(${windowDiff(lo, hi)})" }.mkString("\nUNION ALL\n")
        s"""$MutationsCte
           |SELECT * FROM (
           |$windows
           |) ORDER BY change_height, primary_key""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.types._
      val root = java.nio.file.Files.createTempDirectory("graft-cf-gate").toString
      val store = new graft.store.StateStore(root)(s)
      val m = mutations(s, dir).filter(col("tablet_id") === "error")
      val sink = "cf_gate_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // State-store width for THIS streaming query only: the session's 32
      // shuffle partitions mean 32 state-store instances per micro-batch
      // for a few hundred keys — pure per-partition overhead ×4 batches.
      // The stream's execution thread reads the conf when it PLANS the
      // first micro-batch (after start() returns), so the narrowing must
      // stay in force until the final drain — restore only after q.stop()
      // (gate queries run sequentially, so the scoped set is safe).
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = store.changefeedDiffStream().writeStream.format("memory")
          .queryName(sink)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft-cf-gate-ck").toString)
          .outputMode("append").start()
        try {
          CdcBounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
            store.writeTabletRows(
              m.filter(col("height") > lo && col("height") <= hi)
                .select(lit(1).as("collection"), col("tablet_id"), col("height"),
                  col("primary_key"), col("value").cast("binary").as("value"),
                  col("is_deletion")),
              commitId = s"w$i")
            q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // The memory sink's rows, frozen into a plain local relation (the
      // sink's temp view dies with the query name's scope).
      val rows = s.table(sink)
        .select(col("primary_key"), col("change_type"), col("change_height"),
          col("old_value").cast("string").as("old_value"),
          col("new_value").cast("string").as("new_value"))
        .collect()
      val schema = StructType(Seq(
        StructField("primary_key", StringType), StructField("change_type", StringType),
        StructField("change_height", LongType), StructField("old_value", StringType),
        StructField("new_value", StringType)))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .orderBy("change_height", "primary_key")
    },

    // MATERIALIZED SERVING TABLE: the changefeed folded into a current-
    // state table by copy-on-write MERGE (StateMaterializer) — the 'view'
    // tablet's first 6000 heights land in three store commits, the
    // materializer catches up from the changefeed, and the SERVING read
    // (no argmax — state already collapsed by merge) must equal the plain
    // last-write-wins as-of oracle. Stream → merge → serve ≡ readTabletAt.
    QuerySpec.sql("t_materialized_state", lwwOracle("view", 6000)) { (s, dir) =>
      implicit val is = s
      val root = java.nio.file.Files.createTempDirectory("graft-mat-gate").toString
      val target = java.nio.file.Files.createTempDirectory("graft-mat-target").toString
      val store = new graft.store.StateStore(root)(s)
      val m = mutations(s, dir).filter(col("tablet_id") === "view")
      Seq((-1L, 2000L), (2000L, 4000L), (4000L, 6000L)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          store.writeTabletRows(
            m.filter(col("height") > lo && col("height") <= hi)
              .select(lit(1).as("collection"), col("tablet_id"), col("height"),
                col("primary_key"), col("value").cast("binary").as("value"),
                col("is_deletion")),
            commitId = s"w$i")
      }
      // Narrow the shuffle width for the whole stream lifetime: unlike
      // the stateful CDC query (width baked into the checkpoint at
      // start), the materializer's merge runs inside foreachBatch and
      // reads the session conf at BATCH time, so the restore must wait
      // for the final drain. Gate queries run sequentially.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.StateMaterializer.start(store, target,
          java.nio.file.Files.createTempDirectory("graft-mat-ck").toString)
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      graft.streaming.StateMaterializer.read(target)
        .filter(col("tablet_id") === "view")
        .select(col("primary_key"), col("height"),
          col("value").cast("string").as("value"))
        .orderBy("primary_key")
    },

    // emitFresh SUBSCRIPTION to a merge target, end to end: the 'view'
    // tablet lands in three windowed store commits; the materializer
    // merges each into the serving table (one merge per window — gen 1 a
    // plain append, gens 2–3 rewrites that BOTH update existing keys and
    // insert new ones); the target is then compacted (a contents-
    // preserving rewrite). A from-0 changefeed subscription on the
    // SERVING TABLE with onRewrite=emitFresh must receive, per key,
    // exactly its FIRST window's LWW winner (merge physically segregates
    // fresh inserts and records them per-file in the sidecar; updates to
    // existing keys are rewritten, not emitted; the compaction rides
    // through silently) — including keys whose first appearance is a
    // tombstone (the materializer keeps them as physical rows). The
    // DuckDB oracle replays the same classification: each key's winner in
    // its first window.
    QuerySpec.sql(
      "t_changefeed_emit_fresh",
      s"""$MutationsCte, scoped AS (
         |  SELECT primary_key, height, value, is_deletion,
         |         CASE WHEN height <= 2000 THEN 1
         |              WHEN height <= 4000 THEN 2 ELSE 3 END AS w
         |  FROM mutations WHERE tablet_id = 'view' AND height <= 6000
         |), winners AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY primary_key, w ORDER BY height DESC) AS rn
         |  FROM scoped
         |), firstw AS (
         |  SELECT primary_key, min(w) AS fw FROM scoped GROUP BY primary_key
         |)
         |SELECT s.primary_key, s.height, s.value, s.is_deletion
         |FROM winners s JOIN firstw f
         |  ON s.primary_key = f.primary_key AND s.w = f.fw
         |WHERE s.rn = 1
         |ORDER BY s.primary_key""".stripMargin) { (s, dir) =>
      implicit val is = s
      import org.apache.spark.sql.types._
      val target = java.nio.file.Files.createTempDirectory("graft-ef-target").toString
      val m = mutations(s, dir).filter(col("tablet_id") === "view")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        // One merge generation per window, applied SYNCHRONOUSLY — the
        // same per-batch winners→merge the materializer's foreachBatch
        // performs (StateMaterializer.start), without paying three
        // streaming micro-batch drains of fixed overhead for it. The
        // store→materializer streaming path is its own gate
        // (t_materialized_state + StateMaterializerSpec); THIS gate's
        // subject is the emitFresh changefeed riding the resulting
        // append + rewrite generations, and that drain stays streaming
        // below.
        val t = graft.streaming.StateMaterializer.targetTable(target)
        val keyCols = graft.streaming.StateMaterializer.KeyCols
        Seq((-1L, 2000L), (2000L, 4000L), (4000L, 6000L)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            val windowRows = m.filter(col("height") > lo && col("height") <= hi)
              .select(lit(1).as("collection"), col("tablet_id"), col("height"),
                col("primary_key"), col("value").cast("binary").as("value"),
                col("is_deletion"))
            val winners = graft.read.TemporalReads
              .latestPerKey(windowRows, keyCols, Seq("value", "collection"))
              .select(graft.model.Schemas.tabletRows.fieldNames.map(col).toSeq: _*)
            t.merge(winners, keyCols, orderCol = "height",
              deleteCol = "is_deletion", commitId = s"w$i",
              keepTombstones = true)
        }
        // Contents-preserving rewrite mid-history: emitFresh must ride
        // through it with nothing emitted (fresh recorded as known-none).
        graft.streaming.StateMaterializer.compact(target, numFiles = 4)
        val sink = "ef_gate_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val q2 = graft.streaming.ManifestChangefeed
          .stream(s, target, onRewrite = "emitFresh")
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft-ef-ck2").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // Generous bound: the drain is 4 tiny micro-batches, but the gate
        // may share the host with unrelated load (a 120 s bound tripped
        // once under a concurrent 32-core probe run).
        require(q2.awaitTermination(300000L),
          s"emitFresh drain must terminate; status=${q2.status}")
        q2.stop()
        val rows = s.table(sink)
          .select(col("primary_key"), col("height"),
            col("value").cast("string").as("value"), col("is_deletion"))
          .collect()
        val schema = StructType(Seq(
          StructField("primary_key", StringType), StructField("height", LongType),
          StructField("value", StringType), StructField("is_deletion", BooleanType)))
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .orderBy("primary_key")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    },

    // Speculative overlay (J2): durable ≤ 7000 overlaid by a speculative set
    // on (6500, 7500] whose values are tagged; at equal height the
    // speculative write wins (source_rank tie-break, §7.4 risk 1).
    QuerySpec.sql(
      "t_speculative_overlay",
      s"""$MutationsCte, unioned AS (
         |  SELECT tablet_id, height, primary_key, value, is_deletion, 0 AS source_rank
         |  FROM mutations WHERE height <= 7000
         |  UNION ALL
         |  SELECT tablet_id, height, primary_key, value || '-spec' AS value, is_deletion, 1 AS source_rank
         |  FROM mutations WHERE height > 6500 AND height <= 7500
         |), ranked AS (
         |  SELECT primary_key, height, value, is_deletion,
         |         row_number() OVER (PARTITION BY primary_key ORDER BY height DESC, source_rank DESC) AS rn
         |  FROM unioned WHERE tablet_id = 'click' AND height <= 7500
         |)
         |SELECT primary_key, height, value FROM ranked
         |WHERE rn = 1 AND NOT is_deletion ORDER BY primary_key""".stripMargin) { (s, dir) =>
      val m = mutations(s, dir)
      val durableRows = m.filter(col("height") <= 7000)
      val spec = m
        .filter(col("height") > 6500 && col("height") <= 7500)
        .withColumn("value", concat(col("value"), lit("-spec")))
      TemporalReads.readTabletAt(durableRows, "click", 7500, Seq(spec))
    },

    // Snapshot-index build (A3, indexing.go:225–302).
    QuerySpec.sql(
      "t_snapshot_index_build",
      s"""$MutationsCte, ranked AS (
         |  SELECT primary_key, height, is_deletion,
         |         row_number() OVER (PARTITION BY primary_key ORDER BY height DESC) AS rn
         |  FROM mutations WHERE tablet_id = 'click' AND height <= 5000
         |)
         |SELECT primary_key, height FROM ranked
         |WHERE rn = 1 AND NOT is_deletion ORDER BY primary_key""".stripMargin) { (s, dir) =>
      Snapshots.buildTabletIndex(mutations(s, dir), "click", 5000)
    },

    // Snapshot ∪ tail read (J1): computed THROUGH the snapshot path in Spark,
    // verified against the plain full-scan oracle — the with-snapshot ≡
    // without-snapshot invariant, checked by the driver.
    QuerySpec.sql("t_snapshot_union_tail", lwwOracle("view", 8000)) { (s, dir) =>
      val m = mutations(s, dir)
      val snap = Snapshots.buildTabletIndex(m, "view", 5000)
      Snapshots.readTabletAtWithSnapshot(m, snap, 5000, "view", 8000)
    },

    // The SAME snapshot ∪ tail shape through the DECLARATIVE tier (§7.3):
    // a StateAsOfSnapshot marker planned by the injected StateAsOfRule —
    // end-to-end proof that the ergonomic API plans the snapshot-pruned
    // production read, verified against the full-scan oracle (the
    // with-snapshot ≡ without-snapshot invariant again, now through
    // SparkSessionExtensions instead of the function-call surface).
    QuerySpec.sql("t_stateasof_snapshot", lwwOracle("view", 8000)) { (s, dir) =>
      withGraftSession(s) { s2 =>
        val m = mutations(s2, dir)
        val snap = Snapshots.buildTabletIndex(m, "view", 5000)
        graft.plans.StateAsOf.stateAsOf(m, snap, 5000, "view", 8000)
      }
    },

    // Existence probe (S8).
    QuerySpec.sql(
      "t_existence_probe",
      s"""$MutationsCte, probes(tablet_id) AS (VALUES ('click'), ('view'), ('nosuch'))
         |SELECT p.tablet_id,
         |       (EXISTS (SELECT 1 FROM mutations m WHERE m.tablet_id = p.tablet_id)) AS seen
         |FROM probes p ORDER BY p.tablet_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      TemporalReads.existenceProbe(
        mutations(s, dir),
        Seq("click", "view", "nosuch").toDF("tablet_id"))
    },

    // Checkpoint prefix scan + shard-progress reconciliation (S9 + J3):
    // shard-NNN checkpoints derived as max height per user shard.
    QuerySpec.sql(
      "t_shard_progress",
      """WITH cps AS (
        |  SELECT 'shard-' || lpad(CAST(user_id % 8 AS VARCHAR), 3, '0') AS key,
        |         max(event_id) AS height
        |  FROM events GROUP BY 1
        |)
        |SELECT key, height,
        |       CASE WHEN height = (SELECT max(height) FROM cps)
        |            THEN 'complete' ELSE 'behind' END AS status
        |FROM cps ORDER BY key""".stripMargin) { (s, dir) =>
      val cps = events(s, dir)
        .groupBy(pmod(col("user_id"), lit(8)).as("shard"))
        .agg(max(col("event_id")).as("height"))
        .select(format_string("shard-%03d", col("shard")).as("key"), col("height"))
      // Global max via a broadcast 1-row aggregate, NOT an unpartitioned
      // window (WindowExec would funnel every row through one partition —
      // harmless on 8 shard rows, lethal as a pattern).
      cps
        .crossJoin(broadcast(cps.agg(max(col("height")).as("max_h"))))
        .select(col("key"), col("height"),
          when(col("height") === col("max_h"), lit("complete"))
            .otherwise(lit("behind")).as("status"))
        .orderBy("key")
    },

    // Write-block size stats, top-5 (A4, write.go:274–329).
    QuerySpec.sql(
      "t_write_stats",
      s"""$MutationsCte
         |SELECT tablet_id, CAST(sum(length(value)) AS BIGINT) AS bytes, count(*) AS n_rows
         |FROM mutations GROUP BY tablet_id
         |ORDER BY bytes DESC, tablet_id LIMIT 5""".stripMargin) { (s, dir) =>
      mutations(s, dir)
        .groupBy("tablet_id")
        .agg(sum(length(col("value"))).as("bytes"), count(lit(1)).as("n_rows"))
        .orderBy(col("bytes").desc, col("tablet_id"))
        .limit(5)
    },

    // Shard stats (A5, sharder.go:53–59).
    QuerySpec.sql(
      "t_shard_stats",
      """SELECT user_id % 8 AS shard, count(*) AS n_requests,
        |       max(event_id) AS last_height,
        |       count(DISTINCT event_type) AS n_tablets
        |FROM events GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(pmod(col("user_id"), lit(8)).cast("long").as("shard"))
        .agg(count(lit(1)).as("n_requests"),
          max(col("event_id")).as("last_height"),
          countDistinct(col("event_type")).as("n_tablets"))
        .orderBy("shard")
    },

    // Batch write dedup (§2.7, store/kv/store.go:452–455): within one batch,
    // the last write per key wins — tombstones kept (they are writes).
    QuerySpec.sql(
      "t_batch_dedup",
      s"""$MutationsCte, ranked AS (
         |  SELECT tablet_id, primary_key, height, is_deletion,
         |         row_number() OVER (PARTITION BY tablet_id, primary_key ORDER BY height DESC) AS rn
         |  FROM mutations WHERE height <= 1000
         |)
         |SELECT tablet_id, primary_key, height, is_deletion FROM ranked
         |WHERE rn = 1 ORDER BY tablet_id, primary_key""".stripMargin) { (s, dir) =>
      TemporalReads.latestPerKey(
        mutations(s, dir).filter(col("height") <= 1000),
        Seq("tablet_id", "primary_key"), Nil)
        .select("tablet_id", "primary_key", "height", "is_deletion")
        .orderBy("tablet_id", "primary_key")
    },

    // AS-OF JOIN: a batch of point-in-time lookups resolved in one
    // distributed pass — each probe (key, at_height) gets the latest
    // mutation <= its own height (null when absent or tombstoned). The
    // batch generalization of t_read_tablet_row_at: one equi-join +
    // per-probe argmax instead of one query per probe.
    QuerySpec.sql(
      "t_asof_join",
      s"""$MutationsCte, probes AS (
         |  SELECT event_id AS probe_id, event_type AS tablet_id,
         |         lpad(CAST(user_id AS VARCHAR), 4, '0') AS primary_key,
         |         event_id + 500 AS at_height
         |  FROM events WHERE event_id % 199 = 0
         |), ranked AS (
         |  SELECT p.probe_id, p.tablet_id, p.primary_key, p.at_height,
         |         m.height, m.value, m.is_deletion,
         |         row_number() OVER (PARTITION BY p.probe_id
         |                            ORDER BY m.height DESC, m.is_deletion DESC,
         |                                     m.value DESC) AS rn
         |  FROM probes p LEFT JOIN mutations m
         |    ON m.tablet_id = p.tablet_id AND m.primary_key = p.primary_key
         |   AND m.height <= p.at_height
         |)
         |SELECT probe_id, tablet_id, primary_key, at_height,
         |       CASE WHEN height IS NOT NULL AND NOT is_deletion
         |            THEN height END AS height,
         |       CASE WHEN height IS NOT NULL AND NOT is_deletion
         |            THEN value END AS value
         |FROM ranked WHERE rn = 1 ORDER BY probe_id""".stripMargin) { (s, dir) =>
      val probes = events(s, dir)
        .filter(col("event_id") % 199 === 0)
        .select(col("event_id").as("probe_id"),
          col("event_type").as("tablet_id"),
          lpad(col("user_id").cast("string"), 4, "0").as("primary_key"),
          (col("event_id") + 500).as("at_height"))
      TemporalReads.asOfJoin(mutations(s, dir), probes)
    },

    // The SAME as-of join computed THROUGH the snapshot-pruned path
    // (Snapshots.asOfJoinWithSnapshot): a TabletIndex for 'click' at 5000
    // routes click probes at heights >= 5000 through hydration ∪ tail,
    // everything else through the full-history fallback — verified against
    // the identical full-scan oracle (the with-snapshot ≡ without-snapshot
    // invariant, here for batch point lookups instead of the tablet read).
    QuerySpec.sql(
      "t_asof_join_snapshot",
      s"""$MutationsCte, probes AS (
         |  SELECT event_id AS probe_id, event_type AS tablet_id,
         |         lpad(CAST(user_id AS VARCHAR), 4, '0') AS primary_key,
         |         event_id + 500 AS at_height
         |  FROM events WHERE event_id % 199 = 0
         |), ranked AS (
         |  SELECT p.probe_id, p.tablet_id, p.primary_key, p.at_height,
         |         m.height, m.value, m.is_deletion,
         |         row_number() OVER (PARTITION BY p.probe_id
         |                            ORDER BY m.height DESC, m.is_deletion DESC,
         |                                     m.value DESC) AS rn
         |  FROM probes p LEFT JOIN mutations m
         |    ON m.tablet_id = p.tablet_id AND m.primary_key = p.primary_key
         |   AND m.height <= p.at_height
         |)
         |SELECT probe_id, tablet_id, primary_key, at_height,
         |       CASE WHEN height IS NOT NULL AND NOT is_deletion
         |            THEN height END AS height,
         |       CASE WHEN height IS NOT NULL AND NOT is_deletion
         |            THEN value END AS value
         |FROM ranked WHERE rn = 1 ORDER BY probe_id""".stripMargin) { (s, dir) =>
      val m = mutations(s, dir)
      val probes = events(s, dir)
        .filter(col("event_id") % 199 === 0)
        .select(col("event_id").as("probe_id"),
          col("event_type").as("tablet_id"),
          lpad(col("user_id").cast("string"), 4, "0").as("primary_key"),
          (col("event_id") + 500).as("at_height"))
      val snap = Snapshots.buildTabletIndex(m, "click", 5000)
      Snapshots.asOfJoinWithSnapshot(m, probes, snap, 5000, "click",
        Snapshots.hydrationBoundOf(snap))
    })
}
