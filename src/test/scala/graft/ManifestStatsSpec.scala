package graft

import graft.model._
import graft.store.{ManifestTable, StateStore}
import graft.store.ManifestTable.{StatsEq, StatsGte, StatsLte}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Manifest-level data skipping ([[ManifestTable.readPruned]]) — per-file
  * column bounds recorded at commit, file list pruned on the driver before
  * Spark lists or footer-reads anything (the Iceberg/Delta stats pattern;
  * the reference gets the same effect from its ordered KV iterator seeking
  * straight to `(tablet, height)` bands, read.go:47–63 — a parquet store
  * must put the seek in METADATA instead).
  *
  * The contract under test: `readPruned(filters)` over ANY manifest equals
  * `read()` filtered by the same predicates — stats only shrink the scan —
  * including manifests with no stats (older writers), string bounds with
  * hostile characters, and the UTF-8-vs-UTF-16 ordering trap.
  */
class ManifestStatsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("tablet_id", StringType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("primary_key", StringType, nullable = false)))

  private def df(rows: (String, Long, String)*): DataFrame = {
    implicit val s = spark
    import s.implicits._
    rows.toDF("tablet_id", "height", "primary_key")
  }

  private def rowSet(d: DataFrame): Set[(String, Long, String)] =
    d.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  test("pruned read equals filtered full read; disjoint bands actually prune") {
    implicit val s = spark
    val t = new ManifestTable(tmpDir("mstats"), schema,
      statsCols = Seq("tablet_id", "height", "primary_key"))
    // Three commits with disjoint height bands and tablet sets.
    t.commit(df(("t1", 0L, "a"), ("t1", 5L, "b")), "c0")
    t.commit(df(("t1", 10L, "a"), ("t2", 12L, "x")), "c1")
    t.commit(df(("t2", 20L, "y"), ("t3", 25L, "z")), "c2")

    val cases: Seq[(Seq[ManifestTable.StatsFilter], DataFrame => DataFrame)] = Seq(
      (Seq(StatsEq("tablet_id", "t1")), _.filter(col("tablet_id") === "t1")),
      (Seq(StatsLte("height", 9L)), _.filter(col("height") <= 9)),
      (Seq(StatsGte("height", 11L)), _.filter(col("height") >= 11)),
      (Seq(StatsEq("tablet_id", "t2"), StatsLte("height", 15L)),
        _.filter(col("tablet_id") === "t2" && col("height") <= 15)),
      (Seq(StatsEq("primary_key", "z")), _.filter(col("primary_key") === "z")),
      (Seq(StatsEq("tablet_id", "nope")), _.filter(col("tablet_id") === "nope")))
    for ((filters, pred) <- cases)
      assert(rowSet(pred(t.readPruned(filters))) === rowSet(pred(t.read())),
        s"mismatch for $filters")

    // The bands are disjoint, so each single-band filter must drop files.
    val (k1, n) = t.pruneCounts(Seq(StatsLte("height", 5L)))
    assert(n >= 3 && k1 < n, s"height<=5 kept $k1 of $n")
    val (k2, _) = t.pruneCounts(Seq(StatsEq("tablet_id", "t3")))
    assert(k2 < n, s"tablet_id=t3 kept $k2 of $n")
    val (k3, _) = t.pruneCounts(Seq(StatsEq("tablet_id", "absent")))
    assert(k3 === 0, "a key outside every file's bounds must prune everything")
  }

  test("string bounds survive hostile characters and JSON round-trip") {
    implicit val s = spark
    val t = new ManifestTable(tmpDir("mstats-str"), schema,
      statsCols = Seq("tablet_id", "primary_key"))
    val nasty = Seq("a,b", "x]y", "q{z}", "quo\"te", "back\\slash", "é-accent")
    t.commit(df(nasty.map(k => ("t1", 1L, k)): _*), "c0")
    t.commit(df(("t2", 2L, "plain")), "c1")
    for (k <- nasty) {
      val got = rowSet(t.readPruned(Seq(StatsEq("primary_key", k)))
        .filter(col("primary_key") === k))
      assert(got === Set(("t1", 1L, k)), s"lost key $k through the manifest")
    }
    // And the commit-1 file is actually prunable by those probes.
    val (kept, total) = t.pruneCounts(Seq(StatsEq("primary_key", "é-accent")))
    assert(kept < total)
  }

  test("bounds compare as UTF-8 bytes, not UTF-16 code units") {
    implicit val s = spark
    val t = new ManifestTable(tmpDir("mstats-utf"), schema,
      statsCols = Seq("primary_key"))
    // U+FFFF vs U+10000 (surrogate pair): UTF-16 order says
    // "￿" > "𐀀", UTF-8 byte order (= Spark min/max order)
    // says the opposite. A String.compareTo-based pruner would drop the
    // file for the U+FFFF probe because it sits "above" the byte-order max.
    val hi = "𐀀" // U+10000
    val mid = "￿"
    t.commit(df(("t1", 1L, "a"), ("t1", 2L, mid), ("t1", 3L, hi)), "c0")
    val got = rowSet(t.readPruned(Seq(StatsEq("primary_key", mid)))
      .filter(col("primary_key") === mid))
    assert(got === Set(("t1", 2L, mid)))
  }

  test("stats-less manifests read fine and never prune; stats resume on later commits") {
    implicit val s = spark
    val path = tmpDir("mstats-legacy")
    val legacy = new ManifestTable(path, schema) // no statsCols: v1 format
    legacy.commit(df(("t1", 1L, "a")), "c0")

    val t = new ManifestTable(path, schema,
      statsCols = Seq("tablet_id", "height", "primary_key"))
    // The legacy file has no bounds → survives every filter.
    val (kept0, total0) = t.pruneCounts(Seq(StatsEq("tablet_id", "zzz")))
    assert(total0 >= 1 && kept0 === total0)

    t.commit(df(("t2", 10L, "b")), "c1")
    // New commit has bounds and prunes; legacy file still always kept.
    val (kept1, total1) = t.pruneCounts(Seq(StatsEq("tablet_id", "zzz")))
    assert(total1 > total0 && kept1 === total0)
    assert(rowSet(t.readPruned(Seq(StatsEq("tablet_id", "t2")))
      .filter(col("tablet_id") === "t2")) === Set(("t2", 10L, "b")))
    // Full read is unaffected by the mixed manifest.
    assert(rowSet(t.read()) === Set(("t1", 1L, "a"), ("t2", 10L, "b")))
  }


  test("footer bounds equal a groupBy(input_file_name) min/max over the " +
    "same files, after commit, replaceAll and merge: byte-order traps, " +
    "empty string, mixed and all-null columns, an int column, several " +
    "row groups per file") {
    implicit val s = spark
    import org.apache.spark.sql.types.{BooleanType, IntegerType}
    val wide = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("k", StringType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("n", StringType, nullable = true),
      StructField("z", StringType, nullable = true),
      StructField("del", BooleanType, nullable = false)))
    val statsCols = Seq("id", "k", "h", "i", "n", "z")
    val t = new ManifestTable(tmpDir("mstats-footer"), wide, statsCols = statsCols)
    // "a" < "é" and U+FFFF < U+10000 as unsigned UTF-8 bytes; signed
    // bytes (or UTF-16 units) order each pair the other way.
    val traps = Seq("a", "é", "￿", "𐀀", "")
    def frame(ids: Range, h0: Long, files: Int): DataFrame = {
      val rows = ids.map { j =>
        Row(f"r$j%04d", traps(j % traps.size), h0 - j, (j * 37) % 101 - 50,
          // n: null for a whole leading row group, then mixed.
          if (j % 300 < 70 || j % 3 == 0) null else s"n$j", null, false)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, files), wide)
    }
    def sqlBounds(): Map[String, Map[String, (Any, Any)]] = {
      val rootPath = new org.apache.hadoop.fs.Path(t.tablePath).toUri.getPath
      val aggs = statsCols.flatMap(c => Seq(min(col(c)), max(col(c))))
      t.read().groupBy(input_file_name().as("f")).agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          val rel = new java.net.URI(r.getString(0)).getPath
            .stripPrefix(rootPath).stripPrefix("/")
          rel -> statsCols.zipWithIndex.flatMap { case (c, i) =>
            Option(r.get(1 + 2 * i)).map(lo => c -> (lo, r.get(2 + 2 * i)))
          }.toMap
        }.toMap
    }
    def manifestBounds(): Map[String, Map[String, (Any, Any)]] = {
      def plain(v: ManifestTable.StatVal): Any = v match {
        case ManifestTable.LongVal(l) => l
        case ManifestTable.BytesVal(b) => new String(b, "UTF-8")
      }
      t.manifestEntriesFull(t.currentGeneration().get).flatMap(e =>
        e.files.zip(e.stats)).map { case (f, b) =>
          f -> b.map { case (c, (lo, hi)) => c -> (plain(lo), plain(hi)) }
        }.toMap
    }
    def sameBounds(step: String): Unit = {
      val sql = sqlBounds().map { case (f, b) =>
        f -> b.map { case (c, (lo, hi)) => c -> ((lo, hi) match {
          case (a: Int, b: Int) => (a.toLong, b.toLong)
          case other => other
        }) }
      }
      val got = manifestBounds()
      assert(got.keySet === sql.keySet, step)
      for ((f, b) <- got) assert(b === sql(f), s"$step: $f")
      assert(got.values.forall(b => !b.contains("z")), s"$step: all-null z has no bounds")
    }
    spark.conf.set("parquet.block.row.count.limit", "64")
    try {
      t.commit(frame(0 until 300, 10000L, 2), "c0")
      t.commit(frame(300 until 420, 20000L, 1), "c1")
      val groups = graft.store.Footers.read(
        spark.sessionState.newHadoopConf(),
        graft.store.Footers.parquetLeaves(spark.sessionState.newHadoopConf(),
          t.tablePath))(_.getBlocks.size)
      assert(groups.forall(_ > 1), s"row groups per file: $groups")
      sameBounds("commit")
      t.replaceAll(t.read().repartition(3), "compact")
      sameBounds("replaceAll")
      val upd = frame(400 until 460, 30000L, 1)
      t.merge(upd, Seq("id"), "h", "del", "m0")
      sameBounds("merge")
      assert(t.read().count() === 460L)
    } finally spark.conf.unset("parquet.block.row.count.limit")
  }

  test("a column parquet wrote no min/max for (a value past its 4 KiB " +
    "statistics limit) leaves the file without bounds on it, and pruned " +
    "reads still return the file's rows") {
    implicit val s = spark
    val t = new ManifestTable(tmpDir("mstats-big"), schema,
      statsCols = Seq("tablet_id", "height", "primary_key"))
    // min + max of primary_key in c1's file come to over 4 KiB, so its
    // footer carries no min/max for that column. A SQL min/max read-back
    // would bound it; the footer-derived stats leave it unbounded, which
    // only means it is never pruned on primary_key.
    val big = "m" + "x" * 5000
    t.commit(df(("t1", 1L, "a"), ("t1", 2L, "b")).coalesce(1), "c0")
    t.commit(df(("t2", 3L, big), ("t2", 4L, "n")).coalesce(1), "c1")
    def plain(v: ManifestTable.StatVal): Any = v match {
      case ManifestTable.LongVal(l) => l
      case ManifestTable.BytesVal(b) => new String(b, "UTF-8")
    }
    val bounds = t.manifestEntriesFull(t.currentGeneration().get)
      .flatMap(_.stats).map(_.map { case (c, (lo, hi)) => c -> (plain(lo), plain(hi)) })
    assert(bounds.toSet === Set(
      Map("tablet_id" -> ("t1", "t1"), "height" -> (1L, 2L), "primary_key" -> ("a", "b")),
      Map("tablet_id" -> ("t2", "t2"), "height" -> (3L, 4L))), bounds)
    for (k <- Seq(big, "n")) {
      assert(rowSet(t.readPruned(Seq(StatsEq("primary_key", k)))
        .filter(col("primary_key") === k)) === rowSet(df(("t2", if (k == big) 3L else 4L, k))))
      assert(t.pruneCounts(Seq(StatsEq("primary_key", k))) === ((1, 2)), k)
    }
    // The other columns of that file still prune.
    assert(t.pruneCounts(Seq(StatsEq("tablet_id", "t1"))) === ((1, 2)))
  }

  // ------------------------------------------------------------ StateStore

  private def req(h: Long, rows: (String, String, String)*): WriteRequest =
    WriteRequest(h, BlockRef(s"blk-$h", h),
      rows.map { case (t, pk, v) =>
        TabletRowM(1, t, h, pk, v.getBytes("UTF-8"), v.isEmpty) },
      Nil)

  test("store reads prune the manifest file list and stay exact; compaction keeps stats") {
    implicit val s = spark
    val store = new StateStore(tmpDir("mstats-store"), StateStore.ManifestCommit)
    // 6 single-height commits over two tablets — 1 commit dir each.
    for (h <- 0L to 5L)
      store.writeBatch(Seq(req(h,
        (if (h % 2 == 0) "t1" else "t2", s"k$h", s"v$h"))))

    def manifest = store.manifestTableFor(store.tabletRowsPath)

    // The flagship read at h=2 needs only t1's files at heights <= 2.
    val expected2 = rowSet2(store.readTabletAt("t1", 2L))
    assert(expected2 === Set(("k0", "v0"), ("k2", "v2")))
    val (kept, total) = manifest.pruneCounts(Seq(
      StatsEq("tablet_id", "t1"), StatsLte("height", 2L)))
    assert(total === 6 && kept === 2, s"expected 2 of 6 files, got $kept of $total")

    // Point read prunes on primary_key too.
    assert(rowSet2(store.readTabletRowAt("t1", "k4", 5L)) === Set(("k4", "v4")))
    val (keptPk, _) = manifest.pruneCounts(Seq(
      StatsEq("tablet_id", "t1"), StatsEq("primary_key", "k4"),
      StatsLte("height", 5L)))
    assert(keptPk === 1)

    // Compaction republishes via replaceAll → fresh stats on the new files.
    store.compactTabletRows(numFiles = 2)
    assert(rowSet2(store.readTabletAt("t1", 2L)) === expected2)
    val (_, totalC) = manifest.pruneCounts(Nil)
    assert(totalC === 2, "compaction should leave exactly numFiles stat-carrying files")
    val (keptC, _) = manifest.pruneCounts(Seq(StatsEq("tablet_id", "t0-absent")))
    assert(keptC === 0, "compacted files must carry fresh bounds")
  }

  private def rowSet2(d: DataFrame): Set[(String, String)] =
    d.collect().map(r =>
      (r.getAs[String]("primary_key"),
        new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSet

  test("manifest checkpointing: interval-N tables write the full listing " +
    "only at checkpoint/rewrite generations; delta-only generations " +
    "reconstruct exactly — contents, stats pruning, time travel, " +
    "idempotent replay, loud corruption") {
    implicit val s = spark
    val dirA = tmpDir("mckpt-a"); val dirB = tmpDir("mckpt-b")
    def mk(dir: String, interval: Int) =
      new ManifestTable(dir, schema, statsCols = Seq("tablet_id", "height"),
        checkpointInterval = interval)
    val a = mk(dirA, 1) // every generation a full manifest (legacy layout)
    val b = mk(dirB, 4)
    val commits = (0 until 6).map(i =>
      (f"c$i", df((s"t${i % 2}", i.toLong * 10, s"pk$i"))))
    commits.foreach { case (cid, d) => a.commit(d, cid); b.commit(d, cid) }

    val fs = new org.apache.hadoop.fs.Path(dirB)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def fullManifestExists(dir: String, g: Long): Boolean = {
      // Full manifests are owner-suffixed objects (m-<gen>.<nonce>.json);
      // the unsuffixed legacy name still counts for pre-r18 layouts.
      val d = new org.apache.hadoop.fs.Path(s"$dir/_manifests")
      fs.exists(d) && fs.listStatus(d).exists { st =>
        val n = st.getPath.getName
        n.startsWith(f"m-$g%09d.") && n.endsWith(".json")
      }
    }
    // Interval 4: full listings at generation 4 ONLY; 1,2,3,5,6 delta-only.
    assert((1L to 6L).filter(fullManifestExists(dirB, _)) === Seq(4L))
    assert((1L to 6L).forall(fullManifestExists(dirA, _)))

    // Every generation reads identically on both layouts: head, pruned,
    // and time travel through the delta-only generations.
    assert(rowSet(b.read()) === rowSet(a.read()))
    (1L to 6L).foreach { g =>
      assert(rowSet(b.readAt(g)) === rowSet(a.readAt(g)), s"gen $g")
    }
    val f = Seq(StatsEq("tablet_id", "t1"), StatsLte("height", 30L))
    assert(rowSet(b.readPruned(f).filter(col("tablet_id") === "t1" &&
      col("height") <= 30)) === rowSet(a.readPruned(f)
      .filter(col("tablet_id") === "t1" && col("height") <= 30)))
    assert(b.pruneCounts(f) === a.pruneCounts(f),
      "delta-reconstructed stats must prune identically")
    // Per-file BYTE sizes survive delta-only reconstruction too — the
    // changefeed's volume budget must work on interval-N tables.
    (1L to 6L).foreach { g =>
      assert(b.manifestEntriesFull(g).forall(e =>
        e.bytes.size == e.files.size && e.bytes.forall(_ > 0L)),
        s"gen $g must carry per-file sizes through reconstruction")
    }

    // Idempotent replay at a delta-only generation: same commitId skips.
    assert(!b.commit(commits.head._2, "c0"))
    assert(b.currentGeneration().get === 6L)

    // A rewrite generation always checkpoints (7 % 4 != 0): compaction
    // writes the full listing and reads stay exact.
    b.replaceAll(b.read(), "compact-1")
    assert(fullManifestExists(dirB, 7L))
    assert(rowSet(b.readAt(7L)) === rowSet(a.read()))
    // ...and appends after it go back to delta-only until the next
    // checkpoint generation (8 % 4 == 0 → full again).
    b.commit(df(("t9", 99L, "pk9")), "c9")
    assert(fullManifestExists(dirB, 8L)) // 8 is a checkpoint generation
    b.commit(df(("t9", 100L, "pk10")), "c10")
    assert(!fullManifestExists(dirB, 9L))
    assert(rowSet(b.read()) === rowSet(a.read()) +
      (("t9", 99L, "pk9")) + (("t9", 100L, "pk10")))

    // A nonexistent generation still fails loudly under the new layout.
    intercept[IllegalArgumentException] { b.readAt(42L) }
    // Corruption (a deleted sidecar needed for reconstruction) is loud
    // EVERYWHERE — not silently partial, and critically not a silently
    // EMPTY live set (which would let sweepOrphans delete all data).
    fs.delete(new org.apache.hadoop.fs.Path(f"$dirB/_manifests/d-${9L}%09d.json"), false)
    val e = intercept[Exception] { b.readAt(9L) }
    assert(e.getMessage.contains("neither a full manifest nor a delta") ||
      e.getMessage.contains("cannot reconstruct"), e.getMessage)
    val e2 = intercept[Exception] { b.read() }
    assert(e2.getMessage.contains("neither a full manifest nor a delta"),
      e2.getMessage)
    intercept[Exception] { b.sweepOrphans() } // sweep must refuse, not reap
  }

  test("a crashed rewrite's orphan full manifest cannot shadow a later " +
    "delta-only commit at the same generation (reads AND the sweep's " +
    "live set follow the committed sidecar, not the aborted listing)") {
    implicit val s = spark
    val dir = tmpDir("mckpt-orphan")
    val t = new ManifestTable(dir, schema, statsCols = Seq("tablet_id"),
      checkpointInterval = 4)
    t.commit(df(("t1", 1L, "a")), "c0") // generation 1, delta-only
    // A rewrite (replaceAll/merge) attempt at generation 2 that crashed
    // BETWEEN its full-manifest write and the pointer swap: the orphan
    // m-2 lists a file set the table never published.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val orphan = new org.apache.hadoop.fs.Path(
      f"$dir/_manifests/m-${2L}%09d.json")
    val out = fs.create(orphan, true)
    out.write(
      """{"commit_id":"aborted-rewrite","files":["d-aborted-g2/x.parquet"]}"""
        .getBytes("UTF-8"))
    out.close()

    // The next delta-only commit at the SAME generation must not let the
    // aborted listing shadow its sidecar: under interval 1 every publisher
    // overwrote m-<gen>; the delta-only path restores that by deletion.
    assert(t.commit(df(("t1", 2L, "b")), "c1"))
    assert(!fs.exists(orphan), "orphan manifest must be removed at publish")
    assert(rowSet(t.read()) === Set(("t1", 1L, "a"), ("t1", 2L, "b")))
    assert(rowSet(t.readAt(2L)) === Set(("t1", 1L, "a"), ("t1", 2L, "b")))
    // The sweep computes liveness from the committed state — both
    // commits' directories survive it.
    t.sweepOrphans(retainGenerations = 1)
    assert(rowSet(t.read()) === Set(("t1", 1L, "a"), ("t1", 2L, "b")))
  }

  test("reader-pins-generation vs sweepOrphans(retainGenerations): a read " +
    "planned inside the retention window survives the sweep; one planned " +
    "outside fails LOUDLY on missing files, never partial data") {
    implicit val s = spark
    val t = new ManifestTable(tmpDir("sweep-race"), schema)
    t.commit(df(("t1", 1L, "a")), "c0") // gen 1
    t.commit(df(("t1", 2L, "b")), "c1") // gen 2
    t.replaceAll(t.read(), "compact")   // gen 3 rewrites — gens 1-2 now stale
    t.commit(df(("t1", 3L, "c")), "c2") // gen 4

    // A reader pins generation 2 (plans the DataFrame — the files are
    // resolved from the immutable manifest) BEFORE any sweep runs.
    val pinnedInWindow = t.readAt(4L)  // current: survives any sweep
    val pinnedStale = t.readAt(2L)     // pre-compaction: outside window 1

    // Sweep with a window that RETAINS generation 2's files (gens 3,4
    // reference only the compaction output; retain 3 => gens 2,3,4).
    t.sweepOrphans(retainGenerations = 3)
    assert(rowSet(pinnedStale) === Set(("t1", 1L, "a"), ("t1", 2L, "b")),
      "a read within the retention window must survive the sweep")

    // Sweep down to the current generation only: generation 2's data
    // directories are reclaimed. The pinned stale read must now fail on
    // the missing files — loudly, not as silently partial/empty data.
    val swept = t.sweepOrphans(retainGenerations = 1)
    assert(swept.nonEmpty, "the narrow sweep must reclaim stale commit dirs")
    val e = intercept[Exception] { pinnedStale.collect() }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.toLowerCase.contains("exist") ||
      msg.toLowerCase.contains("not found") ||
      msg.contains("FileNotFound"), s"must fail on missing files: $msg")
    // The in-window pin keeps serving, as do fresh reads.
    assert(rowSet(pinnedInWindow) ===
      Set(("t1", 1L, "a"), ("t1", 2L, "b"), ("t1", 3L, "c")))
    assert(rowSet(t.read()) === rowSet(pinnedInWindow))
  }

  test("sidecar parse is positionally anchored: a stats column literally " +
    "named 'fresh' (or 'rewrite') cannot be mistaken for the per-file " +
    "dataChange fields") {
    implicit val s = spark
    import s.implicits._
    // Schema whose columns collide with the sidecar's own field names —
    // their stats bounds serialize as `"fresh":["l:..","l:.."]` /
    // `"rewrite":[...]` INSIDE the stats section, after `files`.
    val hostile = StructType(Seq(
      StructField("fresh", LongType, nullable = false),
      StructField("rewrite", LongType, nullable = false),
      StructField("primary_key", StringType, nullable = false)))
    val dir = tmpDir("mstats-hostile")
    val t = new ManifestTable(dir, hostile, statsCols = Seq("fresh", "rewrite"))
    def d(rows: (Long, Long, String)*) = rows.toDF("fresh", "rewrite", "primary_key")
    t.commit(d((1L, 5L, "a"), (2L, 6L, "b")), "c0")
    t.replaceAll(d((3L, 7L, "c")), "compact") // rewrite generation 2

    // A rewrite sidecar WITH a real fresh field (replaceAll records
    // known-none) parses it, not the stats bounds.
    val rec2 = t.deltaRecord(2L).get
    assert(rec2.rewrite)
    assert(rec2.fresh === Some(Seq.empty),
      s"replaceAll records fresh known-none, got ${rec2.fresh}")
    assert(rec2.entry.stats.head.keySet === Set("fresh", "rewrite"))

    // A rewrite sidecar WITHOUT a fresh field (backfilled/legacy) must
    // report fresh = None (unknown) — the pre-fix parser captured the
    // stats column's tagged bounds as a fresh-FILE list here, and
    // emitFresh would then scan garbage paths instead of skipping.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      f"$dir/_manifests/d-${2L}%09d.json"), false)
    val (synth, present) = t.backfillDeltaSidecars()
    assert(synth === 1 && present === 1)
    val rec2b = t.deltaRecord(2L).get
    assert(rec2b.rewrite, "the synthesized sidecar still marks the rewrite")
    assert(rec2b.fresh === None,
      s"no fresh field must parse as UNKNOWN, got ${rec2b.fresh}")
    rec2b.fresh.foreach(_.foreach(f =>
      assert(!f.startsWith("l:"), s"stats bound leaked into fresh list: $f")))

    // A sidecar MISSING the rewrite field entirely (foreign writer /
    // hand-damaged) stays LOUD corruption — a silent rewrite=false would
    // re-deliver a rewrite's whole file list as fresh mutations.
    val d2p = new org.apache.hadoop.fs.Path(
      f"$dir/_manifests/d-${2L}%09d.json")
    val out = fs.create(d2p, true)
    try out.write(
      """{"commit_id":"x","files":["d-x-g2/a.parquet"]}""".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[Exception] { t.deltaRecord(2L) }
    assert(e.getMessage.contains("no rewrite field"), e.getMessage)
  }

  test("min-reader gate: every publish writes the owner-carrying g5 frame " +
    "— a too-old reader fails loudly instead of misreading owner-suffixed " +
    "manifests or missing full manifests; legacy frames still read") {
    implicit val s = spark
    val fsc = spark.sessionState.newHadoopConf()
    def pointerOf(dir: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_gen")
      val in = p.getFileSystem(fsc).open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
    }
    val G5 = """^g5:(\d+):([0-9a-f]+):(\d+);$""".r
    def g4Gen(text: String): Long = text match {
      case G5(x, _, y) if x == y => x.toLong
      case _ => fail(s"not a valid g5 frame: '$text'")
    }
    // Interval 1 (base layout) publishes g4 like every other path.
    val dirA = tmpDir("mgate-a")
    val a = new ManifestTable(dirA, schema)
    a.commit(df(("t1", 1L, "a")), "c0")
    assert(g4Gen(pointerOf(dirA)) === 1L)

    // Interval 4: delta-only generations ride the same frame; the owner
    // segment changes per publishing attempt, the doubled generation
    // keeps the torn-read self-validation.
    val dirB = tmpDir("mgate-b")
    val b = new ManifestTable(dirB, schema, checkpointInterval = 4)
    b.commit(df(("t1", 1L, "a")), "c0")
    assert(g4Gen(pointerOf(dirB)) === 1L)
    (2 to 4).foreach(i => b.commit(df(("t1", i.toLong, s"k$i")), s"c$i"))
    b.replaceAll(b.read(), "compact")
    assert(g4Gen(pointerOf(dirB)) === 5L)
    val b2 = new ManifestTable(dirB, schema, checkpointInterval = 4)
    b2.commit(df(("t2", 9L, "z")), "c9")
    assert(g4Gen(pointerOf(dirB)) === 6L)
    assert(a.currentGeneration() === Some(1L))
    assert(b2.currentGeneration() === Some(6L))
    assert(rowSet(b2.read()).nonEmpty)
    // The pointer's owner matches the head sidecar's: the fencing
    // cross-check reads clean after every normal publish.
    assert(b2.verifyHead() === None)

    // The pre-fencing reader's exact parse (g2/g3 frame or bare digits,
    // else corrupt): a g4 pointer fails it loudly — the gate's whole
    // point (a rolled-back binary must never read this table as empty).
    val legacyRe = """^g([23]):(\d+):(\d+);$""".r
    val text = pointerOf(dirB)
    val legacyParses = text match {
      case legacyRe(_, x, y) if x == y => true
      case _ if text.nonEmpty && text.forall(_.isDigit) => true
      case _ => false
    }
    assert(!legacyParses, s"a pre-fencing reader must NOT parse '$text'")

    // Legacy frames written by older binaries still READ: g2, g3, bare.
    val gp = new org.apache.hadoop.fs.Path(s"$dirB/_gen")
    def writePointer(content: String): Unit = {
      val out = gp.getFileSystem(fsc).create(gp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    writePointer("g3:6:6;")
    assert(new ManifestTable(dirB, schema).currentGeneration() === Some(6L))
    writePointer("g2:6:6;")
    assert(new ManifestTable(dirB, schema).currentGeneration() === Some(6L))
    writePointer("6")
    assert(new ManifestTable(dirB, schema).currentGeneration() === Some(6L))

    // The r17 owner frame (g4) remains fully readable — the r18 g5 bump
    // gates only readers that predate owner-suffixed manifests.
    writePointer("g4:6:deadbeef:6;")
    assert(new ManifestTable(dirB, schema).currentGeneration() === Some(6L))
    // Forward compatibility: FUTURE frames (3- or 4-segment g6) are
    // refused with an upgrade message, not mistaken for corruption or an
    // empty table.
    for (future <- Seq("g6:6:6;", "g6:6:deadbeef:6;")) {
      writePointer(future)
      val e = intercept[Exception] {
        new ManifestTable(dirB, schema).currentGeneration()
      }
      assert(e.getMessage.contains("newer than this reader"), e.getMessage)
    }
  }

  test("aqeScopeOff is depth-counted: overlapping scopes from concurrent " +
    "threads restore the ORIGINAL value, never each other's 'false'") {
    val key = "spark.sql.adaptive.enabled"
    val original = spark.conf.get(key, "true")
    spark.conf.set(key, "true")
    try {
      // Nested (same thread): inner exit must NOT restore yet.
      ManifestTable.aqeScopeOff(spark) {
        assert(spark.conf.get(key) === "false")
        ManifestTable.aqeScopeOff(spark) {
          assert(spark.conf.get(key) === "false")
        }
        assert(spark.conf.get(key) === "false",
          "inner scope exit must not restore while the outer is active")
      }
      assert(spark.conf.get(key) === "true")
      // Overlapping (two threads): the naive set/restore pair would let
      // the second thread capture "false" as the previous value and pin
      // the session; the depth counter must restore "true" at the end.
      val enteredA = new java.util.concurrent.CountDownLatch(1)
      val enteredB = new java.util.concurrent.CountDownLatch(1)
      val exitA = new java.util.concurrent.CountDownLatch(1)
      val a = new Thread(() => ManifestTable.aqeScopeOff(spark) {
        enteredA.countDown()
        enteredB.await(10, java.util.concurrent.TimeUnit.SECONDS)
        exitA.await(10, java.util.concurrent.TimeUnit.SECONDS)
      })
      val b = new Thread(() => ManifestTable.aqeScopeOff(spark) {
        enteredB.countDown()
        // B exits FIRST while A is still inside.
      })
      a.start()
      enteredA.await(10, java.util.concurrent.TimeUnit.SECONDS)
      b.start(); b.join(10000)
      assert(spark.conf.get(key) === "false",
        "A still inside: the scope must stay off after B's exit")
      exitA.countDown(); a.join(10000)
      assert(spark.conf.get(key) === "true",
        "the outermost exit restores the value captured BEFORE any scope")
      // Leak pin: the per-session entry dies with its last scope — the map
      // must not strongly retain the session for the JVM lifetime.
      assert(ManifestTable.aqeScopeCount === 0,
        "scope-state entries must be removed when the depth returns to 0")
      // And a fresh scope after the removal still round-trips correctly.
      ManifestTable.aqeScopeOff(spark) {
        assert(spark.conf.get(key) === "false")
      }
      assert(spark.conf.get(key) === "true")
      assert(ManifestTable.aqeScopeCount === 0)
    } finally spark.conf.set(key, original)
  }
}
