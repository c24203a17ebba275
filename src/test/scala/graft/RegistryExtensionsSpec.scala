package graft

import graft.model.{CollectionRegistry, CollectionSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

class RegistryExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("collection registry: registration rules and typed JSON decode") {
    CollectionRegistry.clear()
    val spec = CollectionRegistry.register(
      CollectionSpec(0x0001, "balances", isSinglet = false,
        valueSchema = Some(StructType(Seq(
          StructField("token", StringType), StructField("amount", LongType))))))
    intercept[IllegalArgumentException] {
      CollectionRegistry.register(spec) // duplicate id
    }
    intercept[IllegalArgumentException] {
      CollectionRegistry.register(CollectionSpec(0xFFF5, "reserved", isSinglet = true))
    }
    val df = Seq(("""{"token":"tk","amount":42}""".getBytes("UTF-8"), 1L))
      .toDF("value", "height")
    val decoded = CollectionRegistry.decoded(df, spec)
    val row = decoded.select($"value_decoded.token", $"value_decoded.amount").collect().head
    assert(row.getString(0) === "tk" && row.getLong(1) === 42L)
    CollectionRegistry.clear()
  }

  test("GraftExtensions registers graft_dot and graft_word_shingles for SQL") {
    // Extensions apply at session build time. Clear the default session so
    // getOrCreate builds a NEW session over the existing SparkContext (do
    // NOT stop it — the context is shared with the other suites).
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val dot = s2.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect().head.getDouble(0)
      assert(dot === 11.0)
      val sh = s2.sql(
        "SELECT graft_word_shingles('a b c d', 3) AS s")
        .collect().head.getSeq[String](0)
      assert(sh === Seq("a b c", "b c d"))
      val ic = s2.sql(
        "SELECT graft_sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 9L)) AS c")
        .collect().head.getLong(0)
      assert(ic === 2L)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("stateAsOf custom logical plan: the injected rule rewrites the marker " +
    "into the readTabletAt plan, results match exactly, and operators " +
    "stacked over the marker keep resolving") {
    import org.apache.spark.sql.functions.col
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val dir = "/root/testdata/sf0.001"
      val m = graft.queries.TemporalQueries.mutations(s2, dir)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
        df.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      val viaNode = graft.plans.StateAsOf.stateAsOf(m, "click", 8000L)
      val direct = graft.read.TemporalReads.readTabletAt(m, "click", 8000L)
      assert(rows(viaNode) === rows(direct))
      assert(rows(viaNode).nonEmpty)
      // The marker is planned away entirely.
      assert(!viaNode.queryExecution.optimizedPlan.toString.contains("StateAsOf"))
      // Composability: a caller predicate stacked OVER the marker resolves
      // and agrees with the function-call form.
      val overMarker = graft.plans.StateAsOf.stateAsOf(m, "click", 8000L)
        .filter(col("primary_key") < "0500").count()
      val overDirect = direct.filter(col("primary_key") < "0500").count()
      assert(overMarker === overDirect && overMarker > 0L)
      // A child missing the read's columns fails loudly (the analyzer
      // wraps the node's IllegalArgumentException).
      val ex = intercept[Exception] {
        graft.plans.StateAsOf.stateAsOf(
          m.drop("value"), "click", 8000L).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(m2 =>
        m2.contains("must carry column") || m2.contains("cannot be resolved")),
        messages(ex).mkString(" | "))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("store-backed stateAsOf: the rule resolves the latest TabletIndex at " +
    "planning time and plans snapshot ∪ tail — heights at or below the " +
    "snapshot are pruned from the tail scan; ignore-range and no-snapshot " +
    "fall back to the full-history plan; results match the function path") {
    import graft.model.{BlockRef, TabletRowM, WriteRequest}
    import graft.store.StateStore
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      implicit val is: SparkSession = s2
      val store = new StateStore(tmpDir("sao-store"))
      def req(h: Long): WriteRequest =
        WriteRequest(h, BlockRef(s"blk-$h", h),
          Seq(TabletRowM(1, "t1", h, s"k${h % 4}",
            s"v$h".getBytes("UTF-8"), isDeletion = h == 7L)),
          Nil)
      (0L to 9L).foreach(h => store.writeBatch(Seq(req(h))))
      val idx = graft.snapshot.Snapshots.buildTabletIndex(store.tabletRows, "t1", 5L)
      store.writeTabletSnapshot(idx, "t1", 5L, 6L)

      def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
        df.collect().map(r =>
          (r.getString(0), r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSeq
      def tailBoundBelow(df: org.apache.spark.sql.DataFrame, snapH: Long): Boolean =
        df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
          .exists(_.find {
            case GreaterThan(a: AttributeReference, Literal(v, _)) =>
              a.name == "height" && v == snapH
            case _ => false
          }.isDefined)

      val viaRule = graft.plans.StateAsOf.stateAsOf(store, "t1", 9L)
      val viaFn = store.readTabletAt("t1", 9L)
      val plain = graft.read.TemporalReads.readTabletAt(store.tabletRows, "t1", 9L)
      assert(rows(viaRule) === rows(viaFn))
      assert(rows(viaRule) === rows(plain))
      assert(rows(viaRule).nonEmpty)
      // PLAN SHAPE: the rule planned the snapshot read — the snapshot keys
      // hydrate through a semi-join and the mutation tail is bounded
      // strictly ABOVE the snapshot height (history ≤ 5 pruned from it).
      val optimized = viaRule.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("StateAsOf"))
      assert(optimized.contains("LeftSemi"), optimized)
      assert(tailBoundBelow(viaRule, 5L), optimized)

      // An ignore-range swallowing the only snapshot: the rule falls back
      // to the full-history plan (no semi-join), same result.
      val ignored = graft.plans.StateAsOf.stateAsOf(store, "t1", 9L, Some((4L, 6L)))
      assert(rows(ignored) === rows(plain))
      assert(!ignored.queryExecution.optimizedPlan.toString.contains("LeftSemi"))

      // A tablet with no snapshot at all: full-history plan, loudly absent
      // semi-join, and still composable (marker planned away).
      store.writeBatch(Seq(WriteRequest(10L, BlockRef("blk-10", 10L),
        Seq(TabletRowM(1, "t2", 10L, "z", "z10".getBytes("UTF-8"), isDeletion = false)), Nil)))
      val noSnap = graft.plans.StateAsOf.stateAsOf(store, "t2", 11L)
      assert(rows(noSnap) === Seq(("z", 10L, "z10")))
      assert(!noSnap.queryExecution.optimizedPlan.toString.contains("LeftSemi"))

      // PURE-SQL surface: the graft_state_as_of TABLE function builds the
      // same store marker, so a SQL-only consumer gets the identical
      // snapshot-aware plan — results equal the function path, the
      // snapshot read keeps its semi-join hydration, and predicates stack
      // over the TVF like over any relation.
      val root = store.root
      val viaSql = s2.sql(
        s"SELECT * FROM graft_state_as_of('$root', 't1', 9)")
      assert(rows(viaSql) === rows(viaFn))
      val sqlPlan = viaSql.queryExecution.optimizedPlan.toString
      assert(!sqlPlan.contains("StateAsOf"))
      assert(sqlPlan.contains("LeftSemi"), sqlPlan)
      val filtered = s2.sql(
        s"""SELECT value FROM graft_state_as_of('$root', 't1', 9)
           |WHERE primary_key = 'k1'""".stripMargin)
        .collect().map(r => new String(r.getAs[Array[Byte]](0), "UTF-8")).toSeq
      assert(filtered === rows(viaFn).filter(_._1 == "k1").map(_._3))
      // Non-literal arguments fail loudly at analysis, not silently.
      val err = intercept[Exception] {
        s2.sql(s"SELECT * FROM graft_state_as_of('$root', 't1', 4 + 5)")
          .collect()
      }
      assert(err.getMessage.contains("integer literal"), err.getMessage)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("graft_state_as_of auto-detects the commit protocol: a manifest store " +
    "root reads only committed generations, never crashed attempt dirs") {
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    import graft.store.StateStore
    import graft.model.{BlockRef, TabletRowM, WriteRequest}
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      implicit val is: SparkSession = s2
      val store = new StateStore(tmpDir("sao-manifest"), StateStore.ManifestCommit)
      def req(h: Long): WriteRequest =
        WriteRequest(h, BlockRef(s"blk-$h", h),
          Seq(TabletRowM(1, "t1", h, s"k${h % 3}",
            s"v$h".getBytes("UTF-8"), isDeletion = false)),
          Nil)
      (0L to 5L).foreach(h => store.writeBatch(Seq(req(h))))
      // Simulate a crashed commit: data staged under an attempt dir that no
      // manifest references; the reader must not scan it.
      val m = store.manifestTableFor(store.tabletRowsPath)
      m.failBeforePublish = true
      intercept[IllegalStateException] {
        store.writeBatch(Seq(req(6L)))
      }
      m.failBeforePublish = false
      val viaSql = s2.sql(
        s"SELECT * FROM graft_state_as_of('${store.root}', 't1', 99)")
        .collect().map(r =>
          (r.getString(0), new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSeq
      // Heights 0..5 committed → keys k0..k2 at their latest; the crashed
      // height-6 attempt (k0@v6) must be invisible.
      assert(viaSql === Seq(("k0", "v3"), ("k1", "v4"), ("k2", "v5")))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("graft_tablet_diff TVF: the state-diff changefeed read in pure SQL " +
    "equals the store function path, predicates stack") {
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    import graft.store.StateStore
    import graft.model.{BlockRef, TabletRowM, WriteRequest}
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      implicit val is: SparkSession = s2
      val store = new StateStore(tmpDir("diff-tvf"), StateStore.ManifestCommit)
      def req(h: Long): WriteRequest =
        WriteRequest(h, BlockRef(s"blk-$h", h),
          Seq(TabletRowM(1, "t1", h, s"k${h % 3}",
            s"v$h".getBytes("UTF-8"), isDeletion = h == 5L)),
          Nil)
      (0L to 7L).foreach(h => store.writeBatch(Seq(req(h))))

      def evs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[String]("primary_key"),
          r.getAs[String]("change_type"), r.getAs[Long]("change_height"))).toSeq
      val viaFn = evs(store.readTabletDiff("t1", 3L, 7L))
      val viaSql = evs(s2.sql(
        s"SELECT * FROM graft_tablet_diff('${store.root}', 't1', 3, 7)"))
      assert(viaSql === viaFn && viaFn.nonEmpty)
      // k2@5 is a deletion of a key live at h2 -> 'deleted' must be present.
      assert(viaFn.exists(_._2 == "deleted"))
      // Predicates stack over the TVF like over any relation.
      val only = s2.sql(
        s"""SELECT primary_key FROM graft_tablet_diff('${store.root}', 't1', 3, 7)
           |WHERE change_type = 'deleted'""".stripMargin)
        .collect().map(_.getString(0)).toSeq
      assert(only === viaFn.filter(_._2 == "deleted").map(_._1))
      // Non-literal arguments fail loudly.
      val err = intercept[Exception] {
        s2.sql(s"SELECT * FROM graft_tablet_diff('${store.root}', 't1', 1 + 2, 7)")
          .collect()
      }
      assert(err.getMessage.contains("integer literal"), err.getMessage)

      // Lifecycle verb: each diff analysis materializes an eager
      // localCheckpoint; SQL callers (who can't reach
      // GraftBridge.freeLocalCheckpoint) release them with
      // graft_release_diffs(). The diff below is held strongly by this
      // test, so its tracked weak ref MUST still resolve.
      val d2 = s2.sql(
        s"SELECT * FROM graft_tablet_diff('${store.root}', 't1', 0, 7)")
      d2.collect()
      val ids = d2.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id }
      assert(ids.nonEmpty, "diff TVF plan must carry its checkpoint RDD")
      assert(ids.forall(s2.sparkContext.getPersistentRDDs.contains),
        "checkpoint blocks live until released")
      val released = s2.sql("SELECT * FROM graft_release_diffs()")
        .collect().head.getInt(0)
      assert(released >= 1, s"held diff must be releasable, got $released")
      assert(ids.forall(id => !s2.sparkContext.getPersistentRDDs.contains(id)),
        "release must drop the held diff's blocks")
      // Idempotent: the session's registry is drained.
      assert(s2.sql("SELECT * FROM graft_release_diffs()")
        .collect().head.getInt(0) === 0)

      // With a checkpoint dir the TVF's diffs are RELIABLY checkpointed;
      // graft_release_diffs() must then also DELETE the checkpoint files
      // (they are never auto-reclaimed without cleanCheckpoints=true).
      org.apache.spark.sql.graftbridge.GraftBridge.withCheckpointDir(
        s2, tmpDir("diff-tvf-ck")) {
        val d3 = s2.sql(
          s"SELECT * FROM graft_tablet_diff('${store.root}', 't1', 0, 7)")
        d3.collect()
        val files = d3.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.getCheckpointFile
        }.flatten
        assert(files.nonEmpty, "TVF diff must be reliably checkpointed here")
        val p = new org.apache.hadoop.fs.Path(files.head)
        val fs = p.getFileSystem(s2.sessionState.newHadoopConf())
        assert(fs.exists(p))
        assert(s2.sql("SELECT * FROM graft_release_diffs()")
          .collect().head.getInt(0) >= 1)
        assert(!fs.exists(p),
          "graft_release_diffs must delete reliable-checkpoint files")
      }
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("graft_singlet_as_of TVF: the singlet point read in pure SQL " +
    "equals the store function path") {
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    import graft.store.StateStore
    import graft.model.{BlockRef, SingletEntryM, WriteRequest}
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      implicit val is: SparkSession = s2
      val store = new StateStore(tmpDir("singlet-tvf"), StateStore.ManifestCommit)
      def sreq(h: Long, v: String): WriteRequest =
        WriteRequest(h, BlockRef(s"blk-$h", h), Nil,
          Seq(SingletEntryM(1, "head", h, v.getBytes("UTF-8"), v.isEmpty)))
      store.writeBatch(Seq(sreq(0L, "h0"), sreq(1L, "h1")))
      store.writeBatch(Seq(sreq(2L, "h2")))

      def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[String]("singlet_id"), r.getAs[Long]("height"),
          new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSeq
      val viaFn = row(store.readSingletEntryAt("head", 1L))
      val viaSql = row(s2.sql(
        s"SELECT * FROM graft_singlet_as_of('${store.root}', 'head', 1)"))
      assert(viaSql === viaFn && viaFn === Seq(("head", 1L, "h1")))
      // Head read through SQL too.
      assert(row(s2.sql(
        s"SELECT * FROM graft_singlet_as_of('${store.root}', 'head', 99)"))
        === Seq(("head", 2L, "h2")))
      // Errors name THIS function.
      val err = intercept[Exception] {
        s2.sql(s"SELECT * FROM graft_singlet_as_of('${store.root}', 'head', 1 + 1)")
          .collect()
      }
      assert(err.getMessage.contains("graft_singlet_as_of"), err.getMessage)
      // FULL history through SQL (O3: most recent first) ≡ function path.
      val histSql = row(s2.sql(
        s"SELECT * FROM graft_singlet_history('${store.root}', 'head')"))
      val histFn = row(store.readSingletEntries("head"))
      assert(histSql === histFn &&
        histSql === Seq(("head", 2L, "h2"), ("head", 1L, "h1"), ("head", 0L, "h0")))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("fork-branch graft_state_as_of: SQL resolves a block ref through the " +
    "registered pipeline's fork tree ≡ the function path — including the " +
    "delete-then-speculative-reinsert matrix, fork branches, bare nums, " +
    "and the reference's not-found/unregistered errors") {
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    import graft.model.{BlockRef, TabletRowM, WriteRequest}
    import graft.store.StateStore
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      implicit val is: SparkSession = s2
      val store = new StateStore(tmpDir("branch-tvf"), StateStore.ManifestCommit)
      def trow(h: Long, pk: String, v: String): TabletRowM =
        TabletRowM(1, "t1", h, pk, v.getBytes("UTF-8"), v.isEmpty)
      def req(h: Long, rows: TabletRowM*): WriteRequest =
        WriteRequest(h, BlockRef(s"a$h", h), rows, Nil)
      // DURABLE history (read_test.go:115–144 shape): insert a, insert b,
      // then a durable TOMBSTONE of a at height 3.
      store.writeBatch(Seq(
        req(1, trow(1, "a", "a1")), req(2, trow(2, "b", "b2")),
        req(3, trow(3, "a", ""))))

      // Fork tree: LIB at a3; speculative chain a4 (REINSERTS the deleted
      // key) → a5 (new key c); competing fork b4 off a3 (updates b).
      val pipeline = new graft.streaming.IngestionPipeline(store)
      pipeline.forkDB.moveLIB(BlockRef("a3", 3))
      pipeline.forkDB.addLink(BlockRef("a4", 4), "a3", req(4, trow(4, "a", "a4-spec")))
      pipeline.forkDB.addLink(BlockRef("a5", 5), "a4", req(5, trow(5, "c", "c5")))
      pipeline.forkDB.addLink(BlockRef("b4", 4), "a3",
        WriteRequest(4, BlockRef("b4", 4), Seq(trow(4, "b", "b4-v")), Nil))

      // Unregistered root: loud, points at registerPipeline.
      val unreg = intercept[Exception] {
        s2.sql(s"SELECT * FROM graft_state_as_of('${store.root}', 't1', 5, 'a5')")
      }
      assert(unreg.getMessage.contains("registerPipeline"), unreg.getMessage)
      graft.functions.GraftExtensions.registerPipeline(store.root, pipeline)

      def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
        df.collect().map(r => (r.getAs[String]("primary_key"),
          r.getAs[Long]("height"),
          new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSeq
      def sql(at: Long, ref: String) = rows(s2.sql(
        s"SELECT * FROM graft_state_as_of('${store.root}', 't1', $at, '$ref')"))
      def fn(at: Long, ref: BlockRef) = rows(store.readTabletAt("t1", at,
        pipeline.speculativeTabletRowsFor(Some(ref))))

      // Head branch at a5: the tombstoned key comes BACK from the
      // speculative reinsert, c exists, b untouched. SQL ≡ function.
      val headRead = sql(5, "a5")
      assert(headRead === fn(5, BlockRef("a5", 0)))
      assert(headRead === Seq(("a", 4L, "a4-spec"), ("b", 2L, "b2"), ("c", 5L, "c5")))
      // Without the overlay the durable tombstone holds: a is absent.
      assert(rows(s2.sql(
        s"SELECT * FROM graft_state_as_of('${store.root}', 't1', 5)"))
        === Seq(("b", 2L, "b2")))
      // The COMPETING fork b4: b updated, a stays deleted, no c.
      val forkRead = sql(4, "b4")
      assert(forkRead === fn(4, BlockRef("b4", 0)))
      assert(forkRead === Seq(("b", 4L, "b4-v")))
      // Bare num ('#<num>') addresses the CURRENT chain truncated there —
      // explicit syntax, so an all-digit block ID can never misroute.
      assert(sql(4, "#4") === Seq(("a", 4L, "a4-spec"), ("b", 2L, "b2")))
      val badRef = intercept[Exception] { s2.sql(
        s"SELECT * FROM graft_state_as_of('${store.root}', 't1', 5, '')") }
      assert(badRef.getMessage.contains("block_ref"), badRef.getMessage)
      // Reference error semantics: unknown block / above head.
      val nf = intercept[Exception] { s2.sql(
        s"SELECT * FROM graft_state_as_of('${store.root}', 't1', 9, 'zz9')") }
      assert(nf.getMessage.contains("not found"), nf.getMessage)
      // Unregister restores the loud-failure state.
      graft.functions.GraftExtensions.unregisterPipeline(store.root)
      intercept[Exception] {
        s2.sql(s"SELECT * FROM graft_state_as_of('${store.root}', 't1', 5, 'a5')")
      }
    } finally {
      graft.functions.GraftExtensions.unregisterPipeline("") // no-op safety
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("fork-branch singlet TVFs: graft_singlet_as_of / graft_singlet_history " +
    "with a block ref ≡ the function path — speculative replaces durable " +
    "at the SAME height, history lists speculative entries first, " +
    "fork isolation and bare-num refs hold") {
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    import graft.model.{BlockRef, SingletEntryM, WriteRequest}
    import graft.store.StateStore
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      implicit val is: SparkSession = s2
      val store = new StateStore(tmpDir("branch-singlet-tvf"), StateStore.ManifestCommit)
      def sent(h: Long, v: String): SingletEntryM =
        SingletEntryM(1, "head", h, v.getBytes("UTF-8"), v.isEmpty)
      def req(h: Long, entries: SingletEntryM*): WriteRequest =
        WriteRequest(h, BlockRef(s"a$h", h), Nil, entries)
      // Durable: h1, h2, h3.
      store.writeBatch(Seq(
        req(1, sent(1, "d1")), req(2, sent(2, "d2")), req(3, sent(3, "d3"))))

      // Fork tree: LIB at a3. Speculative a4 carries an entry AT HEIGHT 3
      // — the same-height replacement case (read.go:300–349: speculative
      // entries rank above durable at equal height) — plus a5 at height 5;
      // competing fork b4 deletes the singlet at height 4.
      val pipeline = new graft.streaming.IngestionPipeline(store)
      pipeline.forkDB.moveLIB(BlockRef("a3", 3))
      pipeline.forkDB.addLink(BlockRef("a4", 4), "a3", req(4, sent(3, "s3-spec")))
      pipeline.forkDB.addLink(BlockRef("a5", 5), "a4", req(5, sent(5, "s5")))
      pipeline.forkDB.addLink(BlockRef("b4", 4), "a3",
        WriteRequest(4, BlockRef("b4", 4), Nil, Seq(sent(4, ""))))
      graft.functions.GraftExtensions.registerPipeline(store.root, pipeline)

      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[String]("singlet_id"), r.getAs[Long]("height"),
          new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSeq
      def asOfSql(at: Long, ref: String) = rows(s2.sql(
        s"SELECT * FROM graft_singlet_as_of('${store.root}', 'head', $at, '$ref')"))
      def histSql(ref: String) = rows(s2.sql(
        s"""SELECT singlet_id, height, value
           |FROM graft_singlet_history('${store.root}', 'head', '$ref')"""
          .stripMargin))

      // Same-height replacement: at height 3 on branch a5, the
      // speculative entry WINS over the durable one. SQL ≡ function.
      val at3 = asOfSql(3, "a5")
      assert(at3 === rows(store.readSingletEntryAt("head", 3L,
        pipeline.speculativeSingletEntriesFor(Some(BlockRef("a5", 0))))))
      assert(at3 === Seq(("head", 3L, "s3-spec")))
      // Durable-only read unchanged (3-arg form).
      assert(rows(s2.sql(
        s"SELECT * FROM graft_singlet_as_of('${store.root}', 'head', 3)"))
        === Seq(("head", 3L, "d3")))
      // Branch head: the speculative h5 entry serves.
      assert(asOfSql(9, "a5") === Seq(("head", 5L, "s5")))
      // Competing fork b4: its tombstone at h4 hides the singlet...
      assert(asOfSql(9, "b4") === Seq.empty)
      // ...while below the tombstone its own overlay has no h3 override.
      assert(asOfSql(3, "b4") === Seq(("head", 3L, "d3")))

      // History: speculative entries FIRST at equal height
      // (read.go:356–408), then durable, descending.
      val hist = histSql("a5")
      assert(hist === rows(store.readSingletEntries("head",
        pipeline.speculativeSingletEntriesFor(Some(BlockRef("a5", 0))))
        .select("singlet_id", "height", "value")))
      assert(hist === Seq(
        ("head", 5L, "s5"),
        ("head", 3L, "s3-spec"), // speculative BEFORE durable at h=3
        ("head", 3L, "d3"),
        ("head", 2L, "d2"), ("head", 1L, "d1")))
      // Bare num: current chain truncated at #4 (includes the h3 override,
      // not the h5 entry).
      assert(asOfSql(9, "#4") === Seq(("head", 3L, "s3-spec")))
      // 2-arg history unchanged: durable only.
      assert(rows(s2.sql(
        s"""SELECT singlet_id, height, value
           |FROM graft_singlet_history('${store.root}', 'head')""".stripMargin))
        === Seq(("head", 3L, "d3"), ("head", 2L, "d2"), ("head", 1L, "d1")))
      // Reference error semantics ride through the singlet forms too.
      val nf = intercept[Exception] { s2.sql(
        s"SELECT * FROM graft_singlet_as_of('${store.root}', 'head', 9, 'zz')") }
      assert(nf.getMessage.contains("not found"), nf.getMessage)
    } finally {
      graft.functions.GraftExtensions.unregisterPipeline("")
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
