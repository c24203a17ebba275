package graft

import graft.model.{BlockRef, TabletRowM, WriteRequest}
import graft.store.StateStore
import org.apache.spark.sql.SparkSession

/** Reopening a store root by its bare path — the constructor, the ops CLI
  * and the SQL table functions all do — must read only what the writer
  * published, whatever debris the writer left beside it. */
class StoreReopenSpec extends SparkTestBase {

  private def req(h: Long): WriteRequest =
    WriteRequest(h, BlockRef(s"blk-$h", h),
      Seq(TabletRowM(1, "t1", h, s"k${h % 3}", s"v$h".getBytes("UTF-8"), false)),
      Nil)

  test("a reopened root reads exactly the published rows: never an " +
    "unpublished attempt directory nor a compacted-away generation") {
    val base = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      implicit val s2: SparkSession = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val root = tmpDir("reopen")
      val writer = new StateStore(root, StateStore.ManifestCommit)
      (0L to 5L).foreach(h => writer.writeBatch(Seq(req(h))))
      // Compaction publishes one replacement generation; the six commits it
      // folded stay on disk until the sweep's age guard lets them go.
      assert(writer.compactTabletRows(numFiles = 1) === 6L)
      writer.writeBatch(Seq(req(6L)))
      // A crashed commit: its data lands in an attempt directory that no
      // manifest references.
      val mt = writer.manifestTableFor(writer.tabletRowsPath)
      mt.failBeforePublish = true
      intercept[IllegalStateException] { writer.writeBatch(Seq(req(7L))) }
      mt.failBeforePublish = false

      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s2.sessionState.newHadoopConf())
      val attemptDirs = fs.listStatus(new org.apache.hadoop.fs.Path(writer.tabletRowsPath))
        .map(_.getPath.getName).filter(_.startsWith("d-"))
      // 6 folded commits + the compaction + height 6 + the crashed attempt.
      assert(attemptDirs.length === 9, attemptDirs.mkString(", "))

      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(1), r.getLong(2), r.getString(3),
          new String(r.getAs[Array[Byte]](4), "UTF-8"))).sorted.toSeq
      val published = (0L to 6L).map(h => ("t1", h, s"k${h % 3}", s"v$h"))
      assert(rowsOf(writer.tabletRows) === published)
      assert(rowsOf(new StateStore(root).tabletRows) === published)

      val headState = Seq(("k0", 6L, "v6"), ("k1", 4L, "v4"), ("k2", 5L, "v5"))
      assert(Tools.run(Seq("read-tablet", root, "t1", "99")).split("\n").sorted.toSeq ===
        headState.map { case (k, h, v) => s"$k h=$h $v" })
      val viaSql = s2.sql(s"SELECT * FROM graft_state_as_of('$root', 't1', 99)")
        .collect().map(r => (r.getString(0), r.getLong(1),
          new String(r.getAs[Array[Byte]](2), "UTF-8"))).sorted.toSeq
      assert(viaSql === headState)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
