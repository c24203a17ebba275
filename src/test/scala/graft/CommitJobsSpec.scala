package graft

import graft.model._
import graft.store.{ManifestTable, StateStore}
import graft.streaming.{IngestionPipeline, StreamedBlock}

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The write-only commit path, pinned by the Spark jobs it launches:
  *
  *   - a manifest commit runs its data write and nothing else — the
  *     per-file stats come from the written footers, not a read-back;
  *   - a pipeline batch makes ONE driver collect (block metadata plus the
  *     reversible payloads) before its two table writes;
  *   - a merge runs its touched-key collect and its derivation only;
  *
  * and every one of those jobs carries its phase label
  * (`spark.job.description`), ahead of any description the caller had set.
  */
class CommitJobsSpec extends SparkTestBase {

  private val Unlabelled = "unlabelled"

  /** The description of every job `body` launched on this thread, in
    * job-id order (jobs with no description carry [[Unlabelled]]), with
    * `outer` as the description in force around `body`. */
  private def jobsOf[T](body: => T, outer: String = null): (T, Seq[String]) = {
    val group = s"commit-jobs-spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => jobs.put(e.jobId,
            Option(p.getProperty("spark.job.description")).getOrElse(Unlabelled)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(group, outer)
    try {
      val out = body
      org.apache.spark.graftspec.BusDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, jobs.values.asScala.toSeq)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  private val schema = StructType(Seq(
    StructField("tablet_id", StringType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("primary_key", StringType, nullable = false)))

  test("a manifest commit launches only its write's jobs, all labelled " +
    "commit.write") {
    implicit val s = spark
    import s.implicits._
    val frame = (0 until 40).map(i => (s"t${i % 3}", i.toLong, s"k$i"))
      .toDF("tablet_id", "height", "primary_key").coalesce(2)
    val t = new ManifestTable(tmpDir("jobs-commit"), schema,
      statsCols = Seq("tablet_id", "height", "primary_key"))
    val (_, plain) = jobsOf(frame.write.parquet(s"${tmpDir("jobs-plain")}/out"))
    val (_, commit) = jobsOf(t.commit(frame, "c0"))
    assert(commit.nonEmpty && commit.size === plain.size,
      s"commit ran $commit; the bare write ran $plain")
    assert(commit.forall(_ == "commit.write"), commit)
    // Inside a streaming micro-batch the batch's own description stays on
    // the jobs, after the label, and is back in force once the commit ends.
    val batchDesc = "id = q, batch = 7"
    val (after, inBatch) = jobsOf({
      t.commit(frame, "c1")
      spark.sparkContext.getLocalProperty("spark.job.description")
    }, outer = batchDesc)
    assert(inBatch.nonEmpty && inBatch.forall(_ == s"commit.write | $batchDesc"), inBatch)
    assert(after === batchDesc)
    // The bounds still land in the manifest.
    assert(t.pruneCounts(Seq(ManifestTable.StatsEq("primary_key", "absent")))._1 === 0)
  }

  test("a pipeline batch with new and irreversible blocks and no index " +
    "build runs one metadata collect plus one write per mutation table") {
    implicit val s = spark
    import s.implicits._
    val store = new StateStore(tmpDir("jobs-batch"))
    val pipeline = new IngestionPipeline(store)
    def block(n: Long, step: String) = StreamedBlock(s"a$n", s"a${n - 1}", n, step,
      Seq(TabletRowM(1, s"t${n % 2}", n, s"k$n", s"v$n".getBytes("UTF-8"), false)),
      Seq(SingletEntryM(1, "s1", n, s"e$n".getBytes("UTF-8"), false)))
    pipeline.commitBatch(Seq(block(0, "irreversible")).toDS(), 0)
    val batch = Seq(block(1, "irreversible"), block(2, "irreversible"),
      block(3, "new"), block(4, "new")).toDS()
    val (_, jobs) = jobsOf(pipeline.commitBatch(batch, 1))
    // The metadata collect's jobs (it materializes the pinned,
    // deduplicated batch), then one job per table write: a second collect
    // for the reversible payloads or a stats read-back per table would
    // show up here.
    assert(jobs === Seq.fill(3)("pipeline.meta") ++ Seq.fill(2)("commit.write"), jobs)
    assert(store.tabletRows.count() === 3L && store.singletEntries.count() === 3L)
  }

  private val mschema = StructType(schema.fields :+
    StructField("deleted", org.apache.spark.sql.types.BooleanType, nullable = false))

  test("a merge launches its touched-key collect and its derivation only, " +
    "labelled merge.touchedKeys and merge.derive") {
    implicit val s = spark
    import s.implicits._
    val t = new ManifestTable(tmpDir("jobs-merge"), mschema,
      statsCols = Seq("tablet_id", "primary_key"))
    def upd(rows: (String, Long, String, Boolean)*) =
      rows.toDF("tablet_id", "height", "primary_key", "deleted")
    t.merge(upd(("t1", 1L, "a", false), ("t1", 1L, "b", false)),
      Seq("tablet_id", "primary_key"), "height", "deleted", "m0")
    val (report, jobs) = jobsOf(t.merge(
      upd(("t1", 2L, "a", false), ("t1", 2L, "c", false)),
      Seq("tablet_id", "primary_key"), "height", "deleted", "m1"))
    assert(report.rewritten === 1)
    assert(jobs.head === "merge.touchedKeys" &&
      jobs.tail.nonEmpty && jobs.tail.forall(_ == "merge.derive"), jobs)
    // The touched-key collect (1) and the derivation (6): no read-back of
    // the merged files.
    assert(jobs.size === 7, jobs)
  }

  test("a merge whose updates come from another session runs its " +
    "touched-key collect as one job") {
    implicit val s = spark
    // A streaming batch's frames live in a clone of the table's session:
    // the collect's AQE-off scope must be on that session to take effect.
    val batchSession = spark.newSession()
    import batchSession.implicits._
    val t = new ManifestTable(tmpDir("jobs-merge-session"), mschema,
      statsCols = Seq("tablet_id", "primary_key"))
    def upd(rows: (String, Long, String, Boolean)*) =
      rows.toDF("tablet_id", "height", "primary_key", "deleted")
    t.merge(upd(("t1", 1L, "a", false), ("t1", 1L, "b", false)),
      Seq("tablet_id", "primary_key"), "height", "deleted", "m0")
    val aqe = batchSession.conf.get("spark.sql.adaptive.enabled")
    val (report, jobs) = jobsOf(t.merge(
      upd(("t1", 2L, "a", false), ("t1", 2L, "c", false)),
      Seq("tablet_id", "primary_key"), "height", "deleted", "m1"))
    assert(report.rewritten === 1)
    assert(jobs.count(_ == "merge.touchedKeys") === 1, jobs)
    assert(batchSession.conf.get("spark.sql.adaptive.enabled") === aqe)
  }
}
