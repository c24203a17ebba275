package graft

import org.apache.spark.sql.SparkSession

import graft.store.StateStore

/** A SEPARATE-JVM reader fleet member for [[SoakIngest]]: its own
  * SparkSession, block manager, scheduler, and [[StateStore]] instance
  * against the same store root — what a real TVF reader fleet is, where
  * the round-15 soak's "reader" was a second session sharing the writer's
  * JVM. Exercises for real: cross-process metadata reads racing the
  * writer's pointer swaps and sweeps, and the read-mix counters'
  * merge-on-flush across processes (this process's flush deltas must SUM
  * into `_readmix.json` beside the writer's, not last-writer-win).
  *
  * Args: `storeRoot seconds intervalMillis summaryFile`. Emits one JSON
  * line per read pair on stdout (inherited by the parent soak's log) and
  * writes a final summary JSON to `summaryFile` for the parent to fold
  * into its own summary.
  */
object SoakReader {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val seconds = args(1).toLong
    val intervalMs = args(2).toLong
    val summaryFile = args(3)
    implicit val spark: SparkSession = SparkSession.builder()
      .master("local[4]")
      .appName("graft-soak-fork-reader")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val store = new StateStore(root)

    var reads = 0L
    var errors = 0L
    var lastMs = -1L
    val deadline = System.currentTimeMillis() + seconds * 1000L
    while (System.currentTimeMillis() < deadline) {
      try {
        val ck = store.checkpointFresh(StateStore.GlobalCheckpointKey)
          .map(_.height).getOrElse(-1L)
        if (ck > 1L) {
          val t0 = System.nanoTime()
          val n = store.readTabletAt("t3", ck).count()
          require(n > 0, s"empty as-of read at checkpoint $ck")
          // A POINT read too: records a point-read tick in the read-mix
          // counters, the cross-process merge-on-flush evidence.
          store.readTabletRowAt("t3", "pk000007", ck).count()
          val d = store.readTabletDiff("t3", math.max(0L, ck - 20L), ck)
          d.count()
          org.apache.spark.sql.graftbridge.GraftBridge.freeCheckpoint(d)
          reads += 3L
          lastMs = (System.nanoTime() - t0) / 1000000L
          println(s"""{"soak_fork_reader":{"ckpt":$ck,"read_ms":$lastMs}}""")
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors += 1L
          println(s"""{"soak_fork_reader_error":"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").take(160).replace("\"", "'")
              .replace("\n", " ")}"}""")
      }
      Thread.sleep(intervalMs)
    }
    // Flush this process's read-mix deltas into the shared counters file
    // (merge-on-flush: they must SUM beside the writer process's own).
    store.readMix.flush()
    val summary = s"""{"fork_reader_reads":$reads,"fork_reader_errors":$errors,""" +
      s""""fork_reader_last_ms":$lastMs,""" +
      s""""fork_point_reads_t3":${store.readMix.pointReads("t3")},""" +
      s""""fork_tail_scans_t3":${store.readMix.tailScans("t3")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(summaryFile),
      summary.getBytes("UTF-8"))
    println(summary)
    spark.stop()
  }
}
