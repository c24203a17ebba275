package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Concrete block source: a TAILED archive directory of block files
  * (reference pipeline.go:37–62 — the one-block/merged-file source the
  * live injector consumes, pipeline.go:93–108).
  *
  * Spark-first shape: Structured Streaming's FILE source IS the tail —
  * each trigger lists files that appeared since the last checkpointed
  * offset, so "replay the archive, then keep following it" needs no
  * custom receiver. Files are Parquet (the columnar stand-in for the
  * reference's protobuf-framed block files) holding one or more
  * [[StreamedBlock]] rows; a producer makes them VISIBLE atomically by
  * writing elsewhere and renaming into the directory
  * ([[writeArchiveFile]]), the same invisible-until-promoted discipline
  * the store's checkpoint log uses.
  *
  * Ordering: the file source processes files oldest-modification-first
  * and the pipeline's contiguity + linearity guards reject any gap, so a
  * misordered archive fails loudly instead of committing out of order.
  * `maxFilesPerTrigger` rate-limits a historical replay (the reference's
  * backfill pacing); leave it unset to drain as fast as commits allow.
  */
object BlockArchiveSource {

  /** The on-disk schema of an archive file (derived from the encoder, so
    * source and sink can never drift). */
  val blockSchema: StructType = Encoders.product[StreamedBlock].schema

  /** Stream blocks from `dir`, tailing it for new files. */
  def readStream(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[StreamedBlock] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val reader = spark.readStream.schema(blockSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    implicit val enc = Encoders.product[StreamedBlock]
    reader.parquet(dir).as[StreamedBlock]
  }

  /** Batch read of a whole archive (backfill input). */
  def readArchive(spark: SparkSession, dir: String): Dataset[StreamedBlock] = {
    implicit val enc = Encoders.product[StreamedBlock]
    spark.read.schema(blockSchema).parquet(dir).as[StreamedBlock]
  }

  /** Producer side: write `blocks` as ONE archive file named
    * `blk-<firstNum>-<lastNum>.parquet`, staged outside the directory and
    * renamed in, so the tailing source can never list a half-written
    * file. Returns the file name. */
  def writeArchiveFile(blocks: Seq[StreamedBlock], dir: String)(
      implicit spark: SparkSession): String = {
    require(blocks.nonEmpty, "empty block file")
    import spark.implicits._
    val sorted = blocks.sortBy(b => (b.num, b.step != StreamedBlock.StepNew))
    val name = f"blk-${sorted.head.num}%017d-${sorted.last.num}%017d.parquet"
    val stagingDir = s"$dir/_staging-${java.util.UUID.randomUUID()}"
    sorted.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(stagingDir)
    val sp = new Path(stagingDir)
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(sp).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part in $stagingDir"))
    val target = new Path(s"$dir/$name")
    require(fs.rename(part, target), s"rename failed: $part -> $target")
    fs.delete(sp, true)
    name
  }
}
