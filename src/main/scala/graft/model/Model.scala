package graft.model

import org.apache.spark.sql.types._

/** Core data model of the temporal state engine.
  *
  * The reference (streamingfast/fluxdb) models blockchain state as height-
  * versioned rows under two abstractions: a *tablet* (a height-aware table of
  * rows keyed by primary key — tablet.go:60–99) and a *singlet* (a height-aware
  * single value — singlet.go:57–83). Every mutation is stored independently at
  * the height it occurred; a deletion is a tombstone row with an empty value
  * (tablet.go:325–327, singlet.go:254–289).
  *
  * Spark-first re-expression: instead of an ordered KV layout with hand-packed
  * big-endian keys (tablet.go:251–278), mutations are plain columnar rows in
  * partitioned Parquet/Delta tables. Catalyst predicate pushdown on
  * `(collection, tablet_id, height)` replaces key-range scans; `max_by` argmax
  * replaces the inverted-height limit-1 trick (singlet.go:160–169).
  */
final case class BlockRef(id: String, num: Long)

object BlockRef { val empty: BlockRef = BlockRef("", 0L) }

/** One version of one row of a tablet: (tablet, height, primaryKey, value).
  * Deletion ⇔ empty value (reference tablet.go:199–208, 298–339). */
final case class TabletRowM(
    collection: Int,
    tabletId: String,
    height: Long,
    primaryKey: String,
    value: Array[Byte],
    isDeletion: Boolean)

/** One version of a singlet: (singlet, height, value) — singlet.go:181–189. */
final case class SingletEntryM(
    collection: Int,
    singletId: String,
    height: Long,
    value: Array[Byte],
    isDeletion: Boolean)

/** The unit of ingestion: everything one block mutated (types.go:44–50). */
final case class WriteRequest(
    height: Long,
    block: BlockRef,
    tabletRows: Seq[TabletRowM],
    singletEntries: Seq[SingletEntryM])

/** Durable commit marker (read.go:417–476). `key` is "checkpoint" for the
  * global pipeline or "shard-NNN" during parallel backfill (read.go:454–464). */
final case class Checkpoint(key: String, height: Long, blockId: String, blockNum: Long)

/** Canonical Spark schemas for the storage tables (SURVEY.md §1.4). */
object Schemas {
  val tabletRows: StructType = StructType(Seq(
    StructField("collection", IntegerType, nullable = false),
    StructField("tablet_id", StringType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("primary_key", StringType, nullable = false),
    StructField("value", BinaryType, nullable = true),
    StructField("is_deletion", BooleanType, nullable = false)))

  val singletEntries: StructType = StructType(Seq(
    StructField("collection", IntegerType, nullable = false),
    StructField("singlet_id", StringType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("value", BinaryType, nullable = true),
    StructField("is_deletion", BooleanType, nullable = false)))

  val tabletSnapshots: StructType = StructType(Seq(
    StructField("collection", IntegerType, nullable = false),
    StructField("tablet_id", StringType, nullable = false),
    StructField("at_height", LongType, nullable = false),
    StructField("squelch_count", LongType, nullable = false),
    StructField("primary_key", StringType, nullable = false),
    StructField("height", LongType, nullable = false)))
}

/** Collection registry: replaces the reference's factory registry
  * (tablet.go:37–58, singlet.go:34–55). Where the reference parses identifiers
  * out of key bytes, here a collection carries a decoder from the opaque
  * `value: BINARY` column to a typed schema. Collections 0xFFF0–0xFFFF are
  * reserved (types.go:26–38); 0xFFFF is the index singlet (indexing.go:585–598).
  */
final case class CollectionSpec(
    id: Int,
    name: String,
    isSinglet: Boolean,
    valueSchema: Option[StructType] = None)

object CollectionRegistry {
  val ReservedStart = 0xFFF0
  val IndexCollection = 0xFFFF

  private val byId = scala.collection.concurrent.TrieMap.empty[Int, CollectionSpec]

  def register(spec: CollectionSpec): CollectionSpec = {
    require(spec.id >= 0 && spec.id <= 0xFFFF, s"collection out of range: ${spec.id}")
    require(
      spec.id < ReservedStart || spec.id == IndexCollection || isTestRange(spec.id),
      f"collection 0x${spec.id}%04X is in the reserved range")
    require(!byId.contains(spec.id), f"collection 0x${spec.id}%04X already registered")
    byId.put(spec.id, spec)
    spec
  }

  // The reference's own test fixtures live at 0xFFF1/0xFFF2 (tablet_test.go:207).
  private def isTestRange(id: Int): Boolean = id >= 0xFFF1 && id <= 0xFFF2

  def get(id: Int): Option[CollectionSpec] = byId.get(id)
  def clear(): Unit = byId.clear()

  /** Decode a mutation DataFrame's opaque `value` bytes into the collection's
    * typed columns (the Spark equivalent of the embedder's `Tablet.Row`
    * decode, tablet.go:84–87). The default codec is UTF-8 JSON — the
    * registry's `valueSchema` drives `from_json`, so a registered collection
    * reads as a fully typed table (`value_decoded.*`). Collections with
    * bespoke binary codecs supply their own `Column => Column`. */
  def decoded(
      df: org.apache.spark.sql.DataFrame,
      spec: CollectionSpec,
      custom: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    custom match {
      case Some(fn) => df.withColumn("value_decoded", fn(col("value")))
      case None =>
        spec.valueSchema match {
          case Some(schema) =>
            df.withColumn("value_decoded", from_json(decode(col("value"), "utf-8"), schema))
          case None => df
        }
    }
  }
}
