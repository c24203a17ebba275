package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.GraftBridge

/** `stateAsOf` as a CUSTOM LOGICAL PLAN — the optional Catalyst
  * convenience SURVEY.md §7.3 sketches: a marker node that declares
  * "the state of tablet T as of height H" over any mutation-stream
  * relation, planned by [[StateAsOfRule]] (injected through
  * `SparkSessionExtensions`, see [[graft.functions.GraftExtensions]]).
  *
  * Three marker forms, matching how much the caller knows:
  *   - [[StateAsOf]]: bare mutations → the snapshot-free read plan
  *     ([[graft.read.TemporalReads.readTabletAt]]): height/tablet filter →
  *     last-write-wins argmax per primary key → tombstone filter →
  *     PK-sorted (primary_key, height, value).
  *   - [[StateAsOfSnapshot]]: mutations + an explicit snapshot relation →
  *     the snapshot ∪ tail plan
  *     ([[graft.snapshot.Snapshots.readTabletAtWithSnapshot]]): hydrate the
  *     snapshot's exact (pk, height) keys, scan only the tail
  *     `(snapshotHeight, atHeight]`.
  *   - [[StateAsOfStore]]: a [[graft.store.StateStore]] handle → the RULE
  *     resolves the latest usable TabletIndex at planning time
  *     (`latestTabletSnapshot`, honoring ignore-ranges) and plans
  *     snapshot ∪ tail when one exists, the full-history read otherwise —
  *     the reference's flagship read behavior (read.go:47–63), where
  *     consulting the index is automatic, not a caller opt-in. This is the
  *     form that makes the ergonomic API plan the PRODUCTION read: on a
  *     long-history tablet the full scan is exactly the plan you would not
  *     want at 100× scale.
  *
  * Why a node + rule rather than just the function call: the marker
  * composes — callers can stack further operators over `stateAsOf`
  * BEFORE it is planned, and Catalyst then optimizes the whole tree as
  * one unit (e.g. a caller's `primary_key` predicate lands below the
  * argmax window once the rewrite has run). The function-call API
  * ([[graft.read.TemporalReads.readTabletAt]],
  * [[graft.store.StateStore.readTabletAt]]) remains the primary
  * surface; this is the ergonomic/SQL-extension path over the same
  * semantics, and its results are spec-pinned equal.
  */
final case class StateAsOf(child: LogicalPlan, tabletId: String, atHeight: Long)
    extends UnaryNode {

  override def output: Seq[Attribute] =
    StateAsOf.outputFrom(child, "stateAsOf")

  override protected def withNewChildInternal(newChild: LogicalPlan): StateAsOf =
    copy(child = newChild)
}

/** Marker: snapshot ∪ tail read with an EXPLICIT snapshot relation
  * (`(primary_key, height)` rows as of `snapshotHeight`). `left` is the
  * mutation relation, `right` the snapshot. */
final case class StateAsOfSnapshot(
    left: LogicalPlan,
    right: LogicalPlan,
    tabletId: String,
    atHeight: Long,
    snapshotHeight: Long)
    extends BinaryNode {
  require(snapshotHeight <= atHeight,
    s"snapshot $snapshotHeight is past read height $atHeight")

  override def output: Seq[Attribute] =
    StateAsOf.outputFrom(left, "stateAsOf")

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): StateAsOfSnapshot =
    copy(left = newLeft, right = newRight)
}

/** Marker: store-backed as-of read. Snapshot RESOLUTION is deferred to
  * [[StateAsOfRule]] — read-planning time, like the reference's fetchIndex
  * call at the head of every read (read.go:47) — so the caller never has
  * to know whether an index exists. The store handle rides in the node as
  * an opaque driver-side object (never shipped to executors; the rule
  * rewrites it away during analysis). */
final case class StateAsOfStore(
    child: LogicalPlan,
    store: graft.store.StateStore,
    tabletId: String,
    atHeight: Long,
    ignoreRange: Option[(Long, Long)])
    extends UnaryNode {

  override def output: Seq[Attribute] =
    StateAsOf.outputFrom(child, "stateAsOf")

  override protected def withNewChildInternal(newChild: LogicalPlan): StateAsOfStore =
    copy(child = newChild)
}

object StateAsOf {
  /** The read's output schema, in reference order (read.go:171–177). */
  val OutputCols: Seq[String] = Seq("primary_key", "height", "value")

  private[plans] def outputFrom(child: LogicalPlan, who: String): Seq[Attribute] =
    OutputCols.map { n =>
      child.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"$who child must carry column '$n'; has " +
          child.output.map(_.name).mkString(", ")))
    }

  /** Declarative API: plans the marker node; requires a session built
    * `.withExtensions(new GraftExtensions)` (otherwise the node has no
    * physical strategy and execution fails loudly). */
  def stateAsOf(mutations: DataFrame, tabletId: String, atHeight: Long): DataFrame =
    GraftBridge.ofRows(mutations.sparkSession,
      StateAsOf(GraftBridge.logicalPlan(mutations), tabletId, atHeight))

  /** Declarative snapshot ∪ tail: the caller supplies the snapshot
    * relation (`(primary_key, height)` as of `snapshotHeight`). */
  def stateAsOf(
      mutations: DataFrame,
      snapshot: DataFrame,
      snapshotHeight: Long,
      tabletId: String,
      atHeight: Long): DataFrame =
    GraftBridge.ofRows(mutations.sparkSession,
      StateAsOfSnapshot(
        GraftBridge.logicalPlan(mutations),
        GraftBridge.logicalPlan(snapshot.select("primary_key", "height")),
        tabletId, atHeight, snapshotHeight))

  /** Store-backed declarative read: the injected rule consults the store's
    * TabletIndex log and plans the snapshot-pruned read automatically —
    * `stateAsOf(store, tablet, h)` is the declarative twin of
    * [[graft.store.StateStore.readTabletAt]]. */
  def stateAsOf(
      store: graft.store.StateStore,
      tabletId: String,
      atHeight: Long,
      ignoreRange: Option[(Long, Long)] = None): DataFrame = {
    val rows = store.tabletRows
    GraftBridge.ofRows(rows.sparkSession,
      StateAsOfStore(GraftBridge.logicalPlan(rows), store, tabletId, atHeight, ignoreRange))
  }
}

/** Resolution rule rewriting the three `stateAsOf` markers into the read
  * plans they declare. The marker promised the child's attribute ids for
  * its output; each rewrite ends in fresh window/aggregate attributes, so
  * a thin Project re-aliases them back to the promised ids — operators
  * already resolved against the marker keep resolving unchanged.
  *
  * [[StateAsOfStore]] resolution runs ONE tiny metadata aggregate (max
  * snapshot height over the snapshots log — the same job
  * `StateStore.readTabletAt` runs) during analysis; the rewrite removes
  * the marker, so it fires exactly once per query even under the
  * analyzer's fixed-point batches. */
final class StateAsOfRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def realigned(marker: LogicalPlan, rewritten: LogicalPlan): LogicalPlan = {
    val exprs: Seq[NamedExpression] =
      rewritten.output.zip(marker.output).map { case (a, e) =>
        Alias(a, e.name)(exprId = e.exprId)
      }
    Project(exprs, rewritten)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ StateAsOf(child, tablet, h) if child.resolved =>
      realigned(s, graft.read.TemporalReads
        .readTabletAt(GraftBridge.ofRows(spark, child), tablet, h)
        .queryExecution.analyzed)

    case s @ StateAsOfSnapshot(child, snap, tablet, h, snapH)
        if child.resolved && snap.resolved =>
      realigned(s, graft.snapshot.Snapshots
        .readTabletAtWithSnapshot(
          GraftBridge.ofRows(spark, child),
          GraftBridge.ofRows(spark, snap), snapH, tablet, h)
        .queryExecution.analyzed)

    case s @ StateAsOfStore(child, store, tablet, h, ign) if child.resolved =>
      // The SQL surface is a read like any other: feed the layout
      // counters (StateStore.readTabletAt records its own; this rule
      // plans around it, so record here).
      store.readMix.recordTailScan(tablet)
      val rows = GraftBridge.ofRows(spark, child)
      val rewritten = store.tabletSnapshotLookup(tablet, h, ign) match {
        case Some(l) =>
          // The lookup's hydration bound bounds the hydration scan (same
          // as StateStore.readTabletAt; see readTabletAtWithSnapshot).
          graft.snapshot.Snapshots
            .readTabletAtWithSnapshot(rows, l.rows, l.atHeight, tablet, h, Nil,
              Some(l.hydrationBound))
        case None =>
          graft.read.TemporalReads.readTabletAt(rows, tablet, h)
      }
      realigned(s, rewritten.queryExecution.analyzed)
  }
}
