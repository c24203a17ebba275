package graft.perfbench

import graft.model.{SingletEntryM, TabletRowM}

/** Hand-written cases for the reference [[Model]], so that a wrong model
  * cannot pass a wrong program. Every benchmark run executes them before
  * it starts; `run.py --self-test` runs them alone. */
object ModelSelfTest {

  private def put(h: Long, pk: String, v: String, t: String = "t"): TabletRowM =
    TabletRowM(1, t, h, pk, if (v == null) Array.emptyByteArray else v.getBytes("UTF-8"),
      v == null)

  /** Returns the failed cases' descriptions (empty = all pass). */
  def run(): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def check[A](name: String, got: A, want: A): Unit =
      if (got != want) failures += s"$name: got $got, want $want"

    val m = new Model
    // a: written at 1, deleted at 3, re-inserted at 5.
    // b: written at 2, tombstoned at 4 (the read height of one case).
    // c: inserted at 6 and deleted at 7, inside one diff window.
    // d: written at 1, rewritten at 6.
    m.addRows(Seq(put(1, "a", "a1"), put(1, "d", "d1")))
    m.addRows(Seq(put(2, "b", "b2")))
    m.addRows(Seq(put(3, "a", null)))
    m.addRows(Seq(put(4, "b", null)))
    m.addRows(Seq(put(5, "a", "a5")))
    m.addRows(Seq(put(6, "c", "c6"), put(6, "d", "d6")))
    m.addRows(Seq(put(7, "c", null)))
    m.addEntries(Seq(
      SingletEntryM(1, "s", 2, "x".getBytes("UTF-8"), false),
      SingletEntryM(1, "s", 5, Array.emptyByteArray, true),
      SingletEntryM(1, "s", 9, "z".getBytes("UTF-8"), false)))

    // Delete, then re-insert.
    check("delete hides the key", m.rowAt("t", "a", 3), None)
    check("delete hides the key until the re-insert", m.rowAt("t", "a", 4), None)
    check("re-insert revives the key", m.rowAt("t", "a", 5), Some(Ver(5, "a5")))
    check("before the delete", m.rowAt("t", "a", 2), Some(Ver(1, "a1")))
    // A tombstone at the read height.
    check("tombstone at the read height", m.rowAt("t", "b", 4), None)
    check("one below the tombstone", m.rowAt("t", "b", 3), Some(Ver(2, "b2")))
    check("tablet at the tombstone height", m.tabletAt("t", 4),
      Seq("d" -> Ver(1, "d1")))
    check("never-written key", m.rowAt("t", "zz", 10), None)
    check("before the first write", m.rowAt("t", "a", 0), None)
    check("serving = latest irreversible", m.serving("t", "c"), None)
    check("live keys", m.liveKeys, 2L)

    // An overlay block beats a durable row at the same height, and overlay
    // blocks apply in block order.
    val overlay = Seq(
      Seq(put(7, "d", "d7-overlay"), put(7, "b", "b7")),
      Seq(put(8, "b", null), put(8, "e", "e8")))
    check("overlay beats durable at the same height",
      m.tabletAt("t", 7, Seq(Seq(put(7, "c", "c7-overlay")))),
      Seq("a" -> Ver(5, "a5"), "c" -> Ver(7, "c7-overlay"), "d" -> Ver(6, "d6")))
    check("overlay in block order", m.tabletAt("t", 8, overlay),
      Seq("a" -> Ver(5, "a5"), "d" -> Ver(7, "d7-overlay"), "e" -> Ver(8, "e8")))
    check("overlay above the read height is ignored", m.tabletAt("t", 7, overlay),
      Seq("a" -> Ver(5, "a5"), "b" -> Ver(7, "b7"), "d" -> Ver(7, "d7-overlay")))
    check("overlay of another tablet is ignored",
      m.tabletAt("t", 8, Seq(Seq(put(8, "a", "other", t = "u")))),
      Seq("a" -> Ver(5, "a5"), "d" -> Ver(6, "d6")))

    // Each diff class.
    check("added", m.diff("t", 4, 5), Seq(DiffRow("a", "added", 5, null, "a5")))
    check("deleted", m.diff("t", 2, 3), Seq(DiffRow("a", "deleted", 3, "a1", null)))
    check("updated", m.diff("t", 5, 6), Seq(
      DiffRow("c", "added", 6, null, "c6"), DiffRow("d", "updated", 6, "d1", "d6")))
    check("insert then delete inside the window emits nothing",
      m.diff("t", 5, 7), Seq(DiffRow("d", "updated", 6, "d1", "d6")))
    check("delete then re-insert inside the window nets to updated",
      m.diff("t", 2, 5), Seq(
        DiffRow("a", "updated", 5, "a1", "a5"), DiffRow("b", "deleted", 4, "b2", null)))
    check("empty window", m.diff("t", 7, 7), Seq.empty[DiffRow])

    // Singlet history, most recent first, tombstones kept.
    check("singlet history", m.singletHistory("s"),
      Seq(Ver(9, "z"), Ver(5, null), Ver(2, "x")))
    check("unknown singlet", m.singletHistory("none"), Seq.empty[Ver])

    failures.result()
  }

  def main(args: Array[String]): Unit = {
    val failures = run()
    failures.foreach(f => System.err.println(s"model self-test FAILED: $f"))
    if (failures.nonEmpty) sys.exit(1)
    println("model self-test: all cases pass")
  }
}
