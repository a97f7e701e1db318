package kbench

import org.scalatest.funsuite.AnyFunSuite

class TableModelSpec extends AnyFunSuite {
  private def table() = new TableModel(Array(
    Array(10, 20, 30, 40),   // a
    Array(1, 2, 3, 4)))      // b

  test("a delete tombstones positions: ids are never reused or shifted") {
    val m = table()
    m.delete(Seq(1, 2))
    assert(m.select(0, Int.MinValue, Int.MaxValue) == Vector(0, 3))
    assert(m.select(0, 0, 100) == Vector(0, 3))
    assert(m.values(1, m.select(0, 0, 100)) == Vector(1, 4))
    assert(m.liveCount == 2 && m.nextId == 4)
    // deleting again, or past the end, changes nothing
    m.delete(Seq(1, 9))
    assert(m.select(0, Int.MinValue, Int.MaxValue) == Vector(0, 3))
  }

  test("an insert appends at nextId, after tombstoned positions") {
    val m = table()
    m.delete(Seq(3))
    val id = m.insert(Seq(35, 5))
    assert(id == 4)
    assert(m.select(0, Int.MinValue, Int.MaxValue) == Vector(0, 1, 2, 4))
    assert(m.select(0, 30, 40) == Vector(2, 4))
    assert(m.values(1, Vector(4)) == Vector(5))
    // growth past the initial arrays keeps earlier rows
    (0 until 50).foreach(i => m.insert(Seq(i, -i)))
    assert(m.nextId == 55 && m.value(0, 0) == 10 && m.value(1, 54) == -49)
  }

  test("an update rewrites only live positions") {
    val m = table()
    m.delete(Seq(0))
    m.update(Seq(0, 1), 1, 99)
    assert(m.value(1, 1) == 99)
    assert(m.values(1, m.select(0, Int.MinValue, Int.MaxValue)) == Vector(99, 3, 4))
    m.insert(Seq(50, 7))
    assert(m.value(1, 0) == 1) // the tombstoned row kept its old value
  }

  test("digests see a single moved, changed or missing value") {
    val m = table()
    val d = m.digest(1)
    assert(d == Digest(4, 10, 0 * (1 + Digest.Offset) + 1 * (2 + Digest.Offset) +
      2 * (3 + Digest.Offset) + 3 * (4 + Digest.Offset), 3))
    val changed = table(); changed.update(Seq(2), 1, 4)
    val moved = new TableModel(Array(Array(10, 20, 30, 40), Array(1, 3, 2, 4)))
    val missing = table(); missing.delete(Seq(3))
    Seq(changed, moved, missing).foreach(x => assert(x.digest(1) != d))
  }

  test("the write_mix sequence is fixed by its seed") {
    def run(seed: Long) = {
      val w = new WriteMix(seed)
      val s = w.streams(3, 10)
      (0 until 3).flatMap(c => Iterator.continually(s(c).next()).takeWhile(_.isDefined)
        .map(_.get.lines.map(_.text).mkString(";")))
    }
    assert(run(7) == run(7))
    assert(run(7) != run(8))
  }
}
