package kbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  // three lines of one client: [send, done] in scheduler milliseconds;
  // line 1 is sent in the millisecond line 0 completes
  private val lines = IndexedSeq((100L, 150L), (150L, 400L), (402L, 500L))

  test("a job inside a line's interval belongs to that line") {
    assert(Attribution.lineOf(lines, 101, 149) == 0)
    assert(Attribution.lineOf(lines, 160, 390) == 1)
    assert(Attribution.lineOf(lines, 402, 500) == 2)
  }

  test("a job that ends as its line completes stays with that line") {
    assert(Attribution.lineOf(lines, 140, 150) == 0)
    // zero-length at the shared millisecond: the earlier line
    assert(Attribution.lineOf(lines, 150, 150) == 0)
  }

  test("a job that starts at the shared millisecond and runs on belongs to the next line") {
    assert(Attribution.lineOf(lines, 150, 151) == 1)
  }

  test("jobs outside every line, or spanning two, are unattributed") {
    assert(Attribution.lineOf(lines, 50, 60) == -1)
    assert(Attribution.lineOf(lines, 401, 401) == -1)
    assert(Attribution.lineOf(lines, 140, 160) == -1)
    assert(Attribution.lineOf(lines, 600, 601) == -1)
    assert(Attribution.lineOf(IndexedSeq.empty, 1, 2) == -1)
  }

  test("phase instants go to the line holding them") {
    assert(Attribution.lineAt(lines, 120) == 0)
    assert(Attribution.lineAt(lines, 450) == 2)
  }
}
