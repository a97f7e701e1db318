package kbench

/** In-benchmark model of one kstore table: `ncols` int columns sharing
  * one position space. Positions are id-stable: a delete tombstones its
  * ids (they never come back and are never reused), an insert appends at
  * `nextId`, and an update rewrites values in place. This is the
  * engine's contract (ids survive copy-on-write rewrites; insert appends
  * id == nextId to every named column).
  */
final class TableModel(init: Array[Array[Int]]) {
  val ncols: Int = init.length
  private var n: Int = if (ncols == 0) 0 else init(0).length
  require(init.forall(_.length == n), "columns differ in length")
  private var cols: Array[Array[Int]] = init.map(_.clone())
  private val live = new java.util.BitSet()
  live.set(0, n)

  def nextId: Int = n
  def liveCount: Int = live.cardinality()
  def isLive(id: Int): Boolean = id < n && live.get(id)
  def value(col: Int, id: Int): Int = cols(col)(id)

  /** Live ids in ascending order whose `col` value lies in [lo, hi]. */
  def select(col: Int, lo: Long, hi: Long): IndexedSeq[Int] = {
    val c = cols(col)
    val out = Array.newBuilder[Int]
    var i = live.nextSetBit(0)
    while (i >= 0) {
      val v = c(i)
      if (v >= lo && v <= hi) out += i
      i = live.nextSetBit(i + 1)
    }
    out.result().toIndexedSeq
  }

  def values(col: Int, ids: IndexedSeq[Int]): IndexedSeq[Int] = ids.map(cols(col)(_))

  /** Append one row to every column; returns its id. */
  def insert(row: Seq[Int]): Int = {
    require(row.size == ncols, s"insert needs $ncols values")
    if (n == cols(0).length)
      cols = cols.map(java.util.Arrays.copyOf(_, (n * 3 / 2) max 16))
    row.zipWithIndex.foreach { case (v, c) => cols(c)(n) = v }
    live.set(n)
    n += 1
    n - 1
  }

  def update(ids: Iterable[Int], col: Int, v: Int): Unit =
    ids.foreach { id => if (isLive(id)) cols(col)(id) = v }

  def delete(ids: Iterable[Int]): Unit = ids.foreach(id => if (id < n) live.clear(id))

  /** Digest of one column's live (id, value) pairs; see [[Digest]]. */
  def digest(col: Int): Digest = {
    var rows, sumV, sumIdV, maxId = 0L
    maxId = -1L
    var i = live.nextSetBit(0)
    while (i >= 0) {
      val v = cols(col)(i).toLong
      rows += 1; sumV += v; sumIdV += i * (v + Digest.Offset); maxId = i
      i = live.nextSetBit(i + 1)
    }
    Digest(rows, sumV, sumIdV, maxId)
  }
}

/** Order-independent digest of a column's (id, value) pairs: row count,
  * value sum, id-weighted value sum and top id. Any single wrong, missing,
  * extra or moved value changes it. Values must lie in (-Offset, Offset),
  * so that the sums cannot overflow a long for tables this size.
  */
final case class Digest(rows: Long, sumV: Long, sumIdV: Long, maxId: Long)
object Digest { val Offset = 1L << 21 }
