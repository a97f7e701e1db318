package kbench

/** One operator line of a script: its text, the op family it exercises
  * (the `op.<type>` key of the per-layer metrics) and the exact output
  * lines the server must stream back for it.
  */
final case class Line(text: String, op: String, expect: IndexedSeq[String])

/** One client request unit: the lines a user sends as one script.
  * `kind` is "read" or "write" (a script with any mutation is a write);
  * `label` names the variant (join keyword, write kind) for reports.
  */
final case class Script(kind: String, label: String, lines: IndexedSeq[Line]) {
  def isRead: Boolean = kind == "read"
}

object Script {
  def line(text: String, op: String, expect: String*): Line =
    Line(text, op, expect.toIndexedSeq)

  /** Op families reported per type; every generated line carries one. */
  val OpTypes: Seq[String] =
    Seq("select", "fetch", "join", "agg", "math", "tuple", "insert", "update", "delete")
}

/** 32-bit aggregates the engine reproduces from the reference's C ints. */
object Wrap {
  /** sum wraps at 32 bits (the engine's wrapInt over a long sum). */
  def sum(xs: Iterator[Int]): Int = { var s = 0; xs.foreach(s += _); s }
  /** avg = wrapped sum / count, truncating toward zero. */
  def avg(xs: IndexedSeq[Int]): Int = (sum(xs.iterator).toLong / xs.size).toInt
}
