package kbench

import java.util.concurrent.CountDownLatch
import scala.collection.mutable.ArrayBuffer

/** Client-side record of one line: when it was sent, when its status
  * came back, what streamed in between, and whether it matched the model.
  */
final class LineRec(val line: Line) {
  var sendNs = 0L; var doneNs = 0L
  var sendMs = 0L; var doneMs = 0L
  var firstRowNs = -1L
  var rows = 0
  var bytes = 0L
  var err: String = null
  var mismatch: String = null

  def ms: Double = (doneNs - sendNs) / 1e6
  def failed: Boolean = err != null || mismatch != null
  /** First data row to status line: the server's emission time. */
  def emitMs: Double = if (firstRowNs < 0) 0.0 else (doneNs - firstRowNs) / 1e6

  def row(s: String): Unit = {
    if (firstRowNs < 0) firstRowNs = System.nanoTime()
    if (mismatch == null) {
      if (rows >= line.expect.size) mismatch = s"unexpected row '$s'"
      else if (line.expect(rows) != s)
        mismatch = s"row $rows is '$s', model says '${line.expect(rows)}'"
    }
    rows += 1
    bytes += s.length + 2 // '|' prefix and newline
  }

  def error(msg: String): Unit = { err = msg; bytes += msg.length + 6 }

  def finish(): Unit = {
    doneNs = System.nanoTime(); doneMs = System.currentTimeMillis()
    if (err == null) bytes += 4 // "+OK\n"
    if (mismatch == null && err == null && rows < line.expect.size)
      mismatch = s"${line.expect.size - rows} of ${line.expect.size} rows missing"
  }
}

final class ScriptRec(val client: Int, val seq: Int, val script: Script,
                      val ramp: Boolean, val traced: Boolean) {
  val lines: IndexedSeq[LineRec] = script.lines.map(new LineRec(_))
  def startNs: Long = lines.head.sendNs
  def endNs: Long = lines.last.doneNs
  def ms: Double = (endNs - startNs) / 1e6
  def isRead: Boolean = script.isRead
  def rows: Long = lines.map(_.rows.toLong).sum
  def bytes: Long = lines.map(_.bytes).sum
  def failedLines: Int = lines.count(_.failed)
}

/** End-of-window rendezvous: every client parks here once its timed
  * window is over, with its connection and session bindings still open;
  * the harness measures, then releases them.
  */
final class Gate(clients: Int) {
  private val parked = new CountDownLatch(clients)
  private val release = new CountDownLatch(1)
  def park(): Unit = { parked.countDown(); release.await() }
  /** A client that died counts as parked, without waiting. */
  def leave(): Unit = parked.countDown()
  def awaitParked(): Unit = parked.await()
  def open(): Unit = release.countDown()
}

/** One closed-loop client, fed to [[graft.server.NetClient.run]] as its
  * line iterator: NetClient asks for the next line only after the
  * previous line's status arrived, so `hasNext` marks a line's end and
  * `next` the next line's send. Scripts come from `src`. Those started
  * before `rampEndNs` warm the JIT and are checked but not measured; the
  * client stops after the first script that ends past `deadlineNs`,
  * parks at the gate, and ends when released. A fixed stream has no ramp
  * and runs to its end instead.
  *
  * With a tracer, measured scripts alternate in blocks of four between
  * untraced and traced; the tracer is switched only between blocks,
  * after the listener bus has gone quiet.
  */
final class ClientLoop(val client: Int, src: ClientScripts, rampEndNs: Long,
                       deadlineNs: Long, gate: Gate, tracer: Option[Tracer])
    extends Iterator[String] {
  val done = ArrayBuffer[ScriptRec]()
  /** This client's measured window: first measured start to last end. */
  var firstStartNs = -1L
  var lastEndNs = 0L
  var crash: Throwable = null
  private var cur: ScriptRec = null
  private var li = 0
  private var inFlight: LineRec = null
  private var ready = false
  private var parked = false
  private var scriptNo = 0
  private var measured = 0

  private def leaveWindow(): Unit = {
    tracer.foreach { t => t.quiesce(); t.on = false }
    parked = true
    gate.park()
  }

  /** Park without waiting if this client never reached the gate. */
  def abandon(): Unit = if (!parked) { parked = true; gate.leave() }

  def hasNext: Boolean = {
    if (ready) return true
    if (inFlight != null) { inFlight.finish(); inFlight = null }
    if (cur != null && li == cur.lines.size) {
      done += cur
      if (!cur.ramp) {
        if (firstStartNs < 0) firstStartNs = cur.startNs
        lastEndNs = cur.endNs
      }
      cur = null
    }
    if (cur == null) {
      if (!src.fixed && System.nanoTime() >= deadlineNs) {
        leaveWindow()
        return false
      }
      src.next() match {
        case None =>
          leaveWindow()
          return false
        case Some(s) =>
          val ramp = !src.fixed && System.nanoTime() < rampEndNs
          val traced = !ramp && tracer.isDefined && (measured / 4) % 2 == 1
          if (!ramp && measured % 4 == 0) tracer.foreach { t => t.quiesce(); t.on = traced }
          cur = new ScriptRec(client, scriptNo, s, ramp, traced)
          scriptNo += 1
          if (!ramp) measured += 1
          li = 0
      }
    }
    ready = true
    true
  }

  def next(): String = {
    if (!hasNext) throw new NoSuchElementException("client loop ended")
    ready = false
    val lr = cur.lines(li)
    li += 1
    inFlight = lr
    lr.sendMs = System.currentTimeMillis()
    lr.sendNs = System.nanoTime()
    lr.line.text
  }

  def out(s: String): Unit = inFlight.row(s)
  def err(s: String): Unit = inFlight.error(s)
}
