package kbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.Path
import java.util.SplittableRandom

/** A client's script stream in the timed loop. */
trait ClientScripts {
  /** The next script, or None when a fixed sequence is exhausted. */
  def next(): Option[Script]
  /** True for a fixed sequence that runs to its end whatever the clock
    * says (write_mix, so that its end state is the same in every run).
    */
  def fixed: Boolean = false
}

/** One benchmark workload: its data, its clients' scripts and its model. */
trait Workload {
  def name: String
  def clients: Int
  /** Writes the CSVs under `dir` (not timed) and returns the create and
    * load lines that set the store up.
    */
  def generate(dir: Path): Seq[String]
  /** The read script run once in each set-up, after the load. */
  def warmup: Script
  /** Fresh script streams for clients 0 until n, with models starting
    * from the loaded data. `seconds` sizes fixed sequences.
    */
  def streams(n: Int, seconds: Int): IndexedSeq[ClientScripts]
  /** Live int values in the store at the end of the run. */
  def liveValues: Long
  /** Mismatches between a reopened store's column digests and the
    * model's (write_mix). `digests` reads the named columns.
    */
  def verifyStore(digests: Seq[String] => Map[String, Digest]): Seq[String] = Nil
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "perf_join"      => new PerfJoin(seed)
    case "scan_math_emit" => new ScanMathEmit(seed)
    case "write_mix"      => new WriteMix(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("perf_join", "scan_math_emit", "write_mix")

  def writeCsv(path: Path, header: Seq[String], cols: Seq[Array[Int]]): Unit = {
    val w = new BufferedWriter(new FileWriter(path.toFile), 1 << 16)
    try {
      w.write(header.mkString(",")); w.write('\n')
      val n = cols.head.length
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < n) {
        sb.setLength(0)
        var c = 0
        while (c < cols.size) {
          if (c > 0) sb.append(',')
          sb.append(cols(c)(i)); c += 1
        }
        sb.append('\n'); w.write(sb.toString)
        i += 1
      }
    } finally w.close()
  }

  /** Uniform int in [lo, hi]. */
  def uniform(r: SplittableRandom, lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)

  def tuple(vs: Int*): String = vs.mkString("(", ",", ")")

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[A](xs: Seq[A], r: SplittableRandom): Seq[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** The reference's canonical perftest (tools/PerfBaseline.queryScript)
  * over gen.py-shaped r and s: one client cycling the four join
  * keywords. Select ranges are drawn per script, always covering the
  * canonical rows (rc in 1..9, every sf), so each script is the
  * 2.25M-pair point of BASELINE.md.
  */
final class PerfJoin(seed: Long) extends Workload {
  val name = "perf_join"
  val clients = 1
  val NR = 300000
  val NS = 10000
  val Keys = 1001
  private val rnd = new SplittableRandom(seed)
  // gen.py: ra,sa ~ U[0,1000]; rc ~ U[1,9] w.p. 0.75 else 10;
  // rd ~ U[-2^30,0]; sf ~ U[31,99]; sg ~ U[0,2^30]
  val ra: Array[Int] = Array.fill(NR)(rnd.nextInt(Keys))
  val rc: Array[Int] = Array.fill(NR)(if (rnd.nextDouble() < 0.75) Workload.uniform(rnd, 1, 9) else 10)
  val rd: Array[Int] = Array.fill(NR)(-rnd.nextInt(1 << 30))
  val sa: Array[Int] = Array.fill(NS)(rnd.nextInt(Keys))
  val sf: Array[Int] = Array.fill(NS)(Workload.uniform(rnd, 31, 99))
  val sg: Array[Int] = Array.fill(NS)(rnd.nextInt(1 << 30))

  val joins: Seq[String] = Seq("hashjoin", "sortjoin", "loopjoin", "treejoin")

  def generate(dir: Path): Seq[String] = {
    val r = dir.resolve("r.csv"); val s = dir.resolve("s.csv")
    Workload.writeCsv(r, Seq("ra", "rc", "rd"), Seq(ra, rc, rd))
    Workload.writeCsv(s, Seq("sa", "sf", "sg"), Seq(sa, sf, sg))
    Seq("""create(ra,"unsorted")""", """create(rc,"b+tree")""",
      """create(rd,"unsorted")""", """create(sa,"b+tree")""",
      """create(sf,"b+tree")""", """create(sg,"unsorted")""",
      s"""load("$r")""", s"""load("$s")""")
  }

  /** The tuple the canonical query must print for rc in [rlo, rhi] and
    * the s rows `sSel` keeps: (max rd, min sg, pair count, pair count).
    */
  def expected(rlo: Int, rhi: Int, sSel: Int => Boolean): String = {
    val cntS = new Array[Long](Keys)
    val minSg = Array.fill(Keys)(Int.MaxValue)
    var j = 0
    while (j < NS) {
      if (sSel(j)) { cntS(sa(j)) += 1; minSg(sa(j)) = minSg(sa(j)) min sg(j) }
      j += 1
    }
    val hit = new Array[Boolean](Keys)
    var pairs = 0L
    var maxRd = Int.MinValue
    var i = 0
    while (i < NR) {
      if (rc(i) >= rlo && rc(i) <= rhi && cntS(ra(i)) > 0) {
        pairs += cntS(ra(i)); maxRd = maxRd max rd(i); hit(ra(i)) = true
      }
      i += 1
    }
    val minS = (0 until Keys).filter(hit).map(minSg).foldLeft(Int.MaxValue)(_ min _)
    Workload.tuple(maxRd, minS, pairs.toInt, pairs.toInt)
  }

  def script(join: String, r: SplittableRandom): Script = {
    import Script.line
    val rlo = r.nextInt(2) // rc values are 1..10: [0|1, 9] selects 1..9
    val (slo, shi) = (r.nextInt(32), 99 + r.nextInt(101))
    val rightSel =
      if (join == "treejoin") line("sf_inter=select(sa)", "select")
      else line(s"sf_inter=select(sf,$slo,$shi)", "select")
    val sSel: Int => Boolean =
      if (join == "treejoin") _ => true else j => sf(j) >= slo && sf(j) <= shi
    Script("read", join, Vector(
      line(s"rc_inter=select(rc,$rlo,9)", "select"),
      line("join_input1=fetch(ra,rc_inter)", "fetch"),
      rightSel,
      line("join_input2=fetch(sa,sf_inter)", "fetch"),
      line(s"r_results,s_results=$join(join_input1,join_input2)", "join"),
      line("rd_values=fetch(rd,r_results)", "fetch"),
      line("sg_values=fetch(sg,s_results)", "fetch"),
      line("maxr=max(rd_values)", "agg"),
      line("mins=min(sg_values)", "agg"),
      line("cr=count(rd_values)", "agg"),
      line("cs=count(sg_values)", "agg"),
      line("tuple(maxr,mins,cr,cs)", "tuple", expected(rlo, 9, sSel))))
  }

  def warmup: Script = script("hashjoin", new SplittableRandom(seed ^ 0x5eed))

  def streams(n: Int, seconds: Int): IndexedSeq[ClientScripts] =
    (0 until n).map(client)

  private def client(c: Int): ClientScripts = new ClientScripts {
    private val r = new SplittableRandom(seed * 1000003L + c)
    private var i = 0
    def next(): Option[Script] = { val s = script(joins(i % 4), r); i += 1; Some(s) }
  }

  def liveValues: Long = 3L * NR + 3L * NS
}

/** Range scans with positional math and full row emission over one
  * 500,000-row table: two clients, each script selecting 0.2-2% of tb.
  * Selectivities are stratified: each block of ten scripts draws one from
  * each tenth of the range, as five pairs of mirrored tenths in seeded
  * order, so any even-length prefix averages the middle of the range.
  */
final class ScanMathEmit(seed: Long) extends Workload {
  val name = "scan_math_emit"
  val clients = 2
  val N = 500000
  val Domain = 1000000
  private val rnd = new SplittableRandom(seed)
  val ta: Array[Int] = Array.fill(N)(rnd.nextInt(Domain))
  val tb: Array[Int] = Array.fill(N)(rnd.nextInt(Domain))
  val tc: Array[Int] = Array.fill(N)(rnd.nextInt())
  val td: Array[Int] = Array.fill(N)(rnd.nextInt())

  def generate(dir: Path): Seq[String] = {
    val t = dir.resolve("t.csv")
    Workload.writeCsv(t, Seq("ta", "tb", "tc", "td"), Seq(ta, tb, tc, td))
    Seq("""create(ta,"sorted")""", """create(tb,"b+tree")""",
      """create(tc,"unsorted")""", """create(td,"unsorted")""",
      s"""load("$t")""")
  }

  def script(r: SplittableRandom, stratum: Int): Script = {
    import Script.line
    val width = (Domain * (0.002 + 0.0018 * (stratum + r.nextDouble()))).toInt
    val lo = r.nextInt(Domain - width)
    val hi = lo + width - 1
    val rows = IndexedSeq.newBuilder[String]
    var sumM = 0
    var i = 0
    while (i < N) {
      if (tb(i) >= lo && tb(i) <= hi) {
        val (c, d) = (tc(i), td(i))
        val m = c * d // Int arithmetic wraps at 32 bits, as the engine's math does
        rows += Workload.tuple(c, d, c + d, m)
        sumM += m
      }
      i += 1
    }
    Script("read", "scan", Vector(
      line(s"p=select(tb,$lo,$hi)", "select"),
      line("c=fetch(tc,p)", "fetch"),
      line("d=fetch(td,p)", "fetch"),
      line("s=add(c,d)", "math"),
      line("m=mul(c,d)", "math"),
      Line("tuple(c,d,s,m)", "tuple", rows.result()),
      line("sum(m)", "agg", sumM.toString)))
  }

  def warmup: Script = script(new SplittableRandom(seed ^ 0x5eed), 5)

  def streams(n: Int, seconds: Int): IndexedSeq[ClientScripts] =
    (0 until n).map(client)

  private def client(c: Int): ClientScripts = new ClientScripts {
    private val r = new SplittableRandom(seed * 1000003L + c)
    private var i = 0
    private var strata: Seq[Int] = Nil
    def next(): Option[Script] = {
      if (i % 10 == 0) strata = Workload.shuffle(0 until 5, r).flatMap { k =>
        if (r.nextBoolean()) Seq(k, 9 - k) else Seq(9 - k, k)
      }
      i += 1
      Some(script(r, strata((i - 1) % 10)))
    }
  }

  def liveValues: Long = 4L * N
}

/** Reads beside writes: three clients, each owning a 4-column unsorted
  * table of 200,000 rows, running a fixed seeded sequence of 50% reads
  * (tuple, sum, avg and count in turn), 30% one-row inserts, 10% updates
  * and 10% deletes.
  */
final class WriteMix(seed: Long) extends Workload {
  val name = "write_mix"
  val clients = 3
  val N = 200000
  val Domain = 1000000
  val ValueRange = 1000000
  /** Length of each client's fixed sequence per ten seconds of
    * `--seconds`: about what a 4-core host completes, so the sequence
    * takes roughly the requested window. The sequence, not the clock,
    * ends the run, so every run with one seed ends in the same state.
    */
  val ScriptsPer10s = 7

  private def colName(c: Int, k: Int) = s"w$c${"abcd"(k)}"

  private val base: IndexedSeq[Array[Array[Int]]] = (0 until clients).map { c =>
    val r = new SplittableRandom(seed * 31 + c)
    Array(Array.fill(N)(r.nextInt(Domain))) ++
      Array.fill(3)(Array.fill(N)(Workload.uniform(r, -ValueRange, ValueRange)))
  }

  /** Per-client models of the current timed loop (the last set-up's). */
  private var models: IndexedSeq[TableModel] = base.map(new TableModel(_))

  def generate(dir: Path): Seq[String] =
    (0 until clients).flatMap { c =>
      val f = dir.resolve(s"w$c.csv")
      Workload.writeCsv(f, (0 until 4).map(colName(c, _)), base(c).toSeq)
      (0 until 4).map(k => s"""create(${colName(c, k)},"unsorted")""") :+
        s"""load("$f")"""
    }

  /** Range of `a` around a random live row, so the select is never empty. */
  private def around(m: TableModel, r: SplittableRandom, width: Int): (Int, Int) = {
    var id = r.nextInt(m.nextId)
    while (!m.isLive(id)) id = r.nextInt(m.nextId)
    val center = m.value(0, id)
    ((center - width / 2) max 0, center + width / 2)
  }

  /** select + fetch, then `variant` (0-3): a second fetch and a
    * two-column tuple, sum, avg, or count.
    */
  def read(c: Int, m: TableModel, r: SplittableRandom, variant: Int): Script = {
    import Script.line
    val (lo, hi) = around(m, r, 500 + r.nextInt(4501))
    val ids = m.select(0, lo, hi)
    val b = m.values(1, ids)
    val head = Vector(
      line(s"p=select(${colName(c, 0)},$lo,$hi)", "select"),
      line(s"b=fetch(${colName(c, 1)},p)", "fetch"))
    variant match {
      case 0 =>
        val cv = m.values(2, ids)
        Script("read", "tuple", head ++ Vector(
          line(s"c=fetch(${colName(c, 2)},p)", "fetch"),
          Line("tuple(b,c)", "tuple", b.indices.map(i => Workload.tuple(b(i), cv(i))))))
      case 1 => Script("read", "sum", head :+ line("sum(b)", "agg", Wrap.sum(b.iterator).toString))
      case 2 => Script("read", "avg", head :+ line("avg(b)", "agg", Wrap.avg(b).toString))
      case _ => Script("read", "count", head :+ line("count(b)", "agg", ids.size.toString))
    }
  }

  /** Each block of ten scripts is a seeded shuffle of this deck, so any
    * run of whole blocks has exactly the stated mix.
    */
  val Deck: Seq[String] = Seq.fill(5)("read") ++ Seq.fill(3)("insert") ++ Seq("update", "delete")

  /** The next script of client c's fixed sequence; writes are applied to
    * the model as the script is made (the client runs them in order).
    */
  def step(c: Int, m: TableModel, r: SplittableRandom, kind: String, reads: Int): Script = {
    import Script.line
    if (kind == "read") read(c, m, r, reads % 4)
    else if (kind == "insert") {
      val row = Seq(r.nextInt(Domain)) ++
        Seq.fill(3)(Workload.uniform(r, -ValueRange, ValueRange))
      m.insert(row)
      val body = row.zipWithIndex.map { case (v, k) => s"${colName(c, k)},$v" }
      Script("write", "insert", Vector(line(s"insert(${body.mkString(",")})", "insert")))
    } else {
      val (lo, hi) = around(m, r, 100)
      val ids = m.select(0, lo, hi)
      val sel = line(s"p=select(${colName(c, 0)},$lo,$hi)", "select")
      if (kind == "update") {
        val k = 1 + r.nextInt(3)
        val v = Workload.uniform(r, -ValueRange, ValueRange)
        m.update(ids, k, v)
        Script("write", "update", Vector(sel, line(s"update(p,${colName(c, k)},$v)", "update")))
      } else {
        m.delete(ids)
        val cols = (0 until 4).map(colName(c, _)).mkString(",")
        Script("write", "delete", Vector(sel, line(s"delete(p,$cols)", "delete")))
      }
    }
  }

  def warmup: Script = read(0, new TableModel(base(0)), new SplittableRandom(seed ^ 0x5eed), 0)

  def streams(n: Int, seconds: Int): IndexedSeq[ClientScripts] = {
    models = base.map(new TableModel(_))
    (0 until n).map(client(_, (ScriptsPer10s * seconds + 5) / 10))
  }

  private def client(c: Int, total: Int): ClientScripts = {
    val m = models(c)
    new ClientScripts {
      private val r = new SplittableRandom(seed * 1000003L + c)
      private var i = 0
      private var reads = 0
      private var block: Seq[String] = Nil
      def next(): Option[Script] =
        if (i >= total) None
        else {
          if (i % Deck.size == 0) block = Workload.shuffle(Deck, r)
          val kind = block(i % Deck.size)
          i += 1
          val s = step(c, m, r, kind, reads)
          if (kind == "read") reads += 1
          Some(s)
        }
      override def fixed = true
    }
  }

  def liveValues: Long = models.map(_.liveCount.toLong * 4).sum

  override def verifyStore(digests: Seq[String] => Map[String, Digest]): Seq[String] = {
    val names = for (c <- 0 until clients; k <- 0 until 4) yield (c, k, colName(c, k))
    val got = digests(names.map(_._3))
    names.flatMap { case (c, k, n) =>
      val want = models(c).digest(k)
      if (got.get(n).contains(want)) None
      else Some(s"$n: store has ${got.get(n)}, model has $want")
    }
  }
}
