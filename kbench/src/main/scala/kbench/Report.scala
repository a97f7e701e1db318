package kbench

import scala.collection.mutable

/** A metric the benchmark prints: name, unit, value. */
final case class Metric(name: String, unit: String, value: Double)

/** Names and units of every metric, in print order. BENCHMARK.json lists
  * the same names (ReportSpec checks that they agree).
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "scripts_per_s" -> "1/s",
    "read_ms_p50" -> "ms",
    "rows_out_per_s" -> "1/s",
    "heap_after_gc_mb" -> "MB",
    "space_amp" -> "x",
    "ops_ok_frac" -> "frac")

  val perLayer: Seq[(String, String)] = Seq(
    "lang.parse_us_per_line" -> "us",
    "server.line_rtt_ms_p50" -> "ms",
    "server.emit_ms_per_script" -> "ms",
    "server.rows_out_per_script" -> "count",
    "server.bytes_out_per_script" -> "B",
    "core.load_s" -> "s",
    "core.insert_ms_p50" -> "ms",
    "core.rewrite_ms_p50" -> "ms",
    "core.version_dirs" -> "count",
    "core.part_files_live" -> "count",
    "core.store_bytes_pre_vacuum" -> "B",
    "core.vacuum_ms" -> "ms",
    "core.vacuum_bytes_freed" -> "B",
    "spark.jobs_per_script" -> "count",
    "spark.stages_per_script" -> "count",
    "spark.tasks_per_script" -> "count",
    "spark.job_wall_ms_per_script" -> "ms",
    "driver.self_ms_per_script" -> "ms",
    "sql.planning_ms_per_script" -> "ms",
    "spark.shuffle_write_bytes_per_script" -> "B",
    "spark.shuffle_read_bytes_per_script" -> "B",
    "spark.executor_run_ms_per_script" -> "ms",
    "spark.spill_bytes_per_script" -> "B",
    "spark.input_records_per_row_out" -> "ratio",
    "cache.bytes_held" -> "B",
    "trace.overhead_frac" -> "frac",
    "trace.unattributed_jobs" -> "count") ++
    Script.OpTypes.flatMap(t => Seq(s"op.$t.ms_p50" -> "ms", s"op.$t.jobs" -> "count"))
}

/** Everything one run measured, and how it is printed. */
final class Report(val workload: String, val trace: Boolean) {
  var setupS, loadS, heapMb, cacheBytes = 0.0
  var versionDirs, partFilesLive, storeBytesPre, vacuumMs, vacuumFreed, spaceAmp = 0.0
  var parseUsPerLine = 0.0
  var failures: Seq[String] = Nil

  // loop results
  var attempted = 0L
  var failedLines = 0L
  var measuredScripts = 0
  var scriptsPerS, rowsOutPerS = 0.0
  var read: Seq[(String, Double)] = Nil
  var writeMs: Seq[Double] = Nil
  val perLayer = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.ArrayBuffer[String]()
  var artifact: Json.Obj = Json.Obj()

  def readMs: Seq[Double] = read.map(_._2)

  /** Per client: its scripts and its measured window in seconds. Rates
    * are summed per client (each client's count over its own window),
    * which is exact for a closed loop. Ramp scripts count as attempted
    * lines but are not measured.
    */
  def addLoop(perClient: Seq[(Seq[ScriptRec], Double)]): Unit = {
    attempted = perClient.flatMap(_._1).map(_.lines.size.toLong).sum
    failedLines = perClient.flatMap(_._1).map(_.failedLines.toLong).sum
    val measured = perClient.map { case (s, sec) => (s.filterNot(_.ramp), sec) }
    val all = measured.flatMap(_._1)
    measuredScripts = all.size
    scriptsPerS = measured.map { case (s, sec) => s.size / sec }.sum
    rowsOutPerS = measured.map { case (s, sec) => s.map(_.rows).sum / sec }.sum
    read = all.filter(_.isRead).map(s => s.script.label -> s.ms)
    writeMs = all.filterNot(_.isRead).map(_.ms)
    notes += all.groupBy(_.script.label).toSeq.sortBy(_._1).map { case (l, ss) =>
      f"$l ${ss.size}x p50 ${Stats.median(ss.map(_.ms))}%.1f ms"
    }.mkString("by script: ", ", ", "")
  }

  def opsFailedFrac: Double = if (attempted == 0) 1.0 else failedLines.toDouble / attempted
  def correct: Boolean = failures.isEmpty && failedLines == 0 && attempted > 0

  def endToEnd: Seq[Metric] = {
    val v = Map(
      "setup_s" -> setupS,
      "scripts_per_s" -> scriptsPerS,
      "read_ms_p50" -> (if (read.isEmpty) 0.0 else Stats.labelMedian(read)),
      "rows_out_per_s" -> rowsOutPerS,
      "heap_after_gc_mb" -> heapMb,
      "space_amp" -> spaceAmp,
      "ops_ok_frac" -> (1.0 - opsFailedFrac))
    Metrics.endToEnd.map { case (n, u) => Metric(n, u, v(n)) }
  }

  def layerMetrics: Seq[Metric] = {
    val fixed = Map(
      "core.load_s" -> loadS,
      "core.version_dirs" -> versionDirs,
      "core.part_files_live" -> partFilesLive,
      "core.store_bytes_pre_vacuum" -> storeBytesPre,
      "core.vacuum_ms" -> vacuumMs,
      "core.vacuum_bytes_freed" -> vacuumFreed,
      "cache.bytes_held" -> cacheBytes,
      "lang.parse_us_per_line" -> parseUsPerLine)
    Metrics.perLayer.map { case (n, u) =>
      Metric(n, u, fixed.getOrElse(n, perLayer.getOrElse(n, 0.0)))
    }
  }

  /** Per-layer numbers from the traced blocks of the window. */
  def addTrace(t: Tracer, scripts: Seq[ScriptRec]): Unit = {
    val traced = scripts.filter(_.traced)
    val untraced = scripts.filterNot(_.traced)
    val lines = traced.flatMap(_.lines).sortBy(_.sendMs).toIndexedSeq
    val iv = lines.map(l => (l.sendMs, l.doneMs))
    val jobs = t.jobList
    val jobLine = jobs.map(j => j.id -> Attribution.lineOf(iv, j.startMs, j.endMs)).toMap
    val unattributed = jobLine.values.count(_ < 0)

    // stage -> the latest traced job listing it that started by its submission
    val jobsByStage = jobs.flatMap(j => j.stageIds.map(_ -> j)).groupMap(_._1)(_._2)
    val stageJob = t.stageList.flatMap { s =>
      jobsByStage.getOrElse(s.id, Nil).filter(_.startMs <= s.submitMs)
        .sortBy(_.startMs).lastOption.map(j => s -> j)
    }
    final class Acc {
      var jobs = 0; var stages = 0; var tasks = 0L; var jobWall = 0L; var runMs = 0L
      var shW = 0L; var shR = 0L; var spill = 0L; var inRec = 0L; var planMs = 0L
      val jobIv = mutable.ArrayBuffer[(Long, Long)]()
    }
    val acc = Array.fill(lines.size)(new Acc)
    jobs.foreach { j =>
      val i = jobLine(j.id)
      if (i >= 0) {
        acc(i).jobs += 1; acc(i).jobWall += j.endMs - j.startMs
        acc(i).jobIv += ((j.startMs, j.endMs))
      }
    }
    stageJob.foreach { case (s, j) =>
      val i = jobLine(j.id)
      if (i >= 0) {
        val a = acc(i)
        a.stages += 1; a.tasks += s.tasks; a.runMs += s.runMs; a.shW += s.shuffleWrite
        a.shR += s.shuffleRead; a.spill += s.spill; a.inRec += s.inputRecords
      }
    }
    val PlanPhases = Set("analysis", "optimization", "planning")
    t.phaseList.filter(p => PlanPhases(p.name)).foreach { p =>
      val i = Attribution.lineAt(iv, p.startMs)
      if (i >= 0) acc(i).planMs += p.endMs - p.startMs
    }
    val accOf = lines.zip(acc).toMap

    def perScript(f: (LineRec, Acc) => Double): Double =
      Stats.mean(traced.map(s => s.lines.map(l => f(l, accOf(l))).sum))
    def put(n: String, v: Double): Unit = perLayer(n) = v

    put("server.line_rtt_ms_p50", Stats.medianOr0(lines.map(_.ms)))
    put("server.emit_ms_per_script", perScript((l, _) => l.emitMs))
    put("server.rows_out_per_script", perScript((l, _) => l.rows))
    put("server.bytes_out_per_script", perScript((l, _) => l.bytes))
    put("spark.jobs_per_script", perScript((_, a) => a.jobs))
    put("spark.stages_per_script", perScript((_, a) => a.stages))
    put("spark.tasks_per_script", perScript((_, a) => a.tasks))
    put("spark.job_wall_ms_per_script", perScript((_, a) => a.jobWall))
    put("driver.self_ms_per_script", perScript((l, a) =>
      l.ms - Stats.coveredWithin(l.sendMs, l.doneMs, a.jobIv.toSeq)))
    put("sql.planning_ms_per_script", perScript((_, a) => a.planMs))
    put("spark.shuffle_write_bytes_per_script", perScript((_, a) => a.shW))
    put("spark.shuffle_read_bytes_per_script", perScript((_, a) => a.shR))
    put("spark.executor_run_ms_per_script", perScript((_, a) => a.runMs))
    put("spark.spill_bytes_per_script", perScript((_, a) => a.spill))
    val rowsOut = lines.map(_.rows.toDouble).sum
    put("spark.input_records_per_row_out",
      if (rowsOut == 0) 0.0 else acc.map(_.inRec.toDouble).sum / rowsOut)
    put("core.insert_ms_p50", Stats.medianOr0(lines.filter(_.line.op == "insert").map(_.ms)))
    put("core.rewrite_ms_p50", Stats.medianOr0(
      lines.filter(l => l.line.op == "update" || l.line.op == "delete").map(_.ms)))
    Script.OpTypes.foreach { op =>
      val ls = lines.filter(_.line.op == op)
      put(s"op.$op.ms_p50", Stats.medianOr0(ls.map(_.ms)))
      put(s"op.$op.jobs", Stats.mean(ls.map(l => accOf(l).jobs.toDouble)))
    }
    val tracedRead = traced.filter(_.isRead).map(_.ms)
    val untracedRead = untraced.filter(_.isRead).map(_.ms)
    put("trace.overhead_frac",
      if (tracedRead.isEmpty || untracedRead.isEmpty) 0.0
      else Stats.median(tracedRead) / Stats.median(untracedRead) - 1.0)
    put("trace.unattributed_jobs", unattributed)
    notes += f"trace: ${traced.size} traced and ${untraced.size} untraced scripts; " +
      f"read p50 traced ${Stats.medianOr0(tracedRead)}%.1f ms, untraced ${Stats.medianOr0(untracedRead)}%.1f ms"

    // the artifact: baseline-table columns, per-script and per-op counts,
    // per-layer self time, and every span
    val t0 = if (lines.isEmpty) 0L else lines.head.sendMs
    val spans = mutable.ArrayBuffer[Json.Value]()
    var nextId = 0
    def span(parent: Int, name: String, a: Long, b: Long, self: Double): Int = {
      val id = nextId; nextId += 1
      spans += Json.Arr(Seq(Json.Num(id), Json.Num(parent), Json.Str(name),
        Json.Num(a - t0), Json.Num(b - t0), Json.Num(self)))
      id
    }
    val selfMs = mutable.LinkedHashMap("script" -> 0.0, "line" -> 0.0,
      "spark.job" -> 0.0, "spark.stage" -> 0.0)
    val stagesOfJob = stageJob.groupMap(_._2.id)(_._1)
    val jobsOfLine = jobs.filter(j => jobLine(j.id) >= 0).groupBy(j => jobLine(j.id))
    val lineIndex = lines.zipWithIndex.toMap
    traced.foreach { s =>
      val sa = s.lines.head.sendMs; val sb = s.lines.last.doneMs
      val sSelf = s.ms - Stats.coveredWithin(sa, sb, s.lines.map(l => (l.sendMs, l.doneMs)))
      selfMs("script") += sSelf
      val sid = span(-1, "script", sa, sb, sSelf)
      s.lines.foreach { l =>
        val js = jobsOfLine.getOrElse(lineIndex(l), Nil)
        val lSelf = l.ms - Stats.coveredWithin(l.sendMs, l.doneMs, js.map(j => (j.startMs, j.endMs)))
        selfMs("line") += lSelf
        val lid = span(sid, "line", l.sendMs, l.doneMs, lSelf)
        js.foreach { j =>
          val ss = stagesOfJob.getOrElse(j.id, Nil)
          val jSelf = (j.endMs - j.startMs) -
            Stats.coveredWithin(j.startMs, j.endMs, ss.map(x => (x.submitMs, x.endMs)))
          selfMs("spark.job") += jSelf
          val jid = span(lid, "spark.job", j.startMs, j.endMs, jSelf)
          ss.foreach { x =>
            selfMs("spark.stage") += x.endMs - x.submitMs
            span(jid, "spark.stage", x.submitMs, x.endMs, x.endMs - x.submitMs)
          }
        }
      }
    }
    val n = traced.size max 1
    def row(s: ScriptRec): Json.Value = {
      val as = s.lines.map(accOf)
      Json.Obj("seq" -> Json.Num(s.seq), "label" -> Json.Str(s.script.label),
        "wall_ms" -> Json.Num(s.ms), "jobs" -> Json.Num(as.map(_.jobs).sum),
        "stages" -> Json.Num(as.map(_.stages).sum), "tasks" -> Json.Num(as.map(_.tasks).sum),
        "shuffle_write_bytes" -> Json.Num(as.map(_.shW).sum),
        "rows_out" -> Json.Num(s.rows))
    }
    artifact = Json.Obj(
      "baseline_table" -> Json.Obj(
        "scripts" -> Json.Num(traced.size),
        "wall_ms_per_script" -> Json.Num(Stats.mean(traced.map(_.ms))),
        "jobs_per_script" -> Json.Num(perLayer("spark.jobs_per_script")),
        "stages_per_script" -> Json.Num(perLayer("spark.stages_per_script")),
        "shuffle_write_bytes_per_script" -> Json.Num(perLayer("spark.shuffle_write_bytes_per_script"))),
      "self_ms_per_script" -> Json.Obj(selfMs.toSeq.map { case (k, v) => k -> Json.Num(v / n) }: _*),
      "per_script" -> Json.Arr(traced.map(row)),
      "per_op" -> Json.Obj(Script.OpTypes.map { op =>
        op -> Json.Obj(
          "lines" -> Json.Num(lines.count(_.line.op == op)),
          "ms_p50" -> Json.Num(perLayer(s"op.$op.ms_p50")),
          "jobs" -> Json.Num(perLayer(s"op.$op.jobs")))
      }: _*),
      "span_fields" -> Json.Arr(Seq("id", "parent", "name", "start_ms", "end_ms", "self_ms").map(Json.Str)),
      "spans" -> Json.Arr(spans.toSeq))
  }

  /** Human-readable lines printed before the result line. */
  def summary: Seq[String] = {
    val p90 = (xs: Seq[Double]) =>
      Stats.percentile(xs, 90).map(v => f"$v%.1f ms").getOrElse(s"n/a (needs ${Stats.minSamples(90)} samples)")
    val out = mutable.ArrayBuffer[String]()
    out += s"workload $workload${if (trace) " (traced)" else ""}: $measuredScripts measured scripts, " +
      s"$attempted lines attempted, $failedLines failed"
    out += f"  read scripts ${readMs.size}: p50 ${Stats.medianOr0(readMs)}%.1f ms " +
      f"(variants weighed equally ${if (read.isEmpty) 0.0 else Stats.labelMedian(read)}%.1f ms), p90 ${p90(readMs)}"
    if (writeMs.nonEmpty)
      out += f"  write scripts ${writeMs.size}: p50 ${Stats.median(writeMs)}%.1f ms, p90 ${p90(writeMs)}"
    out += f"  ops_failed_frac $opsFailedFrac%.6f"
    out ++= notes.map("  " + _)
    val ms = if (trace) layerMetrics else endToEnd
    out ++= ms.map(m => f"  ${m.name}%-38s ${m.value}%14.4f ${m.unit}")
    out ++= failures.map("  FAIL " + _)
    out.toSeq
  }

  def resultLine: String = {
    val ms = if (trace) layerMetrics else endToEnd
    Json.Obj(
      "correct" -> Json.Bool(correct),
      "attempted" -> Json.Num(attempted),
      "failed" -> Json.Num(failedLines + (if (failedLines == 0 && failures.nonEmpty) 1 else 0)),
      "metrics" -> Json.Obj(ms.map(m =>
        m.name -> Json.Obj("value" -> Json.Num(m.value), "unit" -> Json.Str(m.unit))): _*)
    ).render
  }
}

/** Just enough JSON to print results and write the trace artifact. */
object Json {
  sealed trait Value { def render: String }
  final case class Str(s: String) extends Value {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }
  final case class Num(x: Double) extends Value {
    def render: String =
      if (x.isNaN || x.isInfinite) "null"
      else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
      else x.toString
  }
  final case class Bool(b: Boolean) extends Value { def render: String = b.toString }
  final case class Arr(xs: Seq[Value]) extends Value {
    def render: String = xs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kv: (String, Value)*) extends Value {
    def render: String = kv.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
}
