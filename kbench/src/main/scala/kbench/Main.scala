package kbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point (run.py builds the classpath and calls it):
  *
  *   kbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *               --work <scratch dir> [--out <artifact dir>]
  *
  * Prints a human-readable summary, then one JSON result line last. A
  * traced run also writes its spans and per-script counters to
  * `<out>/trace-<workload>-seed<n>.json`.
  */
object Main {
  /** Hard stop well inside the 180 s a run may take. */
  val WatchdogSeconds = 170

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    require(Workload.names.contains(workload), s"unknown workload $workload")
    require(seconds >= 1, "--seconds must be at least 1")

    val watchdog = new Thread(() => {
      try {
        Thread.sleep(WatchdogSeconds * 1000L)
        System.err.println(s"kbench: run exceeded ${WatchdogSeconds}s, aborting")
        Runtime.getRuntime.halt(3)
      } catch { case _: InterruptedException => () }
    }, "kbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val work: Path = Files.createDirectories(Paths.get(opt("work")))
    val rep =
      try new Harness(Workload(workload, seed), seed, seconds, trace, work).run()
      finally Harness.deleteTree(work)
    if (trace) opts.get("out").foreach { o =>
      val dir = Files.createDirectories(Paths.get(o))
      val body = Json.Obj(
        "workload" -> Json.Str(workload), "seed" -> Json.Num(seed.toDouble),
        "metrics" -> Json.Obj(rep.layerMetrics.map(m => m.name -> Json.Num(m.value)): _*),
        "trace" -> rep.artifact).render
      Files.write(dir.resolve(s"trace-$workload-seed$seed.json"), (body + "\n").getBytes("UTF-8"))
    }
    rep.summary.foreach(println)
    println(rep.resultLine)
    System.out.flush()
    watchdog.interrupt()
    sys.exit(0)
  }
}
