package kbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.core.Engine
import graft.lang.Parser
import graft.server.{NetClient, TcpServer}

/** A running system under test: Spark session, engine and TCP server. */
final class Live(val spark: SparkSession, val engine: Engine,
                 val server: TcpServer, val port: Int, val dbDir: Path)

/** The benchmark procedure for one run: data generation (untimed),
  * repeated set-up, the closed-loop timed window, end-of-run store
  * inspection and checks. Every layer is observed from outside: client
  * timestamps around NetClient, public Spark listeners, the engine's
  * public vacuum and catalog, and the store directory on disk.
  */
final class Harness(w: Workload, seed: Long, seconds: Int, trace: Boolean, work: Path) {
  val Setups = 3
  /** Scripts run this long before the window opens, so that the window
    * sees a warm JIT; they are checked but not measured.
    */
  val RampSeconds = 5
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val clients: Int = if (trace) 1 else w.clients
  val failures = scala.collection.mutable.ArrayBuffer[String]()
  private def fail(msg: String): Unit = failures.synchronized {
    if (failures.size < 20) failures += msg
  }

  private val bornNs = System.nanoTime()
  /** Phase timestamps on standard error, for reading a run's cost. */
  def log(msg: String): Unit =
    System.err.println(f"kbench ${(System.nanoTime() - bornNs) / 1e9}%7.2fs $msg")

  def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `scripts` over one connection, checking every answer. */
  def runScripts(port: Int, scripts: Seq[Script]): Unit = {
    val gate = new Gate(1); gate.open()
    val it = scripts.iterator
    val src = new ClientScripts {
      def next() = if (it.hasNext) Some(it.next()) else None
      override def fixed = true
    }
    val loop = new ClientLoop(0, src, 0L, Long.MaxValue, gate, None)
    NetClient.run("127.0.0.1", port, loop, loop.out, loop.err)
    check(loop.done.toSeq, "set-up")
  }

  def check(recs: Seq[ScriptRec], phase: String): Unit =
    for (r <- recs; l <- r.lines if l.failed)
      fail(s"$phase client ${r.client} script ${r.seq} `${l.line.text}`: " +
        Option(l.err).map("-ERR " + _).getOrElse(l.mismatch))

  /** Session start, server start, create+load over FILE frames, warm-up.
    * Returns the live system, the whole set-up time and the load time.
    */
  def setUpOnce(setupLines: Seq[String], k: Int): (Live, Double, Double) = {
    val dbDir = work.resolve(s"db$k")
    val t0 = System.nanoTime()
    val spark = session()
    log(s"set-up $k: session started")
    val engine = new Engine(spark, dbDir.toString)
    val server = new TcpServer(engine, port = 0, threads = clients)
    val port = server.start()
    val l0 = System.nanoTime()
    val load = Script("write", "load", setupLines.map(Script.line(_, "load")).toIndexedSeq)
    runScripts(port, Seq(load))
    val l1 = System.nanoTime()
    log(s"set-up $k: loaded")
    runScripts(port, Seq(w.warmup))
    val t1 = System.nanoTime()
    log(s"set-up $k: warmed up")
    (new Live(spark, engine, server, port, dbDir), (t1 - t0) / 1e9, (l1 - l0) / 1e9)
  }

  def tearDown(live: Live): Unit = {
    live.server.close()
    live.engine.close()
    live.spark.stop()
    Harness.deleteTree(live.dbDir)
  }

  def run(): Report = {
    val data = Files.createDirectories(work.resolve("data"))
    val setupLines = w.generate(data)
    log("data generated")
    val setups = (1 to Setups).map { k =>
      val (live, total, load) = setUpOnce(setupLines, k)
      if (k < Setups) tearDown(live)
      (live, total, load)
    }
    val live = setups.last._1
    val rep = new Report(w.name, trace)
    rep.setupS = Stats.median(setups.map(_._2))
    rep.loadS = Stats.median(setups.map(_._3))

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      live.spark.sparkContext.addSparkListener(t)
      live.spark.listenerManager.register(t)
    }
    // traced runs alternate traced and untraced blocks: twice the window
    val window = if (trace) 2 * seconds else seconds
    val streams = w.streams(clients, window)
    val gate = new Gate(clients)
    val startNs = System.nanoTime()
    val rampEnd = startNs + RampSeconds * 1000000000L
    val deadline = rampEnd + window * 1000000000L
    val loops = streams.zipWithIndex.map { case (s, c) =>
      new ClientLoop(c, s, rampEnd, deadline, gate, tracer)
    }
    val threads = loops.map { loop =>
      val t = new Thread(() => {
        try NetClient.run("127.0.0.1", live.port, loop, loop.out, loop.err)
        catch { case NonFatal(e) => loop.crash = e }
        finally loop.abandon()
      }, s"kbench-client-${loop.client}")
      t.start(); t
    }
    gate.awaitParked()
    log("timed window over")
    // end of the timed window: sessions still hold their bindings
    rep.heapMb = Harness.heapAfterGcMb()
    rep.cacheBytes = live.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble
    gate.open()
    threads.foreach(_.join())
    log("clients done")
    loops.foreach { l =>
      if (l.crash != null) fail(s"client ${l.client} connection failed: ${l.crash}")
    }
    tracer.foreach { t =>
      t.quiesce()
      live.spark.sparkContext.removeSparkListener(t)
      live.spark.listenerManager.unregister(t)
    }
    val all = loops.flatMap(_.done)
    check(all, "loop")
    rep.addLoop(loops.map(l => (l.done.toSeq, (l.lastEndNs - l.firstStartNs) / 1e9)))
    tracer.foreach { t =>
      rep.addTrace(t, all.filterNot(_.ramp))
      rep.parseUsPerLine = parseUs(all.filter(_.traced).flatMap(_.lines.map(_.line.text)))
    }

    // end of run: stop serving, inspect the store, vacuum with no grace
    live.server.close()
    val cols = live.dbDir.resolve("cols")
    rep.versionDirs = Harness.versionDirs(cols).size.toDouble
    rep.partFilesLive = live.engine.catalog.all.map { m =>
      Harness.files(java.nio.file.Paths.get(m.dataPath)).count(_.toString.endsWith(".parquet"))
    }.sum.toDouble
    rep.storeBytesPre = Harness.bytes(live.dbDir).toDouble
    val v0 = System.nanoTime()
    val vac = live.engine.vacuum(0L)
    rep.vacuumMs = (System.nanoTime() - v0) / 1e6
    rep.vacuumFreed = vac.reclaimedBytes.toDouble
    rep.spaceAmp = Harness.bytes(live.dbDir).toDouble / (4.0 * w.liveValues)
    live.engine.close()

    // graceful restart: a fresh engine on the same store sees every
    // acknowledged write (not a crash test)
    val reopened = new Engine(live.spark, live.dbDir.toString)
    try {
      val bad = w.verifyStore { names =>
        import org.apache.spark.sql.functions._
        val v = col("v").cast("long")
        names.map(n => reopened.column(n).withColumn("name", lit(n)))
          .reduce(_.unionByName(_))
          .groupBy("name")
          .agg(count(lit(1)), sum(v), sum(col("id") * (v + lit(Digest.Offset))), max(col("id")))
          .collect().map(r => r.getString(0) ->
            Digest(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      }
      bad.foreach(b => fail(s"restart check: $b"))
    } finally reopened.close()
    live.spark.stop()
    log("store checked")

    rep.failures = failures.toSeq
    rep
  }

  /** In-process Parser.parseLine cost on the workload's own lines. */
  private def parseUs(lines: Seq[String]): Double = {
    if (lines.isEmpty) return 0.0
    var sink = 0
    for (_ <- 1 to 5; l <- lines) sink += Parser.parseLine(l).size
    val reps = 50
    val t0 = System.nanoTime()
    for (_ <- 1 to reps; l <- lines) sink += Parser.parseLine(l).size
    val us = (System.nanoTime() - t0) / 1e3 / (reps.toDouble * lines.size)
    if (sink < 0) println(sink)
    us
  }
}

object Harness {
  /** Used heap after full collections. Spark frees broadcast and shuffle
    * state asynchronously once a collection finds it unreachable, so
    * collect until the used heap stops shrinking (at most five rounds).
    */
  def heapAfterGcMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    var prev = Long.MaxValue
    var used = 0L
    var round = 0
    do {
      prev = if (round == 0) Long.MaxValue else used
      System.gc()
      Thread.sleep(200)
      used = mx.getHeapMemoryUsage.getUsed
      round += 1
    } while (round < 5 && prev - used > (1L << 20))
    used / 1048576.0
  }

  def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def bytes(dir: Path): Long = files(dir).map(Files.size).sum

  def versionDirs(cols: Path): Seq[Path] =
    if (!Files.isDirectory(cols)) Nil
    else {
      val s = Files.list(cols)
      try s.iterator.asScala.toList.flatMap { c =>
        val v = Files.list(c)
        try v.iterator.asScala.toList.filter(p =>
          Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+"))
        finally v.close()
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}
