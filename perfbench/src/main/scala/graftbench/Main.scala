package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Db, GraftSession}
import graft.plans.{RuntimeOrderSwitchRule, SampleStore, UctJoinReorderRule, WcojJoinRule}
import graft.queries.Q
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one JVM, driven by perfbench/run.py:
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <cpus> <dataDir> <runDir>
  *
  * Set-up is repeated [[Main.setupRounds]] times (session, catalog, fixture
  * directories). An untimed pass then runs every query once and writes its
  * result with its oracle SQL under runDir/results for the DuckDB check.
  * Measurement repeats cycles until `seconds` have passed. An untraced run
  * measures at least [[Workloads.minCycles]] of them. A cycle takes the
  * workload's queries one at a time, in a seed-shuffled order, and runs each
  * three times back to back, once per learned-state condition:
  *  - cold: learned-order cache and SampleStore memory cleared, sample disk
  *    tier pointed at a new empty directory;
  *  - fresh: memory cleared, disk tier kept (a restarted process);
  *  - warm: everything kept.
  * A state's sweep is its executions in one cycle, so each state's time is
  * spread over the whole cycle rather than one block of it. Every result is
  * compared with the untimed pass.
  * Layers are measured from outside: calls into their public functions are
  * timed and their public counters read around each query. The traced run
  * (`trace` = 1) adds Spark listeners and writes spans to runDir/trace.jsonl.
  * The result goes to runDir/result.json. */
object Main {
  val setupRounds = 3
  val states: Seq[String] = Seq("cold", "fresh", "warm")

  def main(args: Array[String]): Unit = {
    if (args.length != 7) {
      System.err.println("usage: graftbench.Main <workload> <seed> <seconds> " +
        "<trace 0|1> <cpus> <dataDir> <runDir>")
      sys.exit(2)
    }
    val run = new Run(args(0), args(1).toLong, args(2).toInt, args(3) == "1",
      args(4).toInt, args(5), Paths.get(args(6)))
    run.execute()
  }
}

/** One query execution and what the layers reported around it. */
final case class Exec(query: String, state: String, startMs: Long,
    endMs: Long, wallNs: Long, rows: Long, phasesMs: Map[String, Double],
    uct: Option[UctJoinReorderRule.RuleStats], probes: Int, fired: Int,
    wcojCells: Option[Int], scans: Long, memHits: Long, diskHits: Long,
    scanMs: Long, orders: Int, marks: Seq[(String, Long, Long)],
    error: Option[String]) {
  def wallS: Double = wallNs / 1e9
}

/** One sweep: the state it ran in and its executions in one cycle. */
final case class Sweep(state: String, execs: Seq[Exec]) {
  def seconds: Double = execs.map(_.wallS).sum
}

final class Run(workload: String, seed: Long, seconds: Int, traced: Boolean,
    cpus: Int, data: String, runDir: Path) {
  private val queries: Seq[Q] = Workloads.resolve(workload)
  private val rng = new scala.util.Random(seed)
  private val learns = Workloads.learnsOrders(workload)
  private var spark: SparkSession = _
  private val problems = ArrayBuffer[String]()
  /** sorted-row digest of each query's result in the untimed pass */
  private val expected = scala.collection.mutable.Map[String, Int]()
  private val attempts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  private val failures = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  private var sampleDirs = 0
  private var sampleDir: Path = _
  /** bytes the cold executions wrote to their sample disk tiers */
  private var sampleDiskBytes = 0L

  private val t0 = System.nanoTime()
  private def phaseDone(name: String): Unit =
    System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  def execute(): Unit = {
    val setups = (1 to Main.setupRounds).map(_ => setup())
    phaseDone("setup (rounds: " +
      setups.map(r => f"${r._4}%.2f s").mkString(", ") + ")")
    val streams = new StreamLog
    spark.streams.addListener(streams)

    val tWarm0 = System.nanoTime()
    val untimed = rng.shuffle(queries).map(q => exec(q, "untimed", write = true))
    val warmupS = (System.nanoTime() - tWarm0) / 1e9
    writeOracleSql()
    phaseDone("untimed pass")
    // only the traced run reports it; the untraced run skips the GCs
    val heapBaseMb = if (traced) heapAfterGcMb() else Double.NaN

    val jobs = new JobLog
    if (traced) spark.sparkContext.addSparkListener(jobs)

    BenchBus.drain(spark.sparkContext)
    val batches0 = streams.batches.size
    val gc0 = gcMillis
    val harness0 = graft.streaming.HarnessClock.millis
    val measured = ArrayBuffer[Sweep]()
    val tM0 = System.nanoTime()
    // per-layer metrics are per cycle, so the traced run needs only one
    val minCycles = if (traced) 1 else Workloads.minCycles(workload)
    do measured ++= cycle()
    while (measured.size < minCycles * Main.states.size ||
      System.nanoTime() - tM0 < seconds * 1000000000L)
    BenchBus.drain(spark.sparkContext)
    phaseDone("measurement")
    val batches = streams.batches.asScala.toSeq.drop(batches0)
    val gcMs = gcMillis - gc0
    val harnessMs = graft.streaming.HarnessClock.millis - harness0
    val cycles = measured.size / Main.states.size
    val sampleDiskMb = sampleDiskBytes / 1048576.0 / cycles
    // tracing overhead = traced warm sweep minus the warm sweep of one more,
    // untraced cycle
    val untracedWarmS = if (!traced) Double.NaN else {
      spark.sparkContext.removeSparkListener(jobs)
      cycle().filter(_.state == "warm").map(_.seconds).sum
    }
    val execs = measured.flatMap(_.execs).toSeq
    val perCycle = (x: Double) => x / cycles

    def med(st: String) = median(measured.filter(_.state == st).map(_.seconds).toSeq)
    val e2e: Seq[(String, Double)] = {
      // a "batch" is one micro-batch on the streaming gates and one query
      // execution elsewhere; both are the workload's unit of closed-loop work
      val (latMs, rowsPerS) =
        if (Workloads.streaming(workload))
          (batches.map(_.triggerMs.toDouble),
            batches.map(_.inputRows).sum / (batches.map(_.triggerMs).sum / 1e3))
        else (execs.map(_.wallNs / 1e6),
          execs.map(_.rows).sum / execs.map(_.wallS).sum)
      Seq("setup_s" -> median(setups.map(_._4)),
        "cold_s" -> med("cold"), "fresh_s" -> med("fresh"),
        "warm_s" -> med("warm"),
        "batch_p50_ms" -> quantile(latMs, 0.5),
        "batch_p90_ms" -> quantile(latMs, 0.9),
        "stream_rows_per_s" -> rowsPerS)
    }

    val layer = ArrayBuffer[(String, Double)]()
    if (traced) {
      val ex = jobs.totals
      val sweepS = measured.map(_.seconds).sum
      val ss = (execs.map(_.scans).sum, execs.map(_.memHits).sum,
        execs.map(_.diskHits).sum)
      val intervals = jobs.intervals.asScala.toSeq
      val lastState = batches.groupBy(_.runId).values.map(_.last)
      def phase(p: String) = perCycle(execs.map(_.phasesMs.getOrElse(p, 0.0)).sum)
      def uct(f: UctJoinReorderRule.RuleStats => Double) =
        perCycle(execs.flatMap(_.uct).map(f).sum)
      def stream(f: Batch => Long) = perCycle(batches.map(f).sum.toDouble)
      layer ++= Seq(
        "session.create_ms" -> median(setups.map(_._1)),
        "session.catalog_ms" -> median(setups.map(_._2)),
        "session.fixtures_ms" -> median(setups.map(_._3)),
        "session.warmup_s" -> warmupS,
        "session.parallelism" -> spark.sparkContext.defaultParallelism.toDouble,
        "catalyst.analysis_ms" -> phase("analysis"),
        "catalyst.optimization_ms" -> phase("optimization"),
        "catalyst.planning_ms" -> phase("planning"),
        "uct.reorders" -> perCycle(execs.count(_.uct.isDefined)),
        "uct.sample_ms" -> uct(_.sampleMs),
        "uct.search_ms" -> uct(_.searchMs),
        "uct.episodes" -> uct(_.nrSamples),
        "uct.tree_nodes" -> uct(_.nrUctNodes),
        // each cold execution empties the cache, so it holds one query's
        // orders at a time: count them after each warm execution
        "uct.order_cache_size" ->
          perCycle(execs.filter(_.state == "warm").map(_.orders).sum),
        "samplestore.scans" -> perCycle(ss._1),
        "samplestore.mem_hits" -> perCycle(ss._2),
        "samplestore.disk_hits" -> perCycle(ss._3),
        "samplestore.hit_ratio" ->
          (if (ss._1 + ss._2 + ss._3 == 0) 0.0
           else (ss._2 + ss._3).toDouble / (ss._1 + ss._2 + ss._3)),
        "samplestore.scan_ms" -> perCycle(execs.map(_.scanMs).sum),
        "samplestore.disk_mb" -> sampleDiskMb,
        "switch.probes" -> perCycle(execs.map(_.probes).sum),
        "switch.fired" -> perCycle(execs.map(_.fired).sum),
        "wcoj.routed" -> perCycle(execs.count(_.wcojCells.isDefined)),
        "wcoj.cells" -> perCycle(execs.flatMap(_.wcojCells).sum),
        "exec.jobs" -> perCycle(ex.jobs),
        "exec.tasks" -> perCycle(ex.tasks),
        "exec.task_cpu_s" -> perCycle(ex.cpuNs / 1e9),
        "exec.core_util" -> ex.runMs / 1e3 / (sweepS * cpus),
        "exec.shuffle_write_mb" -> perCycle(ex.shuffleWrite / 1048576.0),
        "exec.shuffle_read_mb" -> perCycle(ex.shuffleRead / 1048576.0),
        "exec.spill_mb" -> perCycle(ex.spill / 1048576.0),
        "exec.task_gc_ms" -> perCycle(ex.gcMs),
        "exec.driver_gap_s" -> perCycle(execs.map(driverGapS(_, intervals)).sum),
        "stream.batches" -> perCycle(batches.size),
        "stream.add_batch_ms" -> stream(_.addBatchMs),
        "stream.planning_ms" -> stream(_.planningMs),
        "stream.wal_ms" -> stream(_.walMs),
        "stream.commit_offsets_ms" -> stream(_.commitOffsetsMs),
        "stream.state_commit_ms" -> stream(_.stateCommitMs),
        "stream.state_rows" -> perCycle(lastState.map(_.stateRows).sum),
        "stream.state_mb" -> perCycle(lastState.map(_.stateBytes).sum / 1048576.0),
        "stream.harness_ms" -> perCycle(harnessMs),
        "jvm.gc_ms" -> perCycle(gcMs),
        "jvm.heap_after_gc_mb" -> heapBaseMb,
        "trace.overhead_s" -> (med("warm") - untracedWarmS),
        "bench.cycles" -> cycles)
      writeSpans(untimed ++ execs, intervals)
    }

    val retainedMb = heapAfterGcMb()
    val parallelism = spark.sparkContext.defaultParallelism
    spark.stop()
    val counts = queries.map(q => q.name -> Json.obj(Seq(
      "runs" -> attempts(q.name).toString, "failed" -> failures(q.name).toString)))
    def metrics(ms: Seq[(String, Double)]) =
      Json.obj(ms.map { case (k, v) => k -> Json.num(v) })
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "parallelism" -> parallelism.toString,
      "cycles" -> cycles.toString,
      "queries" -> Json.obj(counts),
      "problems" -> problems.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> metrics(e2e :+ ("retained_heap_mb" -> retainedMb)),
      "layer" -> metrics(layer.toSeq)))
    Files.writeString(runDir.resolve("result.json"), result)
    phaseDone("run")
  }

  /** One set-up round: (create ms, catalog ms, fixtures ms, total s). The
    * previous round's session is stopped first, so each round pays for a
    * whole session; the last one is kept for the run. */
  private def setup(): (Double, Double, Double, Double) = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = GraftSession.create(cpus.toString)
    val t1 = System.nanoTime()
    Db.clearFrameCache()
    Db(spark, data).registerAll()
    val t2 = System.nanoTime()
    val results = runDir.resolve("results")
    deleteTree(results)
    Files.createDirectories(results)
    newSampleDir()
    val t3 = System.nanoTime()
    ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, (t3 - t0) / 1e9)
  }

  /** Points the SampleStore disk tier at a new empty directory owned by the
    * run, so nothing learned by earlier processes is ever read. */
  private def newSampleDir(): Unit = {
    sampleDirs += 1
    sampleDir = runDir.resolve(s"samples/$sampleDirs")
    Files.createDirectories(sampleDir)
    spark.conf.set("spark.graft.uct.sampleDiskCacheDir", sampleDir.toString)
  }

  /** One cycle: each query, in a seed-shuffled order, runs cold, fresh and
    * warm back to back. Returns one sweep per state. */
  private def cycle(): Seq[Sweep] = {
    val runs = Main.states.map(_ -> ArrayBuffer[Exec]()).toMap
    rng.shuffle(queries).foreach { q =>
      Main.states.foreach { st =>
        // no execution pays for the garbage of the one before it
        System.gc()
        st match {
          case "cold" =>
            UctJoinReorderRule.clearCache(); SampleStore.clear(); newSampleDir()
          case "fresh" =>
            UctJoinReorderRule.clearCache(); SampleStore.clear()
          case _ =>
        }
        runs(st) += exec(q, st, write = false)
      }
      sampleDiskBytes += dirBytes(sampleDir)
    }
    val sweeps = Main.states.map(st => Sweep(st, runs(st).toSeq))
    if (learns) sweeps.foreach(selfCheck)
    sweeps
  }

  /** The counters must confirm the learned-state condition each sweep ran in. */
  private def selfCheck(s: Sweep): Unit = {
    val scans = s.execs.map(_.scans).sum
    val diskHits = s.execs.map(_.diskHits).sum
    val reorders = s.execs.count(_.uct.isDefined)
    val ok = s.state match {
      case "cold" => scans > 0
      case "fresh" => diskHits > 0 && scans == 0
      case _ => reorders == 0
    }
    if (!ok) problems += s"${s.state} sweep: samplestore.scans=$scans " +
      s"samplestore.disk_hits=$diskHits uct.reorders=$reorders"
  }

  private def exec(q: Q, state: String, write: Boolean): Exec = {
    UctJoinReorderRule.lastStats = None
    WcojJoinRule.clearStats()
    RuntimeOrderSwitchRule.clearLog()
    val (sc0, hit0, disk0, ms0) = (SampleStore.scanCount, SampleStore.hitCount,
      SampleStore.diskHitCount, SampleStore.scanMillis)
    val marks = ArrayBuffer[(String, Long, Long)]()
    def mark[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally marks += ((name, t0, System.nanoTime()))
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var df: DataFrame = null
    var rows: Array[Row] = null
    var error: Option[String] = None
    try {
      df = mark("build")(q.fn(spark, data))
      if (traced) {
        mark("optimize")(df.queryExecution.optimizedPlan)
        mark("plan")(df.queryExecution.executedPlan)
      }
      rows = mark("execute")(df.collect())
    } catch { case NonFatal(e) => error = Some(s"${q.name}: $e") }
    val wallNs = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    val phases = Option(df).map(_.queryExecution.tracker.phases
      .map { case (k, v) => k -> v.durationMs.toDouble }).getOrElse(Map.empty)

    attempts(q.name) += 1
    if (error.isEmpty) {
      val digest = scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq)
      if (write) {
        expected(q.name) = digest
        try spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(runDir.resolve(s"results/${q.name}").toString)
        catch { case NonFatal(e) => error = Some(s"${q.name}: writing result: $e") }
      } else if (!expected.get(q.name).contains(digest))
        error = Some(s"${q.name}: $state result differs from the untimed pass")
    }
    error.foreach { e => failures(q.name) += 1; problems += e }
    System.err.println(f"[perfbench] $state%-7s ${q.name}%-32s ${wallNs / 1e6}%9.1f ms")
    Exec(q.name, state, startMs, endMs, wallNs, Option(rows).fold(0L)(_.length.toLong),
      phases, UctJoinReorderRule.lastStats,
      RuntimeOrderSwitchRule.recentProbes.size,
      RuntimeOrderSwitchRule.recentSwitches.size,
      WcojJoinRule.lastRoute.map(_.cells),
      SampleStore.scanCount - sc0, SampleStore.hitCount - hit0,
      SampleStore.diskHitCount - disk0, SampleStore.scanMillis - ms0,
      UctJoinReorderRule.cacheSize,
      marks.toSeq, error)
  }

  /** Oracle SQL in the layout tools/check_oracle.py reads. */
  private def writeOracleSql(): Unit = {
    val json = Json.obj(queries.map(q => q.name -> Json.str(q.sql.get.trim)))
    Files.writeString(runDir.resolve("results/oracle_sql.json"), json)
  }

  /** A query's wall time minus the union of the job intervals inside it. */
  private def driverGapS(e: Exec, jobs: Seq[(Long, Long)]): Double = {
    val inside = jobs.filter { case (s, t) => t > e.startMs && s < e.endMs }
      .map { case (s, t) => (math.max(s, e.startMs), math.min(t, e.endMs)) }
      .sortBy(_._1)
    var covered = 0L
    var reach = e.startMs
    inside.foreach { case (s, t) =>
      if (t > reach) { covered += t - math.max(s, reach); reach = t }
    }
    math.max(0.0, e.wallNs / 1e9 - covered / 1e3)
  }

  /** Spans: query → build/optimize/plan/execute, UCT sample and search under
    * optimize (durations from RuleStats, laid end to end), jobs under the
    * query they ran in. */
  private def writeSpans(execs: Seq[Exec], jobs: Seq[(Long, Long)]): Unit = {
    val spans = ArrayBuffer[Span]()
    def add(parent: Int, name: String, start: Double, dur: Double,
        attrs: Map[String, String] = Map.empty): Int = {
      spans += Span(spans.size, parent, name, start, dur, attrs); spans.size - 1
    }
    execs.foreach { e =>
      val t0ns = e.marks.headOption.fold(0L)(_._2)
      def at(ns: Long) = e.startMs + (ns - t0ns) / 1e6
      val root = add(-1, "query", e.startMs, e.wallNs / 1e6,
        Map("query" -> e.query, "state" -> e.state) ++
          e.error.map("error" -> _))
      e.marks.foreach { case (name, s, t) =>
        val id = add(root, name, at(s), (t - s) / 1e6)
        if (name == "optimize") e.uct.foreach { u =>
          add(id, "uct.sample", at(s), u.sampleMs,
            Map("relations" -> u.nrRelations.toString))
          add(id, "uct.search", at(s) + u.sampleMs, u.searchMs,
            Map("episodes" -> u.nrSamples.toString,
              "order" -> u.order.mkString(" ")))
        }
      }
      jobs.filter { case (s, _) => s >= e.startMs && s <= e.endMs }
        .foreach { case (s, t) => add(root, "job", s, t - s) }
    }
    Files.writeString(runDir.resolve("trace.jsonl"),
      spans.map(_.json).mkString("", "\n", "\n"))
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap in use once full GCs stop freeing memory. Spark's ContextCleaner
    * drops broadcast and shuffle state only after a GC has cleared the weak
    * references to it, so one GC is not enough to see the retained heap. */
  private def heapAfterGcMb(): Double = {
    def usedAfterGc(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = usedAfterGc()
    var rounds = 1
    while (rounds < 6 && cur < prev * 0.99) {
      Thread.sleep(300)
      prev = cur
      cur = usedAfterGc()
      rounds += 1
    }
    cur
  }

  private def dirBytes(p: Path): Long =
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
