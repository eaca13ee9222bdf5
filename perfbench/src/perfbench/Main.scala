package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark runner. Runs one workload in one `local[N]` session and
  * writes a raw result record (op timings, output checks, run context
  * and, in the traced run, spans and listener counters) as JSON to
  * `--out`. `perfbench/run.py` turns that record into metrics.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1
  * --state DIR --out FILE --cpus N`. All files it writes live under
  * `--state`, which the caller removes. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, state: String, out: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("state"), kv("out"), kv("cpus").toInt)
    val run = new Run(a)
    val body: Run => Unit = a.workload match {
      case "initial_load" => Workloads.initialLoad
      case "hourly_batches" => Workloads.hourlyBatches
      case "catalog_sweep" => Workloads.catalogSweep
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      body(run)
      run.finish()
    } finally run.stop()
    Files.write(Paths.get(a.out), Json(run.record).getBytes("UTF-8"))
  }
}

/** State of one benchmark run: the session, the setup phases, the
  * measured ops, the output checks and (traced) spans and counters. */
final class Run(val a: Main.Args) {
  val spans = new Spans(a.trace)
  private val counters = if (a.trace) Some(new Counters) else None
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var context = Map.empty[String, Any]
  private var setupEnd = 0.0
  private val t0 = Clock.nowMs

  val dir: String = a.state
  val rng = new scala.util.Random(a.seed)

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    counters.foreach(s.sparkContext.addSparkListener)
    s
  }

  /** A named part of set-up; set-up ends when the first op starts. */
  def phase[A](name: String)(body: => A): A = {
    val s = Clock.nowMs
    val r = spans.span(s"setup.$name")(body)
    phases(name) = (Clock.nowMs - s) / 1000
    r
  }

  /** Heap in use after a full clean-up, read before each op and at the
    * end: the memory the engine retains between ops. The reading before
    * the first op (what set-up retains) is not part of the run's peak. */
  private val liveHeapMb = mutable.ArrayBuffer.empty[Double]
  private def liveHeap(): Unit = {
    // A full GC outside the clock, as graft.Bench does between reps: a
    // collection of earlier ops' garbage then never lands inside a
    // measured op. The GC hands the ContextCleaner the dead shuffles and
    // broadcasts; it drops their blocks on its own thread, and a later
    // GC frees them. GCs repeat while that still frees more than 1 %, so
    // the reading does not depend on how far the cleaner had got.
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    System.gc()
    var mb = used
    var last = Double.MaxValue
    var rounds = 0
    while (mb < last * 0.99 && rounds < 5) {
      Thread.sleep(Run.CleanerPauseMs)
      System.gc()
      last = mb
      mb = used
      rounds += 1
    }
    liveHeapMb += mb
  }

  /** The generated tables and the oracle SQL of the catalog entries the
    * run executes; run.py counts each oracle's rows with DuckDB. */
  private var oracle = Option.empty[(String, Map[String, String])]
  def setOracle(dir: String, sql: Map[String, String]): Unit = oracle = Some((dir, sql))

  /** Persisted-RDD count after the first hourly batch; no later batch
    * may exceed it. */
  private var baseline = Option.empty[Int]
  def setBaseline(n: Int): Unit = baseline = Some(n)

  def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    ok
  }

  /** One measured op: `body` is timed; `verify` runs after the clock
    * stops. A throw or a false verify marks the op failed. `extra` is
    * filled by the body and by the traced-run probes after the op. */
  def op[V](kind: String)(body: mutable.Map[String, Any] => V)(verify: V => Boolean): Unit = {
    if (setupEnd == 0.0) setupEnd = Clock.nowMs
    liveHeap()
    val id = ops.size
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val gc0 = Run.gcMs
    spans.op = id
    val start = Clock.nowMs
    val result = try Right(spans.span("op")(body(extra))) catch { case e: Throwable => Left(e) }
    val end = Clock.nowMs
    spans.op = -1
    val (ok, err) = result match {
      case Right(v) =>
        try (verify(v), "") catch { case e: Throwable => (false, s"verify: $e") }
      case Left(e) => (false, e.toString)
    }
    if (a.trace) {
      extra("gc_ms") = Run.gcMs - gc0
      extra("persisted_rdds") = spark.sparkContext.getPersistentRDDs.size
      extra("storage_mem_bytes") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    }
    ops += Map("id" -> id, "kind" -> kind, "start" -> start, "end" -> end,
      "ok" -> ok, "err" -> err.take(500)) ++ extra
  }

  /** Closed loop, one client: start ops until `seconds` have passed
    * since the first one (at least `minOps`, and on while `unfinished`
    * holds), or until `next` reports that its input is used up. */
  def loop(minOps: Int, unfinished: => Boolean = false)(next: Int => Boolean): Unit = {
    val deadline = Clock.nowMs + a.seconds * 1000
    var k = 0
    while ((k < minOps || Clock.nowMs < deadline || unfinished) && next(k)) k += 1
  }

  /** Query-planning phases and graft rule time of an executed frame. */
  def tracker(df: DataFrame): Map[String, Any] = {
    val t = df.queryExecution.tracker
    val ph = t.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    val graftNs = t.rules.collect {
      case (name, r) if name.contains("WhenChainToMap") || name.contains("RangeJoinBinning") =>
        r.totalTimeNs
    }.sum
    Map("analysis_ms" -> ph.getOrElse("analysis", 0.0),
      "optimization_ms" -> ph.getOrElse("optimization", 0.0),
      "planning_ms" -> ph.getOrElse("planning", 0.0),
      "graft_rules_ms" -> graftNs / 1e6)
  }

  /** After the measured ops: the untimed calibration kernel and the
    * run context. */
  def finish(): Unit = {
    liveHeap()
    val calib = {
      val s = System.nanoTime()
      spark.range(0, 50000000L, 1, a.cpus)
        .selectExpr("xxhash64(id) % 997 AS k")
        .groupBy("k").count().count()
      (System.nanoTime() - s) / 1e9
    }
    context = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "seed" -> a.seed,
      "calib_s" -> calib,
      "conf" -> spark.conf.getAll)
  }

  def stop(): Unit = {
    counters.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    spark.stop()
  }

  def record: Map[String, Any] = Map(
    "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
    "sink_root" -> s"$dir/wh",
    "seconds" -> a.seconds,
    "setup_s" -> (if (setupEnd > 0) (setupEnd - t0) / 1000 else 0.0),
    "setup_phases" -> phases,
    "ops" -> ops.toSeq, "checks" -> checks.toSeq,
    "persisted_baseline" -> baseline,
    "live_heap_mb" -> liveHeapMb.toSeq,
    "oracle" -> oracle.map { case (d, q) => Map("dir" -> d, "sql" -> q) },
    "context" -> context,
    "spans" -> spans.toJson,
    "counters" -> counters.map(_.toJson).getOrElse(Map.empty))
}

object Run {
  val CleanerPauseMs = 50L

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(x => Files.delete(x))
      finally s.close()
    }
  }
}
