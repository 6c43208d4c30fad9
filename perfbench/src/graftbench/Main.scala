package graftbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark JVM. One process runs one workload: a registry query suite
  * fully materialized, then one CDC lane through its load, steady, burst
  * and FINAL phases. `perfbench/run.py` builds it, generates the tables
  * and turns its result line into the benchmark's output.
  *
  * Usage: Main <mode> key=value...
  *   mode run     one workload (workload, seed, seconds, trace, work, data,
  *                warm, expected); prints `READY` after set-up and
  *                `RESULT <json>` at the end
  *   mode record  run every query of both families once on `data` and
  *                write their row counts and digests to `expected`
  *   mode audit   per registry query: count() vs noop-write time and the
  *                noop write's kept columns, to `out`
  *   mode selftest  show that the digest gate and the FINAL gate fire
  */
object Main {

  /** Per workload: query family and CDC transport. */
  final case class Workload(pipeline: Boolean, frames: Boolean)
  val Workloads = Map(
    "analytics_poll" -> Workload(pipeline = false, frames = false),
    "pipeline_frames" -> Workload(pipeline = true, frames = true))
  /** Steady-phase offered load, both lanes: as high as the frame lane's
    * generator keeps pace on a 4-core box, and below what either lane's
    * back-to-back capture drains, so the backlog does not grow.
    */
  val Rate = 8.0
  val TxnOps = 30

  /** The measured subset of a family. Fixed per family so a run's suite is
    * the same work on every seed; the seed only permutes the order. A run
    * must fit, set-up included, in the minute the whole benchmark allows
    * it, so analytics takes every sixteenth query of its family, and pipeline
    * one lifecycle query (a text index that creates and commits index
    * generations) plus every twenty-fourth other query of its family.
    */
  val Lifecycle = Seq("docs_bm25_indexed")
  def suiteNames(pipeline: Boolean): Seq[String] = {
    val all = Suite.family(pipeline)
    def every(ns: Seq[String], k: Int) =
      ns.zipWithIndex.collect { case (n, i) if i % k == 0 => n }
    if (pipeline) Lifecycle ++ every(all.filterNot(Lifecycle.contains), 24)
    else every(all, 16)
  }

  def main(args: Array[String]): Unit = {
    jvmStartMs = Clock.nowMs
    val mode = args.head
    val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${kv("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${kv("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionMs = Clock.nowMs - jvmStartMs
    val code = try mode match {
      case "run" => run(spark, kv, cpus)
      case "record" => record(spark, kv)
      case "audit" => Audit.run(spark, kv)
      case "selftest" => SelfTest.run(spark, kv)
    } finally spark.stop()
    sys.exit(code)
  }

  private var jvmStartMs = 0.0
  private var sessionMs = 0.0

  /** Codegen and JIT warm pass: every suite query once on the tiny tables,
    * three at a time (planning and code generation are single-threaded
    * driver work, so the box's other cores would idle). Returns errors.
    */
  def warmPass(spark: SparkSession, names: Seq[String], dir: String): Int = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try names.map { n =>
      pool.submit(() => Suite.runOne(spark, new Trace(false, spark.sparkContext),
        n, SparkEntry.queries(n), dir).error.isDefined)
    }.count(_.get())
    finally pool.shutdown()
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim catch { case _: Throwable => "" }

  /** Instantaneous runnable-entity count (4th field of /proc/loadavg). */
  def runnable(): Int =
    try loadavg().split(" ")(3).split("/")(0).toInt catch { case _: Throwable => -1 }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(
      _.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def run(spark: SparkSession, kv: Map[String, String], cpus: Int): Int = {
    val wl = Workloads(kv("workload"))
    val seed = kv("seed").toLong
    val traced = kv("trace") == "1"
    val (data, warm, work) = (kv("data"), kv("warm"), kv("work"))
    val trace = new Trace(traced, spark.sparkContext)
    val probe = if (traced) Some(new Probe(spark).attach()) else None
    val record = mutable.LinkedHashMap.empty[String, Any]
    record("setup_session_s") = sessionMs / 1000.0
    record("runnable_before") = runnable()
    record("loadavg_before") = loadavg()

    // set-up: codegen warm pass over the suite on the tiny tables, then
    // the CDC source schema or landing dir
    val names = suiteNames(wl.pipeline)
    val fns = SparkEntry.queries
    val w0 = Clock.nowMs
    val warmErrors = warmPass(spark, names, warm)
    val lane = new Lane(spark, trace, work, LaneConfig(wl.frames, seed,
      TxnOps, backlogTxns = 12, rate = Rate,
      steadyS = kv("seconds").toDouble, burstTxns = 12))
    val w1 = Clock.nowMs
    lane.setup()
    record("setup_warm_pass_s") = (w1 - w0) / 1000.0
    record("setup_lane_s") = (Clock.nowMs - w1) / 1000.0
    System.gc()
    println("READY")
    System.out.flush()

    // suite: the family subset in seeded order, each query once
    val order = new scala.util.Random(seed).shuffle(names)
    probe.foreach(_.quiesce())
    val qe0 = probe.map(_.qeCount).getOrElse(0)
    val s0 = Clock.nowMs
    val results = order.map(n => Suite.runOne(spark, trace, n, fns(n), data))
    val s1 = Clock.nowMs
    probe.foreach(_.quiesce())
    val qe1 = probe.map(_.qeCount).getOrElse(0)
    val expected = Expected.load(kv("expected"))
    val checks = results.map(r => r -> Expected.check(expected, r))
    val badQueries = checks.collect { case (r, Some(why)) => s"${r.name}: $why" }

    // CDC lane: load, steady (open loop), burst, FINAL
    val deadline = Clock.nowMs + 100000.0
    val c0 = Clock.nowMs
    lane.run(deadline)
    val c1 = Clock.nowMs
    probe.foreach(_.quiesce())
    val deadLetters = lane.deadLetters()
    lane.close()

    val e2e = mutable.LinkedHashMap[String, Double](
      "suite_s" -> (s1 - s0) / 1000.0,
      "snapshot_rows_per_s" -> lane.e2e("snapshot_rows_per_s"),
      "visible_p50_ms" -> lane.e2e("visible_p50_ms"),
      "visible_p90_ms" -> lane.e2e("visible_p90_ms"),
      "catchup_ops_per_s" -> lane.e2e("catchup_ops_per_s"),
      "final_read_s" -> lane.e2e("final_read_s"),
      "bytes_per_op" -> lane.e2e("bytes_per_op"),
      "peak_rss_mb" -> vmHwmMb())
    val attempted = results.size + lane.rounds.size + lane.txns.size
    val failed = badQueries.size + lane.failedRounds + lane.failedTxns +
      deadLetters.toInt
    val correct = badQueries.isEmpty && lane.finalOk && lane.e2e("visible_n") >= 100

    record("runnable_after") = runnable()
    record("loadavg_after") = loadavg()
    record("nproc") = cpus
    record("spark_graft_cpus") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "")
    record("driver_heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    record("jdk") = System.getProperty("java.version")
    record("spark") = spark.version
    record("seed") = seed
    record("queries") = results.size
    record("warm_errors") = warmErrors
    record("bad_queries") = badQueries
    record("final_ok") = lane.finalOk
    record("final_diff") = lane.finalDiff
    record("visible_n") = lane.e2e("visible_n")
    record("committed_ops") = lane.e2e("committed_ops")
    record("offered_txn_per_s") = Rate
    record("txn_ops") = TxnOps
    val steady = lane.txns.filter(_.phase == "steady")
    record("gen_late_ms_mean") =
      if (steady.isEmpty) 0.0 else steady.map(t => t.start - t.due).sum / steady.size
    record("gen_late_ms_max") =
      if (steady.isEmpty) 0.0 else steady.map(t => t.start - t.due).max
    record("rounds") = Layers.Phases.map(ph => ph -> {
      val rs = lane.rounds.filter(_.phase == ph)
      Map("n" -> rs.size, "mean_ms" ->
        (if (rs.isEmpty) 0.0 else rs.map(r => r.end - r.start).sum / rs.size))
    }).toMap
    record("dead_letters") = deadLetters
    record("lsn_read_misses") = lane.lsnReadMisses

    val layers = probe.map { p =>
      Layers.compute(p, trace, lane, cpus, (s0, s1), (qe0, qe1), (c0, c1),
        deadLetters, results)
    }.getOrElse(Map.empty)
    probe.foreach(_ => Layers.writeTrace(s"$work/trace.jsonl", trace.spans))

    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "e2e" -> e2e, "per_layer" -> layers, "record" -> record, "lane" -> lane.detail,
      "queries" -> results.map(r => Map("name" -> r.name, "ms" -> r.wallMs,
        "build_ms" -> r.buildMs, "rows" -> r.rows)))
    println("RESULT " + Json(out))
    0
  }

  /** Write the expected row counts and digests of both families. */
  def record(spark: SparkSession, kv: Map[String, String]): Int = {
    val fns = SparkEntry.queries
    val names = suiteNames(pipeline = false) ++ suiteNames(pipeline = true)
    warmPass(spark, names, kv("warm"))
    val rs = names.map(n => Suite.runOne(spark, new Trace(false, spark.sparkContext),
      n, fns(n), kv("data")))
    Expected.write(kv("expected"), rs)
    rs.count(_.error.isDefined)
  }
}
