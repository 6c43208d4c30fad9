package graftbench

import graft.sources.{Incremental, MultiTableMirror}
import graft.streaming.{ChurnConfig, ChurnGenerator, FrameChurnGenerator,
  MirrorConfig, MirrorRunner, PgOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import scala.collection.mutable

/** Shape of one CDC lane run. `txnOps` is the size of every source
  * transaction (at least 30, see `txn`); `rate` is the steady phase's
  * offered load in transactions per second.
  */
final case class LaneConfig(frames: Boolean, seed: Long, txnOps: Int,
                            backlogTxns: Int, rate: Double, steadyS: Double,
                            burstTxns: Int)

/** The CDC half of a workload: one seeded churn stream captured into a
  * mirror through either the JDBC polling lane (embedded Derby,
  * `MirrorRunner.runOnce` with delete reconcile) or the pgoutput frame
  * lane (`FrameChurnGenerator` landing files, `MirrorRunner.runFrames`).
  *
  * Phases: load (a committed backlog, then capture from an empty mirror),
  * steady (an open loop: transaction i is due at t0 + i / rate, capture
  * rounds run back to back on this thread), burst (capture paused while a
  * burst commits, then resumed) and the FINAL check.
  *
  * A transaction is visible once the committed capture state covers it:
  * the sync watermark reaches the highest live version right after its
  * commit (poll), or the confirmed LSN reaches its commit frame (frames).
  */
final class Lane(spark: SparkSession, trace: Trace, work: String, cfg: LaneConfig) {
  val table = "churn"
  private val root = s"$work/mirror"
  private val dbUrl = "jdbc:derby:sourcedb"
  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }
  private val landing = s"$root/frames_landing"
  private val totalTxns = cfg.backlogTxns + 2 /* polling warm round */ +
    math.ceil(cfg.rate * cfg.steadyS).toInt + cfg.burstTxns
  private val churn = ChurnConfig(table, recordCount = totalTxns * cfg.txnOps,
    batchSize = cfg.txnOps, insertWeight = 8, updateWeight = 1,
    deleteWeight = 1, seed = cfg.seed)

  private var runner: MirrorRunner = _
  private var pollGen: ChurnGenerator = _
  private var frameGen: FrameChurnGenerator = _
  private var sourceConn: java.sql.Connection = _
  private var nextLsn = 10L // FrameChurnGenerator's LSN layout, see txn()

  /** Per-transaction record: coverage target and timings (ms). */
  final class Txn(val phase: String, val due: Double) {
    var start = 0.0
    var done = 0.0
    var target = Long.MaxValue
    var visible = Double.NaN
    var ops = 0L
    var failed = false
  }
  val txns = mutable.ArrayBuffer.empty[Txn]
  final case class Round(phase: String, start: Double, end: Double,
                         covered: Int, error: Option[String])
  val rounds = mutable.ArrayBuffer.empty[Round]
  private var coveredUpTo = 0 // txns(0 until coveredUpTo) are visible
  val phases = mutable.LinkedHashMap.empty[String, (Double, Double)]
  /** Rows synced per phase (traced poll rounds only). */
  val rowsSyncedBy = mutable.HashMap.empty[String, Long]
  /** Files the FINAL read lists. */
  var finalFiles = 0
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  var finalOk = false
  var finalDiff = ""

  /** Set-up: source schema (Derby) or landing dir (frames), mirror config. */
  def setup(): Unit = {
    new java.io.File(root).mkdirs()
    val cfgPath = s"$root.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      s"""mirror: bench
         |source_url: "$dbUrl"
         |target_dir: $root
         |reconcile_deletes: true
         |tables:
         |  - name: $table
         |    keys: [ID]
         |    version_col: SEQ
         |    buckets: 4
         |""".stripMargin)
    val mc = MirrorConfig.load(spark, cfgPath)
    if (cfg.frames) {
      new java.io.File(landing).mkdirs()
      runner = new MirrorRunner(spark, mc.copy(tables = mc.tables.map(
        _.copy(keys = Seq("id")))), props)
      frameGen = new FrameChurnGenerator(spark, churn, landing)
    } else {
      System.setProperty("derby.system.home", s"$work/derby")
      sourceConn = java.sql.DriverManager.getConnection(dbUrl + ";create=true")
      val st = sourceConn.createStatement()
      st.execute(s"CREATE TABLE $table (id BIGINT PRIMARY KEY, " +
        "seq BIGINT NOT NULL, qty INT, payload VARCHAR(64))")
      st.execute(s"CREATE INDEX ${table}_seq ON $table (seq)")
      st.close()
      runner = new MirrorRunner(spark, mc, props)
      pollGen = new ChurnGenerator(dbUrl, churn)
    }
  }

  private def maxLiveSeq(): Long = {
    val st = sourceConn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT MAX(seq) FROM $table")
      rs.next(); rs.getLong(1)
    } finally st.close()
  }

  /** Commit one source transaction and record its coverage target. */
  private def txn(t: Txn): Unit = trace.root("txn") {
    t.start = Clock.nowMs
    if (cfg.frames) {
      val s = trace.span("landing.write")(frameGen.runBatch())
      t.ops = s.ops; t.failed = s.failed > 0
      if (!t.failed) {
        // FrameChurnGenerator: begin at lsn, DML at lsn+1.., commit frame
        // at lsn+n+1 whose walEnd adds its 26-byte payload; next lsn+n+3.
        // A DML frame's walEnd overhangs its LSN by its payload, at most
        // ~52 bytes at this run's key and version widths, so a batch that
        // ends at the previous transaction confirms below this target
        // (previous commit LSN + n + 29) whenever n >= 30
        val commitLsn = nextLsn + s.ops + 1
        t.target = commitLsn + 26
        nextLsn = commitLsn + 2
      }
    } else {
      val s = trace.span("source.commit")(pollGen.runBatch())
      t.ops = s.ops; t.failed = s.failed > 0
      if (!t.failed) t.target = maxLiveSeq()
    }
    t.done = Clock.nowMs
  }

  private def frameStream: DataFrame = spark.readStream
    .schema(StructType(Seq(StructField("data", BinaryType))))
    .parquet(landing)

  /** The committed capture position: sync watermark or confirmed LSN. */
  private def position(): Long =
    if (cfg.frames) PgOutputStream.readConfirmedLsn(spark, s"$root/frames", table)
    else Incremental.readState(spark, s"$root/$table").map(_.watermark).getOrElse(0L)

  /** One polling round. Traced rounds drive the calls `runOnce` makes,
    * one span each; untraced ones call `runOnce` itself.
    */
  private def round(phase: String): Unit = {
    val t0 = Clock.nowMs
    val err = try {
      trace.root("capture.round") {
        if (!trace.enabled) runner.runOnce()
        else {
          val tc = Seq(runner.cfg.tables.head.toTableConfig)
          def mm = new MultiTableMirror(spark, tc,
            t => spark.read.jdbc(runner.cfg.sourceUrl, t, props), root)
          if (Incremental.readState(spark, s"$root/$table").isEmpty)
            trace.span("sources.snapshot")(mm.snapshotAll())
          else {
            val m = mm
            val r = trace.span("sources.poll")(m.pollAll())
            val d = trace.span("sources.reconcile")(m.reconcileAll())
            rowsSyncedBy(phase) = rowsSyncedBy.getOrElse(phase, 0L) +
              (r.values ++ d.values).map(_.rowsSynced).sum
          }
        }
      }
      None
    } catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(300)) }
    val before = coveredUpTo
    cover(position(), Clock.nowMs, startedBy = t0)
    rounds += Round(phase, t0, Clock.nowMs, coveredUpTo - before, err)
  }

  /** Mark visible, at `now`, every committed transaction the position
    * covers; a polling round only covers what was committed before it
    * started.
    */
  private def cover(pos: Long, now: Double, startedBy: Double): Unit =
    while (coveredUpTo < txns.size && txns(coveredUpTo).done > 0 &&
      txns(coveredUpTo).done <= startedBy && txns(coveredUpTo).target <= pos) {
      txns(coveredUpTo).visible = now
      coveredUpTo += 1
    }

  // The frame lane captures with one long-running `runFrames` query whose
  // micro-batches run back to back (the slot consumer's production shape);
  // pausing capture stops it, resuming starts a new one over the same
  // checkpoint. Its rounds are the micro-batches, taken from the query's
  // progress when it stops.
  private var stream: StreamingQuery = _

  private def startStream(): Unit = if (stream == null) {
    streamStart = Clock.nowMs
    stream = runner.runFrames(frameStream, trigger = Trigger.ProcessingTime(0L))
  }
  private var streamStart = 0.0

  private def stopStream(phase: String): Unit = if (stream != null) {
    val q = stream
    stream = null
    // stop between batches: a batch interrupted by stop() is replayed by
    // the next query, which would charge it to the next phase
    try if (q.isActive) q.processAllAvailable() catch { case _: Throwable => () }
    q.stop()
    q.recentProgress.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      rounds += Round(phaseAt(s, phase), s, s + d,
        if (p.numInputRows > 0) 1 else 0, None)
    }
    q.exception.foreach(e => rounds += Round(phase, Clock.nowMs, Clock.nowMs, 0,
      Some(e.toString.takeWhile(_ != '\n').take(300))))
  }

  private def phaseAt(t: Double, default: String): String =
    phases.collectFirst { case (ph, (a, b)) if t >= a && t < b => ph }.getOrElse(default)

  /** One frame-lane step: keep the stream running, then read the
    * confirmed LSN.
    */
  private def watch(phase: String): Unit = {
    if (stream != null && !stream.isActive) stopStream(phase)
    startStream()
    Thread.sleep(10)
    // the stream swaps the LSN file by delete then rename; a read that
    // lands in between misses it and simply tries again next step
    try cover(position(), Clock.nowMs, startedBy = Double.MaxValue)
    catch { case _: java.io.FileNotFoundException => lsnReadMisses += 1 }
  }
  /** LSN reads that fell between the stream's delete and rename. */
  var lsnReadMisses = 0

  private def step(phase: String): Unit = if (cfg.frames) watch(phase) else round(phase)

  private def allCovered: Boolean = coveredUpTo == txns.size

  /** Capture until every committed transaction is visible, or `deadline`. */
  private def drain(phase: String, deadline: Double): Unit =
    while (!allCovered && Clock.nowMs < deadline) step(phase)

  private def livePayloadRows(): Long =
    if (cfg.frames) frameGen.liveRows else pollGen.liveRows

  def run(deadline: Double): Unit = {
    // load: a committed backlog, then capture into the empty mirror
    var p0 = Clock.nowMs
    (0 until cfg.backlogTxns).foreach { i =>
      val t = new Txn("load", Clock.nowMs); txns += t; txn(t)
    }
    val liveAtLoad = livePayloadRows()
    val c0 = Clock.nowMs
    drain("load", deadline)
    val snapshots = mutable.ArrayBuffer(liveAtLoad * 1000.0 / (Clock.nowMs - c0))
    // polling: two more snapshots of the same backlog (drop, the resync
    // verb, then a round), so one noisy round does not set the rate
    if (!cfg.frames) (0 until 2).foreach { _ =>
      runner.drop(table)
      val c = Clock.nowMs
      round("load")
      snapshots += liveAtLoad * 1000.0 / (Clock.nowMs - c)
    }
    e2e("snapshot_rows_per_s") = Lane.pct(snapshots.sorted.toSeq, 0.5)
    // polling: two more transactions and a round, so the incremental path
    // (not the snapshot's) is warm before the steady phase measures it;
    // the frame lane's first batch already ran the path every batch runs
    if (!cfg.frames) {
      (0 until 2).foreach { _ =>
        val t = new Txn("load", Clock.nowMs); txns += t; txn(t)
      }
      drain("load", deadline)
    }
    phases("load") = (p0, Clock.nowMs)

    // steady: open loop on a generator thread, rounds back to back here
    p0 = Clock.nowMs
    val n = math.ceil(cfg.rate * cfg.steadyS).toInt
    val steady = (0 until n).map(i => new Txn("steady", p0 + 50.0 + i * 1000.0 / cfg.rate))
    val queued = new java.util.concurrent.ConcurrentLinkedQueue[Txn]()
    val gen = new Thread(() => steady.foreach { t =>
      val wait = t.due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      txn(t)
      queued.add(t)
    }, "churn-generator")
    gen.setDaemon(true)
    gen.start()
    def absorb(): Unit = while (!queued.isEmpty) txns += queued.poll()
    while ((gen.isAlive || !queued.isEmpty || !allCovered) && Clock.nowMs < deadline) {
      absorb()
      if (gen.isAlive || !allCovered) step("steady")
    }
    gen.join(math.max(1L, (deadline - Clock.nowMs).toLong))
    absorb()
    phases("steady") = (p0, Clock.nowMs)

    // burst: capture paused while the burst commits, then the catch-up
    p0 = Clock.nowMs
    if (cfg.frames) stopStream("steady") else runner.pause(table)
    (0 until cfg.burstTxns).foreach { _ =>
      val t = new Txn("burst", Clock.nowMs); txns += t; txn(t)
    }
    if (!cfg.frames) runner.resume(table)
    val b0 = Clock.nowMs
    drain("burst", deadline)
    stopStream("burst")
    val burstOps = txns.filter(_.phase == "burst").map(_.ops).sum
    e2e("catchup_ops_per_s") = burstOps * 1000.0 / (Clock.nowMs - b0)
    phases("burst") = (p0, Clock.nowMs)

    val lat = txns.filter(t => t.phase == "steady" && !t.visible.isNaN)
      .map(t => t.visible - t.due).sorted.toSeq
    e2e("visible_p50_ms") = Lane.pct(lat, 0.50)
    e2e("visible_p90_ms") = Lane.pct(lat, 0.90)
    e2e("visible_n") = lat.size

    // FINAL: full materialization, then row-for-row against the reference
    p0 = Clock.nowMs
    val reads = (0 until 7).map { _ =>
      val t0 = Clock.nowMs
      trace.root("mirror.final")(fin.write.format("noop").mode("overwrite").save())
      Clock.nowMs - t0
    }
    e2e("final_read_s") = Lane.pct(reads.sorted, 0.5) / 1000.0
    finalFiles = fin.inputFiles.length
    phases("final") = (p0, Clock.nowMs)
    checkFinal(plant = false)
    val committedOps = txns.filterNot(_.failed).map(_.ops).sum
    e2e("bytes_per_op") = Lane.du(mirrorDirs) / math.max(1L, committedOps).toDouble
    e2e("committed_ops") = committedOps.toDouble
  }

  private def fin: DataFrame =
    if (cfg.frames) runner.readFramesFinal(table) else runner.readFinal(table)

  /** Mirror FINAL against the generator's reference state, row for row.
    * `plant` alters one reference row first, to show the gate fires.
    */
  private def checkFinal(plant: Boolean): Unit = {
    val ref = (if (cfg.frames) frameGen else pollGen).expectedFinal(spark)
    val rows = (df: DataFrame) => df.select(col("id").cast("long"),
      col("seq").cast("long"), col("qty").cast("int"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3))).toSet
    val got = rows(fin)
    val want0 = rows(ref)
    val want = if (!plant) want0 else want0.take(1).map {
      case (k, s, q, p) => (k, s, q + 1, p) } ++ want0.drop(1)
    finalOk = got == want && allCovered
    finalDiff = if (finalOk) "" else s"mirror-only ${(got -- want).take(3)} " +
      s"reference-only ${(want -- got).take(3)} uncovered ${txns.size - coveredUpTo}"
  }

  def plantWrongRow(): Unit = checkFinal(plant = true)

  /** The mirror's on-disk footprint: data, manifests and capture state. */
  def mirrorDirs: Seq[String] =
    if (cfg.frames) Seq(s"$root/frames", s"$root/frames_ckpt")
    else Seq(s"$root/$table")

  def deadLetters(): Long = {
    val d = new java.io.File(s"$root/frames_dead")
    if (!d.exists()) 0L
    else d.listFiles().filter(_.isDirectory).map(t =>
      spark.read.parquet(t.getPath).count()).sum
  }

  /** Per-transaction and per-round timings, relative to the first due. */
  def detail: Map[String, Any] = {
    val t0 = txns.headOption.map(_.due).getOrElse(0.0)
    Map("txns" -> txns.map(t => Seq(t.phase, t.due - t0, t.start - t0, t.done - t0,
      t.visible - t0)), "rounds" -> rounds.map(r => Seq(r.phase, r.start - t0,
      r.end - t0, r.covered)))
  }

  def failedTxns: Int = txns.count(_.failed)
  def failedRounds: Int = rounds.count(_.error.isDefined)

  def close(): Unit = {
    stopStream("final")
    if (sourceConn != null) {
      sourceConn.close()
      try java.sql.DriverManager.getConnection(s"$dbUrl;shutdown=true")
      catch { case _: java.sql.SQLException => () } // shutdown always throws
    }
    spark.streams.active.foreach(_.stop())
  }
}

object Lane {
  /** Nearest-rank percentile of sorted `xs` (NaN when empty). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs(math.min(xs.size - 1, math.max(0, math.ceil(q * xs.size).toInt - 1)))

  /** Bytes of all regular files under `dirs`. */
  def du(dirs: Seq[String]): Long = dirs.map { d =>
    val p = java.nio.file.Paths.get(d)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }.sum
}
