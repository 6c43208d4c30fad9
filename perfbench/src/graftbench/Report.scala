package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Row counts and digests recorded at the commit that defined the
  * benchmark. `rows_only` names the queries whose output legitimately
  * differs between runs, with the reason; they check their row count only.
  */
object Expected {
  final case class Values(rows: Map[String, Long], digests: Map[String, String],
                          rowsOnly: Map[String, String])

  def load(path: String): Values = {
    val t = new ObjectMapper().readTree(new java.io.File(path))
    val q = t.get("queries")
    val names = q.fieldNames().asScala.toSeq
    Values(names.map(n => n -> q.get(n).get("rows").asLong()).toMap,
      names.map(n => n -> q.get(n).get("digest").asText()).toMap,
      t.get("rows_only").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
  }

  /** None when `r` matches, else why not. */
  def check(e: Values, r: Suite.Result): Option[String] =
    if (r.error.isDefined) r.error
    else if (!e.rows.contains(r.name)) Some("no expected value recorded")
    else if (e.rows(r.name) != r.rows) Some(s"rows ${r.rows} != expected ${e.rows(r.name)}")
    else if (!e.rowsOnly.contains(r.name) && e.digests(r.name) != r.digest)
      Some(s"digest ${r.digest} != expected ${e.digests(r.name)}")
    else None

  def write(path: String, rs: Seq[Suite.Result]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(Map(
      "queries" -> mutable.LinkedHashMap(rs.sortBy(_.name).map(r => r.name ->
        Map("rows" -> r.rows, "digest" -> r.digest, "error" -> r.error)): _*))) + "\n")
}

/** Per-layer metrics of a traced run, from its spans and listener events. */
object Layers {
  val Phases = Seq("load", "steady", "burst")

  def compute(p: Probe, trace: Trace, lane: Lane, cpus: Int,
              suite: (Double, Double), qeRange: (Int, Int), cdc: (Double, Double),
              deadLetters: Long, results: Seq[Suite.Result]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val spans = trace.spans
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = p.jobList.filterNot(_.end.isNaN)
    // a job belongs to the root span of the call that launched it (0 for
    // jobs on threads the benchmark did not start a span on)
    def runOf(j: JobRec): Int = byId.get(j.span).map(_.run).getOrElse(0)
    val jobRun = jobs.map(j => j -> runOf(j))
    def within(t: Double, w: (Double, Double)) = t >= w._1 && t < w._2
    def sumSpans(name: String, w: (Double, Double)) =
      spans.filter(s => s.name == name && within(s.start, w)).map(s => s.end - s.start).sum
    def mb(b: Long) = b / 1048576.0
    def gapMs(ss: Seq[Span]) = ss.map { s =>
      val iv = jobs.filter(j => j.end >= s.start && j.start <= s.end).map(j => (j.start, j.end))
      (s.end - s.start) - Trace.covered(iv, s.start, s.end)
    }.sum

    // suite: planning, operator driver work, execution
    val qes = p.qeSlice(qeRange._1, qeRange._2)
    // the returned frame is analyzed eagerly inside the query function;
    // the executions' own trackers hold the rest
    m("session.analysis_ms") = results.map(_.analysisMs).sum + qes.map(_.analysisMs).sum
    m("session.optimization_ms") = qes.map(_.optimizationMs).sum
    m("session.planning_ms") = qes.map(_.planningMs).sum
    val builds = spans.filter(s => s.name == "operators.build" && within(s.start, suite))
    val buildIds = builds.map(_.id).toSet
    m("operators.build_ms") = builds.map(s => s.end - s.start).sum
    m("operators.build_jobs") = jobs.count(j => buildIds(j.span))
    val sj = jobs.filter(j => within(j.start, suite))
    val wallMs = suite._2 - suite._1
    m("exec.jobs") = sj.size
    m("exec.tasks") = sj.map(_.tasks).sum
    m("exec.task_ms") = sj.map(_.runMs).sum
    m("exec.cpu_ms") = sj.map(_.cpuNs).sum / 1e6
    m("exec.gc_ms") = sj.map(_.gcMs).sum
    m("exec.core_busy") = sj.map(_.runMs).sum / (wallMs * cpus)
    m("exec.shuffle_write_mb") = mb(sj.map(_.shuffleWrite).sum)
    m("exec.shuffle_read_mb") = mb(sj.map(_.shuffleRead).sum)
    m("exec.spill_mb") = mb(sj.map(_.spill).sum)
    m("exec.peak_mem_mb") = mb(if (sj.isEmpty) 0L else sj.map(_.peakMem).max)
    m("exec.driver_gap_ms") = gapMs(spans.filter(s =>
      s.name == "exec.materialize" && within(s.start, suite)))
    m("exec.output_mb") = mb(sj.map(_.outBytes).sum)
    m("exec.files_written") = sj.map(_.outFiles).sum

    // CDC lane, per phase
    val prog = p.progressList
    m("sources.snapshot_ms") = sumSpans("sources.snapshot", cdc)
    for (ph <- Phases) {
      val w = lane.phases.getOrElse(ph, (0.0, 0.0))
      val lr = lane.rounds.filter(_.phase == ph)
      val roundIv = lr.map(r => (r.start, r.end))
      // capture jobs: launched in the phase by neither the generator nor
      // the FINAL read
      val capJobs = jobRun.filter { case (j, run) => within(j.start, w) &&
        !byId.get(run).exists(s => s.name == "txn" || s.name == "mirror.final") }
      m(s"sources.poll_ms.$ph") = sumSpans("sources.poll", w)
      m(s"sources.reconcile_ms.$ph") = sumSpans("sources.reconcile", w)
      m(s"sources.rows_synced.$ph") = lane.rowsSyncedBy.getOrElse(ph, 0L).toDouble
      m(s"sources.round_jobs.$ph") = if (lr.isEmpty) 0.0 else capJobs.size.toDouble / lr.size
      m(s"sources.empty_round_ratio.$ph") =
        if (lr.isEmpty) 0.0 else lr.count(_.covered == 0).toDouble / lr.size
      m(s"streaming.round_ms.$ph") = lr.map(r => r.end - r.start).sum
      m(s"streaming.round_failures.$ph") = lr.count(_.error.isDefined)
      val pg = prog.filter(x => within(x._1, w))
      def dur(k: String) = pg.map(_._2.getOrElse(k, 0L)).sum.toDouble
      m(s"streaming.add_batch_ms.$ph") = dur("addBatch")
      m(s"streaming.query_planning_ms.$ph") = dur("queryPlanning")
      m(s"streaming.wal_commit_ms.$ph") = dur("walCommit")
      m(s"streaming.latest_offset_ms.$ph") = dur("latestOffset")
      m(s"streaming.input_rows.$ph") = pg.map(_._3).sum.toDouble
      m(s"exec.task_ms.$ph") = capJobs.map(_._1.runMs).sum
      m(s"exec.driver_gap_ms.$ph") = roundIv.map { case (a, b) =>
        (b - a) - Trace.covered(capJobs.map(x => (x._1.start, x._1.end)), a, b)
      }.sum
      m(s"exec.output_mb.$ph") = mb(capJobs.map(_._1.outBytes).sum)
      m(s"source.commit_ms.$ph") = sumSpans("source.commit", w)
      m(s"landing.write_ms.$ph") = sumSpans("landing.write", w)
    }
    m("exec.files_written.cdc") = jobRun.filter(x => within(x._1.start, cdc) &&
      !byId.get(x._2).exists(_.name == "txn")).map(_._1.outFiles).sum
    m("streaming.dead_letters") = deadLetters
    val finals = spans.filter(_.name == "mirror.final")
    val fids = finals.map(_.id).toSet
    m("sources.final_jobs") =
      if (finals.isEmpty) 0.0 else jobRun.count(x => fids(x._2)).toDouble / finals.size
    m("sources.final_files") = lane.finalFiles.toDouble
    val steady = lane.txns.filter(_.phase == "steady")
    m("gen.late_ms") =
      if (steady.isEmpty) 0.0 else steady.map(t => t.start - t.due).sum / steady.size

    // self time per traced layer
    Trace.selfTimes(spans).foreach { case (n, v) => m(s"self.${n}_ms") = v }
    Seq("query", "operators.build", "exec.materialize", "capture.round",
      "sources.snapshot", "sources.poll", "sources.reconcile",
      "txn", "source.commit", "landing.write", "mirror.final")
      .foreach(n => m.getOrElseUpdate(s"self.${n}_ms", 0.0))
    m.toMap
  }

  def writeTrace(path: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.sortBy(_.start).foreach(s => w.println(Json(Map("id" -> s.id,
      "name" -> s.name, "parent" -> s.parent, "run" -> s.run, "thread" -> s.thread,
      "start_ms" -> s.start, "end_ms" -> s.end))))
    finally w.close()
  }
}
