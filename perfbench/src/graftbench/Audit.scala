package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One window, every registry query: `count()` time against noop-write
  * time (min of two each, alternating), and whether the noop write keeps
  * every output column and expression of the frame's own optimized plan.
  * `count()` is what older bench numbers timed; the comparison lets them
  * be read against full materialization.
  */
object Audit {
  private val seen = mutable.ArrayBuffer.empty[LogicalPlan]
  private val listener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      seen.synchronized(seen += qe.optimizedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Expression nodes in a plan: a crude measure of the work it keeps. */
  def exprNodes(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.map(_.collect { case e => e }.size).sum }.sum

  /** The first optimized plan after event `from` that `pick` accepts. */
  private def await[T](from: Int)(pick: PartialFunction[LogicalPlan, T]): Option[T] = {
    val t0 = System.nanoTime()
    var got: Option[T] = None
    while (got.isEmpty && System.nanoTime() - t0 < 5e9) {
      got = seen.synchronized(seen.drop(from).collectFirst(pick))
      if (got.isEmpty) Thread.sleep(5)
    }
    got
  }

  def run(spark: SparkSession, kv: Map[String, String]): Int = {
    spark.listenerManager.register(listener)
    val dir = kv("data")
    val rows: Seq[Map[String, Any]] = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def timed(action: DataFrame => Unit): (Double, Int) = {
        val n = seen.synchronized(seen.size)
        val t0 = System.nanoTime()
        action(fn(spark, dir))
        ((System.nanoTime() - t0) / 1e6, n)
      }
      try {
        fn(spark, kv("warm")).write.format("noop").mode("overwrite").save()
        val own = fn(spark, dir).queryExecution.optimizedPlan
        val ts = (0 until 2).map(_ => (timed(_.count()),
          timed(_.write.format("noop").mode("overwrite").save())))
        val (c0, n0) = (ts.head._1._2, ts.head._2._2)
        val written = await(n0) { case p if p.exists(_.isInstanceOf[V2WriteCommand]) =>
          p.collectFirst { case w: V2WriteCommand => w.query }.get }
        val counted = await(c0) { case p if p.output.map(_.name) == Seq("count") => p }
        Map("query" -> name, "family" -> (if (Suite.isPipeline(name)) "pipeline" else "analytics"),
          "count_ms" -> ts.map(_._1._1).min, "noop_ms" -> ts.map(_._2._1).min,
          "noop_keeps_all_columns" ->
            written.exists(_.output.map(_.name) == own.output.map(_.name)),
          "own_expr_nodes" -> exprNodes(own),
          "noop_expr_nodes" -> written.map(exprNodes).getOrElse(-1),
          "count_expr_nodes" -> counted.map(exprNodes).getOrElse(-1),
          "error" -> None)
      } catch {
        case e: Throwable => Map("query" -> name, "error" -> e.toString.take(200))
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(kv("out")),
      rows.map(Json(_)).mkString("", "\n", "\n"))
    rows.count(_("error") != None)
  }
}

/** Shows that both output gates fire: a planted wrong digest fails the
  * query check, and a planted wrong row fails the FINAL comparison.
  */
object SelfTest {
  def run(spark: SparkSession, kv: Map[String, String]): Int = {
    val e = Expected.load(kv("expected"))
    val name = e.digests.keys.filterNot(e.rowsOnly.contains).toSeq.min
    val r = Suite.runOne(spark, new Trace(false, spark.sparkContext), name,
      SparkEntry.queries(name), kv("data"))
    val honest = Expected.check(e, r)
    val planted = Expected.check(e.copy(digests = e.digests.updated(name, "0")), r)
    println(s"digest gate: $name honest=${honest.getOrElse("pass")} planted=${planted.getOrElse("pass")}")

    val lane = new Lane(spark, new Trace(false, spark.sparkContext), kv("work"),
      LaneConfig(frames = false, seed = 1L, txnOps = 30, backlogTxns = 4,
        rate = 25.0, steadyS = 4.0, burstTxns = 4))
    lane.setup()
    lane.run(Clock.nowMs + 60000.0)
    val honestFinal = lane.finalOk
    lane.plantWrongRow()
    val plantedFinal = lane.finalOk
    lane.close()
    println(s"FINAL gate: honest=$honestFinal planted=$plantedFinal ${lane.finalDiff}")
    val ok = honest.isEmpty && planted.isDefined && honestFinal && !plantedFinal
    println(if (ok) "SELFTEST PASS" else "SELFTEST FAIL")
    if (ok) 0 else 1
  }
}
