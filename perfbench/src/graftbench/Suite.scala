package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The query half of a workload: registry queries fully materialized.
  *
  * Timed action per query: the `SparkEntry.queries` function call (its
  * eager driver work counts) plus a `write.format("noop")` of the returned
  * frame, observed with an all-column digest. The digest reads every
  * output column, so no column of the frame's plan can be pruned, and it
  * arrives in the same pass as the write: the output check costs no second
  * execution.
  */
object Suite {

  /** The LLM-data-pipeline families; every other registry query is an
    * analytics query over the replicated target.
    */
  val PipelinePrefixes = Seq("dedup_", "docs_", "emb_", "text_", "mm_",
    "ann_", "knn_", "supplier_", "part_", "basket_", "fuzzy_")
  val PipelineExtra = Set("cdc_materialized_join", "cdc_materialized_agg",
    "top_words_maintained", "value_quantiles_maintained")

  def isPipeline(name: String): Boolean =
    PipelinePrefixes.exists(name.startsWith) || PipelineExtra(name)

  def family(pipeline: Boolean): Seq[String] =
    SparkEntry.queries.keys.toSeq.filter(n => isPipeline(n) == pipeline).sorted

  /** Order-insensitive normal form of a column: floating point values as
    * six significant digits, arrays and maps sorted, so equal results
    * from different partitionings or summation orders hash the same.
    */
  def normal(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => format_string("%.5e", c.cast(DoubleType))
    case ArrayType(et, _) =>
      val n = transform(c, x => normal(x, et))
      if (orderable(et)) array_sort(n) else n
    case st: StructType =>
      struct(st.fields.toSeq.map(f => normal(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normal(e.getField("key"), kt).as("k"),
        normal(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def orderable(t: DataType): Boolean = t match {
    case _: MapType => false
    case ArrayType(et, _) => orderable(et)
    case st: StructType => st.fields.forall(f => orderable(f.dataType))
    case _ => true
  }

  /** (rows, digest) aggregates over every column of `df`. */
  def digestCols(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      normal(col(s"`${df.columns(i).replace("`", "``")}`"), f.dataType)
    } :+ lit(0): _*)
    Seq(count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("digest"))
  }

  /** Result of one timed query. */
  final case class Result(name: String, wallMs: Double, buildMs: Double,
                          rows: Long, digest: String, error: Option[String],
                          analysisMs: Double = 0.0)

  /** Run `fn`, then materialize its frame as a noop write carrying the
    * digest observation. Errors are results, not exceptions.
    */
  def runOne(spark: SparkSession, trace: Trace, name: String,
             fn: (SparkSession, String) => DataFrame, dir: String): Result = {
    val obs = Observation(s"digest_$name")
    val t0 = Clock.nowMs
    var tb = t0
    var analysisMs = 0.0
    try {
      trace.root("query") {
        val df = trace.span("operators.build")(fn(spark, dir))
        tb = Clock.nowMs
        if (trace.enabled) analysisMs = df.queryExecution.tracker.phases
          .get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        val withDigest = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
        trace.span("exec.materialize") {
          withDigest.observe(obs, digestCols(withDigest).head,
            digestCols(withDigest).tail: _*)
            .write.format("noop").mode("overwrite").save()
        }
      }
      val t1 = Clock.nowMs
      val m = obs.get
      val rows = m.get("rows").map(_.toString.toLong).getOrElse(-1L)
      val digest = Option(m.getOrElse("digest", null)).map(_.toString).getOrElse("null")
      Result(name, t1 - t0, tb - t0, rows, digest, None, analysisMs)
    } catch {
      case e: Throwable =>
        Result(name, Clock.nowMs - t0, tb - t0, -1L, "",
          Some(e.toString.takeWhile(_ != '\n').take(300)))
    }
  }
}
