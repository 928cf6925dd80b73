package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over /root/testdata tables, with a DuckDB oracle twin
  * where ANSI SQL can express the semantics (queries without one get
  * the driver's weaker rows-only check).
  */
object SparkEntry {

  /** All graded queries, grouped by SURVEY.md §2 area. */
  def allQueries: Seq[Q] =
    ScalarQueries.all ++
      RelationalQueries.all ++
      SequenceQueries.all ++
      AggQueries.all ++
      TextQueries.all ++
      SimilarityQueries.all ++
      MiscQueries.all ++
      WarpQueries.all ++
      PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's §3.1 pipeline shape end-to-end: catalog scan ->
    * valid sequence-start detection (weather4cast/datasets.py:15-47,
    * the single most load-bearing computation) -> sequence assembly ->
    * per-sample aggregate -> normalized/blended output. */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val ev = sources.Tables.load(spark, d, "events")
      .select(col("user_id"), ops.Sequences.tsBucket(col("ts"), 3600L).as("bkt"),
        col("value"))
    val starts = ops.Sequences.validStarts(
      ev.select(col("user_id"), col("bkt")), "user_id", "bkt", 3)
    ops.Sequences.assemble(starts, ev, "user_id", "bkt", 3)
      .groupBy(col("user_id"), col("t0"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")) / 100.0).as("sum_val"))
      .select(col("user_id"), col("t0"), col("n_events"),
        functions.scalars.sigmoid(col("sum_val") / lit(100.0)).as("activity_score"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** The full per-query scale-class map ([[Q]]'s `scale`). */
  def scaleClasses: Map[String, String] = allQueries.map(q => q.name -> q.scale).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
