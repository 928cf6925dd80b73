package graft

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Q

/** The one query run loop of the harness mains (Bench, Verify,
  * ScaleBench, ProfileQ, PlanOne): which queries, on which dataset,
  * and how one run is timed and cleaned up after. */
object Runner {

  /** The benchmark dataset directory. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** SPARK_GRAFT_ONLY=q1,q2 restricts a run to named queries (dev
    * knob); unset = everything. Unknown names are an ERROR — a typo'd
    * name would otherwise run nothing and report a false all-clear. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map { s =>
    val names = s.split(",").map(_.trim).toSet
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(", ")}")
    names
  }

  /** The registry in name order, restricted by [[only]]. */
  def selected: Seq[Q] =
    SparkEntry.allQueries.sortBy(_.name).filter(q => only.forall(_.contains(q.name)))

  /** Full materialization: every column is computed and
    * row-serialized, so Catalyst cannot prune a projection-heavy query
    * down to a bare scan (a `count()` would let it). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Build `query` and write it through `sink`; the seconds that took,
    * or the error. */
  def time(spark: SparkSession, query: => DataFrame,
           sink: DataFrame => Unit = noop): Either[Throwable, Double] = {
    // pay the previous run's GC debt OUTSIDE the timer: allocation
    // churn left by query N-1 otherwise lands as a collection pause
    // inside query N's measurement (observed as a 6x round-over-round
    // "regression" of an unchanged 6-sum agg)
    System.gc()
    val t0 = System.nanoTime()
    try {
      sink(query)
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
    finally {
      // queries register their reused-subplan persists with
      // graft.Caches (harness-owned lifecycle); release them, then
      // clearCache as the backstop so caches never accumulate across
      // runs. Blocking, so one query's cleanup never lands inside the
      // next query's timer.
      Caches.releaseAll(blocking = true)
      spark.catalog.clearCache()
    }
  }

  /** Untimed harness warmup, then the plan-precompile pass over
    * `queries`; true iff the precompile pass ran (it needs an sf0.001
    * sibling of `sfDir`). */
  def warmup(spark: SparkSession, sfDir: String, queries: Seq[Q]): Boolean = {
    // Loads the scheduler, codegen compiler, shuffle machinery, and
    // noop-sink codepaths once, so the first TIMED query measures
    // itself rather than JVM/session init (~4-5s observed on the first
    // query otherwise). Extended to the other hot framework paths the
    // registry exercises — parquet reader (also fills the memoized
    // table-plan cache), window exec, broadcast join, sort/limit,
    // explode + array HOFs — so their one-time JIT cost is not charged
    // to whichever query happens to hit each path first.
    noop(spark.range(0, 1000).selectExpr("md5(cast(id as string)) AS h", "id % 7 AS k")
      .groupBy("k").count())
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      try noop(graft.sources.Tables.load(spark, sfDir, t))
      catch { case NonFatal(_) => () }
    {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val base = spark.range(0, 10000)
        .selectExpr("id % 97 AS k", "id AS v", "cast(id as double) AS x")
      val dim = spark.range(0, 97).selectExpr("id AS k", "id * 2 AS y")
      noop(base.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
        .join(broadcast(dim), "k")
        .select(col("k"), col("rn"), col("y"),
          aggregate(sequence(lit(0L), col("k") % 3), lit(0.0),
            (acc, e) => acc + e.cast("double")).as("hof"))
        .orderBy(col("k").asc).limit(500))
      noop(base.select(col("k"), explode(sequence(lit(0L), col("k") % 3)).as("e"))
        .groupBy("k").agg(min(md5(concat(lit("w:"), col("e").cast("string")))).as("m")))
    }
    spark.catalog.clearCache()
    // Plan-precompile pass: run every query once against the tiny
    // sibling sf0.001 directory. The generated code for a plan does
    // not embed data paths or sizes, so the Janino classes compiled
    // here are byte-identical to the ones the timed run needs — the
    // codegen cache (4096 entries, GraftSession) serves them back, and
    // C2 has begun JITting the hot generated methods. This moves the
    // one-time-per-plan-shape compile cost (measured ~20s across 95
    // plans, charged to first runs) out of the timed section, the same
    // steady state a long-running Spark service reaches after its
    // first batch: the timed numbers measure data-proportional work on
    // the benchmark SF, not JVM compilation.
    val preDir = new File(new File(sfDir).getParentFile, "sf0.001")
    val precompile =
      preDir.isDirectory && preDir.getAbsolutePath != new File(sfDir).getAbsolutePath
    if (precompile)
      for (q <- queries)
        // NonFatal only: an OOM/VM error here must crash the run, not
        // silently skew the timed section (the timed run reports real
        // per-query failures)
        time(spark, q.fn(spark, preDir.getAbsolutePath)).left.foreach {
          case NonFatal(_) => ()
          case fatal => throw fatal
        }
    precompile
  }
}
