package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one local Spark session factory every harness main and the test
  * suite share, so their configurations cannot drift apart. */
object GraftSession {

  /** `cpus` sets both the local master's cores and the shuffle
    * partition count. */
  def create(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // static conf, so it must be set at session build: the default
      // generated-code cache holds only 100 entries, and 70+ queries
      // x several codegen units each evict everything between repeats
      // (each repeat then pays full Janino recompilation — measured as
      // warm times approaching cold ones late in the run)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // dev knob: SPARK_GRAFT_AQE=false measures how much of the
      // per-query floor is adaptive re-planning (each exchange is a
      // blocking stage + re-optimize at this scale); production keeps
      // AQE on — it is the skew/coalesce story at 100 TB
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config(graft.sources.Tables.conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // o1_sort_topk intentionally ranks over an already-limit(100)ed
    // frame with an unpartitioned window (≤100 rows by construction —
    // plan-pinned in PlanSpec's bounded-window whitelist), so
    // WindowExec's "No Partition Defined" WARN is a false alarm here
    // and only pollutes the captured output tail; silence that one
    // logger, not the package.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    // releaseAll unpersisting a locally-checkpointed RDD (the
    // Caches.checkpointed lifecycle — intentional, per-query frames
    // are never reused after release) logs one WARN per RDD from the
    // RDD class logger; hundreds of them would drown the captured
    // stdout/stderr tail exactly when diagnostics matter
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}
