package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table loader over the driver's parquet lake (TESTDATA.md).
  *
  * One wrinkle: `events.parquet` stores `ts` as parquet
  * TIMESTAMP(NANOS), which Spark 4's vectorized reader rejects
  * outright (PARQUET_TYPE_ILLEGAL). Sessions must set
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[conf]]); the
  * loader then converts the raw nano count to a proper TimestampType
  * at microsecond precision — the same truncation DuckDB applies when
  * it reads the file, so both engines see identical values.
  */
object Tables {

  /** Session configs required to read the test lake. Apply to every
    * session ([[graft.GraftSession]] does). */
  val conf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // native engine expressions (graft_dot, ...) — see graft.expressions
    "spark.sql.extensions" -> "graft.expressions.GraftExtensions",
    // DuckDB yields NULL (not an ANSI error) on double div-by-zero;
    // pin the same semantics so oracle comparison is meaningful.
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // Naive parquet timestamp[us] (isAdjustedToUTC=false) would
    // otherwise infer as TIMESTAMP_NTZ, forcing a post-scan cast that
    // blocks parquet predicate pushdown on those columns (and breaks
    // unix_micros/numeric casts). With inference off the reader yields
    // session-local TimestampType natively — the session zone is
    // pinned UTC above, so values match DuckDB's naive-epoch reading
    // bit-for-bit AND filters still push to the scan.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
  )

  // Memoized logical plans per (session, dir, table): `spark.read
  // .parquet` re-reads parquet footers for schema inference on every
  // call, a fixed per-query tax when 70+ registered queries each load
  // 1-3 tables. Keyed on the session so a restarted session (tests)
  // never reuses plans bound to a stopped one; a listener evicts a
  // session's entries when it stops, so neither the session nor its
  // DataFrames outlive it in this map. Plans are immutable, so sharing
  // one DataFrame across queries is safe — with one caveat: the plan
  // pins the parquet FILE LISTING at first load. Rewriting files under
  // an sfDir mid-session would be served stale: regenerate test data
  // between sessions, not inside one.
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  private val evictionHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Read `<sfDir>/<name>.parquet`, normalizing any long-nanos `ts`
    * column back to TimestampType. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (evictionHooked.add(spark)) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          planCache.keySet.removeIf(k => k._1 eq spark)
          evictionHooked.remove(spark)
        }
      })
    }
    planCache.computeIfAbsent((spark, sfDir, name),
      _ => doLoad(spark, sfDir, name))
  }

  private def doLoad(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    val nanosFixed = df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) =>
        // integral `div`, NOT `/`: nano epochs (~1.7e18) exceed
        // double's exact-integer range, so floor(ts / 1000.0) would be
        // off by one microsecond on some rows
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }
    // With [[conf]]'s inferTimestampNTZ=false no NTZ column reaches
    // here; this fold is the fallback for a session built WITHOUT
    // Tables.conf (dev REPLs), where it degrades to the old top-level
    // cast (losing pushdown on those columns but staying correct).
    val fixed = nanosFixed.schema.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(nanosFixed)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
    // the fallback only rewrites TOP-LEVEL columns: an NTZ buried in a
    // struct/array/map would silently keep NTZ semantics — no test
    // table nests timestamps today, so refuse loudly if one appears
    def nestedNtz(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case s: org.apache.spark.sql.types.StructType => s.exists(f => nestedNtz(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => nestedNtz(a.elementType)
      case m: org.apache.spark.sql.types.MapType => nestedNtz(m.keyType) || nestedNtz(m.valueType)
      case t => t == TimestampNTZType
    }
    // checked AFTER the fold, whose casts only rewrite top-level
    // columns — any NTZ still visible here is necessarily nested
    fixed.schema.foreach { f =>
      require(!nestedNtz(f.dataType),
        s"$name.${f.name}: TIMESTAMP_NTZ nested inside ${f.dataType.simpleString} — " +
          "load() only normalizes top-level columns; set " +
          "spark.sql.parquet.inferTimestampNTZ.enabled=false (Tables.conf) " +
          "or flatten the schema")
    }
    fixed
  }
}
