package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Graded-query registry plumbing.
  *
  * Every operator from SURVEY.md §2 is demonstrated as a [[Q]]: a named
  * Spark query over the driver's test tables plus (where ANSI-SQL can
  * express it) a DuckDB oracle that must hash-match. Column names and
  * the *shape* of floating-point arithmetic are mirrored exactly on
  * both sides — IEEE +,-,*,/ and sqrt are correctly rounded, so
  * identical expression shapes give bit-identical doubles; sums that
  * a parallel engine may reassociate are done in exact integer space
  * (quantize -> BIGINT sum -> divide), and transcendental outputs are
  * rounded to 5-6 decimals (Java vs libm differ in the last ulp).
  */
package object queries {

  /** One graded query: name, the Spark plan, and an optional DuckDB
    * oracle (None -> the driver records a weaker rows-only check).
    *
    * `scale` is the SCALE CLASS (r19): which graded forms ship at
    * 100 TB and which are SEMANTIC FIXTURES kept for their oracle
    * value. A user picking a query by name reads it; ScaleBench
    * enforces it (fixture forms are excluded from decade sweeps past
    * their documented wall — a loud exclusion, never a silent cap);
    * `tools/check_coverage.py` cross-checks it against COVERAGE.md;
    * Verify dumps the full map as `scale_class.json`. Vocabulary:
    * `linear` (data-proportional — the default), `fixture@x<N>`
    * (correct at every graded SF but superlinear by construction;
    * measured through the x<N> decade and excluded beyond it). Walls
    * are MEASURED, not argued: SCALE.md records each one.
    *
    * `build` marks a query whose plan construction builds or writes a
    * persisted store under java.io.tmpdir (a `graft-*-<storeKey(d)>`
    * dir, most built once per corpus fingerprint through
    * [[graft.ops.Stores]]): Bench pays its first invocation in
    * a recorded pre-step (`build_costs`) so the timed repeats measure
    * serving. RegistrySpec fails a query that creates a store without
    * declaring it, or declares it and creates none. */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      scale: String = "linear",
      build: Boolean = false)

  /** Shorthand table loader used by every query. */
  def T(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, name)

  /** Store-directory key for a dataset path. md5 of the FULL path —
    * not `String.hashCode`, whose 32-bit space lets two dataset paths
    * share a store dir (fingerprint-mismatch rebuild thrash on every
    * alternation) and whose `abs(Int.MinValue)` is negative. */
  def storeKey(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Quantize `x*k` to BIGINT as `floor(x*k + 0.5)` — round-half-up
    * WITHOUT Spark's `round()`, whose double path goes through
    * `BigDecimal.valueOf` (a `Double.toString` + allocation per row;
    * measured 3.5x slower on a 6-sum agg at sf0.1, and the allocation
    * churn is GC-visible on a long bench run). `floor` is one IEEE op
    * with identical semantics in Spark and DuckDB, so the twins match
    * bit-for-bit by construction — strictly tighter than round(),
    * which pairs Java BigDecimal HALF_UP against DuckDB's C round().
    * Half-ties on negative inputs go toward +inf here (vs round()'s
    * away-from-zero); both sides use the same form, so the oracle
    * contract is unaffected. */
  def qlong(c: Column, k: Double): Column =
    F.floor(c * F.lit(k) + F.lit(0.5)).cast("long")

  /** SQL twin of [[qlong]]; `k` is spliced verbatim (use an integer or
    * e0 literal so neither engine parses a DECIMAL). */
  def qlongSql(e: String, k: String): String =
    s"CAST(floor(($e) * $k + 0.5e0) AS BIGINT)"

  /** Snap a double to the 10^-digits grid — the transcendental-output
    * absorber (Java vs libm ln/exp differ in the last ulp; quantizing
    * to 1e-6 makes both engines emit the same double). floor-based for
    * the same reason as [[qlong]]: Spark's round(x, d) on doubles is
    * BigDecimal-backed (Double.toString + allocation per row). The
    * long->double conversion and the division are exact/correctly
    * rounded at these magnitudes, so Spark and DuckDB agree bit-for-bit
    * when fed the same input. */
  def qround(c: Column, digits: Int): Column = {
    val k = math.pow(10, digits)
    F.floor(c * F.lit(k) + F.lit(0.5)).cast("double") / F.lit(k)
  }

  /** SQL twin of [[qround]]. */
  def qroundSql(e: String, digits: Int): String = {
    val k = math.pow(10, digits).toLong
    s"(floor(($e) * $k + 0.5e0) / $k.0e0)"
  }
}
