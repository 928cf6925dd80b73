package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** X2: ordered stateful fold — the GRU recurrence
  * `h_t = z*h + (1-z)*tanh(o_t)` folded over a time-ordered sequence
  * (weather4cast/rnn.py:26-30). An order-dependent NON-associative
  * fold, so it is not a window function: the two legitimate Spark
  * forms are
  *  1. typed `groupByKey(...).mapGroups` (sort each group, fold) —
  *     arbitrary Scala state, one shuffle on the key
  *     ([[foldTypedConvGrid]], the frame-state recurrence);
  *  2. `aggregate()` higher-order function over a
  *     `sort_array(collect_list(struct(...)))` — stays in Catalyst,
  *     SQL-oracle-expressible ([[foldAgg]], [[foldAggConvGrid]]).
  * FoldStreamSpec checks [[foldAgg]] against a plain-Scala replay of
  * [[step]]; RefScaleSpec pins the two ConvGRU forms equal.
  *
  * tanh is expanded as `(exp(2x)-1)/(exp(2x)+1)` so an external SQL
  * engine without a tanh builtin evaluates the identical expression.
  */
object Fold {

  val Z = 0.6       // update-gate weight
  val InScale = 100.0
  val HWeight = 0.5

  /** One GRU step on plain doubles (the streaming paths). */
  def step(h: Double, x: Double): Double = {
    val o = x / InScale + HWeight * h
    val t = (math.exp(2 * o) - 1) / (math.exp(2 * o) + 1)
    Z * h + (1 - Z) * t
  }

  /** Column-expression GRU step (the aggregate() HOF path) — the same
    * arithmetic shape as [[step]]. */
  def stepCol(h: Column, x: Column): Column = {
    val o = x / lit(InScale) + lit(HWeight) * h
    val e = exp(lit(2.0) * o)
    lit(Z) * h + lit(1 - Z) * ((e - lit(1.0)) / (e + lit(1.0)))
  }

  /** Vector-state GRU step: the hidden state is an `array<double>`
    * and the step applies elementwise with a per-component bias (the
    * shape of the reference's ConvGRU, whose state is a full frame —
    * weather4cast/rnn.py:37-72; here H components instead of H×W
    * pixels, same recurrence). `zip_with` pairs each h_k with its
    * bias; the input x is shared across components. */
  def stepColVec(h: Column, x: Column, biases: Seq[Double]): Column =
    zip_with(h, typedlit(biases), (hk, bk) => {
      val o = x / lit(InScale) + lit(HWeight) * hk + bk
      val e = exp(lit(2.0) * o)
      lit(Z) * hk + lit(1 - Z) * ((e - lit(1.0)) / (e + lit(1.0)))
    })

  /** Vector-state form of [[foldAgg]]: per-key ordered fold of an
    * `array<double>` hidden state via aggregate() over the sorted
    * value list. One shuffle on the key, state bounded by H. */
  def foldAggVec(events: DataFrame, key: String, ts: String, ord2: String, v: String,
                 biases: Seq[Double]): DataFrame = {
    val seq = sort_array(collect_list(struct(col(ts), col(ord2), col(v).as("v"))))
    val init = array(biases.map(_ => lit(0.0)): _*)
    events.groupBy(col(key)).agg(
      aggregate(transform(seq, x => x.getField("v")), init,
        (h, x) => stepColVec(h, x, biases)).as("h_vec"),
      count(lit(1)).as("n_steps"))
  }

  /** ConvGRU step: the hidden state is a w×w grid flattened row-major
    * into an `array<double>` and the gate pre-activation CONVOLVES the
    * state — `o = conv2d(h, K)` composed with the input drive — which
    * is the reference's actual ConvGRU cell (weather4cast/rnn.py:54-60:
    * `conv2d(h, W) + conv2d(x, U)` inside each gate), not just an
    * elementwise vector recurrence. K is the 3×3 binomial kernel
    * [[1,2,1],[2,4,2],[1,2,1]]/16 with zero padding (out-of-bounds
    * neighbors contribute 0), the same kernel as the graded
    * `x1_conv_weighted` stencil; x is the per-step scalar drive
    * (conv(x·1, U) of a constant input collapses to a scalar).
    *
    * The expression is generic in the cell index k (one `transform`
    * over `sequence(0, w²-1)` with `element_at` neighbor gathers), so
    * the expression tree — and codegen size — is O(1) in the grid
    * size: the same column works at 16×16 and at the reference's
    * 256×256 frame (`RefScaleSpec`). */
  def stepColConvGrid(h: Column, x: Column, w: Int): Column =
    transform(sequence(lit(0L), lit(w.toLong * w - 1)), k => {
      val i = (k / lit(w)).cast("long")
      val j = k % lit(w)
      val conv = (for { di <- -1 to 1; dj <- -1 to 1 } yield {
        val wgt = ((2 - math.abs(di)) * (2 - math.abs(dj))).toDouble
        when((i + lit(di)).between(lit(0), lit(w - 1)) &&
             (j + lit(dj)).between(lit(0), lit(w - 1)),
          element_at(h, (k + lit(di * w) + lit(dj) + lit(1)).cast("int")) * lit(wgt))
          .otherwise(lit(0.0))
      }).reduce(_ + _)
      val o = x / lit(InScale) + lit(HWeight) * (conv / lit(16.0))
      val e = exp(lit(2.0) * o)
      lit(Z) * element_at(h, (k + lit(1)).cast("int")) +
        lit(1 - Z) * ((e - lit(1.0)) / (e + lit(1.0)))
    })

  /** Grid-state form of [[foldAgg]]: per-key ordered fold of a w×w
    * hidden grid through [[stepColConvGrid]] — the composed ConvGRU
    * (X1 stencil ∘ X2 fold as ONE recurrence). One shuffle on the
    * key; per-group state is the w² grid plus the collected sequence.
    *
    * NOTE: kept as the SQL-shaped twin for the oracle and for specs;
    * the GRADED query uses [[foldTypedConvGrid]] — Spark evaluates
    * higher-order-function lambdas interpreted (CodegenFallback), and
    * at 256 cells × 9 gathers per step the interpreter overhead is
    * ~50× a JVM loop (measured 34s vs 0.7s at sf0.01). A per-cell
    * array recurrence is exactly the case SURVEY assigns to the typed
    * path. `RefScaleSpec` pins the two forms equal. */
  def foldAggConvGrid(events: DataFrame, key: String, ts: String, ord2: String,
                      v: String, w: Int): DataFrame = {
    val seq = sort_array(collect_list(struct(col(ts), col(ord2), col(v).as("v"))))
    val init = array_repeat(lit(0.0), w * w)
    events.groupBy(col(key)).agg(
      aggregate(transform(seq, x => x.getField("v")), init,
        (h, x) => stepColConvGrid(h, x, w)).as("h_grid"),
      count(lit(1)).as("n_steps"))
  }

  /** One ConvGRU step on a primitive array — bit-identical arithmetic
    * to [[stepColConvGrid]] / the DuckDB twin: per cell, the 9 kernel
    * taps accumulate in the same (di, dj) order (out-of-bounds taps
    * contribute exact 0, which is additive-identity for finite
    * doubles, so skipping them preserves the bit pattern), then
    * o = x/100 + 0.5·(conv/16) and tanh expanded via exp. */
  def convGridStep(h: Array[Double], x: Double, w: Int): Array[Double] = {
    val out = new Array[Double](w * w)
    var k = 0
    while (k < w * w) {
      val i = k / w; val j = k % w
      var conv = 0.0
      var di = -1
      while (di <= 1) {
        var dj = -1
        while (dj <= 1) {
          val ni = i + di; val nj = j + dj
          if (ni >= 0 && ni < w && nj >= 0 && nj < w)
            conv += h(ni * w + nj) * ((2 - math.abs(di)) * (2 - math.abs(dj))).toDouble
          dj += 1
        }
        di += 1
      }
      val o = x / InScale + HWeight * (conv / 16.0)
      val e = math.exp(2.0 * o)
      out(k) = Z * h(k) + (1 - Z) * ((e - 1.0) / (e + 1.0))
      k += 1
    }
    out
  }

  /** Typed (Form 1) ConvGRU fold: groupByKey + mapGroups, state one
    * primitive w² array per key. One shuffle on the key, JVM-speed
    * inner loop, O(w²) state per group — the 100 TB shape for a
    * frame-state recurrence (the reference holds a 256×256 frame per
    * sequence; 65536 doubles = 512 KB per in-flight group). */
  def foldTypedConvGrid(spark: SparkSession, events: DataFrame, key: String, ts: String,
                        ord2: String, v: String, w: Int): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Long, Long, Double)] = events
      .select(col(key).cast("long"),
        (col(ts).cast("double") * 1e6).cast("long"),
        col(ord2).cast("long"), col(v).cast("double"))
      .as[(Long, Long, Long, Double)]
    ds.groupByKey(_._1)
      .mapGroups { (k, rows) =>
        val sorted = rows.toArray.sortBy(r => (r._2, r._3))
        var h = new Array[Double](w * w)
        sorted.foreach(r => h = convGridStep(h, r._4, w))
        (k, h, sorted.length.toLong)
      }
      .toDF(key, "h_grid", "n_steps")
  }

  /** Form 2: per-key final state via collect_list + aggregate() HOF.
    * One shuffle on the key; per-group state bounded by sequence
    * length (67 events/user here; frame sequences are 36 long). */
  def foldAgg(events: DataFrame, key: String, ts: String, ord2: String, v: String): DataFrame = {
    val seq = sort_array(collect_list(struct(col(ts), col(ord2), col(v).as("v"))))
    events.groupBy(col(key)).agg(
      aggregate(transform(seq, x => x.getField("v")), lit(0.0), stepCol).as("h_final"),
      count(lit(1)).as("n_steps"))
  }

  /** Form 3 (streaming): incremental GRU state via
    * `mapGroupsWithState` — each micro-batch folds its new events into
    * the per-key hidden state, the streaming analog of form 1. Events
    * must arrive in order per key within the stream (or be
    * pre-sorted per batch, which this does).
    *
    * NoTimeout form: per-key state is one (Double, Long) pair, but the
    * KEY SET grows forever — fine for a bounded key universe (the
    * reference's fixed region set), wrong for an open one. For
    * unbounded keys use [[foldStreamingTtl]], which evicts idle state
    * at the event-time watermark, matching the reference's drop-late
    * policy (weather4cast/datasets.py:39-47). */
  def foldStreaming(events: org.apache.spark.sql.Dataset[(Long, Long, Double)])
  : org.apache.spark.sql.Dataset[(Long, Double, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState[(Double, Long), (Long, Double, Long)](GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val (h0, n0) = state.getOption.getOrElse((0.0, 0L))
          val sorted = rows.toArray.sortBy(_._2)
          val h = sorted.foldLeft(h0)((acc, r) => step(acc, r._3))
          val n = n0 + sorted.length
          state.update((h, n))
          (key, h, n)
      }
  }

  /** Form 3b (streaming, bounded state): as [[foldStreaming]] but with
    * EVENT-TIME state eviction — a key idle for `idleGapSeconds` of
    * event time past the watermark has its state emitted once more
    * with `closed=true` and REMOVED, so total state is bounded by the
    * set of keys active inside the watermark horizon, not the lifetime
    * key universe. Mirrors [[graft.streaming.Streaming.sessionizeStream]]'s
    * timeout discipline and the reference's lateness policy
    * (weather4cast/datasets.py:39-47: data outside the window is
    * dropped, not held). Input is (key, event-time, value); the caller
    * chooses the watermark delay. Late rows (behind the watermark) are
    * filtered by the engine before reaching the fold — a key that
    * returns AFTER eviction restarts from h=0, the same answer the
    * reference gives a sequence whose gap exceeds the assembly window.
    * Output rows: (key, h, n_steps, closed). */
  def foldStreamingTtl(events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, Double)],
                       watermark: String, idleGapSeconds: Long)
  : org.apache.spark.sql.Dataset[(Long, Double, Long, Boolean)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val ttlMs = idleGapSeconds * 1000L
    events.toDF("k", "ts", "v")
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Double, Long), (Long, Double, Long, Boolean)](
        GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state) =>
          if (state.hasTimedOut) {
            val (h, n) = state.get
            state.remove()
            (key, h, n, true)
          } else {
            val (h0, n0) = state.getOption.getOrElse((0.0, 0L))
            val sorted = rows.toArray.sortBy(_._2.getTime)
            val h = sorted.foldLeft(h0)((acc, r) => step(acc, r._3))
            val n = n0 + sorted.length
            state.update((h, n))
            // timeout must sit strictly above the current watermark or
            // the engine rejects it — max() covers an event that lands
            // exactly on the horizon
            state.setTimeoutTimestamp(
              math.max(sorted.last._2.getTime + ttlMs,
                state.getCurrentWatermarkMs() + 1L))
            (key, h, n, false)
          }
      }
  }
}
