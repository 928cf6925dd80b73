package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY.md §2.9 ST1-ST3).
  *
  * The reference is a batch engine whose mechanisms are streaming
  * patterns: per-batch partials merged into running state
  * (ensemble.py:26-41), event-time sliding windows with a completeness
  * requirement (datasets.py:15-47), and a late/missing-data policy
  * (substitute source, else drop — datasets.py:86-89, 39-47).
  *
  * Each transform below takes a DataFrame that may be a streaming one
  * (`readStream`) or a batch one — the logical plan is identical,
  * which is the point: Spark's incremental execution of these plans IS
  * the reference's hand-rolled running-mean merge. Tests drive them
  * through MemoryStream; the graded queries run the batch twins.
  */
object Streaming {

  /** ST1: incremental aggregation — running count / exact cents sum /
    * mean per key. In update output mode each micro-batch merges
    * partials into the state store, reproducing ensemble.py:35-36. */
  def incrementalStats(events: DataFrame, key: String, value: String): DataFrame = {
    // floor-quantized cents (see graft.queries.qlong: round() on doubles
    // is BigDecimal-backed — per-row allocation the hot path can't afford)
    val cents = floor(col(value) * lit(100.0) + lit(0.5)).cast("long")
    events.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      (sum(cents) / 100.0).as("sum_v"),
      (sum(cents) / (lit(100.0) * count(lit(1)))).as("mean_v"))
  }

  /** ST2: event-time sliding window + completeness filter — emit a
    * window only when at least `minCount` events arrived
    * (datasets.py:15-47's "all 36 frames present" rule). For a
    * streaming input, call `.withWatermark("ts", ...)` upstream; the
    * watermark then also implements ST3's drop-late default. */
  def slidingComplete(events: DataFrame, key: String, ts: String,
                      len: String, slide: String, minCount: Long): DataFrame =
    events.groupBy(col(key), window(col(ts), len, slide))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select(col(key), col("window.start").as("wstart"), col("n"))

  /** Streaming sessionization — the custom-state operator behind
    * [[graft.ops.Sequences.sessionize]]'s batch plan, as
    * `flatMapGroupsWithState` with an EVENT-TIME timeout: per key the
    * state holds the open session (start, last, count); a micro-batch
    * closes and EMITS a session the moment a new event arrives more
    * than `maxGapSeconds` after the last one, and the timeout flushes
    * a session once the watermark passes its gap horizon — so state
    * size is O(open sessions), bounded, forever. Emits one row per
    * COMPLETED session: (key, s_start_ms, s_end_ms, n_events).
    *
    * Batch-twin equivalence (test-asserted in `FoldStreamSpec`): each
    * micro-batch merges the OPEN SESSION as an atomic blob into the
    * batch's sorted events and re-applies the gap rule over the
    * ordered items, so a late-but-within-watermark event that precedes
    * the open session's start by more than the gap SPLIT-EMITS as its
    * own earlier completed session (exactly what the batch
    * [[graft.ops.Sequences.sessionize]] produces), and one within the
    * gap extends the session's start backwards. The divergence that
    * remains is inherent to append mode: a session already EMITTED
    * (closed by a later event or by timeout) cannot be retracted if an
    * even-later-arriving event would have merged with it — size the
    * watermark at or below `maxGapSeconds` and that event is dropped
    * as too-late instead, keeping outputs consistent. */
  def sessionizeStream(events: DataFrame, key: String, ts: String,
                       maxGapSeconds: Long, watermark: String): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = maxGapSeconds * 1000L
    val typed = events
      .withWatermark(ts, watermark)
      .select(col(key).cast("long"), col(ts))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (s0, s1, n) = state.get
            state.remove()
            Iterator.single((k, s0, s1, n))
          } else {
            // within a micro-batch rows arrive unordered: sort by time,
            // then merge the open session in as an ATOMIC item (its
            // interior events are compressed to (start, last, n)) at
            // its start-ordered position and re-run the gap rule over
            // the ordered items — identical to batch sessionization of
            // "previous session's events + this batch"
            val items: Array[(Long, Long, Long)] = {
              val singles = it.map(r => (r._2.getTime, r._2.getTime, 1L)).toArray
              (state.getOption.fold(singles)(singles :+ _)).sortBy(x => (x._1, x._2))
            }
            var out = List.empty[(Long, Long, Long, Long)]
            if (items.nonEmpty) {
              var (s0, s1, cnt) = items(0)
              var i = 1
              while (i < items.length) {
                val (a, b, m) = items(i)
                if (a - s1 > gapMs) {
                  out = (k, s0, s1, cnt) :: out
                  s0 = a; s1 = b; cnt = m
                } else {
                  if (b > s1) s1 = b
                  cnt += m
                }
                i += 1
              }
              state.update((s0, s1, cnt))
              state.setTimeoutTimestamp(s1 + gapMs + 1L)
            }
            out.reverse.iterator
          }
      }.toDF(key, "s_start_ms", "s_end_ms", "n_events")
  }

  /** ST5 (extension): per-event anomaly flags against RUNNING per-key
    * moments — ST1's incremental stats composed with a9's z-rule, the
    * production QC shape: every event is judged against the moments of
    * the events that PRECEDED it (strict prefix in (ts, eventId)
    * order), so the flag an event gets is fixed the moment it is
    * processed and never retracted — exactly what a live pipeline can
    * promise. This batch form IS the semantics (the j9 convention):
    * the streaming twin [[anomalyFlagsStream]] produces identical rows
    * whenever arrival order matches event-time order, spec-asserted.
    *
    * Numerics follow a9: moments accumulate in exact integer space
    * (1e-5-quantized values — running-window sums reassociate freely
    * without drift), the z threshold compares the 1e-6-snapped |z|,
    * and a non-positive variance yields no flag. An event needs at
    * least `minPrior` predecessors to be judged (a 1-event history is
    * not a distribution). */
  def anomalyFlags(events: DataFrame, key: String, ts: String, eventId: String,
                   value: String, z: Double = 3.0, minPrior: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(eventId))
      .rowsBetween(Window.unboundedPreceding, -1)
    val qv = floor(col(value) * lit(1e5) + lit(0.5)).cast("long")
    val mean = col("_s1").cast("double") / (lit(1e5) * col("n_prior"))
    val vr = col("_s2").cast("double") / (lit(1e10) * col("n_prior")) - mean * mean
    val sd = when(vr > 0, sqrt(vr))
    events.select(col(key), col(ts), col(eventId), col(value))
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("_s1", sum(qv).over(w))
      .withColumn("_s2", sum(qv * qv).over(w))
      .select(col(key), col(eventId), col("n_prior"),
        coalesce(
          col("n_prior") >= minPrior &&
            (floor(abs((col(value) - mean) / sd) * lit(1e6) + lit(0.5)) / lit(1e6)) > z,
          lit(false)).as("is_anomaly"))
  }

  /** The streaming twin of [[anomalyFlags]]: per-key running moments
    * as `flatMapGroupsWithState` state — THREE longs per key (count
    * and two exact quantized power sums), O(keys) forever, never
    * O(events); the state is the per-key profile itself, which is the
    * product, so it has no natural expiry (add an event-time timeout
    * upstream if the key space churns). Within a micro-batch rows
    * sort by (ts, eventId); each event is flagged against the state
    * BEFORE it, then folded in — identical arithmetic to the batch
    * form, so outputs are row-identical whenever events arrive in
    * event-time order (FoldStreamSpec). Late arrivals are judged
    * against the moments at processing time — flags already emitted
    * never retract (the append-mode contract). */
  def anomalyFlagsStream(events: DataFrame, key: String, ts: String,
                         eventId: String, value: String, watermark: String,
                         z: Double = 3.0, minPrior: Long = 2L): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.withWatermark(ts, watermark)
      .select(col(key).cast("long"), col(ts), col(eventId).cast("long"),
        col(value).cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: Long, it: Iterator[(Long, java.sql.Timestamp, Long, Double)],
         state: GroupState[(Long, Long, Long)]) =>
          var (n, s1, s2) = state.getOption.getOrElse((0L, 0L, 0L))
          val out = it.toArray.sortBy(r => (r._2.getTime, r._3)).map { r =>
            val flag = n >= minPrior && {
              val mean = s1.toDouble / (1e5 * n)
              val vr = s2.toDouble / (1e10 * n) - mean * mean
              vr > 0 &&
                math.floor(math.abs((r._4 - mean) / math.sqrt(vr)) * 1e6 + 0.5) / 1e6 > z
            }
            val nPrior = n
            val qv = math.floor(r._4 * 1e5 + 0.5).toLong
            n += 1; s1 += qv; s2 += qv * qv
            (k, r._3, nPrior, flag)
          }
          state.update((n, s1, s2))
          out.iterator
      }.toDF(key, eventId, "n_prior", "is_anomaly")
  }

  /** ST4: stream-stream correlation join — pair each right-side event
    * with the same-key left-side events it follows within
    * `maxLagSeconds` (view→click attribution, impression→conversion,
    * request→response pairing). The condition is
    * `lKey = rKey AND rts BETWEEN lts AND lts + maxLag`.
    *
    * On two streaming inputs apply `.withWatermark` on BOTH sides
    * upstream; the two-sided time bound is what lets Spark expire
    * buffered rows once the watermark passes each side's horizon —
    * join state is O(events per watermark+lag window), not O(stream),
    * the months-running-pipeline property. On batch frames the same
    * call plans as an equi-join on the key with the range as a
    * post-join filter: ONE key shuffle, never a theta join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lKey: String, rKey: String, lts: String, rts: String,
                   maxLagSeconds: Long): DataFrame =
    left.join(right,
      left.col(lKey) === right.col(rKey) &&
        right.col(rts) >= left.col(lts) &&
        right.col(rts) <= left.col(lts) + expr(s"INTERVAL $maxLagSeconds SECOND"))
}
