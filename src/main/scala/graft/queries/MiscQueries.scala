package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Fold, Sequences, Sketches}
import graft.streaming.Streaming

/** Remaining SURVEY.md surface: X1 conv stencil, X2 GRU ordered fold,
  * ST1/ST2 streaming-pattern batch twins, JSON extraction on
  * `events.props`, and the multimodal metadata query whose values the
  * typed mapPartitions decode stub must reproduce (asserted in tests).
  */
object MiscQueries {

  /** Hex-digit value via ascii arithmetic — identical in both engines
    * ('0'-'9' -> 48-57, 'a'-'f' -> 97-102). */
  private def hexVal(c: org.apache.spark.sql.Column) =
    ascii(c) - when(ascii(c) >= 97, 87).otherwise(48)
  private def hexValSql(c: String) =
    s"(ascii($c) - CASE WHEN ascii($c) >= 97 THEN 87 ELSE 48 END)"

  /** Byte i (0-based) of an md5 hex string, as an int column. */
  private def hexByte(hx: org.apache.spark.sql.Column, i: Int) =
    hexVal(substring(hx, 2 * i + 1, 1)) * 16 + hexVal(substring(hx, 2 * i + 2, 1))
  private def hexByteSql(hx: String, i: Int) =
    s"(${hexValSql(s"substring($hx, ${2 * i + 1}, 1)")} * 16 + ${hexValSql(s"substring($hx, ${2 * i + 2}, 1)")})"

  val all: Seq[Q] = Seq(

    // X1: 3x3 mean conv stencil as offset-explode + re-aggregation
    // (blocks.py:10-34); 'valid' padding = keep only count-9 cells
    Q("x1_conv_stencil",
      (s, d) => {
        val g = T(s, d, "lineitem")
          .select((col("l_orderkey") % 16).as("i"), (col("l_partkey") % 16).as("j"),
            col("l_quantity"))
          .groupBy(col("i"), col("j"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
        // inline literal offsets + explode, NOT crossJoin(broadcast(
        // toDF)): same 9-way expansion without the broadcast-build job
        val offs = array((for { di <- -1 to 1; dj <- -1 to 1 }
          yield struct(lit(di).as("di"), lit(dj).as("dj"))): _*)
        g.select(col("i"), col("j"), col("v"), explode(offs).as("o"))
          .select((col("i") + col("o.di")).as("ci"), (col("j") + col("o.dj")).as("cj"), col("v"))
          .groupBy(col("ci"), col("cj"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .where(col("n") === 9)
          .select(col("ci"), col("cj"), (col("sv") / 9.0).as("conv"))
      },
      Some("""WITH g AS (SELECT l_orderkey % 16 AS i, l_partkey % 16 AS j,
             |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
             |           FROM lineitem GROUP BY 1, 2)
             |SELECT ci, cj, CAST(sv AS BIGINT) / 9.0e0 AS conv FROM (
             |  SELECT g.i + d1.di AS ci, g.j + d2.dj AS cj, count(*) AS n, sum(v) AS sv
             |  FROM g, (SELECT unnest([-1, 0, 1]) AS di) d1,
             |       (SELECT unnest([-1, 0, 1]) AS dj) d2
             |  GROUP BY 1, 2) WHERE n = 9""".stripMargin)),

    // X1 (weighted): the same offset-explode stencil with ARBITRARY
    // per-offset kernel weights — blocks.py:10-34's learned conv
    // applies a real (non-uniform) kernel; here the 3x3 binomial
    // kernel [[1,2,1],[2,4,2],[1,2,1]]/16 in exact integer space.
    // Same plan shape as x1_conv_stencil: inline offset explode,
    // one re-aggregation shuffle on the output cell key.
    Q("x1_conv_weighted",
      (s, d) => {
        val g = T(s, d, "lineitem")
          .select((col("l_orderkey") % 16).as("i"), (col("l_partkey") % 16).as("j"),
            col("l_quantity"))
          .groupBy(col("i"), col("j"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
        val offs = array((for { di <- -1 to 1; dj <- -1 to 1 }
          yield struct(lit(di).as("di"), lit(dj).as("dj"),
            lit(((2 - math.abs(di)) * (2 - math.abs(dj))).toLong).as("w"))): _*)
        g.select(col("i"), col("j"), col("v"), explode(offs).as("o"))
          .select((col("i") + col("o.di")).as("ci"), (col("j") + col("o.dj")).as("cj"),
            (col("v") * col("o.w")).as("wv"))
          .groupBy(col("ci"), col("cj"))
          .agg(count(lit(1)).as("n"), sum(col("wv")).as("swv"))
          .where(col("n") === 9)
          .select(col("ci"), col("cj"), (col("swv") / 16.0).as("conv"))
      },
      Some("""WITH g AS (SELECT l_orderkey % 16 AS i, l_partkey % 16 AS j,
             |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
             |           FROM lineitem GROUP BY 1, 2),
             |o AS (SELECT * FROM (VALUES (-1,-1,1),(-1,0,2),(-1,1,1),(0,-1,2),(0,0,4),
             |                            (0,1,2),(1,-1,1),(1,0,2),(1,1,1)) t(di, dj, w))
             |SELECT ci, cj, CAST(swv AS BIGINT) / 16e0 AS conv FROM (
             |  SELECT g.i + o.di AS ci, g.j + o.dj AS cj, count(*) AS n, sum(v * w) AS swv
             |  FROM g, o GROUP BY 1, 2) WHERE n = 9""".stripMargin)),

    // X1 (multi-channel): a real C_in -> C_out learned-conv shape
    // (blocks.py:65-113 res_block stacks C_in->C_out kernel blocks;
    // blocks.py:37-62) — every output channel sums over ALL input
    // channels and all 9 spatial offsets, weight w(co, ci, di, dj) =
    // (co*3 + ci + 1) * (2-|di|) * (2-|dj|), exact integer space.
    // Plan shape unchanged from the single-channel stencil: one
    // input-cell agg shuffle, an inline offset x out-channel explode
    // (27 contributions per input cell per out channel, no crossJoin
    // broadcast build), one re-agg shuffle on the output cell key.
    // 'valid' padding + full-channel contract = keep count-27 cells.
    Q("x1_conv_multichannel",
      (s, d) => {
        val g = T(s, d, "lineitem")
          .select((col("l_orderkey") % 16).as("i"), (col("l_partkey") % 16).as("j"),
            (col("l_suppkey") % 3).as("c"), col("l_quantity"))
          .groupBy(col("i"), col("j"), col("c"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
        val offs = array((for { di <- -1 to 1; dj <- -1 to 1; co <- 0 to 1 }
          yield struct(lit(di).as("di"), lit(dj).as("dj"), lit(co).as("co"))): _*)
        g.select(col("i"), col("j"), col("c"), col("v"), explode(offs).as("o"))
          .select((col("i") + col("o.di")).as("oi"), (col("j") + col("o.dj")).as("oj"),
            col("o.co").as("co"),
            (col("v") * ((col("o.co") * 3 + col("c") + 1) *
              (lit(2) - abs(col("o.di"))) * (lit(2) - abs(col("o.dj"))))).as("wv"))
          .groupBy(col("oi"), col("oj"), col("co"))
          .agg(count(lit(1)).as("n"), sum(col("wv")).as("sv"))
          .where(col("n") === 27)
          .select(col("oi"), col("oj"), col("co"), col("sv").cast("long").as("conv"))
      },
      Some("""WITH g AS (SELECT l_orderkey % 16 AS i, l_partkey % 16 AS j,
             |             l_suppkey % 3 AS c,
             |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
             |           FROM lineitem GROUP BY 1, 2, 3),
             |o AS (SELECT d1.di, d2.dj, cc.co
             |      FROM (SELECT unnest([-1, 0, 1]) AS di) d1,
             |           (SELECT unnest([-1, 0, 1]) AS dj) d2,
             |           (SELECT unnest([0, 1]) AS co) cc)
             |SELECT oi, oj, co, CAST(sv AS BIGINT) AS conv FROM (
             |  SELECT g.i + o.di AS oi, g.j + o.dj AS oj, o.co AS co, count(*) AS n,
             |         sum(v * ((o.co * 3 + g.c + 1) * (2 - abs(o.di)) * (2 - abs(o.dj)))) AS sv
             |  FROM g, o GROUP BY 1, 2, 3) WHERE n = 27""".stripMargin)),

    // X2 (vector state): the GRU fold with an array<double> hidden
    // state stepped elementwise (rnn.py:37-72's frame-shaped state);
    // per-component biases make the components diverge so the test is
    // non-trivial. DuckDB twin: list_reduce over [v] singleton lists.
    Q("x2_gru_vec",
      (s, d) => Fold.foldAggVec(T(s, d, "events"), "user_id", "ts", "event_id", "value",
        Seq(0.0, 0.1, 0.2))
        .select(col("user_id"),
          round(element_at(col("h_vec"), 1), 5).as("h_0"),
          round(element_at(col("h_vec"), 2), 5).as("h_1"),
          round(element_at(col("h_vec"), 3), 5).as("h_2"),
          col("n_steps")),
      Some {
        def step(h: String, b: String) = {
          val o = s"((x[1] / 100e0) + (0.5e0 * $h) + $b)"
          s"(0.6e0 * $h) + (0.4e0 * ((exp(2e0 * $o) - 1e0) / (exp(2e0 * $o) + 1e0)))"
        }
        val lam = Seq("0.0e0", "0.1e0", "0.2e0").zipWithIndex
          .map { case (b, k) => step(s"h[${k + 1}]", b) }.mkString("[", ", ", "]")
        s"""SELECT user_id, round(hf[1], 5) AS h_0, round(hf[2], 5) AS h_1,
           |  round(hf[3], 5) AS h_2, n_steps
           |FROM (SELECT user_id,
           |    list_reduce(list_prepend([0e0, 0e0, 0e0],
           |      list_transform(list(value ORDER BY ts, event_id), v -> [v])),
           |      (h, x) -> $lam) AS hf,
           |    count(*) AS n_steps
           |  FROM events GROUP BY user_id)""".stripMargin
      }),

    // X1 ∘ X2 composed: the TRUE ConvGRU recurrence (rnn.py:54-60) —
    // each fold step's gate pre-activation is the 3×3 binomial stencil
    // OF THE HIDDEN 16×16 GRID (zero-padded), not an elementwise map:
    // h' = 0.6·h + 0.4·tanh(x/100 + 0.5·conv(h)/16), folded over each
    // user's time-ordered events. DuckDB twin: list_reduce whose
    // lambda re-convolves the flattened grid via a k-generic
    // neighbor-gather (nested list_transform). Probes: two grid cells
    // (corner feels the boundary, center doesn't) + an exact integer
    // checksum over all 256 cells (each cell quantized to 1e-5 BEFORE
    // the sum, so summation order cannot change the value).
    // Typed mapGroups fold (Form 1): HOF lambdas are CodegenFallback
    // and 50× slower here — see Fold.foldAggConvGrid's note; the two
    // forms are pinned equal in RefScaleSpec.
    Q("x2_convgru",
      (s, d) => {
        val w = 16
        Fold.foldTypedConvGrid(s, T(s, d, "events"), "user_id", "ts", "event_id", "value", w)
          .select(col("user_id"),
            round(element_at(col("h_grid"), 1), 5).as("h_00"),
            round(element_at(col("h_grid"), 8 * w + 8 + 1), 5).as("h_88"),
            aggregate(transform(col("h_grid"), c => qlong(c, 100000.0)),
              lit(0L), (acc, c) => acc + c).as("checksum"),
            col("n_steps"))
      },
      Some {
        val w = 16; val n = w * w
        val conv = (for { di <- -1 to 1; dj <- -1 to 1 } yield {
          val wgt = (2 - math.abs(di)) * (2 - math.abs(dj))
          s"(CASE WHEN (k // $w) + ($di) BETWEEN 0 AND ${w - 1} " +
            s"AND (k % $w) + ($dj) BETWEEN 0 AND ${w - 1} " +
            s"THEN h[k + (${di * w}) + ($dj) + 1] * ${wgt}e0 ELSE 0e0 END)"
        }).mkString(" + ")
        val o = s"(x[1] / 100e0) + (0.5e0 * (($conv) / 16e0))"
        val step = s"list_transform(range(0, $n), k -> " +
          s"0.6e0 * h[k + 1] + 0.4e0 * ((exp(2e0 * ($o)) - 1e0) / (exp(2e0 * ($o)) + 1e0)))"
        s"""SELECT user_id,
           |  round(hf[1], 5) AS h_00,
           |  round(hf[${8 * w + 8 + 1}], 5) AS h_88,
           |  CAST(list_sum(list_transform(hf, c -> CAST(floor(c * 100000 + 0.5e0) AS BIGINT))) AS BIGINT) AS checksum,
           |  n_steps
           |FROM (
           |  SELECT user_id,
           |    list_reduce(
           |      list_prepend(list_transform(range(0, $n), i -> 0e0),
           |        list_transform(list(value ORDER BY ts, event_id), v -> [v])),
           |      (h, x) -> $step) AS hf,
           |    count(*) AS n_steps
           |  FROM events GROUP BY user_id)""".stripMargin
      }),

    // Nested-frame flip (SURVEY §1.1's second frame representation):
    // the 16x16 grid as an array<array<bigint>> frame, flipud =
    // reverse(frame), fliplr = transform(frame, reverse) — the
    // np.flip frame ops of datasets.py:289-297 on the nested form —
    // then re-exploded to (op, i, row_csv) rows for the oracle.
    Q("n11_frame_flip_nested",
      (s, d) => {
        val g = T(s, d, "lineitem")
          .select((col("l_orderkey") % 16).as("i"), (col("l_partkey") % 16).as("j"),
            col("l_quantity"))
          .groupBy(col("i"), col("j"))
          .agg(sum(col("l_quantity").cast("long")).as("v"))
        val rows = g.groupBy(col("i")).agg(
          transform(sort_array(collect_list(struct(col("j"), col("v")))),
            x => x.getField("v")).as("r"))
        val frame = rows.agg(
          transform(sort_array(collect_list(struct(col("i"), col("r")))),
            x => x.getField("r")).as("frame"))
        frame.select(explode(array(
            struct(lit("flipud").as("op"), reverse(col("frame")).as("f")),
            struct(lit("fliplr").as("op"), transform(col("frame"), r => reverse(r)).as("f"))))
            .as("x"))
          .select(col("x.op").as("op"), posexplode(col("x.f")))
          .select(col("op"), col("pos").cast("long").as("i"),
            concat_ws(",", transform(col("col"), v => v.cast("string"))).as("row_csv"))
      },
      Some("""WITH g AS (SELECT l_orderkey % 16 AS i, l_partkey % 16 AS j,
             |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
             |           FROM lineitem GROUP BY 1, 2),
             |r AS (SELECT i, string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS fwd,
             |             string_agg(CAST(v AS VARCHAR), ',' ORDER BY j DESC) AS bwd
             |      FROM g GROUP BY i)
             |SELECT 'flipud' AS op, CAST(15 - i AS BIGINT) AS i, fwd AS row_csv FROM r
             |UNION ALL
             |SELECT 'fliplr' AS op, CAST(i AS BIGINT) AS i, bwd AS row_csv FROM r""".stripMargin)),

    // X2: GRU ordered fold via sort_array + aggregate() HOF
    // (rnn.py:26-30); DuckDB twin folds the identical step with
    // list_reduce over a 0.0-prepended ordered list
    Q("x2_gru_fold",
      (s, d) => Fold.foldAgg(T(s, d, "events"), "user_id", "ts", "event_id", "value")
        .select(col("user_id"), round(col("h_final"), 5).as("h_final"), col("n_steps")),
      Some {
        val step = "(0.6e0 * h) + (0.4e0 * ((exp(2e0 * ((x / 100e0) + (0.5e0 * h))) - 1e0)" +
          " / (exp(2e0 * ((x / 100e0) + (0.5e0 * h))) + 1e0)))"
        s"""SELECT user_id,
           |  round(list_reduce(list_prepend(0e0, list(value ORDER BY ts, event_id)),
           |    (h, x) -> $step), 5) AS h_final,
           |  count(*) AS n_steps
           |FROM events GROUP BY user_id""".stripMargin
      }),

    // ST1 batch twin: incremental per-key stats (ensemble.py:26-41)
    Q("st1_incremental_stats",
      (s, d) => Streaming.incrementalStats(T(s, d, "events"), "user_id", "value"),
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CAST(floor((value) * 100 + 0.5e0) AS BIGINT)) AS BIGINT) / 100.0e0 AS sum_v,
             |  CAST(sum(CAST(floor((value) * 100 + 0.5e0) AS BIGINT)) AS BIGINT)
             |    / (100.0e0 * count(*)) AS mean_v
             |FROM events GROUP BY user_id""".stripMargin)),

    // ST2 batch twin: sliding event-time window + completeness filter
    // (datasets.py:15-47): 3h window, 1h slide, >= 5 events
    Q("st2_sliding_complete",
      (s, d) => Streaming.slidingComplete(T(s, d, "events"), "user_id", "ts",
        "3 hours", "1 hour", 3L),
      Some("""SELECT user_id, wstart, count(*) AS n FROM (
             |  SELECT user_id, date_trunc('hour', ts) - o.o * INTERVAL 1 HOUR AS wstart
             |  FROM events, (SELECT unnest([0, 1, 2]) AS o) o)
             |GROUP BY user_id, wstart HAVING count(*) >= 3""".stripMargin)),

    // ST3 batch twin: the watermark DROP-LATE policy, graded. Events
    // replay in a deterministic pseudo-random arrival order (md5 of
    // event_id — the w4_seeded_shuffle trick, modeling out-of-order
    // network arrival; the generator emits events already in ts order,
    // under which nothing is ever late); each user's running watermark
    // is max event time seen − 7 days, and an event below it at
    // arrival is flagged late (dropped from the kept aggregates).
    // FoldStreamSpec holds the live Structured Streaming twin; this
    // row pins the policy against the DuckDB oracle. One keyed window
    // pass + one agg — no self-join, no global ordering.
    Q("st3_drop_late",
      (s, d) => Sequences.lateFlagged(
          T(s, d, "events").select(col("user_id"), col("ts"), col("event_id"), col("value")),
          "user_id", "ts", md5(col("event_id").cast("string")), 604800L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("is_late"), 1L).otherwise(0L)).as("n_late"),
          (sum(when(!col("is_late"), qlong(col("value"), 100)).otherwise(0L)) / 100.0)
            .as("kept_val")),
      Some("""WITH f AS (
             |  SELECT user_id, value,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS tse,
             |    max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
             |      PARTITION BY user_id ORDER BY md5(CAST(event_id AS VARCHAR))
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
             |  FROM events)
             |SELECT user_id, count(*) AS n_total,
             |  CAST(sum(CASE WHEN wm IS NOT NULL AND tse < wm - 604800 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
             |  CAST(sum(CASE WHEN wm IS NULL OR tse >= wm - 604800
             |    THEN CAST(floor((value) * 100 + 0.5e0) AS BIGINT) ELSE 0 END) AS BIGINT)
             |    / 100.0e0 AS kept_val
             |FROM f GROUP BY user_id""".stripMargin)),

    // ST5 batch twin (the j9 convention — same function, batch
    // frames): per-event anomaly flags against RUNNING per-key
    // moments, ST1's incremental stats composed with a9's z-rule.
    // Each event is judged against the strict (ts, event_id)-prefix
    // of its key — the flag a live pipeline could have emitted at
    // that moment, never retracted. The streaming twin
    // (Streaming.anomalyFlagsStream, 3-longs-per-key state) is
    // row-identical under event-time-ordered arrival, FoldStreamSpec.
    // Moments in exact integer space (a9's reassociation-proof
    // shape); z compared on the 1e-6 snap; var <= 0 -> no flag.
    Q("st5_anomaly_flags",
      (s, d) => Streaming.anomalyFlags(
        T(s, d, "events").select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "event_id", "value"),
      Some("""WITH q AS (SELECT user_id, ts, event_id, value,
             |    CAST(floor(value * 100000 + 0.5e0) AS BIGINT) AS qv FROM events),
             |r AS (SELECT user_id, event_id, value,
             |    CAST(count(*) OVER w AS BIGINT) AS n_prior,
             |    CAST(sum(qv) OVER w AS BIGINT) AS s1,
             |    CAST(sum(qv * qv) OVER w AS BIGINT) AS s2
             |  FROM q
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             |SELECT user_id, event_id, n_prior,
             |  coalesce(n_prior >= 2 AND
             |    (floor(abs((value - CAST(s1 AS DOUBLE) / (1e5 * n_prior)) /
             |       (CASE WHEN CAST(s2 AS DOUBLE) / (1e10 * n_prior)
             |           - (CAST(s1 AS DOUBLE) / (1e5 * n_prior)) * (CAST(s1 AS DOUBLE) / (1e5 * n_prior)) > 0e0
             |         THEN sqrt(CAST(s2 AS DOUBLE) / (1e10 * n_prior)
             |           - (CAST(s1 AS DOUBLE) / (1e5 * n_prior)) * (CAST(s1 AS DOUBLE) / (1e5 * n_prior)))
             |         END)) * 1000000 + 0.5e0) / 1000000.0e0) > 3.0e0,
             |    FALSE) AS is_anomaly
             |FROM r""".stripMargin)),

    // ST4 batch twin: stream-stream interval join (view→click
    // attribution within 30 min). The identical plan runs on two
    // watermarked streams (FoldStreamSpec asserts equivalence); here
    // it's one key shuffle with the range bound as a post-join filter
    Q("st4_stream_join",
      (s, d) => {
        val ev = T(s, d, "events")
        val views = ev.where(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id").as("_cuid"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        Streaming.intervalJoin(views, clicks, "user_id", "_cuid",
            "view_ts", "click_ts", 1800L)
          .select(col("user_id"), col("view_id"), col("click_id"),
            (unix_millis(col("click_ts")) - unix_millis(col("view_ts"))).as("lag_ms"))
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
             |  epoch_ms(c.ts) - epoch_ms(v.ts) AS lag_ms
             |FROM events v JOIN events c
             |  ON c.user_id = v.user_id
             | AND v.event_type = 'view' AND c.event_type = 'click'
             | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin)),

    // JSON extraction on events.props
    Q("j5_json_extract",
      (s, d) => T(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events""".stripMargin)),

    // grouping-sets surface (SURVEY §7 step 8): rollup over the
    // return-flag hierarchy with exact cents revenue; NULL markers for
    // aggregated-out levels match across engines
    Q("g_rollup_revenue",
      (s, d) => T(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          qlong(col("l_extendedprice"), 100).as("_cents"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          (sum(col("_cents")) / 100.0).as("revenue")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(floor((l_extendedprice) * 100 + 0.5e0) AS BIGINT)) AS BIGINT) / 100.0e0 AS revenue
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // cube over two dims
    Q("g_cube_counts",
      (s, d) => T(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // pivot (long -> wide): order counts per year x status. Spark's
    // pivot with explicit values keeps the plan a plain groupBy with
    // conditional aggregates (no second pass to discover columns);
    // coalesce pins absent combinations to 0 like the oracle's FILTER
    Q("g_pivot_status",
      (s, d) => T(s, d, "orders")
        .select(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
        .groupBy(col("yr")).pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("yr"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
      Some("""SELECT year(o_orderdate) AS yr,
             |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
             |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
             |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
             |FROM orders GROUP BY 1""".stripMargin)),

    // SQL API parity: the same engine drives plain Spark SQL over a
    // temp view — the TPC-H Q1-shaped pricing summary, authored as SQL
    // text instead of DataFrame calls (identical Catalyst plan class)
    Q("sql_pricing_summary",
      (s, d) => {
        T(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        // e0 literals: in Spark SQL a bare `100.0` parses as DECIMAL and
        // the division result goes decimal-typed, which breaks the value
        // hash against the double-typed DuckDB oracle (determinism rule:
        // always double literals in quantized-sum arithmetic)
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                |  CAST(sum(CAST(floor((l_quantity) * 100 + 0.5e0) AS BIGINT)) AS BIGINT) / 100.0e0 AS sum_qty,
                |  CAST(sum(CAST(floor((l_extendedprice * (1e0 - l_discount)) * 10000 + 0.5e0) AS BIGINT)) AS BIGINT)
                |    / 10000.0e0 AS revenue
                |FROM lineitem_v
                |GROUP BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(floor((l_quantity) * 100 + 0.5e0) AS BIGINT)) AS BIGINT) / 100.0e0 AS sum_qty,
             |  CAST(sum(CAST(floor((l_extendedprice * (1e0 - l_discount)) * 10000 + 0.5e0) AS BIGINT)) AS BIGINT)
             |    / 10000.0e0 AS revenue
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // unpivot (wide -> long), the inverse reshaping of g_pivot_status:
    // three measure columns melt into (measure, val) rows, then a
    // per-(flag, measure) quantized aggregate. The oracle's UNION ALL
    // is the relational definition of the melt.
    Q("g_unpivot",
      (s, d) => T(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(count(lit(1)).as("n"),
          (sum(qlong(col("val"), 100)) / 100.0).as("sum_val")),
      Some("""WITH u AS (
             |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
             |SELECT l_returnflag, measure, count(*) AS n,
             |  CAST(sum(CAST(floor((val) * 100 + 0.5e0) AS BIGINT)) AS BIGINT) / 100.0e0 AS sum_val
             |FROM u GROUP BY 1, 2""".stripMargin)),

    // exact percentiles (sort-based): median + p90 of event value per
    // type. Both engines linearly interpolate between the two
    // straddling order statistics; round(6) absorbs the last-ulp
    // difference in the interpolation arithmetic
    Q("g_median_value",
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"),
          round(expr("percentile(value, 0.9)"), 6).as("p90")),
      Some("""SELECT event_type, round(quantile_cont(value, 0.5e0), 6) AS med,
             |  round(quantile_cont(value, 0.9e0), 6) AS p90
             |FROM events GROUP BY 1""".stripMargin)),

    // approx_count_distinct (HLL++): the sketch VALUE is
    // engine-specific (no SQL engine reproduces Spark's HLL++ bytes),
    // so the sketch estimate itself stays out of the hash — the graded
    // row emits the exact count plus `within_bound` = "the sketch's
    // relative error is inside HLL++'s advertised bound" (rsd 5%
    // two-sided -> |approx-exact|/exact <= 0.05); the oracle asserts
    // literal TRUE, so a broken sketch hash-mismatches. ApproxSpec
    // keeps the numeric error assertion.
    Q("g_approx_distinct",
      (s, d) => T(s, d, "lineitem").agg(
          approx_count_distinct(col("l_partkey")).as("_approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("_approx").cast("double") - col("exact_parts").cast("double")) <=
            col("exact_parts").cast("double") * lit(0.05)).as("within_bound")),
      Some("""SELECT count(DISTINCT l_partkey) AS exact_parts, TRUE AS within_bound
             |FROM lineitem""".stripMargin)),

    // MERGEABLE sketch rollup (DataSketches HLL): per-group sketches
    // built in one keyed pass, then UNIONED into a global estimate —
    // the shape that makes distinct-counting compose at 100 TB (build
    // per partition/day/source once, merge cheap kilobyte sketches
    // forever after, instead of re-scanning raw data per rollup).
    // Same grading contract as g_approx_distinct: the sketch value is
    // engine-specific and stays out of the hash; the graded row
    // checks the merged estimate against the lgK=12 error bound
    // (rsd ~ 1.6%, 5% leaves drift headroom). ApproxSpec pins the
    // numeric estimate and that sketch-of-parts == sketch-of-whole.
    Q("g_hll_merge",
      (s, d) => {
        val ev = T(s, d, "events")
        val per = ev.groupBy(col("event_type"))
          .agg(hll_sketch_agg(col("user_id").cast("string"), lit(12)).as("sk"))
        val est = per.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"))
        ev.agg(countDistinct(col("user_id")).as("n_exact"))
          .crossJoin(broadcast(est))
          .select(col("n_exact"),
            (abs(col("_est") - col("n_exact").cast("double")) <=
              col("n_exact").cast("double") * lit(0.05)).as("within_bound"))
      },
      Some("""SELECT count(DISTINCT user_id) AS n_exact, TRUE AS within_bound
             |FROM events""".stripMargin)),

    // the SKETCH STORE — g_hll_merge's serving shape, the fourth
    // persisted artifact after the ANN index, the dedup store, and
    // the BPE dict: per-event_type HLL sketches materialize ONCE per
    // corpus fingerprint (the shared marker lifecycle), and every
    // later distinct-count rollup reads KILOBYTES of sketches instead
    // of scanning the corpus — the pre-aggregated-cube contract for
    // the one aggregate (count distinct) that plain cubes cannot
    // roll up. Query: merge a FILTERED subset of stored sketches
    // (event types 'click'+'view') and bound-check against the exact
    // subset distinct — subset selection is what the per-group store
    // layout exists for.
    Q("g_hll_indexed",
      (s, d) => {
        val ev = T(s, d, "events")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-hll-${storeKey(d)}"
        graft.ops.Stores.oncePerFingerprint(s, dir, "sketches",
          graft.ops.AnnIndex.tableFingerprint(s, s"$d/events.parquet")) {
          ev.groupBy(col("event_type"))
            .agg(hll_sketch_agg(col("user_id").cast("string"), lit(12)).as("sk"))
            .write.mode("overwrite").parquet(s"$dir/sketches")
        }
        val est = s.read.parquet(s"$dir/sketches")
          .where(col("event_type").isin("click", "view"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"))
        ev.where(col("event_type").isin("click", "view"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
          .crossJoin(broadcast(est))
          .select(col("n_exact"),
            (abs(col("_est") - col("n_exact").cast("double")) <=
              col("n_exact").cast("double") * lit(0.05)).as("within_bound"))
      },
      Some("""SELECT count(DISTINCT user_id) AS n_exact, TRUE AS within_bound
             |FROM events WHERE event_type IN ('click', 'view')""".stripMargin), build = true),

    // HIERARCHY ROLLUP over the sketch store — the pre-aggregated-
    // cube contract that justifies persisting sketches at all: the
    // finest grain (lang, source) materializes ONCE per corpus
    // fingerprint, and every coarser level — per-lang, whole-corpus —
    // is a ROLLUP of sketch UNIONS over that store: kilobytes read,
    // ZERO corpus scan, for the one aggregate (count distinct) a
    // plain pre-aggregated cube cannot roll up. Distinct entity =
    // md5(text), "unique document versions per slice" (dedup-aware).
    // Grading follows the sketch-family contract: the estimate stays
    // out of the hash; every hierarchy row carries the exact subset
    // distinct (this grading side does scan the corpus — the serving
    // claim is about the estimate side only) plus within_bound vs
    // the lgK=12 error budget; the oracle asserts literal TRUE via
    // the identical GROUP BY ROLLUP. Null-safe join keys because
    // rollup subtotal rows carry NULL group keys on both sides.
    Q("g_hll_cube",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-hllcube-${storeKey(d)}"
        graft.ops.Stores.oncePerFingerprint(s, dir, "sketches",
          graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet")) {
          docs.groupBy(col("lang"), col("source"))
            .agg(hll_sketch_agg(md5(col("text")), lit(12)).as("sk"))
            .write.mode("overwrite").parquet(s"$dir/sketches")
        }
        // grouping_id() in the join keys: a NULL data key (a doc with
        // lang NULL) and a rollup SUBTOTAL both carry NULL in the
        // group column — only the grouping bits tell them apart, so
        // the null-safe key equality alone would cross-match them
        val est = s.read.parquet(s"$dir/sketches")
          .rollup(col("lang"), col("source"))
          .agg(grouping_id().as("_g"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"))
          .select(col("lang").as("_l"), col("source").as("_s"), col("_g"), col("_est"))
        docs.rollup(col("lang"), col("source"))
          .agg(grouping_id().as("_g2"), countDistinct(md5(col("text"))).as("n_exact"))
          .join(broadcast(est), col("lang") <=> col("_l") &&
            col("source") <=> col("_s") && col("_g2") === col("_g"))
          .select(col("lang"), col("source"), col("n_exact"),
            (abs(col("_est") - col("n_exact").cast("double")) <=
              col("n_exact").cast("double") * lit(0.05)).as("within_bound"))
      },
      Some("""SELECT lang, source, count(DISTINCT md5(text)) AS n_exact, TRUE AS within_bound
             |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin), build = true),

    // the sketch store's ERASURE story, graded — the measured verb
    // behind the recorded impossibility: HLL registers cannot
    // subtract (Sketches.takedown throws, TakedownSpec pins it), but
    // the store is GROUP-keyed and groups are disjoint, so erasing a
    // whole group = physically dropping its sketch rows
    // (Sketches.takedownGroup, routed through the zero-window
    // versioned compact) — and the result must be indistinguishable
    // from a store REBUILT over the post-erasure corpus. Graded in
    // the TakedownSpec parity style: store A builds over all events
    // then takes down the 'click' group; store B builds fresh
    // without 'click'; every rollup level's estimates must be EQUAL
    // (identical surviving sketch bytes -> bit-identical estimate
    // doubles — parity TRUE), inside the lgK=12 bound vs the exact
    // post-erasure distinct (within_bound), with zero rollup rows
    // present in one store but not the other (sym_diff 0 — a
    // leftover erased group or a lost survivor both surface here).
    // The estimate itself stays out of the hash (the sketch-family
    // grading contract).
    Q("g_hll_rebuilt",
      (s, d) => {
        val ev = T(s, d, "events")
        val fp = graft.ops.AnnIndex.tableFingerprint(s, s"$d/events.parquet")
        val dirA = s"${sys.props("java.io.tmpdir")}/graft-hllreb-${storeKey(d)}"
        graft.ops.Stores.oncePerFingerprint(s, dirA, "sketches", fp) {
          ev.groupBy(col("event_type"))
            .agg(hll_sketch_agg(col("user_id").cast("string"), lit(12)).as("sk"))
            .write.mode("overwrite").parquet(s"$dirA/sketches")
          graft.ops.Sketches.takedownGroup(s, dirA, col("event_type") === "click")
        }
        val dirB = s"${sys.props("java.io.tmpdir")}/graft-hllreb2-${storeKey(d)}"
        graft.ops.Stores.oncePerFingerprint(s, dirB, "sketches", fp) {
          ev.where(col("event_type") =!= "click").groupBy(col("event_type"))
            .agg(hll_sketch_agg(col("user_id").cast("string"), lit(12)).as("sk"))
            .write.mode("overwrite").parquet(s"$dirB/sketches")
        }
        val a = graft.ops.Sketches.estimateStore(s, dirA, Seq("event_type"))
          .select(col("event_type").as("_ta"), col("gid").as("_ga"), col("est").as("_ea"))
        val b = graft.ops.Sketches.estimateStore(s, dirB, Seq("event_type"))
          .select(col("event_type").as("_tb"), col("gid").as("_gb"), col("est").as("_eb"))
        val par = a.join(b,
          col("_ta") <=> col("_tb") && col("_ga") <=> col("_gb"), "full_outer")
        val symDiff = par.where(col("_ea").isNull || col("_eb").isNull)
          .agg(count(lit(1)).as("sym_diff"))
        ev.where(col("event_type") =!= "click")
          .rollup(col("event_type"))
          .agg(grouping_id().as("_g2"), countDistinct(col("user_id")).as("n_exact"))
          .join(par, col("event_type") <=> col("_ta") && col("_g2") === col("_ga"))
          .crossJoin(broadcast(symDiff))
          .select(col("event_type"), col("n_exact"),
            (abs(col("_ea") - col("n_exact").cast("double")) <=
              col("n_exact").cast("double") * lit(0.05)).as("within_bound"),
            (col("_ea") === col("_eb")).as("parity"),
            col("sym_diff"))
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
             |  TRUE AS within_bound, TRUE AS parity, CAST(0 AS BIGINT) AS sym_diff
             |FROM events WHERE event_type <> 'click'
             |GROUP BY ROLLUP (event_type)""".stripMargin), build = true),

    // the INGESTED store: the corpus arrives as three batches
    // (doc_id mod 3 — a deterministic stand-in for arrival order)
    // appended by Sketches.ingestBatch, the batch core of
    // ingestStream (stream == sequential-batch parity is spec-pinned
    // with a real MemoryStream + checkpoint markers in ApproxSpec).
    // Graded exactly like g_hll_cube: every rollup level of the
    // union-merged APPENDED sketches must sit inside the lgK=12
    // bound vs exact — so batch-split ingestion provably loses
    // nothing vs the one-shot build. grouping_id keys the join (the
    // NULL-vs-subtotal contract).
    Q("g_hll_ingested",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-hllingest-${storeKey(d)}"
        graft.ops.Stores.oncePerFingerprint(s, dir, "sketches",
          graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet")) {
          for (b <- 0 to 2)
            graft.ops.Sketches.ingestBatch(
              docs.where(pmod(col("doc_id"), lit(3)) === b),
              dir, Seq("lang", "source"), md5(col("text")))
        }
        val est = graft.ops.Sketches.estimateStore(s, dir, Seq("lang", "source"))
          .select(col("lang").as("_l"), col("source").as("_s"),
            col("gid").as("_g"), col("est").as("_est"))
        docs.rollup(col("lang"), col("source"))
          .agg(grouping_id().as("_g2"), countDistinct(md5(col("text"))).as("n_exact"))
          .join(broadcast(est), col("lang") <=> col("_l") &&
            col("source") <=> col("_s") && col("_g2") === col("_g"))
          .select(col("lang"), col("source"), col("n_exact"),
            (abs(col("_est") - col("n_exact").cast("double")) <=
              col("n_exact").cast("double") * lit(0.05)).as("within_bound"))
      },
      Some("""SELECT lang, source, count(DISTINCT md5(text)) AS n_exact, TRUE AS within_bound
             |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin), build = true),

    // approx_percentile (Greenwald-Khanna sketch): same contract — the
    // sketch value stays out of the hash; the graded row checks the
    // sketch against GK's actual guarantee, which is RANK error (1/
    // accuracy = 0.1% here), not value error: the fraction of rows at
    // or below the sketch's median must sit within 2% of 0.5 (slack
    // over 0.1% absorbs duplicate values straddling the cut). The rank
    // check is one extra COUNT over the scan — no exact percentile()
    // buffering of every value per partial aggregate (the global-sort
    // cost the sketch exists to avoid at 100 TB) on the bench path.
    Q("g_approx_quantile",
      (s, d) => {
        val li = T(s, d, "lineitem")
        val med = li.agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("_med"))
        li.crossJoin(broadcast(med))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("l_extendedprice") <= col("_med"), 1L).otherwise(0L)).as("_n_le"))
          .select(col("n_rows"),
            (abs(col("_n_le").cast("double") / col("n_rows").cast("double") - lit(0.5)) <=
              lit(0.02)).as("within_bound"))
      },
      Some("""SELECT count(*) AS n_rows, TRUE AS within_bound FROM lineitem""")),

    // count-min-sketch heavy hitters: same sketch contract as the two
    // rows above — the sketch VALUE stays out of the hash; the graded
    // row carries exact top-10 counts plus the CMS point-query
    // guarantee as a boolean (exact <= est <= exact + ceil(eps*N),
    // deterministic under the fixed seed). Probe rides a broadcast of
    // the ~100 KB sketch via graft_cms_estimate.
    Q("g_heavy_hitters",
      (s, d) => Sketches.heavyHitters(T(s, d, "events"), "user_id", 10),
      Some("""SELECT user_id, exact_cnt, TRUE AS within_bound FROM (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
             |  FROM events GROUP BY user_id
             |  ORDER BY exact_cnt DESC, user_id LIMIT 10)""".stripMargin)),

    // multimodal metadata: the graded twin of Multimodal.decodeStub
    // (the fallback branch of Multimodal.decode — synthetic md5
    // payloads match no container magic; real PNG/BMP/JPEG headers
    // take the real parse, proven in MultimodalSinksSpec) —
    // width/height/channels/format derived from payload bytes
    // (payload = unhex(md5(text)); bytes read via hex-digit ascii math)
    Q("m_multimodal_meta",
      (s, d) => {
        val hx = md5(col("text"))
        val checksum = (0 until 16).map(i => hexByte(hx, i)).reduce(_ + _)
        T(s, d, "documents").select(col("doc_id"),
          (hexByte(hx, 0) % 64 + 1).cast("int").as("width"),
          (hexByte(hx, 1) % 64 + 1).cast("int").as("height"),
          (hexByte(hx, 2) % 3 + 1).cast("int").as("channels"),
          when(hexByte(hx, 3) % 2 === 0, "png").otherwise("jpeg").as("format"),
          checksum.cast("long").as("checksum"))
      },
      Some {
        val checksum = (0 until 16).map(i => hexByteSql("hx", i)).mkString("\n    + ")
        s"""SELECT doc_id,
           |  CAST(${hexByteSql("hx", 0)} % 64 + 1 AS INT) AS width,
           |  CAST(${hexByteSql("hx", 1)} % 64 + 1 AS INT) AS height,
           |  CAST(${hexByteSql("hx", 2)} % 3 + 1 AS INT) AS channels,
           |  CASE WHEN ${hexByteSql("hx", 3)} % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           |  CAST($checksum AS BIGINT) AS checksum
           |FROM (SELECT doc_id, md5(text) AS hx FROM documents)""".stripMargin
      }),

    // video container metadata through the REAL parser: each row packs
    // a spec-conformant ISO-BMFF (MP4) payload with doc_id-derived
    // dimensions/duration, and graft.ops.Multimodal.decodeMp4 walks
    // the actual boxes (ftyp/moov/mvhd/trak/tkhd/stsd) to recover
    // them — so the graded hash pins the byte-level writer AND parser,
    // not stand-in arithmetic (the oracle computes the same fields
    // straight from doc_id). Scan-stage mapPartitions, zero shuffles,
    // same placement doctrine as the other binary-format decodes.
    Q("m_video_meta",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val w = (id % 509 + 16).toInt
              val h = (id % 283 + 16).toInt
              val durMs = id % 100000 + 1000
              val m = graft.ops.Multimodal.decodeMp4(
                graft.ops.Multimodal.packMp4(w, h, durMs, "avc1"))
              (id, m.width, m.height, m.durationMs, m.nTracks, m.codec)
            }
          }.toDF("doc_id", "width", "height", "duration_ms", "n_tracks", "codec")
      },
      Some("""SELECT doc_id,
             |  CAST(doc_id % 509 + 16 AS INT) AS width,
             |  CAST(doc_id % 283 + 16 AS INT) AS height,
             |  CAST(doc_id % 100000 + 1000 AS DOUBLE) AS duration_ms,
             |  1 AS n_tracks, 'avc1' AS codec
             |FROM documents""".stripMargin)),

    // audio container metadata through the REAL parser — same contract
    // as m_video_meta: packWav writes a canonical RIFF/WAVE header
    // with doc_id-derived params, decodeWav chunk-walks it back, and
    // the oracle recomputes the fields (incl. the IEEE-exact
    // frames*1000.0/rate duration) straight from doc_id.
    Q("m_audio_meta",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val m = graft.ops.Multimodal.decodeWav(graft.ops.Multimodal.packWav(
                ((id % 4 + 1) * 8000).toInt, (id % 2 + 1).toInt, 16, (id % 97 + 1).toInt))
              (id, m.sampleRate, m.channels, m.bitsPerSample, m.nFrames, m.durationMs, m.pcm)
            }
          }.toDF("doc_id", "sample_rate", "channels", "bits", "n_frames", "duration_ms", "pcm")
      },
      Some("""SELECT doc_id,
             |  CAST((doc_id % 4 + 1) * 8000 AS INT) AS sample_rate,
             |  CAST(doc_id % 2 + 1 AS INT) AS channels,
             |  16 AS bits,
             |  CAST(doc_id % 97 + 1 AS BIGINT) AS n_frames,
             |  CAST(doc_id % 97 + 1 AS DOUBLE) * 1000.0 / ((doc_id % 4 + 1) * 8000) AS duration_ms,
             |  TRUE AS pcm
             |FROM documents""".stripMargin)),

    // COMPRESSED audio decode end-to-end, the m_audio_meta twin for
    // the format a real audio corpus actually ships: each row encodes
    // a doc_id-derived PCM signal as a spec-conformant FLAC stream
    // (ops.Flac.pack — multi-frame, FIXED-predictor subframes, Rice
    // residuals) and decodes it back through the full pure-JVM spec
    // walk (sync + CRC-8/CRC-16 verified per frame). Graded output is
    // the decoded stream's exact metadata + sample sums; the oracle
    // recomputes them from the closed-form signal — so the hash pins
    // the ENTIRE compress→decompress round-trip (prediction, Rice,
    // framing), not header arithmetic. FLAC is lossless: bit-exact by
    // construction. blockSize=32 forces multiple frames per stream
    // (UTF-8 frame numbers > 0, short tail frames); odd ids are
    // stereo (interleaved subframes). Scan-stage mapPartitions, zero
    // shuffles.
    Q("m_flac_frames",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val ch = (id % 2 + 1).toInt
              val nPerCh = (id % 97 + 1).toInt
              val rate = ((id % 4 + 1) * 8000).toInt
              val vals = Array.tabulate(nPerCh * ch)(j =>
                (((id * 13 + j * 17) % 4001) - 2000).toInt)
              val a = graft.ops.Flac.decode(
                graft.ops.Flac.pack(rate, ch, 16, vals, blockSize = 32))
              var sum = 0L; var sq = 0L
              a.samples.foreach { v => sum += v; sq += v.toLong * v }
              (id, a.sampleRate, a.channels, a.bits, a.nSamplesPerCh,
                a.nFrames, sum, sq)
            }
          }.toDF("doc_id", "sample_rate", "channels", "bits", "n_samples",
            "n_frames", "pcm_sum", "pcm_sq")
      },
      Some("""WITH js AS (SELECT unnest(range(0, 194)) AS j),
             |px AS (SELECT d.doc_id,
             |         (d.doc_id * 13 + js.j * 17) % 4001 - 2000 AS v
             |       FROM documents d, js
             |       WHERE js.j < (d.doc_id % 97 + 1) * (d.doc_id % 2 + 1))
             |SELECT doc_id,
             |  CAST((doc_id % 4 + 1) * 8000 AS INT) AS sample_rate,
             |  CAST(doc_id % 2 + 1 AS INT) AS channels,
             |  16 AS bits,
             |  CAST(doc_id % 97 + 1 AS BIGINT) AS n_samples,
             |  CAST((doc_id % 97 + 1 + 31) // 32 AS INT) AS n_frames,
             |  CAST(sum(v) AS BIGINT) AS pcm_sum,
             |  CAST(sum(v * v) AS BIGINT) AS pcm_sq
             |FROM px GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin)),

    // MP3 frame-level metadata through the REAL MPEG-1 Layer III
    // header walker (ops/Mp3): per doc a seeded VBR frame sequence
    // (bitrate + padding vary per frame) is packed — some streams
    // with an ID3v2 prefix and/or an ID3v1 tail the walker must
    // skip — then parsed back; frame counts, audio byte totals,
    // padding counts, bitrate mass and duration are hash-graded
    // against the closed-form frame-length arithmetic
    // (144000*kbps/rate + pad). PCM decode stays a LOUD contract
    // (Mp3.decodePcm — the H.264 fourcc convention), recorded in
    // SURVEY; metadata is what a curation pipeline consumes.
    Q("m_mp3_frames",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val sri = (id % 3).toInt
              val ch = (id % 2 + 1).toInt
              val n = (id % 23 + 1).toInt
              val bidx = Seq.tabulate(n)(i => ((id * 7 + i * 3) % 14 + 1).toInt)
              val pads = Seq.tabulate(n)(i => (id + i) % 2 == 0)
              val a = graft.ops.Mp3.parse(graft.ops.Mp3.pack(sri, ch, bidx, pads,
                seed = id, id3Size = if (id % 5 == 0) 64 else 0,
                id3v1Tail = id % 7 == 0))
              (id, a.sampleRate, a.channels, a.nFrames.toLong,
                a.audioBytes, a.frames.count(_.padded).toLong,
                a.frames.map(_.bitrateKbps.toLong).sum, a.durationMs)
            }
          }.toDF("doc_id", "sample_rate", "channels", "n_frames",
            "audio_bytes", "n_padded", "kbps_sum", "duration_ms")
      },
      Some("""WITH js AS (SELECT unnest(range(0, 23)) AS j),
             |fx AS (SELECT d.doc_id,
             |         ([44100, 48000, 32000])[CAST(d.doc_id % 3 + 1 AS INT)] AS rate,
             |         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[CAST((d.doc_id * 7 + js.j * 3) % 14 + 1 AS INT)] AS kbps,
             |         CASE WHEN (d.doc_id + js.j) % 2 = 0 THEN 1 ELSE 0 END AS pad
             |       FROM documents d, js
             |       WHERE js.j < d.doc_id % 23 + 1)
             |SELECT doc_id,
             |  CAST(max(rate) AS INT) AS sample_rate,
             |  CAST(doc_id % 2 + 1 AS INT) AS channels,
             |  CAST(count(*) AS BIGINT) AS n_frames,
             |  CAST(sum(144000 * kbps // rate + pad) AS BIGINT) AS audio_bytes,
             |  CAST(sum(pad) AS BIGINT) AS n_padded,
             |  CAST(sum(kbps) AS BIGINT) AS kbps_sum,
             |  CAST(count(*) * 1152 * 1000 // max(rate) AS BIGINT) AS duration_ms
             |FROM fx GROUP BY doc_id""".stripMargin)),

    // WARC (ISO 28500) — the crawl lake's container format, graded
    // through the REAL record codec (ops/Warc): per doc a
    // deterministic WARC file is packed (warcinfo + an HTTP-wrapped
    // response carrying the doc's text + doc_id%3 metadata records),
    // every third doc additionally round-trips the .warc.gz framing
    // (one gzip member PER RECORD, spec annex C), and the file is
    // parsed back. The graded columns all come from the PARSED side
    // — record count, HTTP status, the response record's
    // Content-Length, the extracted entity-body text (== the
    // original text iff every offset/CRLF/length in the framing is
    // exact), target URI — so the hash pins the whole pack→parse→
    // httpBody chain, not header arithmetic. Scan-stage
    // mapPartitions, zero shuffles (the m_flac_frames convention);
    // real-file reads via Warc.records are WarcSpec's job (binary
    // container I/O, like .nc/.h5).
    Q("m_warc_records",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, txt) =>
              val date = "2026-01-01T00:00:00Z"
              def rid(j: Long) = s"<urn:uuid:0000-$id-$j>"
              val uri = s"http://example.com/doc/$id"
              val body = txt.getBytes("UTF-8")
              val recs =
                (Seq("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> rid(0),
                  "WARC-Date" -> date, "Content-Type" -> "application/warc-fields"),
                  "software: graft\r\n".getBytes("UTF-8")) +:
                (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> rid(1),
                  "WARC-Date" -> date, "WARC-Target-URI" -> uri,
                  "Content-Type" -> "application/http;msgtype=response"),
                  graft.ops.Warc.httpWrap(200, "text/plain", body)) +:
                (0L until id % 3).map(j =>
                  (Seq("WARC-Type" -> "metadata", "WARC-Record-ID" -> rid(2 + j),
                    "WARC-Date" -> date, "WARC-Refers-To" -> rid(1)),
                    s"extra: $j".getBytes("UTF-8")))
              val gz = id % 3 == 0
              val fileBytes =
                if (gz) recs.toArray.flatMap(r =>
                  graft.ops.Warc.gzipMember(graft.ops.Warc.pack(Seq(r))))
                else graft.ops.Warc.pack(recs)
              val parsed = graft.ops.Warc.parseAuto(fileBytes)
              val resp = parsed.find(_.recordType == "response").get
              val (status, pbody) = graft.ops.Warc.httpBody(resp.payload)
              (id, parsed.length.toLong, gz, status.toLong,
                resp.header("Content-Length").get.toLong,
                pbody.length.toLong, resp.targetUri,
                new String(pbody, "UTF-8"))
            }
          }.toDF("doc_id", "n_records", "gz", "status", "clen",
            "body_len", "uri", "body_text")
      },
      // clen replays httpWrap's framing: 63 fixed header bytes
      // ("HTTP/1.1 200 OK" 15 + "Content-Type: text/plain" 24 +
      // "Content-Length: " 16 + four CRLFs 8) + the length's own
      // digits + the UTF-8 body
      Some("""SELECT doc_id,
             |  CAST(2 + doc_id % 3 AS BIGINT) AS n_records,
             |  doc_id % 3 = 0 AS gz,
             |  CAST(200 AS BIGINT) AS status,
             |  CAST(63 + length(CAST(octet_length(encode(text)) AS VARCHAR))
             |       + octet_length(encode(text)) AS BIGINT) AS clen,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
             |  'http://example.com/doc/' || doc_id AS uri,
             |  text AS body_text
             |FROM documents""".stripMargin)),

    // image header metadata through the REAL parser — packPngHeader
    // writes the spec's signature+IHDR layout (header-only fixture),
    // the decode dispatch takes the real PNG branch (not the stub),
    // and the oracle recomputes dims + the color-type→channel map.
    Q("m_image_meta",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val m = graft.ops.Multimodal.decode(id, graft.ops.Multimodal.packPngHeader(
                (id % 1021 + 1).toInt, (id % 747 + 1).toInt, ((id % 4) * 2).toInt))
              (id, m.width, m.height, m.channels, m.format, m.byteLen)
            }
          }.toDF("doc_id", "width", "height", "channels", "format", "byte_len")
      },
      Some("""SELECT doc_id,
             |  CAST(doc_id % 1021 + 1 AS INT) AS width,
             |  CAST(doc_id % 747 + 1 AS INT) AS height,
             |  CAST(CASE (doc_id % 4) * 2 WHEN 0 THEN 1 WHEN 2 THEN 3
             |       WHEN 4 THEN 2 ELSE 4 END AS INT) AS channels,
             |  'png' AS format, 33 AS byte_len
             |FROM documents""".stripMargin)),

    // REAL pixel decode end-to-end: each row encodes a renderable PNG
    // (zlib IDAT and all) through the JDK's own ImageIO writer with
    // doc_id-derived dims and a per-pixel closed form, decodePixels
    // runs the full ImageIO PNG codec back to rasters, and the graded
    // output is exact per-channel long sums. The oracle recomputes the
    // same sums from the closed form by enumerating (x, y) — so the
    // hash pins the entire compressed-image round-trip, not header
    // arithmetic. PNG is lossless: bit-exact by construction.
    // Scan-stage mapPartitions (pack fused with decode in one
    // WholeStageCodegen-adjacent stage), zero shuffles.
    Q("m_image_pixels",
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val w = (id % 8 + 4).toInt
              val h = (id % 6 + 3).toInt
              val png = graft.ops.Multimodal.packImage(w, h, "png") { (x, y) =>
                val r = ((id * 7 + x * 3 + y * 5) % 256).toInt
                (r << 16) | (((r + 85) % 256) << 8) | ((r + 170) % 256)
              }
              (id, png)
            }
          }.toDF("id", "payload")
        graft.ops.Multimodal.imagePixelStats(s, media)
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH xs AS (SELECT unnest(range(0, 12)) AS x),
             |     ys AS (SELECT unnest(range(0, 9)) AS y),
             |     px AS (
             |       SELECT d.doc_id,
             |              CAST(d.doc_id % 8 + 4 AS INT) AS width,
             |              CAST(d.doc_id % 6 + 3 AS INT) AS height,
             |              (d.doc_id * 7 + xs.x * 3 + ys.y * 5) % 256 AS r
             |       FROM documents d, xs, ys
             |       WHERE xs.x < d.doc_id % 8 + 4 AND ys.y < d.doc_id % 6 + 3)
             |SELECT doc_id, width, height, CAST(3 AS INT) AS channels,
             |       CAST(sum(r) AS BIGINT) AS r_sum,
             |       CAST(sum((r + 85) % 256) AS BIGINT) AS g_sum,
             |       CAST(sum((r + 170) % 256) AS BIGINT) AS b_sum
             |FROM px GROUP BY 1, 2, 3, 4""".stripMargin)),

    // REAL multi-frame video-path decode: each row packs an animated
    // GIF (the one multi-frame container with a JDK codec) whose gray
    // frames follow a closed form, unpackVideo decodes every frame
    // through ImageIO's GIF reader, and frame-level exact sums are
    // graded. Gray <= 256 colors makes the palette encode lossless.
    // One row per (doc, frame), all scan-stage, zero shuffles.
    Q("m_gif_frames",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.flatMap { id =>
              val nF = (id % 3 + 2).toInt
              val frames = (0 until nF).map { f =>
                Array.tabulate(16)(i => ((id + f * 31 + i * 7) % 256).toByte)
              }
              val gif = graft.ops.Multimodal.packGifFrames(frames, 4, 4)
              graft.ops.Multimodal.unpackVideo(id, gif).map { fr =>
                var sum = 0L; var sq = 0L
                fr.pixels.foreach { b => val v = b & 0xff; sum += v; sq += v.toLong * v }
                (id, fr.frameIdx, fr.h, fr.w, sum, sq)
              }
            }
          }.toDF("doc_id", "frame_idx", "h", "w", "pix_sum", "pix_sq")
      },
      Some("""WITH fs AS (SELECT unnest(range(0, 4)) AS f),
             |     ps AS (SELECT unnest(range(0, 16)) AS i),
             |     px AS (
             |       SELECT d.doc_id, fs.f, (d.doc_id + fs.f * 31 + ps.i * 7) % 256 AS v
             |       FROM documents d, fs, ps
             |       WHERE fs.f < d.doc_id % 3 + 2)
             |SELECT doc_id, CAST(f AS INT) AS frame_idx,
             |       CAST(4 AS INT) AS h, CAST(4 AS INT) AS w,
             |       CAST(sum(v) AS BIGINT) AS pix_sum,
             |       CAST(sum(v * v) AS BIGINT) AS pix_sq
             |FROM px GROUP BY 1, 2""".stripMargin)),

    // REAL AVI video-path decode: each row packs a spec-conformant
    // RIFF/AVI (hdrl avih + vids strh/strf + movi 00db chunks) whose
    // uncompressed 8-bit DIB frames follow a closed form, unpackVideo
    // takes the real AVI branch (container walk, palette map,
    // de-stride, bottom-up un-flip — w=6 forces a stride-8 row pad so
    // the graded hash pins the de-striding), and frame-level exact
    // sums are graded. DIB is lossless: bit-exact by construction;
    // the MJPG (JDK JPEG codec) sibling is lossy and asserted with
    // tolerance in MultimodalSinksSpec instead. One row per
    // (doc, frame), all scan-stage, zero shuffles.
    Q("m_avi_frames",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.flatMap { id =>
              val nF = (id % 3 + 2).toInt
              val frames = (0 until nF).map { f =>
                Array.tabulate(18)(i => ((id + f * 37 + i * 11) % 256).toByte)
              }
              val avi = graft.ops.Multimodal.packAviFrames(frames, 3, 6)
              graft.ops.Multimodal.unpackVideo(id, avi).map { fr =>
                var sum = 0L; var sq = 0L
                fr.pixels.foreach { b => val v = b & 0xff; sum += v; sq += v.toLong * v }
                (id, fr.frameIdx, fr.h, fr.w, sum, sq)
              }
            }
          }.toDF("doc_id", "frame_idx", "h", "w", "pix_sum", "pix_sq")
      },
      Some("""WITH fs AS (SELECT unnest(range(0, 4)) AS f),
             |     ps AS (SELECT unnest(range(0, 18)) AS i),
             |     px AS (
             |       SELECT d.doc_id, fs.f, (d.doc_id + fs.f * 37 + ps.i * 11) % 256 AS v
             |       FROM documents d, fs, ps
             |       WHERE fs.f < d.doc_id % 3 + 2)
             |SELECT doc_id, CAST(f AS INT) AS frame_idx,
             |       CAST(3 AS INT) AS h, CAST(6 AS INT) AS w,
             |       CAST(sum(v) AS BIGINT) AS pix_sum,
             |       CAST(sum(v * v) AS BIGINT) AS pix_sq
             |FROM px GROUP BY 1, 2""".stripMargin)),

    // REAL MP4 video-path decode: each row packs a spec-conformant
    // ISO-BMFF file (ftyp + mdat + moov with FULL stts/stsc/stsz/stco
    // sample tables, samples packed 2-per-chunk so odd frame counts
    // force the two-run stsc expansion and a short tail chunk),
    // unpackVideo takes the real MP4 branch — sample-table walk,
    // absolute-offset mdat slicing, raw-grayscale (depth 40) decode —
    // and frame-level exact sums are graded. nF = id%4+2 spans 2..5
    // frames so 1-, 2- and 3-chunk layouts (with and without a short
    // tail) are all exercised under the graded hash. Raw gray is
    // lossless: bit-exact by construction; the motion-JPEG sibling
    // ('jpeg' sample entry, JDK codec) is lossy and graded on
    // dims/frame count in m_mp4_mjpeg + tolerance-asserted in
    // MultimodalSinksSpec. One row per (doc, frame), all scan-stage,
    // zero shuffles.
    Q("m_mp4_frames",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.flatMap { id =>
              val nF = (id % 4 + 2).toInt
              val frames = (0 until nF).map { f =>
                Array.tabulate(15)(i => ((id * 3 + f * 43 + i * 17) % 256).toByte)
              }
              val mp4 = graft.ops.Multimodal.packMp4Frames(frames, 3, 5)
              graft.ops.Multimodal.unpackVideo(id, mp4).map { fr =>
                var sum = 0L; var sq = 0L
                fr.pixels.foreach { b => val v = b & 0xff; sum += v; sq += v.toLong * v }
                (id, fr.frameIdx, fr.h, fr.w, sum, sq)
              }
            }
          }.toDF("doc_id", "frame_idx", "h", "w", "pix_sum", "pix_sq")
      },
      Some("""WITH fs AS (SELECT unnest(range(0, 6)) AS f),
             |     ps AS (SELECT unnest(range(0, 15)) AS i),
             |     px AS (
             |       SELECT d.doc_id, fs.f, (d.doc_id * 3 + fs.f * 43 + ps.i * 17) % 256 AS v
             |       FROM documents d, fs, ps
             |       WHERE fs.f < d.doc_id % 4 + 2)
             |SELECT doc_id, CAST(f AS INT) AS frame_idx,
             |       CAST(3 AS INT) AS h, CAST(5 AS INT) AS w,
             |       CAST(sum(v) AS BIGINT) AS pix_sum,
             |       CAST(sum(v * v) AS BIGINT) AS pix_sq
             |FROM px GROUP BY 1, 2""".stripMargin)),

    // Motion-JPEG-in-MP4 through the REAL JDK JPEG codec: same
    // sample-table walk as m_mp4_frames but every mdat sample is a
    // real JPEG ('jpeg' visual sample entry) that unpackMp4 decodes
    // with ImageIO. JPEG is lossy, so the graded surface is what the
    // codec keeps exact — per-frame dims and the frame count the
    // stsc/stco expansion recovered — proving the MJPEG route decodes
    // every frame end-to-end (a failed decode would stub to one
    // 64x64-bounded frame and break both the row count and the hash).
    Q("m_mp4_mjpeg",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.flatMap { id =>
              val nF = (id % 3 + 2).toInt
              val frames = (0 until nF).map { f =>
                Array.tabulate(24)(i => ((id + f * 29 + i * 19) % 256).toByte)
              }
              val mp4 = graft.ops.Multimodal.packMp4Frames(frames, 4, 6, codec = "jpeg")
              graft.ops.Multimodal.unpackVideo(id, mp4).map { fr =>
                (id, fr.frameIdx, fr.h, fr.w)
              }
            }
          }.toDF("doc_id", "frame_idx", "h", "w")
      },
      Some("""WITH fs AS (SELECT unnest(range(0, 4)) AS f)
             |SELECT d.doc_id, CAST(fs.f AS INT) AS frame_idx,
             |       CAST(4 AS INT) AS h, CAST(6 AS INT) AS w
             |FROM documents d, fs
             |WHERE fs.f < d.doc_id % 3 + 2""".stripMargin)),

    // FRAGMENTED MP4 (fMP4, the streaming-muxer layout): each row
    // packs ftyp + moov{empty sample tables, mvex/trex} + one
    // moof{traf{tfhd(default-base-is-moof), tfdt, trun(per-sample
    // duration+size)}}+mdat pair per 2 samples, and unpackVideo takes
    // the moof/traf/trun walk — fragment base offsets, trun data
    // offsets, per-sample sizes — instead of the classic stsc/stco
    // expansion. Per-frame durations are UNEVEN (f%3+1 ticks at
    // timescale 25 = 40 ms/tick), so the graded t_ms column proves the
    // decode-time clock: tfdt anchoring plus the running trun duration
    // sum, hash-exact against the oracle's cumulative-sum window.
    // Raw gray is lossless -> pixel sums are exact. One row per
    // (doc, frame), all scan-stage, zero shuffles.
    Q("m_mp4_fragmented",
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.flatMap { id =>
              val nF = (id % 4 + 2).toInt
              val frames = (0 until nF).map { f =>
                Array.tabulate(15)(i => ((id * 5 + f * 47 + i * 13) % 256).toByte)
              }
              val deltas = (0 until nF).map(f => f % 3 + 1)
              val mp4 = graft.ops.Multimodal.packMp4FramesFragmented(
                frames, 3, 5, samplesPerFragment = 2, deltas = deltas)
              graft.ops.Multimodal.unpackVideo(id, mp4).map { fr =>
                var sum = 0L
                fr.pixels.foreach { b => sum += (b & 0xff) }
                (id, fr.frameIdx, fr.tMs, sum)
              }
            }
          }.toDF("doc_id", "frame_idx", "t_ms", "pix_sum")
      },
      Some("""WITH fs AS (SELECT unnest(range(0, 6)) AS f),
             |     ft AS (SELECT f, 40.0 * COALESCE(SUM(f % 3 + 1) OVER
             |              (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |              0) AS t_ms
             |            FROM fs),
             |     ps AS (SELECT unnest(range(0, 15)) AS i),
             |     px AS (SELECT d.doc_id, ft.f, ft.t_ms,
             |                   (d.doc_id * 5 + ft.f * 47 + ps.i * 13) % 256 AS v
             |            FROM documents d, ft, ps
             |            WHERE ft.f < d.doc_id % 4 + 2)
             |SELECT doc_id, CAST(f AS INT) AS frame_idx,
             |       CAST(t_ms AS DOUBLE) AS t_ms,
             |       CAST(sum(v) AS BIGINT) AS pix_sum
             |FROM px GROUP BY 1, 2, 3""".stripMargin)),
  )
}
