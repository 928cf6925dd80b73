package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Fold
import graft.streaming.Streaming

/** X2 fold: the aggregate() HOF form must equal a plain-Scala replay
  * of [[Fold.step]]. ST1/ST2: the streaming execution of the same logical plan
  * must reproduce the batch result (update/complete modes). */
class FoldStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val events = sources.Tables.load(spark, "/root/testdata/sf0.001", "events")

  test("GRU fold: aggregate() HOF == plain-Scala replay of Fold.step, per key") {
    val agg = Fold.foldAgg(events, "user_id", "ts", "event_id", "value")
      .select($"user_id".cast("long"), $"h_final")
      .as[(Long, Double)].collect().toMap
    // the same (ts, event_id, value) order foldAgg's sort_array uses
    val replay = events.select($"user_id".cast("long"), expr("unix_micros(ts)"),
        $"event_id".cast("long"), $"value".cast("double"))
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (k, rows) =>
        k -> rows.sortBy(r => (r._2, r._3, r._4)).foldLeft(0.0)((h, r) => Fold.step(h, r._4))
      }
    assert(agg.size == 15 && agg.keySet == replay.keySet)
    agg.foreach { case (k, h) =>
      assert(math.abs(h - replay(k)) < 1e-12, s"user $k: foldAgg $h, replay ${replay(k)}")
    }
  }

  test("vector-state fold: component with zero bias == scalar fold, others diverge") {
    // stepColVec with bias 0.0 applies exactly the scalar recurrence,
    // so h_vec[0] must equal foldAgg's h_final bit-for-bit; non-zero
    // biases must produce different trajectories (state really is
    // per-component, not broadcast)
    val v = Fold.foldAggVec(events, "user_id", "ts", "event_id", "value", Seq(0.0, 0.1, 0.2))
      .select($"user_id", element_at($"h_vec", 1).as("h0"), element_at($"h_vec", 2).as("h1"))
    val sc = Fold.foldAgg(events, "user_id", "ts", "event_id", "value")
      .select($"user_id", $"h_final")
    val joined = v.join(sc, "user_id").collect()
    assert(joined.length == 15)
    joined.foreach { r =>
      assert(r.getAs[Double]("h0") == r.getAs[Double]("h_final"), r.toString)
      assert(r.getAs[Double]("h1") != r.getAs[Double]("h_final"), r.toString)
    }
  }

  test("fold is order-dependent (sanity: reversed order differs)") {
    val fwd = Fold.foldAgg(events, "user_id", "ts", "event_id", "value")
      .agg(sum(abs($"h_final"))).collect()(0).getDouble(0)
    // fold over value DESC instead of time order
    val rev = events.groupBy($"user_id").agg(
      aggregate(reverse(transform(
        sort_array(collect_list(struct($"ts", $"event_id", $"value".as("v")))),
        x => x.getField("v"))), lit(0.0), Fold.stepCol).as("h_final"))
      .agg(sum(abs($"h_final"))).collect()(0).getDouble(0)
    assert(math.abs(fwd - rev) > 1e-9)
  }

  test("X2 streaming: mapGroupsWithState fold == batch fold across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)] // (key, seq, value)
    val q = Fold.foldStreaming(mem.toDS())
      .toDF("user_id", "h_final", "n_steps")
      .writeStream.format("memory").queryName("x2_out").outputMode("update").start()
    try {
      mem.addData((1L, 1L, 50.0), (1L, 2L, 120.0), (2L, 1L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, 3L, 80.0), (2L, 2L, 200.0))
      q.processAllAvailable()
      // last update per key reflects the full fold
      val streamed = spark.table("x2_out").groupBy($"user_id")
        .agg(max(struct($"n_steps", $"h_final")).as("s"))
        .select($"user_id", $"s.h_final", $"s.n_steps")
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
      val expected = Map(
        1L -> Seq(50.0, 120.0, 80.0), 2L -> Seq(10.0, 200.0)
      ).map { case (k, vs) => k -> ((vs.foldLeft(0.0)(Fold.step), vs.length.toLong)) }
      assert(streamed.keySet == expected.keySet)
      expected.foreach { case (k, (h, n)) =>
        assert(streamed(k)._2 == n)
        assert(math.abs(streamed(k)._1 - h) < 1e-12, s"key $k")
      }
    } finally q.stop()
  }

  test("ST1: streaming update-mode incremental stats == batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val sdf = mem.toDF().toDF("user_id", "value")
    val q = Streaming.incrementalStats(sdf, "user_id", "value")
      .writeStream.format("memory").queryName("st1_out").outputMode("complete").start()
    try {
      mem.addData((1L, 1.5), (1L, 2.5), (2L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, 6.0), (2L, 0.5))
      q.processAllAvailable()
      val streamed = spark.table("st1_out")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      val batch = Streaming.incrementalStats(
        Seq((1L, 1.5), (1L, 2.5), (2L, 10.0), (1L, 6.0), (2L, 0.5)).toDF("user_id", "value"),
        "user_id", "value")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(streamed == batch)
      assert(batch(1L) == ((3L, 10.0, 10.0 / 3 * 1.0)) || batch(1L)._2 == 10.0)
    } finally q.stop()
  }

  test("ST5: streaming anomaly flags == batch prefix flags across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)] // (user, sec, event_id, value)
    val sdf = mem.toDF().toDF("user_id", "sec", "event_id", "value")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
    val out = Streaming.anomalyFlagsStream(sdf, "user_id", "ts", "event_id", "value",
      watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("st5_out")
      .outputMode("append").start()
    // key 1: stable values then a spike (must flag); key 2: too little
    // history for its spike to be judged (n_prior < 2 -> false)
    val feed1 = Seq((1L, 10L, 1L, 5.0), (1L, 20L, 2L, 5.2), (1L, 30L, 3L, 4.8),
      (2L, 10L, 4L, 1.0))
    val feed2 = Seq((1L, 40L, 5L, 50.0), (1L, 50L, 6L, 5.1), (2L, 20L, 7L, 99.0))
    try {
      mem.addData(feed1: _*); q.processAllAvailable()
      mem.addData(feed2: _*); q.processAllAvailable()
      val streamed = spark.table("st5_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3))).toMap
      val batch = Streaming.anomalyFlags(
        (feed1 ++ feed2).toDF("user_id", "sec", "event_id", "value")
          .withColumn("ts", timestamp_seconds($"sec")).drop("sec"),
        "user_id", "ts", "event_id", "value")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3))).toMap
      assert(streamed == batch, s"\nstream=$streamed\n batch=$batch")
      // the spike IS flagged, its stable successor is not, and key 2's
      // spike is unjudged (1 predecessor < minPrior)
      assert(streamed((1L, 5L))._2 && !streamed((1L, 6L))._2 && !streamed((2L, 7L))._2)
    } finally q.stop()
  }

  test("X2 streaming TTL: idle key evicted at watermark, live key unchanged, return restarts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val q = Fold.foldStreamingTtl(mem.toDS(), watermark = "0 seconds", idleGapSeconds = 100L)
      .toDF("user_id", "h_final", "n_steps", "closed")
      .writeStream.format("memory").queryName("x2_ttl").outputMode("update").start()
    try {
      // both keys active at t=1000
      mem.addData((1L, ts(1000L), 50.0), (2L, ts(1000L), 10.0))
      q.processAllAvailable()
      // key 1 keeps going at t=1150 -> watermark 1150 > key 2's
      // timeout horizon (1000+100): key 2 must be evicted (closed=true)
      mem.addData((1L, ts(1150L), 80.0))
      q.processAllAvailable()
      // sentinel advances the watermark again so the timeout sweep runs
      mem.addData((99L, ts(5000L), 1.0)); q.processAllAvailable()
      mem.addData((99L, ts(9000L), 1.0)); q.processAllAvailable()
      val rows = spark.table("x2_ttl").where($"user_id" < 99).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3)))
      // key 2 idle past 1000+100 while key 1's t=1150 advanced the
      // watermark -> evicted with its full 1-event fold; key 1 outlives
      // it but the far sentinels evict it too, with BOTH events folded
      // (eviction emits the complete state, loses nothing)
      val closed = rows.filter(_._4).toSet
      assert(closed == Set(
        (2L, Fold.step(0.0, 10.0), 1L, true),
        (1L, Fold.step(Fold.step(0.0, 50.0), 80.0), 2L, true)), closed.toString)
      // while live, key 1 folded both events with closed=false updates
      val k1 = rows.filter(r => r._1 == 1L && r._3 == 2L && !r._4)
      assert(k1.nonEmpty)
      assert(math.abs(k1.head._2 - Fold.step(Fold.step(0.0, 50.0), 80.0)) < 1e-12)
      // key 2 returns AFTER eviction -> restarts from h=0, n=1
      mem.addData((2L, ts(9500L), 30.0)); q.processAllAvailable()
      val back = spark.table("x2_ttl").where($"user_id" === 2 && !$"closed").collect()
        .map(r => (r.getDouble(1), r.getLong(2)))
      assert(back.exists { case (h, n) => n == 1L && math.abs(h - Fold.step(0.0, 30.0)) < 1e-12 },
        back.toSeq.toString)
    } finally q.stop()
  }

  test("streaming sessionize (flatMapGroupsWithState + event-time timeout) == batch sessions") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (user, sec)
    val ev = mem.toDF().toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = Streaming.sessionizeStream(ev, "user_id", "ts",
      maxGapSeconds = 300L, watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // t=0 would collide with the INITIAL watermark (0) and be
      // dropped as late — start times well above it
      mem.addData((10L, 1000L), (10L, 1100L), (10L, 1200L), (20L, 1050L), (20L, 1150L))
      q.processAllAvailable()
      // u10's next event is > gap later -> closes session 1 in-batch
      mem.addData((10L, 2000L), (10L, 2100L))
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past
      // every open session's horizon, the second triggers the timeout
      // sweep under that watermark
      mem.addData((99L, 10000L)); q.processAllAvailable()
      mem.addData((99L, 20000L)); q.processAllAvailable()
      val got = spark.table("sess_out").where($"user_id" < 99)
        .collect().map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3))).toSet
      // the batch operator's sessions for the same events
      val batch = Seq((10L, 1000L), (10L, 1100L), (10L, 1200L), (20L, 1050L), (20L, 1150L),
          (10L, 2000L), (10L, 2100L))
        .toDF("user_id", "sec").withColumn("ts", timestamp_seconds($"sec"))
      val expect = graft.ops.Sequences.sessionize(batch, "user_id", "ts", 300L, "sec")
        .groupBy($"user_id", $"session_id")
        .agg(min($"sec").as("s0"), max($"sec").as("s1"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got == expect, s"got $got expect $expect")
    } finally q.stop()
  }

  test("streaming sessionize: late-but-within-watermark event extends, never regresses, the session") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ev = mem.toDF().toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = Streaming.sessionizeStream(ev, "user_id", "ts",
      maxGapSeconds = 300L, watermark = "500 seconds")
    val q = out.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1000L), (1L, 1100L)); q.processAllAvailable()
      // 1050 arrives in a LATER batch, older than the session's last
      // event but above the watermark (1100 - 500) -> still counted,
      // session bounds unchanged
      mem.addData((1L, 1050L)); q.processAllAvailable()
      mem.addData((99L, 10000L)); q.processAllAvailable()
      mem.addData((99L, 20000L)); q.processAllAvailable()
      val got = spark.table("sess_late").where($"user_id" === 1)
        .collect().map(r => (r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3))).toSet
      assert(got == Set((1000L, 1100L, 3L)), s"got $got")
    } finally q.stop()
  }

  test("streaming sessionize: backward-late event beyond the gap SPLIT-EMITS its own session") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ev = mem.toDF().toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = Streaming.sessionizeStream(ev, "user_id", "ts",
      maxGapSeconds = 300L, watermark = "2000 seconds")
    val q = out.writeStream.format("memory").queryName("sess_split")
      .outputMode("append").start()
    try {
      mem.addData((1L, 5000L), (1L, 5100L)); q.processAllAvailable()
      // 4000 is above the watermark (5100 - 2000) but precedes the open
      // session's START by more than the gap: the batch operator would
      // make it a separate earlier session — the stream must too, not
      // absorb it by extending the session start backwards
      mem.addData((1L, 4000L)); q.processAllAvailable()
      mem.addData((99L, 10000L)); q.processAllAvailable()
      mem.addData((99L, 20000L)); q.processAllAvailable()
      val got = spark.table("sess_split").where($"user_id" === 1)
        .collect().map(r => (r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3))).toSet
      val expect = graft.ops.Sequences.sessionize(
          Seq((1L, 5000L), (1L, 5100L), (1L, 4000L)).toDF("user_id", "sec")
            .withColumn("ts", timestamp_seconds($"sec")),
          "user_id", "ts", 300L, "sec")
        .groupBy($"session_id")
        .agg(min($"sec").as("s0"), max($"sec").as("s1"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(expect == Set((4000L, 4000L, 1L), (5000L, 5100L, 2L)))
      assert(got == expect, s"got $got expect $expect")
    } finally q.stop()
  }

  test("ST2: streaming sliding window + completeness == batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val sdf = mem.toDF().toDF("user_id", "ts")
    val q = Streaming.slidingComplete(sdf.withWatermark("ts", "0 seconds"),
        "user_id", "ts", "3 hours", "1 hour", 2L)
      .writeStream.format("memory").queryName("st2_out").outputMode("complete").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      mem.addData((1L, t("2024-01-01 10:10:00")), (1L, t("2024-01-01 11:20:00")),
        (2L, t("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val streamed = spark.table("st2_out").orderBy("user_id", "wstart")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
      val batch = Streaming.slidingComplete(
        Seq((1L, t("2024-01-01 10:10:00")), (1L, t("2024-01-01 11:20:00")),
          (2L, t("2024-01-01 10:30:00"))).toDF("user_id", "ts"),
        "user_id", "ts", "3 hours", "1 hour", 2L)
        .orderBy("user_id", "wstart")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
      assert(streamed == batch)
      // user 1's two events co-occur in windows starting 09:00, 10:00, 11:00
      assert(batch.map(_._2).contains("2024-01-01 09:00:00.0"))
      assert(!batch.exists(_._1 == 2L)) // user 2 never reaches completeness 2
    } finally q.stop()
  }

  test("ST4: watermarked stream-stream interval join == batch twin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val viewRows = Seq(
      (1L, 101L, t("2024-01-01 10:00:00")),
      (1L, 102L, t("2024-01-01 11:00:00")),
      (2L, 201L, t("2024-01-01 10:05:00")))
    val clickRows = Seq(
      (1L, 901L, t("2024-01-01 10:10:00")), // pairs with 101 (10 min lag)
      (1L, 902L, t("2024-01-01 11:25:00")), // pairs with 102 only (101 is > 30 min back)
      (2L, 903L, t("2024-01-01 11:00:00")), // 55 min after 201 -> no pair
      (3L, 904L, t("2024-01-01 10:00:00"))) // no view side at all
    val vMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def joined(v: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Streaming.intervalJoin(
        v.toDF("user_id", "view_id", "view_ts"),
        c.toDF("_cuid", "click_id", "click_ts"),
        "user_id", "_cuid", "view_ts", "click_ts", 1800L)
        .select($"user_id", $"view_id", $"click_id")
    val q = joined(
        vMem.toDF().toDF("user_id", "view_id", "view_ts").withWatermark("view_ts", "1 hour"),
        cMem.toDF().toDF("_cuid", "click_id", "click_ts").withWatermark("click_ts", "1 hour"))
      .writeStream.format("memory").queryName("st4_out").outputMode("append").start()
    try {
      // sides arrive in different micro-batches: the join buffers the
      // unmatched views in state until the matching clicks show up
      vMem.addData(viewRows: _*)
      q.processAllAvailable()
      cMem.addData(clickRows.take(2): _*)
      q.processAllAvailable()
      cMem.addData(clickRows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("st4_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = joined(viewRows.toDF(), clickRows.toDF())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch == Set((1L, 101L, 901L), (1L, 102L, 902L)))
    } finally q.stop()
  }
}
