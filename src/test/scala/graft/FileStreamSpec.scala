package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

/** Streaming over a REAL file source — the production arrival path
  * (reference match: weather4cast/datasets.py:15-47 files land in a
  * directory and are consumed in arrival order) — where the
  * MemoryStream twins in FoldStreamSpec only prove operator
  * semantics. What only a file source exercises:
  *
  *  - discovery + arrival order: a temp dir drip-fed one parquet file
  *    per micro-batch (`maxFilesPerTrigger=1`, files moved in
  *    atomically), watermarks advancing across REAL batch boundaries;
  *  - checkpoint + restart: the query is STOPPED mid-stream and a new
  *    query resumes from the same checkpoint — consumed-file offsets
  *    must not replay, and dedup/session STATE must survive the
  *    restart (a cross-restart duplicate is only droppable from
  *    recovered state);
  *  - sink fault-tolerance: foreachBatch collectors (the memory sink
  *    refuses checkpoint recovery in append mode).
  *
  * Every arm asserts parity with its batch twin over the union of all
  * dripped rows — same contract as the MemoryStream tests.
  */
class FileStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("sec", LongType)))

  /** Write rows as ONE parquet file dropped atomically into `watch`
    * under a monotonically-named file (arrival order = name order =
    * mtime order). */
  private def drip(watch: Path, n: Int, rows: Seq[(Long, Long)]): Unit = {
    val stage = Files.createTempDirectory("graft-stage")
    rows.toDF("id", "sec").coalesce(1).write.mode("overwrite")
      .parquet(stage.resolve("out").toString)
    val part = Files.list(stage.resolve("out")).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    Files.move(part, watch.resolve(f"drop-$n%03d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def fileStream(watch: Path): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file = one micro-batch
      .parquet(watch.toString)
      .withColumn("ts", timestamp_seconds($"sec"))

  test("slidingComplete over a file source: drip-fed files match the batch twin") {
    val watch = Files.createTempDirectory("graft-watch-sc")
    val cp = Files.createTempDirectory("graft-cp-sc")
    def t(s: String) = java.sql.Timestamp.valueOf(s).getTime / 1000L
    val batch1 = Seq((1L, t("2024-01-01 10:10:00")), (1L, t("2024-01-01 11:20:00")))
    val batch2 = Seq((2L, t("2024-01-01 10:30:00")), (1L, t("2024-01-01 11:40:00")))
    drip(watch, 1, batch1)
    val out = Streaming.slidingComplete(
      fileStream(watch).withColumnRenamed("id", "user_id").withWatermark("ts", "0 seconds"),
      "user_id", "ts", "3 hours", "1 hour", 2L)
    val q = out.writeStream.format("memory").queryName("fs_sc")
      .option("checkpointLocation", cp.toString).outputMode("complete").start()
    try {
      q.processAllAvailable()
      drip(watch, 2, batch2)
      q.processAllAvailable()
      val streamed = spark.table("fs_sc").orderBy("user_id", "wstart")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
      val expect = Streaming.slidingComplete(
        (batch1 ++ batch2).toDF("user_id", "sec")
          .withColumn("ts", timestamp_seconds($"sec")),
        "user_id", "ts", "3 hours", "1 hour", 2L)
        .orderBy("user_id", "wstart")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
      assert(streamed == expect, s"streamed $streamed expect $expect")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("sessionizeStream over a file source: open session closes correctly after restart") {
    val watch = Files.createTempDirectory("graft-watch-ss")
    val cp = Files.createTempDirectory("graft-cp-ss")
    val got = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]
    def start() = {
      val ev = fileStream(watch).withColumnRenamed("id", "user_id")
      Streaming.sessionizeStream(ev, "user_id", "ts",
          maxGapSeconds = 300L, watermark = "0 seconds")
        .writeStream.option("checkpointLocation", cp.toString)
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
          val rows = b.collect().map(r =>
            (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3)))
          got.synchronized { got ++= rows }
          ()
        }.start()
    }
    // phase 1: user 10's session stays OPEN in state when q1 stops
    drip(watch, 1, Seq((10L, 1000L), (10L, 1100L), (20L, 1050L)))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // phase 2: resumed query — 2000 is > gap after 1100, so the
    // RECOVERED session (1000,1100) must close and a new one open;
    // two sentinel files advance the watermark then sweep timeouts
    drip(watch, 2, Seq((10L, 2000L)))
    drip(watch, 3, Seq((99L, 10000L)))
    drip(watch, 4, Seq((99L, 20000L)))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val sessions = got.synchronized(got.filter(_._1 < 99).toSet)
    // batch twin over all dripped events
    val batch = Seq((10L, 1000L), (10L, 1100L), (20L, 1050L), (10L, 2000L))
      .toDF("user_id", "sec").withColumn("ts", timestamp_seconds($"sec"))
    val expect = graft.ops.Sequences.sessionize(batch, "user_id", "ts", 300L, "sec")
      .groupBy($"user_id", $"session_id")
      .agg(min($"sec").as("s0"), max($"sec").as("s1"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(sessions == expect,
      s"file-source sessions $sessions != batch twin $expect — " +
        "an open session did not survive the checkpoint restart")
  }
}
