package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ANN serving: [[graft.ops.AnnIndex.searchStream]] — a
  * stream of query vectors scored against the PERSISTED index — must
  * return bit-identical (vec_id, ad2) top-k to the batch
  * [[graft.ops.AnnIndex.search]] over the same index, emitted in
  * append mode when the watermark closes each query's window. */
class AnnStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("searchStream: per-query streaming top-10 == batch search over the same index") {
    val emb = sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-streamtest"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    graft.ops.AnnIndex.build(emb.where(col("vec_id") =!= 0), dir)

    val qIds = Seq(0L, 37L)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (query vec_id, event-time sec)
    // attach each query's vector by a stream-static equi join — the
    // shape a real query feed has (ids in the stream, payload looked
    // up against reference data)
    val queries = mem.toDF().toDF("query_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      .join(emb.withColumnRenamed("vec_id", "query_id"), "query_id")
      .withColumnRenamed("ve", "qv")
    val out = graft.ops.AnnIndex.searchStream(spark, queries, dir, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("ann_stream_out")
      .outputMode("append").start()
    try {
      mem.addData((0L, 5L), (37L, 6L)) // both land in window [0, 10)
      q.processAllAvailable()
      mem.addData((1L, 100L)) // advances the watermark; closes the window
      q.processAllAvailable()
      val got = spark.table("ann_stream_out")
        .where(col("wstart") === timestamp_seconds(lit(0)))
        .orderBy("query_id", "rk")
        .select("query_id", "vec_id", "ad2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val want = qIds.flatMap { qid =>
        graft.ops.AnnIndex.search(spark, dir,
          emb.where(col("vec_id") === qid).select(col("ve").as("qv")), nprobe = 2)
          .collect().map(r => (qid, r.getLong(0), r.getAs[Double]("ad2"))).toSeq
      }
      assert(got == want, s"\n got=$got\nwant=$want")
      assert(got.count(_._1 == 0L) == 10 && got.count(_._1 == 37L) == 10)
    } finally q.stop()
  }
}
