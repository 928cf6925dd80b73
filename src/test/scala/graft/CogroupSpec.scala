package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Typed KeyValueGroupedDataset.cogroup: both sides of a key meet in
  * one function call without building the join product — the typed
  * escape hatch for per-key merge logic the Column algebra can't
  * express. Must agree with the join+agg formulation. */
class CogroupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cogroup merge == join+agg on the same per-key stats") {
    val events = sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"value").as[(Long, Double)]
    val flags = sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .where($"event_type" === "view").select($"user_id", $"event_id").as[(Long, Long)]
    val merged = events.groupByKey(_._1).cogroup(flags.groupByKey(_._1)) {
      (k, evs, fls) =>
        val n = evs.size
        val nv = fls.size
        if (n == 0) Iterator.empty else Iterator.single((k, n.toLong, nv.toLong))
    }.toDF("user_id", "n_events", "n_views")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val viaJoin = sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when($"event_type" === "view", 1)).as("n_views"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(merged == viaJoin)
  }
}
