package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Sequences

/** Valid-start / gap / assembly semantics on hand-checkable planted
  * series (FIXTURES.md §B: deliberate gaps), incl. the property
  * "gap-free ⇒ every interior start is valid". */
class SequencesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // key "a": dense buckets 0..9; key "b": gap at 5 (0..4, 6..9)
  private lazy val buckets =
    ((0L to 9L).map(("a", _)) ++ (0L to 9L).filter(_ != 5L).map(("b", _)))
      .toDF("k", "bkt")

  test("gap-free series: all interior starts valid, tail excluded") {
    val starts = Sequences.validStarts(buckets.where($"k" === "a"), "k", "bkt", 4)
      .collect().map(_.getLong(1)).sorted
    assert(starts.toSeq == (0L to 6L)) // 10 buckets, L=4 -> starts 0..6
  }

  test("a gap invalidates exactly the starts whose window crosses it") {
    val starts = Sequences.validStarts(buckets.where($"k" === "b"), "k", "bkt", 4)
      .collect().map(_.getLong(1)).sorted
    // gap at 5 kills windows [2,5]..[5,8]; [0,3],[1,4] and [6,9] survive
    assert(starts.toSeq == Seq(0L, 1L, 6L))
  }

  test("duplicate buckets don't double-count (distinct inside)") {
    val dup = buckets.where($"k" === "a").union(buckets.where($"k" === "a"))
    val starts = Sequences.validStarts(dup, "k", "bkt", 4).collect()
    assert(starts.length == 7)
  }

  test("a sequence length below 1 is refused") {
    val e1 = intercept[IllegalArgumentException](Sequences.validStarts(buckets, "k", "bkt", 0))
    assert(e1.getMessage.contains("seqLen"))
    intercept[IllegalArgumentException](Sequences.assemble(buckets, buckets, "k", "bkt", 0))
  }

  test("null buckets never start or continue a sequence; L=1 keeps every bucket") {
    val withNull = Seq(("c", Some(0L)), ("c", None), ("c", Some(1L)), ("c", Some(3L)))
      .toDF("k", "bkt")
    assert(Sequences.validStarts(withNull, "k", "bkt", 2).collect().map(_.getLong(1)).toSeq == Seq(0L))
    assert(Sequences.validStarts(withNull, "k", "bkt", 1).collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(0L, 1L, 3L))
  }

  test("assemble gathers exactly L rows per start") {
    val frames = buckets.withColumn("v", $"bkt" * 10)
    val starts = Sequences.validStarts(buckets, "k", "bkt", 3)
    val asm = Sequences.assemble(starts, frames, "k", "bkt", 3)
      .groupBy("k", "t0").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    assert(asm.where($"n" =!= 3).count() == 0)
    // spot check: ("a", t0=2) gathers buckets 2,3,4 -> v sum 90
    val row = asm.where($"k" === "a" && $"t0" === 2).collect()(0)
    assert(row.getAs[Long]("sv") == 90L)
  }

  test("gaps() emits each adjacent pair exceeding the threshold") {
    val ev = Seq(
      ("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:10:00"),
      ("u", "2024-01-01 02:00:00"), // 110-min gap
      ("u", "2024-01-01 02:05:00")).toDF("k", "s")
      .select($"k", to_timestamp($"s").as("ts"))
    val g = Sequences.gaps(ev, "k", "ts", 3600L).collect()
    assert(g.length == 1)
    assert(g(0).getTimestamp(1).toString.startsWith("2024-01-01 00:10:00"))
  }

  test("priorityDedup keeps the single best-priority row per group") {
    val df = Seq(("g1", "MSG2", 1L), ("g1", "MSG4", 2L), ("g2", "MSG2", 3L))
      .toDF("g", "sat", "id")
    val pri = when($"sat" === "MSG4", 0).otherwise(1)
    val kept = Sequences.priorityDedup(df, Seq("g"), pri, $"id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("g1", "MSG4"), ("g2", "MSG2")))
  }

  test("tsBucket buckets at the requested cadence") {
    val ev = Seq("2024-01-01 00:59:59", "2024-01-01 01:00:00")
      .toDF("s").select(to_timestamp($"s").as("ts"))
    val b = ev.select(Sequences.tsBucket($"ts", 3600L).as("b")).collect().map(_.getLong(0))
    assert(b(1) == b(0) + 1)
  }

  test("lateFlagged: per-key running watermark flags exactly the below-horizon arrivals") {
    // arrival order a1..a5; event times (seconds) chosen so that:
    //  a1 t=1000 -> watermark starts (never late)
    //  a2 t=5000 -> wm was 1000-100 (ok), advances max to 5000
    //  a3 t=4950 -> wm 4900, 4950 >= 4900 -> within horizon, kept
    //  a4 t=4800 -> wm 4900, late
    //  a5 t=900  -> far below -> late
    val ev = Seq((1L, 1000L, "a1"), (1L, 5000L, "a2"), (1L, 4950L, "a3"),
        (1L, 4800L, "a4"), (1L, 900L, "a5"),
        (2L, 100L, "b1")) // other key: own watermark, never late
      .toDF("k", "sec", "arr")
      .select($"k", to_timestamp(from_unixtime($"sec")).as("ts"), $"arr")
    val got = Sequences.lateFlagged(ev, "k", "ts", $"arr", 100L)
      .collect().map(r => r.getAs[String]("arr") -> r.getAs[Boolean]("is_late")).toMap
    assert(got == Map("a1" -> false, "a2" -> false, "a3" -> false,
      "a4" -> true, "a5" -> true, "b1" -> false), got)
  }

  test("interpFill: gaps lerp between neighbors, edges stay strict, present rows pass") {
    val ser = Seq(
      ("a", 0L, 1.0), ("a", 3L, 4.0), ("a", 4L, 10.0),  // gap 1,2 -> 2.0, 3.0
      ("b", 7L, 5.0)                                     // single point: no grid, no fills
    ).toDF("k", "bkt", "v")
    val out = Sequences.interpFill(ser, "k", "bkt", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(("a", 1L)) == ((2.0, true)) && out(("a", 2L)) == ((3.0, true)),
      s"lerp wrong: $out")
    assert(out(("a", 0L)) == ((1.0, false)) && out(("a", 4L)) == ((10.0, false)))
    assert(out(("b", 7L)) == ((5.0, false)) && out.size == 6, s"rows: $out")
  }
}
