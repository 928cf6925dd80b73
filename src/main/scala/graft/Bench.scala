package graft

import scala.collection.mutable.LinkedHashMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Benchmark main: runs every registered query ([[Runner.selected]]) at
  * [[Runner.sfDir]] and prints ONE JSON line. Each query is fully
  * materialized through the `noop` sink ([[Runner.noop]]). Failed
  * queries are reported with value -1 and an entry in `errors`, never
  * as a (fast) success.
  */
object Bench {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` to three decimals, printed as a plain JSON number: the short
    * form of the budgeted stdout line. */
  private def r3(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP)

  /** The entries whose `"k":v` text fits in `budget` chars, in order;
    * an entry that does not fit is skipped and later, shorter ones may
    * still fit. */
  private def fit[V](entries: Seq[(String, V)], budget: Int): LinkedHashMap[String, V] = {
    val kept = LinkedHashMap[String, V]()
    var used = 0
    for ((k, v) <- entries) {
      val len = json.writeValueAsString(k).length + json.writeValueAsString(v).length + 2
      if (used + len <= budget) { kept(k) = v; used += len }
    }
    kept
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Runner.sfDir
    val spark = GraftSession.create()
    val selected = Runner.selected
    // stamped into both JSON artifacts so a reader of BENCH_r{N} knows
    // which timing contract produced "value" (see note below)
    val methodology =
      if (Runner.warmup(spark, sfDir, selected)) "precompiled" else "fully_cold"
    // UNIFORM STORE-BUILD ACCOUNTING (r20, the r19 verdict's item 6):
    // persisted stores under java.io.tmpdir survive across JVM runs
    // (buildIfAbsent markers), so a "cold" timed repeat could silently
    // measure a store warmed by a PREVIOUS bench/verify invocation.
    // Purge every store dir keyed to THIS dataset first; the recorded
    // pre-step below then pays each `build` query's first invocation
    // (store build + one serve pass) into build_costs, so every timed
    // repeat is provably serving-only. The purge assumes a single
    // writer per dataset: a concurrent Verify on the SAME dataset can
    // lose a store mid-build (the failure is logged, not fatal). Set
    // SPARK_GRAFT_KEEPSTORES=1 to skip the purge (dev loop).
    if (!sys.env.contains("SPARK_GRAFT_KEEPSTORES")) {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      val key = graft.queries.storeKey(sfDir)
      for (f <- Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
           if f.isDirectory && f.getName.startsWith("graft-") && f.getName.endsWith(key))
        try org.apache.commons.io.FileUtils.deleteDirectory(f)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] store purge failed for ${f.getName}: ${e.getMessage}")
        }
    }
    // the recorded store-build pass: one full first invocation per
    // `build` query — build + one serve — OUTSIDE the timers but
    // RECORDED in build_costs; the timed repeats below then measure
    // steady-state serving against an existing store, which is the
    // production shape these queries exist to demonstrate, with the
    // one-time cost a separate artifact field instead of noise inside
    // the first repeat
    val buildCosts = LinkedHashMap[String, Double]()
    for (q <- selected if q.build)
      Runner.time(spark, q.fn(spark, sfDir)) match {
        case Right(t) => buildCosts(q.name) = t
        // the timed run will surface the real failure if there is one
        case Left(e) =>
          System.err.println(s"[bench] store pre-step failed for ${q.name}: ${e.getMessage}")
      }
    // SPARK_GRAFT_REPEAT=n runs each query n times. REPORTING CONTRACT:
    // "value"/"queries" are the first-run-at-benchmark-SF times —
    // after the untimed plan-precompile pass (Runner.warmup), so they
    // measure data-proportional work (as DuckDB's single-shot runs do;
    // its planner cost is milliseconds, while Spark's one-time Janino
    // compile was ~40% of round-6's total and is a per-plan-shape
    // constant, not a per-byte cost). (Semantic note for cross-round
    // comparison: round-4 and earlier artifacts reported the per-query
    // MIN as "value"; round 5 switched the headline to cold — r4's
    // "value" is comparable to r5+'s "warm_total", not to "value".)
    // The per-query MINIMUM over the n repeats is reported separately
    // as "warm_total"/"warm_queries": the JVM charges one-time Janino
    // codegen compilation + C2 JIT (~0.3-1s per unique plan) to the
    // first execution, so the min isolates steady-state throughput
    // (standard JVM-benchmarking practice) without redefining the
    // headline number. Per-query spread (all repeat times) goes to
    // bench_full.json, and queries whose repeats disagree badly are
    // called out in stdout "noisy" — so environmental noise is
    // distinguishable from real regression. Default 5: the five-run
    // protocol SCALE.md uses for regression adjudication is the
    // artifact itself — warm_queries IS the per-query min-of-5,
    // emitted next to the cold first-run series, so cross-round
    // comparisons read one file instead of re-running the drift
    // investigation (rounds 9 and 10 both paid that cost).
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "5").toInt
    val errors = LinkedHashMap[String, String]()
    val results = selected.map { q =>
      val times = (1 to repeat).map { _ =>
        Runner.time(spark, q.fn(spark, sfDir)).fold({ e =>
          errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          -1.0
        }, identity)
      }
      q.name -> (if (times.contains(-1.0)) (-1.0, -1.0, times) else (times.head, times.min, times))
    }
    val total = results.collect { case (_, (v, _, _)) if v >= 0 => v }.sum
    val warmTotal = results.collect { case (_, (_, w, _)) if w >= 0 => w }.sum
    // DRIFT-CONTROL MERGE (r19): tools/drift.py persists its DuckDB
    // control measurement to drift_control.json; folding it in HERE
    // makes the adjudication fields clobber-proof — every bench run
    // re-emits control_total/control_queries verbatim and recomputes
    // ratio_queries/family_ratio against its own fresh warm times
    // (a stale ratio vs a new run would adjudicate nothing).
    val control: Seq[(String, Any)] = {
      val f = new java.io.File("drift_control.json")
      if (!f.isFile) Nil else try {
        val node = json.readTree(f)
        val cq = LinkedHashMap[String, Double]()
        Option(node.get("control_queries")).foreach(_.fields().forEachRemaining { e =>
          cq(e.getKey) = e.getValue.asDouble()
        })
        val warmByName = results.collect { case (n, (_, w, _)) if w >= 0 => n -> w }.toMap
        val ratios = cq.toSeq.collect {
          case (n, c) if c > 0 && warmByName.contains(n) =>
            n -> math.round(warmByName(n) / c * 1000) / 1000.0
        }
        val fams = ratios.groupBy { case (n, _) =>
          n.split("_", 2)(0).filter(_.isLetter) match {
            case "" => n.split("_", 2)(0); case s => s }
        }
        def median(xs: Seq[Double]): Double = {
          val s = xs.sorted
          val m = if (s.size % 2 == 1) s(s.size / 2)
            else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
          math.round(m * 1000) / 1000.0
        }
        def str(k: String) = Option(node.get(k)).map(_.asText()).getOrElse("")
        Seq(
          "control_total" -> Option(node.get("control_total")).map(_.asDouble()).getOrElse(0.0),
          "control_queries" -> cq,
          "ratio_queries" -> LinkedHashMap(ratios: _*),
          "family_ratio" -> LinkedHashMap(fams.toSeq.sortBy(_._1).map { case (fm, rs) =>
            fm -> median(rs.map(_._2).toSeq) }: _*),
          "control_engine" -> str("control_engine"),
          "control_version" -> str("control_version"),
          "control_threads" -> Option(node.get("control_threads")).map(_.asInt()).getOrElse(0),
          "control_sf" -> str("control_sf"))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] drift_control.json merge failed: ${e.getMessage}")
        Nil
      }
    }
    // Full per-query detail (full precision) goes to a file; the ONE
    // stdout JSON line must survive the driver's 2000-char output-tail
    // capture (below).
    val full = LinkedHashMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "methodology" -> methodology, "repeat" -> repeat,
      "queries" -> LinkedHashMap(results.map { case (k, (v, _, _)) => k -> v }: _*),
      "warm_total" -> warmTotal,
      "warm_queries" -> LinkedHashMap(results.map { case (k, (_, w, _)) => k -> w }: _*),
      "all_times" -> LinkedHashMap(results.map { case (k, (_, _, ts)) => k -> ts }: _*),
      "build_costs" -> buildCosts, "failed" -> errors.size, "errors" -> errors,
      "sf" -> sfDir) ++ control
    try json.writeValue(new java.io.File("bench_full.json"), full)
    catch { case e: Throwable =>
      // stderr doesn't pollute the stdout JSON contract
      System.err.println(s"[bench] bench_full.json write failed: ${e.getMessage}")
    }
    // errors share the stdout budget and are themselves capped (each
    // entry is up to ~200 chars; 8+ failures would otherwise blow the
    // tail capture exactly when the diagnostics matter most)
    val errKept = fit(errors.toSeq, 600)
    // repeat-disagreement callouts: a query whose repeats span more
    // than 50% of its min AND 0.3s absolute is environmental noise or
    // a warmup artifact, not plan cost — reported as [min,max] so a
    // reader can tell a noisy measurement from a real regression
    val noisy = fit(results.collect {
      case (k, (v, _, ts)) if v >= 0 && ts.size > 1 &&
        (ts.max - ts.min) > math.max(0.3, 0.5 * ts.min) =>
        k -> Seq(r3(ts.min), r3(ts.max))
    }, 300)
    // the stdout queries dict lists slowest-first and stops at a
    // character budget ("queries_elided" counts the fast ones cut;
    // bench_full.json always has all of them)
    val kept = fit(results.sortBy(-_._2._1).map { case (k, (v, _, _)) => k -> r3(v) },
      1600 - json.writeValueAsString(errKept).length - json.writeValueAsString(noisy).length)
    println(json.writeValueAsString(LinkedHashMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "methodology" -> methodology, "repeat" -> repeat,
      "queries" -> kept, "queries_elided" -> (results.size - kept.size),
      "warm_total" -> r3(warmTotal),
      "build_costs" -> buildCosts.map { case (k, v) => k -> r3(v) },
      "noisy" -> noisy, "failed" -> errors.size, "errors" -> errKept,
      "errors_elided" -> (errors.size - errKept.size), "sf" -> sfDir)))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
