package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables

/** Figures that compare a lake with the generated one: the value
  * distributions of the tables the registry reads, and per query the
  * result rows and the warm time (median of three runs). The queries are
  * the registry's set plus `d_lsh_pairs` (LSH candidate edges) and
  * `e_semdedup_recall_curve` (SemDeDup drop counts), whose sf0.1 values
  * the repository's SCALE.md and COVERAGE.md record.
  *
  *     python3 perfbench/run.py --lake-stats DIR
  */
object LakeStats {
  val Extra = Seq("d_lsh_pairs", "e_semdedup_recall_curve")

  def run(spark: SparkSession, dir: String): Unit = {
    def t(name: String) = Tables.load(spark, dir, name)
    val words = size(split(col("text"), " "))
    val d = t("documents").agg(count(lit(1)), countDistinct(col("text")), min(words),
      percentile_approx(words, lit(0.5), lit(10000)), max(words), avg(col("n_chars")),
      sum(when(col("text").endsWith(" dup"), 1).otherwise(0)),
      avg(when(col("lang") === "en", 1.0).otherwise(0.0))).collect()(0)
    println(s"documents rows=${d.get(0)} distinct_text=${d.get(1)} words min/p50/max=" +
      s"${d.get(2)}/${d.get(3)}/${d.get(4)} mean_chars=${d.get(5)} dup_suffix=${d.get(6)} " +
      s"en_share=${d.get(7)}")
    val dupPairs = t("documents").as("a").join(t("documents").as("b"),
      col("a.text") === concat(col("b.text"), lit(" dup"))).count()
    println(s"documents near-dup pairs (text = other text + ' dup') = $dupPairs")
    val vs = t("embeddings").select(col("embedding")).collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }
      s
    }
    val maxCos = vs.indices.map(i => vs.indices.iterator.filter(_ != i).map(j => dot(vs(i), vs(j))).max)
    println(f"embeddings rows=${vs.length} nearest-neighbour cosine p5/p50/p95=" +
      f"${Stats.quantile(maxCos, 0.05)}%.3f/${Stats.quantile(maxCos, 0.5)}%.3f/" +
      f"${Stats.quantile(maxCos, 0.95)}%.3f")
    val e = t("events").agg(count(lit(1)), avg(col("value")),
      percentile_approx(col("value"), lit(0.5), lit(10000)), max(col("value")),
      countDistinct(col("user_id"))).collect()(0)
    println(s"events rows=${e.get(0)} value mean/p50/max=${e.get(1)}/${e.get(2)}/${e.get(3)} " +
      s"users=${e.get(4)}")
    for (q <- Registry.Subset ++ Extra) {
      val fn = SparkEntry.queries(q)
      var rows = 0L
      val times = (1 to 4).map { _ =>
        val (n, s) = Stats.timed(fn(spark, dir).count())
        Session.release(spark)
        rows = n
        s
      }
      println(f"query $q%-26s rows=$rows%8d warm_s=${Stats.median(times.tail)}%.3f")
    }
    SparkEntry.queries("e_semdedup_recall_curve")(spark, dir).orderBy(col("radius"))
      .collect().foreach(r => println(s"  e_semdedup_recall_curve $r"))
    Session.release(spark)
  }
}
