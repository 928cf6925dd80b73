package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Args: sfDir outDir. [[Runner.only]] restricts the dump (and the
  * oracle json) to named queries. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    val selected = Runner.selected
    for (q <- selected)
      Runner.time(spark, q.fn(spark, sfDir),
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}"))
        .left.foreach(e => System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}"))
    // JSON through Jackson: a tab or CR in builder-authored SQL must
    // never make the driver's json.load fail and silently zero the
    // round's correctness
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      ListMap(selected.flatMap(q => q.oracle.map(q.name -> _)): _*))
    // the scale-class map (SparkEntry.scaleClasses — default `linear`,
    // fixture walls marked) rides beside the oracle dump so the
    // grading artifacts say which forms ship at scale; always the
    // FULL registry (metadata, not a per-query result)
    json.writeValue(new java.io.File(s"$outDir/scale_class.json"),
      ListMap(SparkEntry.scaleClasses.toSeq.sorted: _*))
    spark.stop()
  }
}
