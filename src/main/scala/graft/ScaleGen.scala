package graft

import org.apache.spark.sql.functions._

/** Scale-slope corpus generator: materializes an N× `documents` +
  * `embeddings` pair from a base SF dir, preserving LINEAR content
  * scaling — the property a real N×-larger corpus has:
  *
  *  - documents: copy c prepends a copy-salt token `c<c>` to the text
  *    (and offsets doc_id), so the within-copy planted near-duplicate
  *    structure survives (one extra token barely moves shingle
  *    Jaccard) while cross-copy pairs of the SAME doc stay duplicates
  *    only of themselves — the dedup pair count scales ~N, not N².
  *  - embeddings: copy c multiplies each component by a deterministic
  *    pseudo-random ±1 mask keyed on (c, component). Sign-flip masks
  *    preserve norms exactly and make cross-copy cosines ≈ 0, so ANN
  *    bucket occupancy and near-dup counts scale ~N, not N².
  *  - events: copy c offsets user_id and event_id — the KEY SPACE
  *    scales N× while every user's own event-time sequence (window
  *    structure, gaps, per-key moments) is preserved verbatim, which
  *    is how a real N×-larger event lake grows (more users, not
  *    longer histories).
  *
  * Usage: sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /root/repo/scaledata/x10 10 [tables] [idOffset] [mode]"
  * `tables` (optional, comma list ⊆ documents,embeddings,events;
  * default documents,embeddings) limits which tables are (re)written.
  * `idOffset` (optional, default 10000000) is the per-copy id stride —
  * CHAINING decades (x1000 = ScaleGen over the x100 output with n=10)
  * needs a stride above the input's max id (e.g. 1000000000), or the
  * copies' id ranges collide. Dev/ops tool — not on any query path.
  *
  * `mode` (optional, documents only): `copy` (default) is the salt
  * scheme above; `crawl` models SITE growth instead of corpus
  * copies — every content token gets a per-copy rename suffix while
  * the 10 stopwords (incl. the ' the ' line separator) survive
  * verbatim. Token renaming is a bijection per copy, so WITHIN-copy
  * structure (shingle Jaccard between planted near-dups, duplicated-
  * line profiles, stopword ratios — hence quality labels) is
  * preserved exactly, while CROSS-copy shingles/lines share nothing:
  * duplicated-line density and near-dup cluster sizes stay CONSTANT
  * as the corpus grows N×, which is how a crawl actually scales (new
  * sites bring their own boilerplate; they don't replicate existing
  * documents). Use for scale runs of the line-dedup / learned-gate
  * family, where copy-salting makes every fragment corpus-wide
  * boilerplate and the measurement collapses to the gutted path.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (baseDir, outDir, nStr) = (args(0), args(1), args(2))
    val n = nStr.toInt
    val tables: Set[String] =
      if (args.length > 3 && args(3).nonEmpty) args(3).split(",").map(_.trim).toSet
      else Set("documents", "embeddings")
    val offArg: Option[Long] = if (args.length > 4) Some(args(4).toLong) else None
    val spark = GraftSession.create()
    val off = offArg.getOrElse(10000000L)
    val mode = if (args.length > 5 && args(5).nonEmpty) args(5) else "copy"
    require(mode == "copy" || mode == "crawl", s"mode must be copy|crawl, got $mode")
    // the stopword list the quality features count — kept verbatim in
    // crawl mode so per-copy stopword ratios (and the labels they
    // feed) match the base corpus exactly
    val stop = Seq("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")
    if (tables("documents")) {
      val docs = sources.Tables.load(spark, baseDir, "documents")
      val docsN = (0 until n).map { c =>
        val txt =
          if (c == 0) col("text")
          else if (mode == "crawl")
            // bijective per-copy token rename: every word except the
            // stopwords gains the copy suffix
            regexp_replace(col("text"),
              lit(s"\\b(?!(?:${stop.mkString("|")})\\b)([a-z0-9]+)\\b"), lit(s"$$1q$c"))
          else concat(lit(s"c$c "), col("text"))
        docs.select((col("doc_id") + lit(c * off)).as("doc_id"), txt.as("text"),
          col("lang"), col("source"), length(txt).cast("long").as("n_chars"))
      }.reduce(_ unionAll _)
      docsN.repartition(8).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }
    if (tables("embeddings")) {
      val emb = sources.Tables.load(spark, baseDir, "embeddings")
      val embN = (0 until n).map { c =>
        val vec = if (c == 0) col("embedding")
          else transform(col("embedding"),
            (x, i) => x * (pmod(hash(i, lit(c)), lit(2)) * lit(2) - lit(1)).cast("float"))
        emb.select((col("vec_id") + lit(c * off)).as("vec_id"), vec.as("embedding"), col("label"))
      }.reduce(_ unionAll _)
      embN.repartition(8).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
    if (tables("events")) {
      val ev = sources.Tables.load(spark, baseDir, "events")
      val evN = (0 until n).map { c =>
        ev.select((col("event_id") + lit(c * off)).as("event_id"), col("ts"),
          (col("user_id") + lit(c * off)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionAll _)
      evN.repartition(8).write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
    println(s"[scalegen] wrote ${n}x ${tables.mkString(",")} to $outDir")
    spark.stop()
  }
}
