package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LINE-frequency store — the serving shape of CCNet-style
  * boilerplate removal ([[Dedup.lineDedup]] is the one-shot corpus
  * form): a 100 TB lake's duplicated-line profile is computed once,
  * and each arriving crawl batch is scrubbed against the STORE plus
  * its own lines — corpus text never re-read, store never shuffled
  * (the [[DedupIndex]] broadcast-the-delta doctrine).
  *
  * Store layout: `counts` = (line, n_docs) rows. Appends write
  * PER-BATCH partials; readers sum per line at probe time (the
  * sketch-store convention — no read-modify-write), and [[compact]]
  * folds the partials through [[CompactSwap]].
  *
  * DISJOINT-BATCH CONTRACT (recorded): summed per-batch distinct-doc
  * counts equal true distinct-doc counts only when batches carry
  * disjoint doc populations — exactly what crawl batches are. A doc
  * re-ingested across batches would double-count toward the
  * >= minDocs cross-doc test; route re-crawls through the dedup
  * store first ([[DedupIndex.deltaKeep]]), which is the pipeline
  * order anyway (dedup, then boilerplate scrub).
  */
object LineStore {

  val BuildVersion = 2

  /** Per-line DISTINCT-doc counts of `docs` — per-doc line dedup is
    * scan-stage array work (array_distinct before the explode), so
    * the only exchange is ONE map-side-combined count keyed by line. */
  private[graft] def lineCounts(docs: DataFrame, textCol: Column, idCol: Column,
                                sep: String): DataFrame =
    docs.select(idCol.as("doc_id"),
        split(textCol, java.util.regex.Pattern.quote(sep)).as("ls"))
      .select(explode(array_distinct(col("ls"))).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("n_docs"))

  def build(docs: DataFrame, dir: String, textCol: Column, idCol: Column,
            sep: String = "\n"): Unit = {
    // fresh-store verb: purge versioned generations of a prior
    // lifecycle FIRST (the AnnIndex.build convention — purge-last
    // left a crash window where a stale _v<N> outranked the fresh
    // flat build)
    CompactSwap.purgeVersions(docs.sparkSession, dir, "counts")
    lineCounts(docs, textCol, idCol, sep)
      .write.mode("overwrite").parquet(s"$dir/counts")
  }

  /** CURRENT counts path — flat until the first compact, counts_v<N>
    * after ([[CompactSwap]]'s zero-window versioned protocol;
    * [[CompactSwap.currentVersion]]/[[CompactSwap.readVersion]] are
    * the pinning handles). */
  private def countsPath(spark: SparkSession, dir: String): String =
    CompactSwap.currentTablePath(spark, dir, "counts")

  /** [[build]] once per (dir, corpus fingerprint) — the shared marker
    * lifecycle ([[Stores.oncePerFingerprint]]). */
  def buildIfAbsent(spark: SparkSession, docs: DataFrame, dir: String,
                    textCol: Column, idCol: Column, sep: String = "\n",
                    fingerprint: String): Unit =
    Stores.oncePerFingerprint(spark, dir, "linestore", fingerprint, BuildVersion) {
      build(docs, dir, textCol, idCol, sep)
    }

  /** Fold a batch's line profile into the store: ONE batch-sized
    * aggregate appended as new partial rows — the store is never
    * rewritten (see the disjoint-batch contract above). `tag` routes
    * the write ([[CompactSwap.appendTo]]). */
  def append(batch: DataFrame, dir: String, textCol: Column, idCol: Column,
             sep: String = "\n", tag: Option[String] = None): Unit = {
    CompactSwap.requireNotCompacting(batch.sparkSession, dir, "line store", "append")
    CompactSwap.appendTo(lineCounts(batch, textCol, idCol, sep),
      countsPath(batch.sparkSession, dir), tag)
  }

  /** TAKEDOWN — the fifth store verb (build → scrub → append →
    * compact → takedown): remove previously-ingested documents'
    * line contributions, the content-removal path (GDPR/DMCA
    * erasure) a production corpus store needs. Because the store is
    * ADDITIVE with read-time summing, takedown is just an appended
    * NEGATIVE partial: `-lineCounts(docs)` rows land like any batch
    * partial, every probe's per-line sum subtracts them with ZERO
    * probe-path changes, and [[compact]] folds them physically
    * (lines whose total reaches 0 are dropped). Cost: one
    * takedown-sized aggregate — the store is never rewritten.
    *
    * Contract (extends the disjoint-batch contract): each doc in
    * `docs` must have been ingested exactly once (build or append)
    * and not taken down before — a double takedown would drive
    * counts negative and over-release lines other docs still carry.
    * After takedown, a scrub probe behaves as if the docs were never
    * ingested (spec-pinned against a store rebuilt without them). */
  def takedown(docs: DataFrame, dir: String, textCol: Column, idCol: Column,
               sep: String = "\n", tag: Option[String] = None): Unit = {
    CompactSwap.requireNotCompacting(docs.sparkSession, dir, "line store", "takedown")
    CompactSwap.appendTo(lineCounts(docs, textCol, idCol, sep)
        .select(col("line"), (-col("n_docs")).as("n_docs")),
      countsPath(docs.sparkSession, dir), tag)
  }

  /** Build-then-takedown exactly once per corpus fingerprint — the
    * graded erasure flow (the store analog of
    * [[DedupIndex.buildAppendIfAbsent]]): build over `docs`, then
    * remove `removed`'s contributions. The idempotency unit is the
    * whole sequence (a half-applied takedown is not detectable by
    * inspection), so a missing marker restarts from an empty dir.
    * Fold `removed`'s definition into `fingerprint` — the slice
    * shapes the store, so a changed slice must rebuild. */
  def buildTakedownIfAbsent(spark: SparkSession, docs: DataFrame, removed: DataFrame,
                            dir: String, textCol: Column, idCol: Column,
                            sep: String = "\n", fingerprint: String): Unit =
    Stores.oncePerFingerprint(spark, dir, "linestore_td", fingerprint, BuildVersion) {
      build(docs, dir, textCol, idCol, sep)
      takedown(removed, dir, textCol, idCol, sep)
    }

  /** Merge per-batch partials to one row per line — the same
    * [[CompactSwap]] protocol as every other store. [[takedown]]'s
    * negative partials fold here too: a line whose summed count
    * reaches exactly 0 (all contributing docs taken down) is
    * physically dropped — 0 is identity for the `>= minDocs >= 2`
    * scrub threshold. A sum
    * BELOW 0 is a contract violation (a double takedown — easy to
    * produce by retrying after a driver failure on the untagged
    * path) and fails the compact LOUDLY: folding it away would
    * over-release boilerplate lines other live docs still carry and
    * simultaneously erase the only evidence, so the conservative
    * move is to stop and make the operator reconcile (re-append the
    * over-subtracted partials, or rebuild). */
  def compact(spark: SparkSession, dir: String): Unit = {
    CompactSwap.compacting(spark, dir) { _ =>
      CompactSwap.compactVersioned(spark, dir, "counts",
        df => df.groupBy(col("line")).agg(sum(col("n_docs")).as("n_docs"))
          // in-plan assertion, not a pre-scan: assert_true is NULL on
          // success, so the coalesce keeps the filter shape while any
          // negative sum aborts the rewrite BEFORE the swap renames
          .where(coalesce(assert_true(col("n_docs") >= 0,
              concat(lit("LineStore: line count went NEGATIVE during compact " +
                "(double takedown? re-append the over-subtracted partials " +
                "or rebuild) for line: "), col("line"))), lit(true)) &&
            col("n_docs") > 0),
        (df, tmp) => df.write.parquet(tmp))
    }
  }

  /** Scrub a crawl batch against the store ∪ the batch itself: a line
    * is boilerplate when its TOTAL distinct-doc count (stored partial
    * sums + this batch's own) reaches `minDocs`; every occurrence is
    * cut from every batch doc, clean docs pass through — the output
    * is the rewritten batch (doc_id, n_lines, n_cut, clean_text),
    * bit-equal to [[Dedup.lineDedup]] over corpus ∪ batch restricted
    * to the batch's docs (spec-pinned).
    *
    * Scale shape — every exchange is batch-bounded: the batch's line
    * profile is one batch-sized aggregate; the store is scanned once,
    * semi-joined against the BROADCAST batch-line set, and only the
    * surviving (batch-bounded) per-line sums come back; the dup-line
    * set broadcasts onto the batch's position rows; the per-doc cut
    * re-agg is doc-sized. */
  def scrubDelta(spark: SparkSession, batch: DataFrame, dir: String,
                 textCol: Column, idCol: Column, sep: String = "\n",
                 minDocs: Int = 2, excludeTag: Option[String] = None,
                 asOfPin: Option[String] = None): DataFrame = {
    require(minDocs >= 2, s"minDocs >= 2, got $minDocs")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(CompactSwap.currentVersion(spark, dir, "counts").isDefined,
      s"no line store under $dir — run build/buildIfAbsent first " +
        "(a half-built dir means a crashed build: buildIfAbsent self-heals it)")
    // asOfPin (preferred, version-aware): read EXACTLY the files the
    // batch pinned at its first attempt's start — survives a compact
    // between crash and restart (CompactSwap.pinAsOf). excludeTag:
    // the legacy reconstruction (skip the batch's own first-attempt
    // partial) — replay-stable only while no compact folded the tag.
    // Either way a replayed batch must not count its OWN partial
    // toward the threshold (it would scrub lines its first attempt
    // kept, emitting different text than the committed attempt).
    val store = (asOfPin, excludeTag) match {
      case (Some(pin), _) => CompactSwap.readPinned(spark, dir, pin, "counts")
      case (None, Some(tag)) => CompactSwap.readExcludingTag(spark,
        countsPath(spark, dir), tag)
      case (None, None) => spark.read.parquet(countsPath(spark, dir))
    }
    val lines = batch.select(idCol.as("doc_id"),
      split(textCol, java.util.regex.Pattern.quote(sep)).as("ls"))
    val pos = lines.select(col("doc_id"), posexplode(col("ls")).as(Seq("i", "line")))
    val batchCounts = lines.select(explode(array_distinct(col("ls"))).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("b_docs"))
    val storedSums = store
      .join(broadcast(batchCounts.select(col("line"))), Seq("line"), "left_semi")
      .groupBy(col("line")).agg(sum(col("n_docs")).as("s_docs"))
    val dup = batchCounts.join(storedSums, Seq("line"), "left")
      .where(col("b_docs") + coalesce(col("s_docs"), lit(0L)) >= minDocs)
      .select(col("line"))
    val cov = pos.join(broadcast(dup), Seq("line"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("i")).as("cl"))
    lines.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        when(col("cl").isNull, lit(0L))
          .otherwise(size(col("cl")).cast("long")).as("n_cut"),
        concat_ws(sep, filter(col("ls"),
          (_, ix) => !coalesce(array_contains(col("cl"), ix), lit(false))))
          .as("clean_text"))
  }

  /** Build-then-scrub exactly once per corpus fingerprint is not
    * needed (scrub is read-only); STREAMING ingest is: each
    * micro-batch scrubs against the store AS OF its batch start, the
    * cleaned rows flow to `sink`, and the batch's line profile
    * appends so later batches see it, exactly once per batch
    * ([[Stores.oncePerBatch]]; same disjoint-batch contract). */
  /** READ-SIDE serving loop (r19) — the [[AnnIndex.serveStream]]
    * symmetric for the line store: scrub a stream of doc batches
    * against the persisted counts WITHOUT absorbing their line
    * profiles (read-only probe, no markers needed). Each micro-batch
    * re-resolves the store via [[scrubDelta]], so appends, takedowns
    * and versioned compacts landing after stream start reflect in
    * the NEXT batch. Use [[scrubStream]] when batches should also
    * append their own line counts. */
  def serveStream(spark: SparkSession, docs: DataFrame, dir: String,
                  textCol: Column, idCol: Column, sep: String = "\n",
                  minDocs: Int = 2, checkpoint: Option[String] = None)
                 (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val w0 = docs.writeStream.outputMode("append")
    val w = checkpoint.fold(w0)(c => w0.option("checkpointLocation", c))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(scrubDelta(spark, batch, dir, textCol, idCol, sep, minDocs), batchId)
    }.start()
  }

  def scrubStream(spark: SparkSession, docs: DataFrame, dir: String,
                  textCol: Column, idCol: Column, checkpoint: String,
                  sep: String = "\n", minDocs: Int = 2)
                 (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Stores.oncePerBatch(batch, batchId, dir, "scrubbed", checkpoint) { tag =>
          // the scrub plan reads the very table append() writes — sever
          // lineage first so the sink and the append see the same
          // as-of-batch-start answer (the DedupIndex.append lesson)
          val cleaned = scrubDelta(spark, batch, dir, textCol, idCol, sep, minDocs,
              excludeTag = Some(tag))
            .localCheckpoint()
          try {
            sink(cleaned, batchId)
            append(batch, dir, textCol, idCol, sep, tag = Some(tag))
          } finally cleaned.unpersist()
        }
        ()
      }
      .start()
  }
}
