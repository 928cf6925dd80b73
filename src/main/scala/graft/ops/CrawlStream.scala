package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING crawl front door — the continuous form of the
  * pipe_crawl_e2e composition, with the corpus-wide stages backed by
  * their serving stores instead of a corpus re-scan: every
  * micro-batch of raw crawl documents
  *
  *   1. extracts text in the scan stage (`extract` — typically
  *      graft_html_extract over the crawl's markup column),
  *   2. scrubs boilerplate lines against the LINE STORE as of batch
  *      start plus the batch's own lines ([[LineStore.scrubDelta]]),
  *   3. applies the caller's `gate` to the scrubbed rows (a quality
  *      floor — the scrub can gut a boilerplate-only doc to an empty
  *      string that would otherwise sail through dedup, the failure
  *      shape the parity spec pins; pass [[Logistic.keep]]-style
  *      learned gates or a plain length floor; identity by default),
  *   4. drops exact + near duplicates against the DEDUP STORE
  *      ([[DedupIndex.deltaKeep]], density-capped),
  *   5. hands the kept, cleaned rows to `sink`,
  *   6. and then both stores absorb the batch — the line store takes
  *      the FULL extracted batch's line profile (boilerplate counting
  *      must not depend on what dedup kept), the dedup store takes
  *      only the KEPT docs' sketches (its contract).
  *
  * One checkpoint-namespaced marker per batch makes a COMMITTED
  * batch's replay a no-op ([[Stores.oncePerBatch]]), and the TORN
  * window the marker alone leaves open — a crash after a store
  * append but before the marker — is closed on BOTH sides: the
  * batch PINS each store's as-of-start file listing before its
  * first probe ([[CompactSwap.pinAsOf]], r19 — the version-aware
  * replay handle), so the replayed batch recomputes
  * against exactly the files attempt 1 read (the kept set equals the
  * first attempt's instead of self-matching to empty), and the
  * tagged appends ([[CompactSwap.appendExactlyOnce]]) re-publish the
  * identical partial under the same deterministic file names instead
  * of doubling it (the line store's additive counts would otherwise
  * drift toward the scrub threshold; a compaction that already
  * folded the torn batch is detected via the published sidecar and
  * the republish skipped). A kept-frame localCheckpoint severs the
  * lineage the store appends would otherwise re-execute against
  * half-updated tables (the documented [[DedupIndex.append]] bug
  * class). Batches carry disjoint doc populations per the line
  * store's recorded contract. Emissions == the sequential batch
  * composition of the same ops (spec-pinned in DedupSpec). Replay
  * delivery to `sink` is AT-LEAST-ONCE with re-emissions
  * bit-identical to the first attempt's rows: the pinned files
  * survive compaction (the versioned compact retains retired
  * versions for `keep` generations before GC), so a compact between
  * a crash and its restart no longer diverges the re-emission — the
  * old "do not compact a crashed stream's stores before restarting"
  * rule relaxes to "restart within `keep` compacts", and exceeding
  * it fails LOUDLY at the pinned read instead of silently emitting
  * different rows. Downstream sinks key on (checkpoint, batchId) if
  * they need exactly-once.
  */
object CrawlStream {

  def ingest(spark: SparkSession, docs: DataFrame,
             lineDir: String, dedupDir: String, checkpoint: String,
             extract: DataFrame => DataFrame,
             gate: DataFrame => DataFrame = identity,
             idCol: String = "doc_id", sep: String = "\n",
             shingleK: Int = 3, seeds: Int = 4, bands: Int = 4,
             matchMin: Int = 3, maxBucket: Int = Int.MaxValue)
            (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committed = Stores.oncePerBatch(batch, batchId, lineDir, "crawled", checkpoint) { tag =>
          // materialize the extraction once: it feeds the line scrub,
          // the line-store append, and (through the scrub) the dedup
          // probe — and severing lineage here also protects every
          // downstream read from the store appends below
          val extracted = extract(batch).localCheckpoint()
          try {
            // as-of pins, taken BEFORE the first probe: a torn-batch
            // replay finds attempt 1's pin (pinAsOf is idempotent) and
            // recomputes against exactly the files attempt 1 read.
            // Tombstone reads stay FRESH by contract (takedowns are
            // not stream batches and must suppress immediately).
            CompactSwap.pinAsOf(spark, lineDir, Seq("counts"), tag, tag)
            CompactSwap.pinAsOf(spark, dedupDir, Seq("fp", "bands"), tag, tag)
            val scrubbed = gate(LineStore.scrubDelta(spark, extracted, lineDir,
                col("text"), col(idCol), sep, asOfPin = Some(tag))
              .select(col(idCol), col("clean_text").as("text")))
            val kept = DedupIndex.deltaKeep(spark, scrubbed, dedupDir,
              col("text"), col(idCol), shingleK, seeds, bands, matchMin, maxBucket,
              asOfPin = Some(tag))
              .localCheckpoint()
            try {
              sink(kept, batchId)
              LineStore.append(extracted, lineDir, col("text"), col(idCol), sep,
                tag = Some(tag))
              DedupIndex.append(kept, dedupDir, col("text"), col(idCol),
                shingleK, seeds, bands, tag = Some(tag))
            } finally kept.unpersist()
          } finally extracted.unpersist()
        }
        // the marker commits the batch — its as-of pins are dead
        // weight now (a crash between marker and here leaves
        // harmless orphans: bytes of file names)
        if (committed) {
          val tag = Stores.batchTag(checkpoint, batchId)
          CompactSwap.dropPin(spark, lineDir, tag)
          CompactSwap.dropPin(spark, dedupDir, tag)
        }
      }
      .start()
  }

  /** [[ingest]] fed straight from the crawl lake's CONTAINER files:
    * watch `pathGlob` for arriving .warc/.warc.gz files
    * ([[Warc.recordsStream]] — record explode in the scan stage, one
    * task per file), keep the response records whose HTTP status
    * passes `keepStatus` (2xx by default — 404/500 boilerplate and
    * redirect stubs are not corpus documents), decode each entity
    * body with ITS OWN declared charset ([[Warc.HttpResponse]] reads
    * the Content-Type parameter; a large fraction of real crawls is
    * not UTF-8, and hard-coding UTF-8 would mojibake text, line
    * identity, and dedup fingerprints alike), extract text from the
    * markup with `toText` (the codegen'd graft_html_extract by
    * default), and run the standard scrub → gate → dedup → sink →
    * absorb chain with the WARC-Target-URI as the document id — the
    * id a crawl actually has before any numbering. NOTE the takedown
    * interaction recorded on [[DedupIndex.takedown]]: URI ids are
    * PAGE identities, so a post-erasure re-crawl reuses the erased
    * id and stays tombstone-suppressed until a compact; fetch-unique
    * ids (the record_id column) avoid that window if erasure and
    * re-crawl must interleave. Everything downstream is [[ingest]]
    * verbatim (same markers, tags, torn-window closure,
    * at-least-once sink contract). */
  def ingestWarc(spark: SparkSession, pathGlob: String,
                 lineDir: String, dedupDir: String, checkpoint: String,
                 toText: Column => Column = graft.functions.text.htmlExtract,
                 gate: DataFrame => DataFrame = identity,
                 keepStatus: Int => Boolean = _ / 100 == 2,
                 sep: String = "\n",
                 shingleK: Int = 3, seeds: Int = 4, bands: Int = 4,
                 matchMin: Int = 3, maxBucket: Int = Int.MaxValue)
                (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    ingest(spark,
      Warc.recordsStream(spark, pathGlob).where(col("warc_type") === "response"),
      lineDir, dedupDir, checkpoint,
      extract = df => {
        val s2 = df.sparkSession
        import s2.implicits._
        df.select(col("target_uri"), col("record_id"), col("payload"))
          .as[(String, String, Array[Byte])]
          .mapPartitions(_.flatMap { case (uri, recId, payload) =>
            // doc identity: WARC-Target-URI, else the spec-mandatory
            // WARC-Record-ID. A response record carrying NEITHER gets
            // the loud failure, not a silent merge: the parse layer
            // tolerates sloppy writers (targetUri defaults ""), but
            // every URI-less record collapsing onto one "" doc_id in
            // the line AND dedup stores would be an identity bug
            // that grades clean and corrupts at the first real crawl
            val docId =
              if (uri.nonEmpty) uri
              else if (recId.nonEmpty) recId
              else throw new IllegalArgumentException(
                "WARC: response record has neither WARC-Target-URI nor " +
                  "WARC-Record-ID — no usable document identity")
            val r = Warc.httpResponse(payload)
            if (keepStatus(r.status)) Some((docId, r.bodyText)) else None
          })
          .toDF("doc_id", "markup")
          .select(col("doc_id"), toText(col("markup")).as("text"))
      },
      gate, idCol = "doc_id", sep, shingleK, seeds, bands, matchMin, maxBucket)(sink)
}
