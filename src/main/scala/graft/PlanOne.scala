package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: `explain("formatted")` plan evidence, after one execution
  * of each query at [[Runner.sfDir]]. Not part of the graded surface.
  *
  *  - no args: the headline queries below into PLANS.md — the
  *    physical-plan evidence behind the scale claims (pushdown,
  *    broadcast, single-shuffle, range-frame windows);
  *  - `outDir suffix q1,q2,...`: each named query's plan to
  *    `<outDir>/<query>_<suffix>.txt` — the plan evidence files of the
  *    optimization rounds (`plans/r19/`).
  */
object PlanOne {
  private val Headline = Seq(
    "p1_projection",      // pushdown + pruning reach the scan
    "j1_broadcast_dim",   // dims broadcast, only the agg shuffles
    "p5_valid_starts",    // map-side collect_set, one key shuffle
    "a3_gram_matrix",     // shuffle-free partial+final single pass
    "a4_ridge_weights",   // chained-select algebra over the one-pass agg
    "o1_sort_topk",       // TakeOrderedAndProject, no global sort
    "w1_seq36_range",     // L=36 as ONE keyed range-frame window pass
    "e_ivf_ann",          // broadcast centroids + min_by argmin
    "e_ann_bucketed",     // bucket-confined ANN candidates
    "d_lsh_pairs",        // one-shuffle band-bucket gather + local pair fan-out
    "x1_conv_weighted",   // broadcast kernel offsets + re-agg
    "x1_conv_multichannel", // C_in->C_out kernel: same two-shuffle stencil shape
    "d_embed_neardup",    // bucket equi-join pairs, no cross join
    "j6_salted_skew_join",// (key, salt) join keys, dim replicated not broadcast
    "e_ivf_train",        // Lloyd step: broadcast assign + quantized re-mean
    "x2_convgru",         // typed grid fold: ONE key shuffle, JVM inner loop
    "pipe_submit_e2e",    // flagship composition: keyed shuffles + broadcast dim only
    "j7_asof_join",       // join-free as-of: union + shared-sort window
    "o4_topn_per_group",  // graft_bottom_k bounded aggregate: <=n rows partial state, no full sort
    "s2_raster_pack_decode", // one-shuffle pack (window exchange reused by agg) + explode decode
    "t_chunk_split",      // zero-shuffle scan-stage chunk explode
    "t_pack_sequences",   // per-shard window + pack agg, no global sort
    "t_lm_score",         // model+stats broadcast; corpus side never shuffle-joins
    "d_dedup_keep",       // keep-list anti-join on the id key
    "st3_drop_late",      // running-watermark window + agg on ONE key shuffle
    "t_bloom_decontam",   // bloom prune in the scan stage + broadcast exact confirm
    "d_substr_dup",       // window-equality equi-join, never all-pairs
    "e_semantic_keep",    // bucket-confined cosine pairs + min-id anti-join
    "pipe_scrub_e2e",     // scrub flagship: quality -> exact dedup -> LSH -> decontam, one plan
    "d_rescored_keep",    // candidate-confined jaccard rescore + keep-list anti-join
    "t_curriculum",       // per-source ntile: keyed exchange + shard sort, no global sort
    "t_curriculum_scale", // sketch boundaries broadcast back + bucket by comparison, NO shard sort
    "m_mp4_frames",       // zero-shuffle scan-stage sample-table walk + frame decode
    "e_ann_recall_planted", // clustered corpus: broadcast centers/query, candidate-confined arms
    "e_pq_adc",           // PQ: one-row codebook broadcast, scan-stage encode+ADC, TakeOrdered top-10
    "e_ivfpq_adc",        // IVFADC: broadcast coarse argmin -> residuals -> PQ/ADC, cell-confined top-10
    "e_bq_rerank",        // binary quantization: scan-stage bit_count shortlist + exact rerank on survivors
    "e_ivfpq_indexed",    // persisted IVFADC index: probe-cell partition-pruned scan, broadcast meta
    "e_pq_adc_trained",   // multi-iteration Lloyd codebook -> scan-stage encode/ADC
    "m_mp4_fragmented",   // fMP4 moof/traf/trun walk + frame clock, zero shuffles
    "e_ivfpq_appended",   // incremental index: delta encode vs frozen quantizers, pruned search
    "e_ivfpq_trained",    // k-means-trained coarse quantizer -> same IVFADC machinery
    "e_kmeans_train",     // chained Lloyd: broadcast argmin + centroid-sized re-mean shuffles
    "e_cluster_sample",   // balanced draw: bounded bottom-k aggregate, no corpus window
    "pipe_curate_e2e",    // curation flagship: train + assign + gate + draw, one plan
    "e_sq8_adc",          // SQ8: one-row range fold broadcast, scan-stage encode + dequantized ADC
    "d_delta_index_keep", // persisted dedup store: broadcast-the-delta probes, store never shuffles
    "t_weighted_sample",  // ES weighted draw: bounded bottom-k aggregate, no corpus sort
    "j9_interval_join",   // ST4 batch twin: key equi-join + range filter, never a theta join
    "e_rand_proj",        // JL projection: scan-stage 16-plane fold, zero corpus exchange, TakeOrdered
    "t_substr_scrub",     // duplicated-span removal: gram-keyed gather + doc re-agg + scan rebuild
    "t_datacard",         // rollup report: fingerprint keeper exchange + ONE Expand agg pass
    "t_bpe_train",        // BPE training: persisted dict chain, explode+agg per iteration, fold apply
    "t_bpe_encode",       // BPE encode: corpus explode + broadcast dict join + doc re-agg
    "pipe_tokenize_e2e",  // tokenize flagship: scrub -> train -> encode -> pack, one plan
    "w9_interp_fill",     // gap fill: grid densify + two RUNNING neighbor frames, no O(n^2) frame
    "g_hll_merge",        // mergeable HLL rollup: per-group sketches unioned to one estimate
    "d_fuzzy_pairs",      // threshold Levenshtein over band-confined candidates only
    "t_bpe_encode_ids",   // token-id emission: size-gated dict join + ONE doc-keyed int-triple exchange
    "t_pack_ids",         // id packing: one (lang,source) exchange shared by window + pack agg
    "t_bpe_decode",       // id decode: one-row vocab broadcast + scan-stage transform
    "t_unigram_encode_ids", // unigram id emission: the encode_ids exchange shape
    "t_quality_filter",   // serving filter: scan-stage literals, zero exchanges
    "t_unigram_encode_indexed", // persisted-model serving twin
    "t_quality_filter_indexed", // persisted-weights serving twin
    "pipe_ids_e2e",       // id flagship: gate->dedup->train->ids->pack, one plan
    "t_bpe_export_roundtrip", // artifact import: scan-stage merge replay + the encode_ids shape
    "t_pack_ids_bfd",     // BFD packing: (n,doc) assignment fold (native kernel) + doc-keyed id join
    "g_hll_ingested",     // ingested sketch store: rollup over appended KB-sized sketch rows
    "e_opq_refined",      // OPQ refinement: native matvec rotate + Lloyd + dim-group correlation agg
    "e_opq_indexed",      // rotated serving: stored rot row + partition-pruned probe scan
    "t_unigram_foreign_vocab", // foreign model ingest: literal costs + scan-stage Viterbi + id path
    "t_pack_bfd_rows",    // content-graded BFD packs: native assignment fold + doc-keyed id join
    "t_line_dedup",       // line dedup: ONE bounded line-keyed gather + doc re-agg + scan rebuild
    "t_html_extract",     // HTML extraction: zero-exchange scan-stage kernel
    "pipe_scrub_html_e2e", // extraction fused under the scrub flagship, one plan
    "t_lang_classifier",  // OvR training: 2 bounded aggregates per step over the cached feature scan
    "m_mp3_frames",       // MP3 frame walk: per-row scan-stage pack->parse, zero shuffles
    "t_line_dedup_indexed", // line-store probe: batch-bounded exchanges over a broadcast-confined store scan
    "pipe_crawl_e2e",     // the composed crawl front door: extract + line dedup + scrub, one plan
    "pipe_crawl_learned_e2e", // + the trained quality gate as scan-stage literals between line dedup and scrub
    "d_delta_index_takedown", // erasure probe: tombstone anti-joins confined to delta-bounded slices
    "e_ann_takedown",     // erased vectors leave the cell-pruned candidate scan via one anti-join
    "m_warc_records",     // WARC codec: per-row scan-stage pack->parse->httpBody, zero shuffles
    "t_warc_html_extract", // container chain: WARC leg (scan-stage) + the codegen'd extract kernel
    "e_semdedup_kscaled", // hierarchical K ∝ N: two argmin levels scan-stage, pair join cell-confined
    "pipe_rag_e2e",       // curation chain + BM25 term-confined scan + pruned index probe + 40-row fusion
    "g_hll_rebuilt",      // group takedown == rebuilt-without: two kilobyte store scans, corpus only on the exact side
    "e_semdedup_probed",  // multi-probe dedup: mask-exploded side A, (cell,bucket) equi-join, never within-cell all-pairs
    "e_semdedup_served"   // persisted store probe: broadcast-the-delta x masks, store scanned once, never shuffled
  )

  def main(args: Array[String]): Unit = {
    val sfDir = Runner.sfDir
    val spark = GraftSession.create()
    def plan(name: String): String = {
      var text = ""
      Runner.time(spark, SparkEntry.queries(name)(spark, sfDir), { df =>
        Runner.noop(df) // finalize AQE
        text = df.queryExecution.explainString(FormattedMode)
      }).left.foreach(e => throw e)
      text
    }
    if (args.isEmpty) {
      val sb = new StringBuilder
      sb.append("# PLANS — `explain(\"formatted\")` for the headline queries\n\n")
      sb.append(s"Generated by `sbt \"runMain graft.PlanOne\"` at $sfDir.\n")
      sb.append("Each plan is the AQE-finalized physical plan after one execution;\n")
      sb.append("`PlanSpec` asserts the load-bearing shapes so they cannot regress.\n\n")
      for (name <- Headline) {
        // cap per-plan text: queries carrying model literals (the OPQ
        // rotation is 4096 doubles) print them verbatim in explain —
        // thousands of lines of constants with zero plan information
        val lines = plan(name).trim.linesIterator.toSeq
        val text = if (lines.length <= 400) lines.mkString("\n")
          else (lines.take(400) :+
            s"... [${lines.length - 400} lines truncated — literal-heavy plan]")
            .mkString("\n")
        sb.append(s"## $name\n\n```\n").append(text).append("\n```\n\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"PLANS.md written (${Headline.size} plans)")
    } else {
      val Array(outDir, suffix, names) = args
      Files.createDirectories(Paths.get(outDir))
      for (n <- names.split(",")) {
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan(n))
        println(s"wrote $outDir/${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
