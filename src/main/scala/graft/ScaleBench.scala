package graft

/** Scale-slope bench: times the dedup / ANN / text-pipeline query
  * family at two corpus scales (1× = the SF dir's own documents/
  * embeddings; N× = a [[ScaleGen]] output dir) and reports sec and the
  * N×/1× slope per query. A bucketed/linear operator should show a
  * slope ≈ N (data-proportional) — a quadratic one shows ≈ N².
  *
  * Methodology matches Bench: same session config, untimed harness
  * warmup + plan precompile at sf0.001, 2 runs per query per scale,
  * first-run and min both reported; slope is computed on the min
  * (steady-state) times so one-time JIT doesn't pollute the ratio.
  *
  * Usage:
  *   sbt "runMain graft.ScaleBench /root/testdata/sf0.1 /root/repo/scaledata/x10 10"
  * prints ONE JSON line; full detail to scale_slope.json.
  */
object ScaleBench {
  // Queries that read only documents/embeddings (the LLM-pipeline
  // family — the operators whose 100 TB shape the slope evidences).
  private val Family = Seq(
    "t_exact_dedup", "d_minhash_sig", "d_simhash", "d_hamming_adjacent",
    "d_lsh_pairs", "d_jaccard_pairs", "d_dup_clusters", "d_embed_neardup",
    "e_cosine_topk", "e_lsh_buckets", "e_ann_bucketed", "e_ivf_train", "e_ivf_ann",
    "t_token_stats", "t_quality_score", "t_lang_id", "t_tfidf_top",
    "t_rolling_fp", "t_top_terms", "m_multimodal_meta",
    "t_redact_pii", "t_decontam_overlap", "t_repetition",
    "t_chunk_split", "t_pack_sequences", "t_lm_score", "d_dedup_keep",
    "m_video_meta", "m_audio_meta", "m_image_meta",
    "t_bloom_decontam", "d_substr_dup", "e_semantic_keep",
    "m_image_pixels", "m_gif_frames", "pipe_scrub_e2e", "d_rescored_keep",
    "t_curriculum",
    "t_curriculum_scale", "m_mp4_frames", "e_ann_recall_planted",
    "e_pq_adc", "e_pq_recall", "e_pq_train", "e_pq_recall_planted",
    "e_ivfpq_adc", "e_ivfpq_probe2", "e_bq_rerank",
    // round-12 serving/curation family: the indexed/appended pair
    // builds its persisted index on the FIRST run (fingerprint marker
    // skips it after — the O(#files) table fingerprint, so the
    // repeat-run check cost is corpus-size-independent and min-time
    // slope measures the steady-state SEARCH); k-means/sampling
    // slopes evidence the centroid-sized shuffle claim at 10x corpus
    "e_pq_adc_trained", "e_ivfpq_indexed", "e_ivfpq_appended",
    "e_kmeans_train", "e_cluster_sample", "e_ivfpq_trained",
    "pipe_curate_e2e",
    // SQ8 (range fold + scan-stage ADC — expect ~linear) and the
    // persisted dedup store (build once per corpus fingerprint, then
    // delta-sized probes — min-time slope measures steady-state
    // deltaKeep, which scales with the DELTA, itself 10x here)
    "e_sq8_adc", "d_delta_index_keep", "d_delta_index_appended",
    "d_containment_pairs", "t_weighted_sample",
    // session-4 additions: the JL projection search is scan-stage +
    // TakeOrdered (expect ~linear in corpus); the span scrub is one
    // gram-keyed exchange + doc re-agg (expect ~linear in gram volume,
    // output-bound only through the duplicated-span mass)
    "e_rand_proj", "e_rand_proj_planted", "t_substr_scrub", "t_datacard",
    "t_bpe_train", "t_bpe_encode", "t_bpe_encode_indexed", "t_source_overlap",
    "pipe_tokenize_e2e", "d_fuzzy_pairs",
    // round-13 additions: token-id emission (doc-keyed int-triple
    // exchange — expect linear in token volume), pruned-dict encode
    // (same shape as t_bpe_encode), batched local training (corpus
    // pass + driver loop — expect the wordDict slope), unigram EM
    // (dictionary-space after the corpus pass — expect the wordDict
    // slope, like t_bpe_train's 1.3), the sketch-store cube (store
    // build on first run, then rollup over kilobytes + the exact
    // grading scan), and the prefix-moment anomaly flags (ONE key
    // shuffle + per-key ordered windows over events; events scale by
    // KEY COUNT in ScaleGen, so per-key state is constant)
    "t_bpe_encode_ids", "t_bpe_encode_pruned", "t_bpe_train_local",
    "t_unigram_train", "g_hll_indexed", "g_hll_cube", "w9_interp_fill",
    "st5_anomaly_flags",
    // per-doc Viterbi segmentation is a dict join + scan-stage DP
    // (expect linear in word volume); the OPQ panel is 4 rotation
    // arms x (scan-stage rotate + one-row codebook fold + native ADC)
    // — expect ~linear in corpus, 4x the single-arm constant
    "t_unigram_segment", "e_opq_rotations",
    // decode = one broadcast vocab row + scan-stage transform over the
    // id frames (expect the encode_ids slope); packing adds ONE
    // (lang,source) shard exchange of the output's own id volume;
    // the classifier is 12 bounded aggregates over cached features —
    // expect ~linear in corpus with a small constant
    "t_bpe_decode", "t_pack_ids", "t_quality_classifier",
    // unigram id emission shares the encode_ids exchange shape
    // (expect its slope); the filter's serving frame is scan-stage
    // (expect the classifier's aggregate-pass slope — training
    // dominates, 6 gradient passes over the cached features)
    "t_unigram_encode_ids", "t_quality_filter",
    // the persisted twins: first run builds the store (fingerprint
    // marker skips after), min-time slope measures steady-state
    // serving — the e_ivfpq_indexed convention
    "t_unigram_encode_indexed", "t_quality_filter_indexed",
    // decode rides the id producer + a one-row vocab broadcast
    // (expect the unigram encode slope)
    "t_unigram_decode",
    // the id flagship: model gate (scan-stage) + dedup exchange +
    // dict chain + id triples + pack shard — expect the
    // pipe_tokenize_e2e slope plus the id-volume constant
    "pipe_ids_e2e",
    // round-15 additions: the artifact round-trips re-encode through
    // the same id path (expect the encode_ids slope; the export side
    // is model-sized and marker-skipped after the first run); BFD
    // packing adds the (n,doc) assignment fold + a doc-keyed join to
    // the greedy shape (expect the t_pack_ids slope); the ingested
    // sketch store builds once (marker) then rolls up kilobytes —
    // the g_hll_cube shape; OPQ refinement is 2 rounds of (scan-stage
    // rotate + Lloyd + dim-group correlation agg) — expect ~linear
    // in corpus with the rotation-HOF constant
    "t_bpe_export_roundtrip", "t_unigram_export_roundtrip",
    "t_pack_ids_bfd", "g_hll_ingested", "e_opq_refined",
    // batched training collects the bounded dict per batch and applies
    // merges as one scan-stage fold — expect the t_bpe_train slope;
    // foreign-vocab ingest is the artifact replay without training —
    // expect the export_roundtrip's encode-side slope
    "t_bpe_train_batched", "t_bpe_foreign_vocab",
    // rotated serving: store builds once (marker), min-time measures
    // the partition-pruned probe scan + one query matvec — expect the
    // e_ivfpq_indexed flat slope
    "e_opq_indexed",
    // foreign unigram ingest = model import + one Viterbi pass over
    // the word dict + the id path (expect the unigram segment slope);
    // planted OPQ = corpus synthesis + identity-start refinement +
    // two scored arms (expect ~linear, the e_opq_refined class)
    "t_unigram_foreign_vocab", "e_opq_recall_planted",
    // BFD pack rows = the metrics query plus the doc-keyed id join +
    // pack content agg — expect the t_pack_ids output-bound slope
    "t_pack_bfd_rows",
    // round-16: sample-train → full-encode — ONE corpus scan draws
    // the bounded sample, Lloyd folds the cached sample, the frozen
    // codebook scores the corpus; expect the e_pq_adc scan slope
    // (training cost flat in corpus size — that is the claim)
    "e_pq_train_sampled",
    // FLAC encode+decode is per-row scan-stage work (expect ~linear
    // in row count — the m_audio_meta class with a codec constant)
    "m_flac_frames",
    // round-17: the crawl-batch-sized probe (delta = 1% of the lake
    // vs d_delta_index_keep's 10%) — with the store built on the
    // first run and marker-skipped after, the min-time pair pins that
    // steady-state deltaKeep cost tracks the DELTA plus a columnar
    // store-scan floor, not the store's bucket contents (the capped
    // gather bounds per-bucket work at DeltaProbeCap)
    "d_delta_index_small",
    // line-level boilerplate dedup: one line-keyed bounded exchange +
    // doc re-agg + scan-stage rebuild — expect the t_substr_scrub
    // slope at line (not gram) volume
    "t_line_dedup",
    // HTML extraction is a zero-exchange scan-stage kernel (expect
    // ~linear in byte volume); the html flagship = extraction fused
    // under the scrub chain (expect the pipe_scrub_e2e slope)
    "t_html_extract", "pipe_scrub_html_e2e",
    // multiclass OvR training: 2 bounded aggregates per step over the
    // planted-feature scan (expect the t_quality_classifier slope);
    // serving folds literal weights into one scan pass
    "t_lang_classifier", "t_lang_classify_served",
    // MP3 frame walk is per-row scan-stage work (the m_flac_frames
    // class with a header-walk constant)
    "m_mp3_frames",
    // serving stores: the OvR weight store builds on the first run
    // (marker-skipped after; min-time = the literal-weights scan);
    // the line store's probe is batch-bounded over a store scan —
    // expect the d_delta_index_keep class
    "t_lang_classify_indexed", "t_line_dedup_indexed",
    // the composed crawl front door: extraction (scan) + line dedup
    // (one bounded exchange) + the scrub chain — expect the
    // pipe_scrub_html_e2e slope plus the line stage's constant
    "pipe_crawl_e2e",
    // + the learned quality gate fused in: training adds 6 bounded
    // gradient aggregates over the cached cleaned-text features —
    // expect the pipe_crawl_e2e slope plus a flat training constant
    "pipe_crawl_learned_e2e",
    // the 4x2 band geometry: same one-shuffle bucket gather as
    // d_lsh_pairs with a second scan-stage md5 — expect its slope;
    // the r2 store probe shares d_delta_index_keep's shape
    "d_lsh_pairs_r2", "d_delta_index_r2",
    // takedown probes: each is its store's standard probe plus a
    // broadcast tombstone anti-join (store built + tombstoned on the
    // first run, marker-skipped after) — expect each base probe's
    // slope; the graded tombstone slices scale WITH the lake here
    // (worst case — real takedown sets are request-sized)
    "d_delta_index_takedown", "t_line_dedup_takedown", "e_ann_takedown",
    // WARC codec is per-row scan-stage pack→parse→httpBody work (the
    // m_flac_frames class, byte-linear); the container+extract chain
    // adds the html kernel on the recovered markup (the
    // t_html_extract class)
    "m_warc_records", "t_warc_html_extract",
    // retrieval: BM25 confines corpus work to the query terms in the
    // scan stage (expect ~linear in token volume with a small
    // constant); hybrid adds the cosine top-k leg + a 40-row fusion
    // (expect the e_cosine_topk slope); filtered search is the
    // pruned-scan probe + one semi-join (expect e_ivfpq_indexed's
    // flat slope — the allow-list here is lake-proportional by
    // construction, the worst case)
    "t_bm25_topk", "e_hybrid_rrf", "e_ann_filtered",
    // the RAG flagship: crawl curation (the pipe_crawl_e2e shape)
    // feeding the hybrid serve (BM25 term-confined scan + allow-list
    // filtered index probe + 40-row fusion) — expect the
    // pipe_crawl_e2e slope plus the retrieval trio's flat constants
    "pipe_rag_e2e",
    // SemDeDup: training shuffles centroid-sized, assignment
    // scan-stage, the pair join's per-cluster work is (N/K)^2 at the
    // graded K=8 — expect a visibly superlinear slope HERE by
    // construction (fixed K while N grows 10x); kept as the semantic
    // fixture
    "e_semdedup_keep",
    // the K ∝ N production shape, GRADED since r18 (K = N/c̄ from
    // parquet footer counts, oracle self-scaling) — pins that scaling
    // K with the corpus collapses the pair term back to linear; the
    // K-linear assignment cost rides the early-exit argmin kernel
    "e_semdedup_kscaled",
    // the >x1000 shape: learned coarse + residual-LSH refinement,
    // b = ⌈log2(K/K1)⌉ as a scalar modulus — assignment O(N·d),
    // expect ~linear at EVERY decade where the exact hierarchy goes
    // N^1.5 by the third
    "e_semdedup_bucketed",
    // r19: the recall knob ON — radius-1 multi-probe rides a (b+1)
    // probe-row factor on the pair join (b grows with log N), so
    // expect the bucketed slope times a slowly-growing log factor,
    // still linear-class at every decade
    "e_semdedup_probed",
    // fresh-serving batch search: store built once (marker), then a
    // request-sized probe against the pruned codes scan — expect the
    // e_ivfpq_indexed flat slope; the pinned read is a manifest-file
    // scan of the compacted fp table — expect ~linear in store size
    "e_ann_serve_batch", "d_store_pinned_read",
    // the persisted semdedup store's serving probe (radius-1
    // deltaKeep; store built on the first run, marker-skipped after)
    // — the graded delta is 10% of the lake (lake-proportional by
    // construction, the worst case), so expect ~linear in delta
    // volume times the (b+1) probe rider, the e_semdedup_probed
    // class without the lake-side pair join
    "e_semdedup_served")

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bigDir = if (args.length > 1) args(1) else "/root/repo/scaledata/x10"
    val factor = if (args.length > 2) args(2).toDouble else 10.0
    // Runner.only restricts the family — e.g. the
    // x100 second-decade run curates out the shingle-join pair whose
    // spill exceeds this box's disk at 50M shingle rows
    val preFixture = Runner.only.fold(Family)(o => Family.filter(o.contains))
    // SCALE-CLASS ENFORCEMENT (each query's `Q.scale`): fixture
    // forms are excluded from decade sweeps past their documented
    // wall — LOUDLY (never a silent cap), with an explicit dev
    // override for re-measuring a wall on purpose. factor is parsed
    // before the session spins up so the exclusion is visible first.
    val wallOf = SparkEntry.scaleClasses.collect {
      case (n, s) if s.startsWith("fixture@x") =>
        n -> s.stripPrefix("fixture@x").toDouble
    }
    val includeFixtures = sys.env.contains("SPARK_GRAFT_INCLUDE_FIXTURES")
    val (excluded, family) = preFixture.partition(n =>
      !includeFixtures && wallOf.get(n).exists(_ < factor))
    if (excluded.nonEmpty)
      println(s"[scalebench] EXCLUDED past their documented fixture wall at x$factor: " +
        excluded.map(n => s"$n (${SparkEntry.scaleClasses(n)})").mkString(", ") +
        " — set SPARK_GRAFT_INCLUDE_FIXTURES=1 to re-measure a wall deliberately")
    val spark = GraftSession.create()
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val qs = family.map(byName)
    Runner.warmup(spark, baseDir, qs)
    def timed(df: => org.apache.spark.sql.DataFrame): Double =
      Runner.time(spark, df).fold(e => throw e, identity)
    def timeAt(dir: String): Map[String, (Double, Double)] =
      qs.map { q =>
        val ts = (1 to 2).map(_ => timed(q.fn(spark, dir)))
        q.name -> (ts.head, ts.min)
      }.toMap
    val t1 = timeAt(baseDir)
    val tN = timeAt(bigDir)
    // ---- flagship at REFERENCE SHAPE (datasets.py:218-225: batches of
    // 36-frame sequences of 256x256 grids; rnn.py:54-60 ConvGRU): time
    // the typed ConvGRU fold at w=16 (the graded x2_convgru shape) and
    // at w=256 over identical synthetic 36-step inputs — RefScaleSpec
    // pins the 256x256 arithmetic by closed form; this records its
    // COST. Input is built in-memory (range -> users x 36 steps), so
    // the measurement is pure fold work; slope is reported against the
    // 256x cell growth (65536/256 cells) — linear-in-cells = ~256.
    def refShape(w: Int, users: Int): Double = {
      val ev = spark.range(0, users.toLong * 36)
        .selectExpr("id div 36 AS user_id", "CAST(id % 36 AS DOUBLE) AS tsd",
          "id % 36 AS event_id", "CAST((id * 37) % 199 AS DOUBLE) / 2.0 AS value")
      (1 to 2).map(_ => timed(graft.ops.Fold.foldTypedConvGrid(
        spark, ev, "user_id", "tsd", "event_id", "value", w))).min
    }
    refShape(16, 4) // untimed: JIT the fold path at both branch shapes
    val ref16 = refShape(16, 32)
    val ref256 = refShape(256, 32)
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val per = family.map { n =>
      val slope = tN(n)._2 / t1(n)._2
      s""""$n":{"t1":${f3(t1(n)._2)},"tN":${f3(tN(n)._2)},"t1_first":${f3(t1(n)._1)},"tN_first":${f3(tN(n)._1)},"slope":${f3(slope)}}"""
    }.mkString("{", ",", "}")
    val tot1 = family.map(t1(_)._2).sum
    val totN = family.map(tN(_)._2).sum
    val refJson = s"""{"w16_sec":${f3(ref16)},"w256_sec":${f3(ref256)},"users":32,"steps":36,"cells_factor":256,"slope":${f3(ref256 / ref16)}}"""
    val line = s"""{"metric":"scale_slope","factor":$factor,"total_t1":${f3(tot1)},"total_tN":${f3(totN)},"total_slope":${f3(totN / tot1)},"queries":$per,"ref_shape_convgru":$refJson,"base":"$baseDir","big":"$bigDir"}"""
    // SPARK_GRAFT_SLOPE_OUT redirects the artifact (the x100
    // second-decade run must not clobber the canonical 10x file)
    val w = new java.io.PrintWriter(
      sys.env.getOrElse("SPARK_GRAFT_SLOPE_OUT", "scale_slope.json"))
    try w.println(line) finally w.close()
    println(line)
    spark.stop()
  }
}
