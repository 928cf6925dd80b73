package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer TRAINING in
  * DICTIONARY SPACE — the other half of the subword family next to
  * [[Bpe]]: instead of greedy merges, a probabilistic piece model
  * p(piece) refined by hard-EM (Viterbi) rounds.
  *
  * Shape (the only one that survives 100 TB, same argument as BPE):
  * the corpus is touched ONCE, collapsing to the word-frequency
  * dictionary; everything after — seed-piece extraction, Viterbi
  * segmentation, count re-estimation — is vocabulary-sized work with
  * the piece model broadcast into every join. No EM round ever
  * shuffles anything proportional to the corpus.
  *
  * Determinism contract (what makes this hash-gradable against a
  * DuckDB twin): piece costs are INTEGER — `floor(-ln(p)*1e6 + 0.5)`
  * — so Viterbi compares exact integer sums; the last-ulp ln
  * divergence between engines is absorbed by the snap (the repo's
  * transcendental convention). DP ties break on the total order
  * (cost ASC, piece-count ASC, segmentation ASC) — integers and
  * ASCII-binary strings, engine-identical.
  *
  * Word length is bounded (`maxWordLen`) and so is piece length
  * (`maxPieceLen`): the DP unrolls to `maxWordLen` layers, each a
  * union of at most `maxPieceLen` predecessor extensions — which is
  * exactly the bounded-length unrolled DP the oracle replays as
  * CTEs. Over-long words fail loudly (a silent truncation would
  * desynchronize the twins).
  */
object Unigram {

  /** Seed piece table: every substring of length <= `maxPieceLen` of
    * every dict word, with frequency = word count summed over every
    * occurrence position (single chars are always present — the
    * coverage floor that guarantees Viterbi can segment any word). */
  def seedPieces(dict: DataFrame, maxPieceLen: Int): DataFrame =
    dict
      // empty words (consecutive delimiters upstream) must drop HERE:
      // Spark's sequence(1, 0) steps DOWN to [1, 0] where the oracle's
      // range(1, 0) is empty — an empty w would seed phantom pieces
      // and desynchronize the twins
      .where(length(col("w")) >= 1)
      .select(col("c"), col("w"),
        explode(sequence(lit(1), length(col("w")))).as("st"))
      .select(col("c"), col("w"), col("st"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("st") + 1))).as("ln"))
      .select(col("c"), col("w").substr(col("st"), col("ln")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("c")).as("cnt"))

  /** Integer Viterbi costs from a (piece, cnt) table:
    * `floor(-ln(cnt/total)*1e6 + 0.5)` — the 1e-6 log-space snap that
    * makes both engines' DP arithmetic exact. One piece-table-sized
    * fold for the total, broadcast back in. */
  def costs(pieces: DataFrame): DataFrame = {
    val tot = pieces.agg(sum(col("cnt")).cast("double").as("_tot"))
    pieces.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        floor(-log(col("cnt").cast("double") / col("_tot")) * lit(1e6) + lit(0.5))
          .cast("long").as("cost"))
  }

  /** Viterbi segmentation of every dict word under an integer cost
    * table: returns (w, c, cost, np, seg) — the min-cost segmentation
    * with the deterministic (cost, np, seg) tie-break.
    *
    * The WHOLE DP runs per word in the SCAN STAGE: each word gathers
    * its substrings' costs into a (start*16+len) -> cost map (one
    * broadcast join against the piece table + one dict-keyed re-agg),
    * then an `aggregate` fold over positions 1..len(w) extends the
    * best-prefix array — candidates from the up-to-`maxPieceLen`
    * predecessors, argmin via array_min over structs (lexicographic
    * struct order IS the (cost, np, seg) tie-break; a position with
    * no reachable predecessor or no known piece filters to an empty
    * candidate list and stays NULL, exactly the inner-join absence in
    * the oracle's layered CTEs). ONE job, no iteration barriers — an
    * earlier layered-DataFrame form of the same spec paid 16
    * checkpoint jobs (~7 s at sf0.1, pure scheduling overhead) and,
    * unchecked, a ~maxPieceLen^maxWordLen analyzed-plan blowup. */
  def viterbiFull(dict: DataFrame, pieceCosts: DataFrame,
                  maxPieceLen: Int, maxWordLen: Int): Dedup.CachedFrame = {
    // the per-word cost map packs its key as start*16+len: len > 16
    // would alias (start+1, len-16) and silently corrupt the DP
    require(maxPieceLen <= 16, s"maxPieceLen <= 16 (key packing), got $maxPieceLen")
    val bc = broadcast(pieceCosts.select(col("piece"), col("cost").as("_pc")))
    val wmap = dict
      .select(col("w"), col("c"),
        explode(sequence(lit(1), length(col("w")))).as("st"))
      .select(col("w"), col("c"), col("st"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("st") + 1))).as("ln"))
      .join(bc, col("w").substr(col("st"), col("ln")) === col("piece"))
      .groupBy(col("w"))
      .agg(first(col("c")).as("c"),
        map_from_entries(collect_list(struct(
          (col("st") * lit(16) + col("ln")).cast("int").as("k"),
          col("_pc").as("v")))).as("pm"))
    val dp = aggregate(
      sequence(lit(1), length(col("w"))),
      // the zero's ELEMENT TYPE must declare containsNull=true: the
      // fold inserts a NULL struct at every unreachable position
      // (array_min over an empty candidate list — a word the model
      // cannot cover, e.g. digits under an a-z foreign model), and
      // codegen trusts the declared type — with the struct literal's
      // containsNull=false it skips null checks and NPEs at the
      // first uncoverable word (found by the x10 foreign-model run)
      array(struct(lit(0L).as("cost"), lit(0).as("np"), lit("").as("seg")))
        .cast("array<struct<cost:bigint,np:int,seg:string>>"),
      (acc, i) => concat(acc, array(array_min(filter(
        transform(sequence(greatest(i - lit(maxPieceLen), lit(0)), i - lit(1)), j => {
          val bj = element_at(acc, j + 1)
          val pcost = element_at(col("pm"), ((j + 1) * lit(16) + (i - j)).cast("int"))
          val pc = col("w").substr(j + 1, i - j)
          struct(
            (bj.getField("cost") + pcost).as("cost"),
            (bj.getField("np") + lit(1)).as("np"),
            when(bj.getField("seg") === lit(""), pc)
              .otherwise(concat(bj.getField("seg"), lit(" "), pc)).as("seg"))
        }),
        cnd => cnd.getField("cost").isNotNull)))))
    val result = wmap
      .select(col("w"), col("c"),
        element_at(dp, length(col("w")) + 1).as("b"))
      // a word with NO full path (null final DP state) drops here —
      // the oracle's inner-join absence; encode's char-segmentation
      // fallback covers it downstream, identically to an unseen word
      .where(col("b").isNotNull)
      .select(col("w"), col("c"), col("b.cost").as("cost"),
        col("b.np").as("np"), col("b.seg").as("seg"))
    Dedup.CachedFrame(result, Seq.empty)
  }

  /** One hard-EM round: Viterbi-segment the dict under the current
    * cost table, then re-count pieces over the segmentations
    * (frequency-weighted). Pieces unused by every Viterbi path drop
    * out — the SentencePiece pruning analog; coverage is preserved
    * because each word's own best path survives into the next
    * round's table. */
  def emCounts(dict: DataFrame, pieceCosts: DataFrame,
               maxPieceLen: Int, maxWordLen: Int): Dedup.CachedFrame = {
    val vit = viterbiFull(dict, pieceCosts, maxPieceLen, maxWordLen)
    val cnts = vit.result
      .select(col("c"), explode(split(col("seg"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("c")).as("cnt"))
    Dedup.CachedFrame(cnts, vit.caches)
  }

  /** `rounds` hard-EM rounds from the raw corpus; returns the final
    * piece model (piece, cnt, prob6) with prob6 the 1e-6-snapped
    * relative frequency. Caches caller-owned. */
  def trainFull(docs: DataFrame, textCol: Column, rounds: Int,
                maxPieceLen: Int = 4, maxWordLen: Int = 8): Dedup.CachedFrame = {
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    val dict = boundedDict(docs, textCol, maxWordLen)
    var cnts = seedPieces(dict, maxPieceLen)
    for (_ <- 1 to rounds)
      // checkpoint per round (the Bpe.trainFull rationale): round
      // r+1's DP otherwise re-analyzes round r's whole Viterbi chain
      cnts = graft.Caches.checkpointed(
        emCounts(dict, costs(cnts), maxPieceLen, maxWordLen).result)
    val tot = cnts.agg(sum(col("cnt")).cast("double").as("_tot"))
    val model = cnts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        (floor(col("cnt").cast("double") / col("_tot") * lit(1e6) + lit(0.5))
          .cast("double") / lit(1e6)).as("prob6"))
    Dedup.CachedFrame(model, Seq.empty)
  }

  /** The per-word Viterbi segmentation under the model after
    * `rounds` EM rounds: (w, c, seg) — what the trained tokenizer
    * DOES to each word (round r's segmentation is the one that
    * produced round r's counts). */
  def segmentFull(docs: DataFrame, textCol: Column, rounds: Int,
                  maxPieceLen: Int = 4, maxWordLen: Int = 8): Dedup.CachedFrame = {
    val (dict, cnts, _) = refinedCounts(docs, textCol, rounds, maxPieceLen, maxWordLen)
    val vit = viterbiFull(dict, costs(cnts), maxPieceLen, maxWordLen)
    // checkpointed: the segmentation cache feeds several consumers
    // (encode's size-gated join, the piece vocab, decode's vocab
    // fold) — each re-analyzed the whole DP chain per action before;
    // now they plan against one LogicalRDD leaf (and encode's gate
    // sees a scan-cheap plan, skipping its own persist+count)
    Dedup.CachedFrame(graft.Caches.checkpointed(
      vit.result.select(col("w"), col("c"), col("seg"))), Seq.empty)
  }

  /** The piece-count table whose costs produce round-`rounds`'s
    * segmentation (round r segments under the counts after r-1 EM
    * re-estimations — the EM invariant [[segmentFull]] grades), plus
    * the bounded dict and the cache handles. The factored core shared
    * by [[segmentFull]] and [[exportModelIfAbsent]], so the exported
    * model and the in-plan segmentation cannot drift. */
  private def refinedCounts(docs: DataFrame, textCol: Column, rounds: Int,
                            maxPieceLen: Int, maxWordLen: Int)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    val dict = boundedDict(docs, textCol, maxWordLen)
    var cnts = seedPieces(dict, maxPieceLen)
    for (_ <- 1 until rounds)
      cnts = graft.Caches.checkpointed(
        emCounts(dict, costs(cnts), maxPieceLen, maxWordLen).result)
    (dict, cnts, Seq.empty)
  }

  /** EXPORT the unigram model as piece/count rows — the
    * SentencePiece-style text vocabulary (one `piece<TAB>count` line,
    * piece order). Counts, not float probs: [[costs]] derives the
    * integer Viterbi costs from exact LONG counts, so an
    * export→import round-trip is bit-identical where a float prob
    * would re-quantize. Model-sized driver write (the bounded-collect
    * shape); deterministic order, so re-export is byte-identical.
    * Tab/newline inside a piece cannot ride a line format — loud
    * failure, never a corrupt artifact. */
  def exportPieces(spark: org.apache.spark.sql.SparkSession,
                   pieces: DataFrame, path: String): Unit = {
    val rows = pieces.select(col("piece"), col("cnt")).orderBy(col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { case (p, _) =>
      require(!p.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"piece contains tab/newline — not representable in the TSV artifact: ${p.take(40)}") }
    Bpe.writeText(spark, path,
      rows.map { case (p, c) => s"$p\t$c" }.mkString("", "\n", "\n"))
  }

  /** One-per-corpus-fingerprint model export: the counts behind
    * round-`rounds`'s segmentation, written as the TSV artifact. */
  def exportModelIfAbsent(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                          textCol: Column, dir: String, rounds: Int,
                          fingerprint: String, maxPieceLen: Int = 4,
                          maxWordLen: Int = 8): Unit =
    Stores.oncePerFingerprint(spark, dir, s"unigramart_r$rounds", fingerprint) {
      val (_, cnts, caches) = refinedCounts(docs, textCol, rounds, maxPieceLen, maxWordLen)
      exportPieces(spark, cnts, s"$dir/unigram_pieces.tsv")
      caches.foreach(_.unpersist(false))
    }

  /** IMPORT the TSV piece/count artifact back to the (piece, cnt)
    * frame [[costs]] consumes. Model-sized driver parse. */
  def importPieces(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import spark.implicits._
    Bpe.readText(spark, path).split("\n").toSeq
      .filter(_.nonEmpty)
      .map { l =>
        val i = l.lastIndexOf('\t')
        require(i > 0, s"malformed piece line: ${l.take(40)}")
        (l.substring(0, i), l.substring(i + 1).toLong)
      }.toDF("piece", "cnt")
  }

  /** [[encodeIds]] from the EXPORTED model — the interchange
    * round-trip: import the piece counts, re-derive the integer
    * costs, Viterbi-segment the corpus dict under them, and emit ids
    * through the same [[Bpe.idsFromSeg]] path. Row-identical to
    * direct [[encodeIds]] under the chain that exported the model
    * (hash-graded); cache handles follow the segmentFull convention
    * (session-owned, cleared between queries). */
  def encodeIdsFromArtifacts(spark: org.apache.spark.sql.SparkSession,
                             docs: DataFrame, textCol: Column, idCol: Column,
                             dir: String, maxPieceLen: Int = 4, maxWordLen: Int = 8,
                             maxBroadcastRows: Long = Bpe.DefaultMaxBroadcastRows): DataFrame = {
    val pieces = importPieces(spark, s"$dir/unigram_pieces.tsv")
    val dict = boundedDict(docs, textCol, maxWordLen)
    val vit = viterbiFull(dict, costs(pieces), maxPieceLen, maxWordLen)
    // checkpointed for the same reasons as [[segmentFull]]'s result
    encodeIds(docs, textCol, idCol,
      graft.Caches.checkpointed(
        vit.result.select(col("w"), col("c"), col("seg"))), maxBroadcastRows)
  }

  /** ENCODE to token-id SEQUENCES under a trained unigram model —
    * id-surface parity with [[Bpe.encodeIds]]: one row per doc with
    * `token_ids array<int>`. `segs` is the (w, c, seg) Viterbi
    * segmentation cache from [[segmentFull]]; the vocabulary is its
    * distinct pieces densely numbered in piece order (exactly the
    * final model's pieces — round r's segmentation produces round
    * r's counts, so the sets coincide). The piece vocab is
    * model-sized (bounded by alphabet^maxPieceLen, ~30k for a real
    * SentencePiece model) — always broadcastable; the word-dict
    * segmentation cache goes through the same size-gated join as
    * BPE encode (broadcast under budget, shuffle-hash over it).
    * Same-corpus words are all in the dict by construction; unseen
    * words (serving on new docs) fall back to char segmentation
    * with out-of-model chars -> -1 = UNK, the [[Bpe]] floor. */
  def encodeIds(docs: DataFrame, textCol: Column, idCol: Column,
                segs: DataFrame,
                maxBroadcastRows: Long = Bpe.DefaultMaxBroadcastRows,
                knownSegRows: Option[Long] = None): DataFrame =
    Bpe.idsFromSeg(docs, textCol, idCol,
      segs.select(col("w"), split(col("seg"), " ").as("toks")),
      pieceVocab(segs), maxBroadcastRows, knownSegRows)

  /** The (tok, tok_id) piece vocabulary of a segmentation cache:
    * its distinct pieces densely numbered in piece order —
    * model-sized (bounded by alphabet^maxPieceLen), always
    * broadcastable; the one-partition ordering window is over that
    * bounded frame (the [[Bpe.vocab]] scale class). */
  private def pieceVocab(segs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    segs.select(explode(split(col("seg"), " ")).as("tok")).distinct()
      .withColumn("tok_id", row_number().over(Window.orderBy(col("tok"))))
  }

  /** DECODE unigram token-id sequences back to text — the
    * round-trip witness for [[encodeIds]], via the shared
    * [[Bpe.decodeWithVocab]] core (one-row vocab broadcast +
    * scan-stage transform). Unlike BPE, a unigram model always
    * covers its own corpus (single-char pieces are the coverage
    * floor), so same-corpus decode reconstructs every
    * space-stripped doc with zero UNKs — graded, not assumed. */
  def decodeIds(ids: DataFrame, segs: DataFrame): DataFrame =
    Bpe.decodeWithVocab(ids, pieceVocab(segs))

  /** Persist the round-`rounds` segmentation cache exactly ONCE per
    * corpus fingerprint (the shared [[Stores.oncePerFingerprint]]
    * marker lifecycle — the serving contract of the ANN index, dedup
    * store, BPE dict, and sketch store): the unigram tokenizer's
    * trained artifact. Training runs once per corpus version; every
    * later encode reads the word-dict-sized parquet and joins it
    * through the same size gate as BPE serving. Crash self-heal and
    * stale-marker clearing come with the lifecycle. */
  def buildModelIfAbsent(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                         textCol: Column, dir: String, rounds: Int,
                         fingerprint: String, maxPieceLen: Int = 4,
                         maxWordLen: Int = 8): Unit =
    Stores.oncePerFingerprint(spark, dir, s"unigram_r$rounds", fingerprint) {
      val segs = segmentFull(docs, textCol, rounds, maxPieceLen, maxWordLen)
      segs.result.write.mode("overwrite").parquet(s"$dir/segs")
      segs.unpersistAll()
    }

  /** [[encodeIds]] against the persisted segmentation cache — the
    * serving path. Missing/half-built stores fail loudly at plan
    * time (the parquet read refuses an absent path). */
  def encodeIdsIndexed(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                       textCol: Column, idCol: Column, dir: String,
                       maxBroadcastRows: Long = Bpe.DefaultMaxBroadcastRows): DataFrame =
    encodeIds(docs, textCol, idCol, spark.read.parquet(s"$dir/segs"), maxBroadcastRows,
      knownSegRows = Some(Bpe.parquetRowCount(spark, s"$dir/segs")))

  /** The word dict, with a LOUD bound check: the DP covers exactly
    * `maxWordLen` layers, so a longer word would silently vanish from
    * the output otherwise. The check is one dict-sized max at
    * plan-construction time (the encode-gate convention — noise next
    * to the training it guards; at a real corpus scale pre-split
    * over-long words upstream, the standard tokenizer practice). */
  private def boundedDict(docs: DataFrame, textCol: Column,
                          maxWordLen: Int): DataFrame = {
    // empty words (consecutive delimiters) drop here too: every DP
    // stage unrolls sequence(1, len(w)) which steps DOWN for len=0
    // (the seedPieces guard's rationale); encode's char-segmentation
    // fallback covers them, identically to an unseen word.
    // Checkpointed, not persisted: every EM round's seed/DP layer
    // references the dict several times, and a persist leaves the
    // full corpus-pass lineage in every downstream analyzed plan
    // (the Bpe.trainFull rationale); this also closes the old
    // unregistered-persist leak (the persist had no release owner).
    val dict = graft.Caches.checkpointed(
      Bpe.wordDict(docs, textCol).select(col("w"), col("c"))
        .where(length(col("w")) >= 1))
    val mx = dict.agg(coalesce(max(length(col("w"))), lit(0)).as("m"))
      .head.getInt(0)
    require(mx <= maxWordLen,
      s"Unigram: max word length $mx exceeds maxWordLen=$maxWordLen")
    dict
  }
}
