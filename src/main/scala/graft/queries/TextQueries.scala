package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.text
import graft.ops.Dedup

/** LLM-training-data text surface: exact dedup, token/quality stats,
  * language id, MinHash signatures -> LSH banding -> candidate pairs,
  * SimHash + Hamming, exact shingle Jaccard — on `documents`.
  *
  * Every hash is md5 and every tokenizer a plain split, so each
  * pipeline stage has an exact DuckDB oracle. Scale shape: signature
  * work is per-document (no shuffle); only band-key equi-joins
  * shuffle, confining pair generation to same-bucket candidates.
  */
object TextQueries {

  private val Seeds = 4
  private val Bands = 4 // rows-per-band = 1: max recall variant
  // store-bucket density cap for the persisted-dedup probe queries —
  // deliberately BELOW the max band-bucket membership at both graded
  // SFs (sf0.01 corpus buckets reach 5 docs, sf0.1 reaches 20), so
  // the driver gate exercises the capped gather + the oracle's
  // row_number() <= cap mirror, not just the pass-through arm
  private val DeltaProbeCap = 4

  // chunking / packing parameters (t_chunk_split, t_pack_sequences)
  private val ChunkSize = 500 // chars per chunk
  private val ChunkStride = 400 // 100-char overlap between neighbors
  private[queries] val PackBudget = 1024 // tokens per training pack
  // BFD grading knobs (t_pack_ids_bfd, t_pack_bfd_rows): the slice
  // bounds the oracle's GLOBAL-BFD recursion depth at every SF; the
  // caps sit deliberately BELOW the graded shard sizes (sf0.01 shards
  // reach 16 docs, sf0.1 reaches 112) so the bounded-state sub-shard
  // path is what the driver gate actually exercises
  private val BfdSliceRank = 48 // docs per shard in the metrics slice
  private val BfdDemoCap = 8 // capped-BFD arm inside the slice
  private val BfdRowsCap = 16 // full-corpus content row's shardCap
  private val WSampleK = 20 // weighted-sample draw size (non-trivial at sf0.001's 50 docs)

  // ---- shared oracle SQL fragments ----

  private[queries] val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** DuckDB twin of text.qualityScore (shared by t_quality_score and
    * t_curriculum — one definition, two graded uses). */
  private[queries] val qualitySql =
    """((least(CAST(length(text) AS DOUBLE) / 500e0, 1e0) * 0.4e0)
      |   + (least((CAST(len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','of','and','in','to','is','on','for','with'], x))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 5e0, 1e0) * 0.4e0))
      |  + ((CASE WHEN (CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
      |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 3e0
      |        AND (CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
      |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) <= 10e0
      |      THEN 1e0 ELSE 0e0 END) * 0.2e0)""".stripMargin

  /** toks + 3-shingle list + minhash signature CTE chain over any
    * source relation (mirrors text.shingles + Dedup.minhashSignature)
    * — ONE definition; every oracle that replays the signature scheme
    * interpolates this, so a slice-scheme change cannot desynchronize
    * a composed oracle from the graded primitive. No WITH prefix:
    * callers splice it into their own chains. */
  private def sigCtes(from: String, sfx: String = ""): String = {
    // component s = min over the s-th 8-hex-char slice of ONE md5 per
    // shingle (mirrors Dedup.minhashSignature's slice scheme).
    // `sfx` suffixes every CTE name so two instances (e.g. corpus +
    // delta in d_delta_index_keep) can coexist in one WITH chain.
    val mins = (0 until Seeds).map(s =>
      s"list_min(list_transform(hxl, h -> substring(h, ${8 * s + 1}, 8))) AS m_$s").mkString(",\n    ")
    s"""toks$sfx AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $from),
       |sh$sfx AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN NULL
       |         ELSE list_transform(range(0, len(tk) - 2),
       |                i -> concat_ws(' ', tk[i+1], tk[i+2], tk[i+3])) END AS shl
       |       FROM toks$sfx),
       |hx$sfx AS (SELECT doc_id, list_transform(shl, x -> md5(x)) AS hxl FROM sh$sfx),
       |sig$sfx AS (SELECT doc_id,
       |    $mins
       |  FROM hx$sfx),
       |b$sfx AS (SELECT * FROM sig$sfx WHERE m_0 IS NOT NULL)""".stripMargin
  }
  private val sigCte = "WITH " + sigCtes("documents")

  /** The fixed BM25 query-term set shared by t_bm25_topk and the
    * hybrid fusion (mid-frequency corpus words, so idf discriminates). */
  private[queries] val Bm25Terms = Seq("window", "merge", "hash")

  /** DuckDB twin of [[graft.ops.Retrieval.bm25Scores]] over `from`
    * (ends in `bm25` = (id, score)): identical expression shapes —
    * qlong'd per-term idf, fixed association order, per-term scores
    * quantized to 1e-6 then BIGINT-summed per doc — so the graded
    * hash pins the scoring arithmetic end to end. No WITH prefix. */
  private[queries] def bm25Ctes(from: String): String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""bdl AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $from),
       |bst AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
       |          CAST(sum(len(tk)) AS DOUBLE) AS sumdl FROM bdl),
       |bh AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS t
       |       FROM bdl),
       |bhq AS (SELECT * FROM bh WHERE t IN ($terms)),
       |btf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf,
       |          any_value(dl) AS dl FROM bhq GROUP BY doc_id, t),
       |bidf AS (SELECT t, ${qlongSql(
           "ln(1e0 + (nd - df + 0.5e0) / (df + 0.5e0))", "1000000")} AS idf_q
       |         FROM (SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |               FROM bhq GROUP BY t), bst),
       |bper AS (SELECT btf.doc_id, ${qlongSql(
           "(bidf.idf_q / 1e6) * (btf.tf * 2.2e0) " +
           "/ (btf.tf + 1.2e0 * (0.25e0 + 0.75e0 * btf.dl * bst.nd / bst.sumdl))",
           "1000000")} AS s_q
       |        FROM btf JOIN bidf ON bidf.t = btf.t, bst),
       |bm25 AS (SELECT doc_id AS id, CAST(sum(s_q) AS DOUBLE) / 1e6 AS score
       |         FROM bper GROUP BY doc_id)""".stripMargin
  }

  /** 5-gram list over a token-list column `tk` (the decontam shingle
    * form) — shared by every oracle that explodes 5-grams. */
  /** DuckDB twin of the chained [[graft.ops.Bpe]] merge iterations:
    * d0 = the word-frequency dict with spaced-char seqs, then per
    * iteration t: adjacent pairs with positions (sy/pr), the weighted
    * best pair (count DESC, pair ASC — the same total order), greedy
    * run-parity merge positions (mt/mp: even offsets within each
    * consecutive-match run), and the rebuilt dict (tk/d{t}). Ends in
    * the union of the per-iteration best rows — the merge table. */
  private def bpeSql(iters: Int): String =
    bpeCtes(iters) + "\nSELECT * FROM (" + (1 to iters)
      .map(t => s"SELECT CAST($t AS BIGINT) AS it, pair, cnt FROM best$t")
      .mkString(" UNION ALL ") + ")"

  /** The WITH-body alone (d0 .. d{iters}) — shared by the training
    * oracle above, the encode oracles, and the tokenize flagship
    * (which trains on a SCRUBBED corpus: `prelude` supplies leading
    * CTEs and `srcRel` names the relation d0 counts words from). */
  private[queries] def bpeCtes(iters: Int, srcRel: String = "documents",
                               prelude: String = ""): String = {
    val sb = new StringBuilder(
      s"""WITH $prelude d0 AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c,
        |         trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $srcRel)
        |  GROUP BY w)""".stripMargin)
    for (t <- 1 to iters) {
      val p = t - 1
      sb ++=
        s""",
           |sy$t AS (SELECT w, c, a, unnest(range(0, len(a))) AS i
           |        FROM (SELECT w, c, string_split(seq, ' ') AS a FROM d$p)),
           |pr$t AS (SELECT w, c, i, a[i+1] || ' ' || a[i+2] AS pair
           |        FROM sy$t WHERE i < len(a) - 1),
           |best$t AS (SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM pr$t
           |          GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1),
           |mt$t AS (SELECT w, i FROM pr$t, best$t WHERE pr$t.pair = best$t.pair),
           |mp$t AS (SELECT w, i FROM (
           |          SELECT w, i, row_number() OVER (PARTITION BY w, rid ORDER BY i) AS rn
           |          FROM (SELECT w, i,
           |                  i - row_number() OVER (PARTITION BY w ORDER BY i) AS rid
           |                FROM mt$t)) WHERE rn % 2 = 1),
           |tk$t AS (SELECT s.w, s.c, s.i,
           |          CASE WHEN mp.i IS NOT NULL THEN s.a[s.i+1] || s.a[s.i+2]
           |               ELSE s.a[s.i+1] END AS tok,
           |          CASE WHEN mpprev.i IS NOT NULL THEN 0 ELSE 1 END AS keep
           |        FROM sy$t s
           |        LEFT JOIN mp$t mp ON mp.w = s.w AND mp.i = s.i
           |        LEFT JOIN mp$t mpprev ON mpprev.w = s.w AND mpprev.i = s.i - 1),
           |d$t AS (SELECT w, any_value(c) AS c, string_agg(tok, ' ' ORDER BY i) AS seq
           |       FROM tk$t WHERE keep = 1 GROUP BY w)""".stripMargin
    }
    sb.toString
  }

  /** The id-emission chain over d{iters} (no WITH prefix — splice
    * after [[bpeCtes]]): voc = dense tok→id numbering of the final
    * segmentation symbols, tkq = one row per (doc, word pos, symbol
    * pos) with its symbol string. Shared by t_bpe_encode_ids (ordered
    * list_agg of ids), t_bpe_decode (ordered string_agg of symbols),
    * and t_pack_ids (flatten of per-doc id lists) — one definition,
    * so a numbering or fallback change cannot desynchronize the
    * graded id surface. */
  private[queries] def idsCtes(iters: Int, srcRel: String = "documents"): String =
    s"""voc AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS INTEGER) AS tok_id
       |        FROM (SELECT DISTINCT unnest(string_split(seq, ' ')) AS tok FROM d$iters)),
       |wrd AS (SELECT doc_id, wpos, tk[wpos+1] AS w
       |        FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS wpos
       |              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM $srcRel))),
       |sg AS (SELECT wrd.doc_id, wrd.wpos,
       |         coalesce(string_split(d$iters.seq, ' '), string_split(wrd.w, '')) AS a
       |        FROM wrd LEFT JOIN d$iters ON d$iters.w = wrd.w),
       |tkq AS (SELECT doc_id, wpos, tpos, a[tpos+1] AS tok
       |        FROM (SELECT doc_id, wpos, a, unnest(range(0, len(a))) AS tpos FROM sg))""".stripMargin

  /** GRADED surface for token-id columns: the driver's pandas oracle
    * harness cannot sort `array<int>` cells (unhashable ndarray), so
    * every graded id query projects `token_ids` to its space-joined
    * string form — the w1_sequence_vector convention. The library
    * APIs ([[graft.ops.Bpe.encodeIds]], [[graft.ops.Bpe.packIds]],
    * [[graft.ops.Unigram.encodeIds]]) keep returning real arrays for
    * callers; only the registry projection stringifies. Oracle twins
    * use string_agg / array_to_string with the same ordering. */
  private[queries] def idsAsString(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("token_ids", concat_ws(" ", col("token_ids").cast("array<string>")))

  /** The BPE id-emission oracle shared by t_bpe_encode_ids and
    * t_bpe_export_roundtrip (artifact round-trip == direct encode by
    * contract, so one SQL twin grades both): dense voc numbering over
    * the final dict's symbols, ordered string_agg of ids (the graded
    * string surface — see [[idsAsString]]). */
  private def bpeIdsSql(iters: Int): String =
    s"""${bpeCtes(iters)},
       |${idsCtes(iters)}
       |SELECT doc_id,
       |  string_agg(CAST(coalesce(voc.tok_id, -1) AS VARCHAR), ' ' ORDER BY wpos, tpos)
       |    AS token_ids
       |FROM tkq LEFT JOIN voc ON voc.tok = tkq.tok
       |GROUP BY doc_id""".stripMargin

  /** The hand-written FOREIGN tokenizer fixture (t_bpe_foreign_vocab):
    * a 3-merge chain that composes ('a n' → 's c' → 'sc an', so
    * 'scan' collapses only if the order is honored) and a vocab with
    * NON-dense, non-symbol-ordered ids; 'y' is deliberately absent so
    * UNK (-1) grades too. */
  private val ForeignMerges = Seq("a n", "s c", "sc an")
  private val ForeignVocab: Seq[(String, Int)] = Seq(
    "a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4, "e" -> 5, "f" -> 6, "g" -> 8,
    "h" -> 9, "i" -> 10, "j" -> 11, "k" -> 12, "l" -> 13, "m" -> 14,
    "n" -> 15, "o" -> 16, "p" -> 17, "q" -> 18, "r" -> 19, "s" -> 20,
    "t" -> 21, "u" -> 22, "v" -> 23, "w" -> 24, "x" -> 25, "z" -> 27,
    "an" -> 7, "sc" -> 42, "scan" -> 100)
  private[graft] val ForeignMergesTxt: String =
    ("#version: 0.2" +: ForeignMerges).mkString("", "\n", "\n")
  private[graft] val ForeignVocabJson: String =
    ForeignVocab.map { case (t, i) => s""""$t": $i""" }.mkString("{", ", ", "}\n")

  /** The bpeCtes APPLY machinery with a FIXED pair per iteration
    * instead of the learned argmax — the oracle twin of
    * [[graft.ops.Bpe.segmentWithMerges]]'s replay. */
  private def applyPairCtes(pairs: Seq[String]): String = {
    val sb = new StringBuilder(
      s"""WITH d0 AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c,
         |         trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w)""".stripMargin)
    for ((pr, idx) <- pairs.zipWithIndex) {
      val t = idx + 1
      sb ++=
        s""",
           |sy$t AS (SELECT w, c, a, unnest(range(0, len(a))) AS i
           |        FROM (SELECT w, c, string_split(seq, ' ') AS a FROM d$idx)),
           |mt$t AS (SELECT w, i FROM sy$t
           |        WHERE i < len(a) - 1 AND a[i+1] || ' ' || a[i+2] = '$pr'),
           |mp$t AS (SELECT w, i FROM (
           |          SELECT w, i, row_number() OVER (PARTITION BY w, rid ORDER BY i) AS rn
           |          FROM (SELECT w, i,
           |                  i - row_number() OVER (PARTITION BY w ORDER BY i) AS rid
           |                FROM mt$t)) WHERE rn % 2 = 1),
           |tk$t AS (SELECT s.w, s.c, s.i,
           |          CASE WHEN mp.i IS NOT NULL THEN s.a[s.i+1] || s.a[s.i+2]
           |               ELSE s.a[s.i+1] END AS tok,
           |          CASE WHEN mpprev.i IS NOT NULL THEN 0 ELSE 1 END AS keep
           |        FROM sy$t s
           |        LEFT JOIN mp$t mp ON mp.w = s.w AND mp.i = s.i
           |        LEFT JOIN mp$t mpprev ON mpprev.w = s.w AND mpprev.i = s.i - 1),
           |d$t AS (SELECT w, any_value(c) AS c, string_agg(tok, ' ' ORDER BY i) AS seq
           |       FROM tk$t WHERE keep = 1 GROUP BY w)""".stripMargin
    }
    sb.toString
  }

  private def foreignVocabSql: String = {
    val n = ForeignMerges.length
    val vocVals = ForeignVocab.map { case (t, i) => s"('$t', $i)" }.mkString(", ")
    s"""${applyPairCtes(ForeignMerges)},
       |voc AS (SELECT tok, CAST(tok_id AS INTEGER) AS tok_id
       |        FROM (VALUES $vocVals) v(tok, tok_id)),
       |wrd AS (SELECT doc_id, wpos, tk[wpos+1] AS w
       |        FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS wpos
       |              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))),
       |sg AS (SELECT wrd.doc_id, wrd.wpos,
       |         coalesce(string_split(d$n.seq, ' '), string_split(wrd.w, '')) AS a
       |        FROM wrd LEFT JOIN d$n ON d$n.w = wrd.w),
       |tkq AS (SELECT doc_id, wpos, tpos, a[tpos+1] AS tok
       |        FROM (SELECT doc_id, wpos, a, unnest(range(0, len(a))) AS tpos FROM sg))
       |SELECT doc_id,
       |  string_agg(CAST(coalesce(voc.tok_id, -1) AS VARCHAR), ' ' ORDER BY wpos, tpos)
       |    AS token_ids
       |FROM tkq LEFT JOIN voc ON voc.tok = tkq.tok
       |GROUP BY doc_id""".stripMargin
  }

  /** The hand-written FOREIGN unigram model (t_unigram_foreign_vocab):
    * full a-z single-char coverage (the SentencePiece floor) plus
    * multi-char pieces with high counts, so the Viterbi genuinely
    * prefers them ('scan' must segment as the one piece, not chars).
    * Pieces <= 4 chars — the engine's maxPieceLen default. */
  private val ForeignPieces: Seq[(String, Long)] =
    ('a' to 'z').map(c => c.toString -> 1L) ++ Seq(
      "scan" -> 500L, "an" -> 300L, "in" -> 300L, "er" -> 250L,
      "ta" -> 200L, "me" -> 200L, "rge" -> 150L, "jo" -> 120L,
      "or" -> 120L, "der" -> 100L)
  private[graft] val ForeignPiecesTsv: String =
    ForeignPieces.sortBy(_._1).map { case (p, c) => s"$p\t$c" }
      .mkString("", "\n", "\n")

  private def foreignUnigramSql: String = {
    val vals = ForeignPieces.sortBy(_._1)
      .map { case (p, c) => s"('$p', CAST($c AS BIGINT))" }.mkString(", ")
    s"""WITH ud AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
       |un0 AS MATERIALIZED (SELECT * FROM (VALUES $vals) v(piece, cnt))
       |${unigramDpCtes(1)},
       |uvoc AS (SELECT piece AS tok, CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS tok_id
       |         FROM (SELECT DISTINCT unnest(string_split(seg, ' ')) AS piece FROM uv1)),
       |uwrd AS (SELECT doc_id, wpos, tk[wpos+1] AS w
       |         FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS wpos
       |               FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))),
       |usg AS (SELECT uwrd.doc_id, uwrd.wpos,
       |          coalesce(string_split(uv1.seg, ' '), string_split(uwrd.w, '')) AS a
       |        FROM uwrd LEFT JOIN uv1 ON uv1.w = uwrd.w),
       |utk AS (SELECT doc_id, wpos, tpos, a[tpos+1] AS tok
       |        FROM (SELECT doc_id, wpos, a, unnest(range(0, len(a))) AS tpos FROM usg))
       |SELECT doc_id,
       |  string_agg(CAST(coalesce(uvoc.tok_id, -1) AS VARCHAR), ' ' ORDER BY wpos, tpos)
       |    AS token_ids
       |FROM utk LEFT JOIN uvoc ON uvoc.tok = utk.tok
       |GROUP BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Logistic.train]]: feature CTE (the
    * [[qualitySql]] components as x, the 0.6-thresholded score as y),
    * then per GD step an unrolled (gradient-sums, new-weights,
    * accuracy) CTE triple replaying the same snapped arithmetic —
    * integer 1e-6 gradient sums, 1e-6-snapped sigmoid and weights. */
  /** Snapped sigmoid under the weight row of CTE `wRel` — the SQL
    * twin of Logistic.sigma, shared by the trajectory and filter
    * oracles. */
  private[queries] def logitSigSql(wRel: String): String = {
    val dot = qroundSql(
      (1 to 4).map(j => s"x[$j] * $wRel.w[$j]").mkString(" + "), 6)
    qroundSql(s"1e0 / (1e0 + exp(-($dot)))", 6)
  }

  private[queries] def logitBody(steps: Int, lr: String = "2e0",
                                 srcRel: String = "documents"): String = {
    val x1 = "least(CAST(length(text) AS DOUBLE) / 500e0, 1e0)"
    val x2 = "least((CAST(len(list_filter(string_split(text, ' '), " +
      "x -> list_contains(['the','a','of','and','in','to','is','on','for','with'], x))) AS DOUBLE)" +
      " / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 5e0, 1e0)"
    val tl = "(CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)" +
      " / CAST(len(string_split(text, ' ')) AS DOUBLE))"
    val x3 = s"CASE WHEN $tl >= 3e0 AND $tl <= 10e0 THEN 1e0 ELSE 0e0 END"
    def sig(wRel: String): String = logitSigSql(wRel)
    // MATERIALIZED: DuckDB inlines plain CTEs per reference, and feat
    // is referenced by every g_t gradient AND a_t accuracy step — 12+
    // re-evaluations of the regex-heavy feature scan (measured 13 s
    // at sf0.1; ~1 s materialized). Semantics identical.
    val sb = new StringBuilder(
      s"""feat AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN ($qualitySql) >= 0.6e0 THEN 1e0 ELSE 0e0 END AS y,
         |    [1e0, $x1, $x2, $x3] AS x FROM $srcRel),
         |w0 AS (SELECT [0e0, 0e0, 0e0, 0e0] AS w)""".stripMargin)
    for (t <- 1 to steps) {
      val p = t - 1
      val gsums = (0 until 4).map(j =>
        s"CAST(sum(${qlongSql(s"(y - ${sig(s"w$p")}) * x[${j + 1}]", "1000000")}) AS BIGINT) AS g$j")
        .mkString(",\n         ")
      val wnew = (0 until 4).map(j =>
        qroundSql(s"w$p.w[${j + 1}] + $lr * CAST(g$j AS DOUBLE) / (1000000e0 * CAST(n AS DOUBLE))", 6))
        .mkString(",\n         ")
      sb ++=
        s""",
           |g$t AS (SELECT $gsums,
           |         CAST(count(*) AS BIGINT) AS n FROM feat, w$p),
           |w$t AS (SELECT [$wnew] AS w FROM g$t, w$p),
           |a$t AS (SELECT ${qroundSql(s"avg(CASE WHEN (${sig(s"w$t")} >= 0.5e0) = (y = 1e0) THEN 1e0 ELSE 0e0 END)", 6)} AS acc
           |       FROM feat, w$t)""".stripMargin
    }
    sb.toString
  }

  /** The unigram id-emission oracle shared by t_unigram_encode_ids
    * and t_unigram_encode_indexed (persisted == in-plan by
    * construction, so one SQL twin grades both): vocab = un2's
    * pieces densely numbered, per-doc word/piece posexplodes joined
    * to uv2's segmentations, ordered list_agg of ids. */
  private def unigramIdsCtes: String =
    s"""${unigramCtes(2)},
       |uvoc AS (SELECT piece AS tok, CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS tok_id
       |         FROM un2),
       |uwrd AS (SELECT doc_id, wpos, tk[wpos+1] AS w
       |         FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS wpos
       |               FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))),
       |usg AS (SELECT uwrd.doc_id, uwrd.wpos,
       |          coalesce(string_split(uv2.seg, ' '), string_split(uwrd.w, '')) AS a
       |        FROM uwrd LEFT JOIN uv2 ON uv2.w = uwrd.w),
       |utk AS (SELECT doc_id, wpos, tpos, a[tpos+1] AS tok
       |        FROM (SELECT doc_id, wpos, a, unnest(range(0, len(a))) AS tpos FROM usg))""".stripMargin

  private def unigramIdsSql: String =
    s"""$unigramIdsCtes
       |SELECT doc_id,
       |  string_agg(CAST(coalesce(uvoc.tok_id, -1) AS VARCHAR), ' ' ORDER BY wpos, tpos)
       |    AS token_ids
       |FROM utk LEFT JOIN uvoc ON uvoc.tok = utk.tok
       |GROUP BY doc_id""".stripMargin

  private[queries] def logitCtes(steps: Int, lr: String = "2e0"): String =
    "WITH " + logitBody(steps, lr)

  /** The distillation feature frame shared by t_quality_classifier
    * and t_quality_filter: label = the 0.6-thresholded heuristic
    * quality rule, x = (bias, capped length, capped stopword ratio,
    * mean-token-length band) — the rule's own components. */
  // private[graft] (not [queries]): TextPipelineSpec pins this exact
  // column set compiling under CODEGEN_ONLY
  private[graft] def qualityXs: Seq[org.apache.spark.sql.Column] =
    Seq(lit(1.0),
      least(length(col("text")).cast("double") / lit(500.0), lit(1.0)),
      least(text.stopwordRatio(col("text")) * lit(5.0), lit(1.0)),
      when(text.meanTokenLen(col("text")).between(3.0, 10.0), lit(1.0))
        .otherwise(lit(0.0)))

  private[queries] def qualityX: org.apache.spark.sql.Column =
    array(qualityXs: _*)

  private[queries] def qualityFeat(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      when(text.qualityScore(col("text")) >= 0.6, 1.0).otherwise(0.0).as("y"),
      qualityX.as("x"))

  private def logitSql(steps: Int, lr: String = "2e0"): String =
    logitCtes(steps, lr) + "\nSELECT * FROM (" + (1 to steps).map(t =>
      s"SELECT CAST($t AS BIGINT) AS step, w[1] AS w0, w[2] AS w1, w[3] AS w2, w[4] AS w3, acc FROM w$t, a$t")
      .mkString(" UNION ALL ") + ")"

  /** DuckDB twin of [[graft.ops.Unigram]]: word dict (ud) -> seed
    * substring pieces (un0) -> integer -ln(p) costs (uc{r}) -> a
    * `maxWord`-layer UNROLLED Viterbi DP per round (r{r}b0..b{maxWord}
    * — the bounded-length DP CTE convention: layer i extends layers
    * i-maxPiece..i-1 with the piece w[j+1..i], argmin by the same
    * (cost, np, seg) total order as Spark's min(struct)) -> per-round
    * Viterbi segmentations (uv{r}) and re-counts (un{r}). */
  private def unigramCtes(rounds: Int, maxPiece: Int = 4, maxWord: Int = 8): String = {
    val sb = new StringBuilder(
      """WITH ud AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
        |us1 AS MATERIALIZED (SELECT c, w, unnest(range(1, length(w)+1)) AS st FROM ud),""".stripMargin)
    sb ++= s"""
      |us2 AS MATERIALIZED (SELECT c, w, st,
      |        unnest(range(1, least($maxPiece, length(w)-st+1)+1)) AS ln FROM us1),
      |un0 AS MATERIALIZED (SELECT substring(w, st, ln) AS piece, CAST(sum(c) AS BIGINT) AS cnt
      |        FROM us2 GROUP BY 1)""".stripMargin
    for (r <- 1 to rounds) sb ++= unigramDpCtes(r, maxPiece, maxWord)
    sb.toString
  }

  /** One Viterbi DP round over `ud` under model `un{r-1}` — the
    * layered bounded-length unrolling (factored so a FOREIGN literal
    * piece table can drive the same DP in t_unigram_foreign_vocab).
    * Emits `uc{r-1}` (costs), `r{r}b0..maxWord` (DP layers), `uv{r}`
    * (segmentations), `un{r}` (re-estimated counts); starts with a
    * comma — splice after the model CTE. */
  private def unigramDpCtes(r: Int, maxPiece: Int = 4, maxWord: Int = 8): String = {
    val sb = new StringBuilder
    sb ++= s""",
      |uc${r - 1} AS MATERIALIZED (SELECT piece, CAST(floor(-ln(CAST(cnt AS DOUBLE) /
      |    (SELECT CAST(sum(cnt) AS DOUBLE) FROM un${r - 1})) * 1000000 + 0.5e0) AS BIGINT) AS cost
      |  FROM un${r - 1}),
      |r${r}b0 AS MATERIALIZED (SELECT w, c, CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS seg FROM ud)""".stripMargin
    for (i <- 1 to maxWord) {
      val branches = (math.max(0, i - maxPiece) until i).map { j =>
        s"SELECT w, c, cost, np, seg, substring(w, ${j + 1}, ${i - j}) AS pc " +
          s"FROM r${r}b$j WHERE length(w) >= $i"
      }.mkString("\n          UNION ALL ")
      sb ++= s""",
        |r${r}b$i AS MATERIALIZED (SELECT w, c, cost, np, seg FROM (
        |    SELECT w, c, cost, np, seg,
        |           row_number() OVER (PARTITION BY w ORDER BY cost, np, seg) AS rn
        |    FROM (SELECT b.w, b.c, b.cost + p.cost AS cost, b.np + 1 AS np,
        |            CASE WHEN b.seg = '' THEN b.pc ELSE b.seg || ' ' || b.pc END AS seg
        |          FROM (
        |          ${branches}) b
        |          JOIN uc${r - 1} p ON p.piece = b.pc))
        |  WHERE rn = 1)""".stripMargin
    }
    val vitUnion = (1 to maxWord)
      .map(i => s"SELECT w, c, seg FROM r${r}b$i WHERE length(w) = $i")
      .mkString("\n  UNION ALL ")
    sb ++= s""",
      |uv$r AS MATERIALIZED ($vitUnion),
      |un$r AS MATERIALIZED (SELECT piece, CAST(sum(c) AS BIGINT) AS cnt
      |  FROM (SELECT c, unnest(string_split(seg, ' ')) AS piece FROM uv$r) GROUP BY 1)""".stripMargin
    sb.toString
  }

  private val gram5 =
    "list_transform(range(0, len(tk) - 4),\n" +
    "         i -> concat_ws(' ', tk[i+1], tk[i+2], tk[i+3], tk[i+4], tk[i+5]))"

  /** Exact shingle-set Jaccard CTE chain over candidate `pairs` and
    * the signature chain's `sh` (shd/cnt/inter) — shared by
    * d_jaccard_pairs and d_rescored_keep. */
  private val jaccardCtes =
    """shd AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM sh),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      |          FROM pairs p
      |          JOIN shd x ON x.doc_id = p.doc_a
      |          JOIN shd y ON y.doc_id = p.doc_b AND y.s = x.s
      |          GROUP BY p.doc_a, p.doc_b)""".stripMargin

  /** Banded candidate pairs (b=4, r=1) with signature-agreement count. */
  private val pairsSql = {
    val nm = (0 until Seeds).map(i =>
      s"(CASE WHEN a.m_$i = c.m_$i THEN 1 ELSE 0 END)").mkString(" + ")
    val branches = (0 until Bands).map(bn =>
      s"""SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, CAST($nm AS DOUBLE) AS n_match
         |FROM b a JOIN b c ON md5(a.m_$bn) = md5(c.m_$bn) AND a.doc_id < c.doc_id""".stripMargin)
    branches.mkString("\nUNION\n")
  }

  /** [[pairsSql]] with the bucket-density cap mirrored: per band,
    * only buckets holding <= `cap` docs produce candidates (the
    * Spark side's lshCandidatePairs maxBucket — the ScrubMaxBucket
    * doctrine; the cap is per (band, key), so a doc over-dense in
    * one band can still pair through another). */
  private def cappedPairsSql(cap: Int): String = {
    val nm = (0 until Seeds).map(i =>
      s"(CASE WHEN a.m_$i = c.m_$i THEN 1 ELSE 0 END)").mkString(" + ")
    val branches = (0 until Bands).map(bn =>
      s"""SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, CAST($nm AS DOUBLE) AS n_match
         |FROM b a JOIN b c ON md5(a.m_$bn) = md5(c.m_$bn) AND a.doc_id < c.doc_id
         |WHERE a.m_$bn IN (SELECT m_$bn FROM b GROUP BY m_$bn HAVING count(*) <= $cap)""".stripMargin)
    branches.mkString("\nUNION\n")
  }

  val all: Seq[Q] = Seq(

    // exact dedup groups by normalized fingerprint
    Q("t_exact_dedup",
      (s, d) => Dedup.exactDupGroups(T(s, d, "documents"), col("text"), col("doc_id")),
      Some(s"""SELECT CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fingerprint,
              |  count(*) AS n_docs, min(doc_id) AS first_doc
              |FROM (SELECT doc_id, text, $normSql AS norm FROM documents)
              |GROUP BY 1""".stripMargin)),

    // token counting + quality signals (exact integer ratios)
    Q("t_token_stats",
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        text.nTokens(col("text")).as("n_tokens"),
        text.meanTokenLen(col("text")).as("mean_tok_len"),
        text.stopwordRatio(col("text")).as("stopword_ratio")),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
             |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len,
             |  CAST(len(list_filter(string_split(text, ' '),
             |      x -> list_contains(['the','a','of','and','in','to','is','on','for','with'], x))) AS DOUBLE)
             |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
             |FROM documents""".stripMargin)),

    // blended quality score (Gopher-style heuristic)
    Q("t_quality_score",
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        text.qualityScore(col("text")).as("quality")),
      Some(s"""SELECT doc_id, $qualitySql AS quality
              |FROM documents""".stripMargin)),

    // curriculum sharding: quality deciles WITHIN each source shard —
    // ntile over a (source)-keyed window, so the sort is per-shard
    // (one hash exchange + within-partition sort), never a global
    // range sort; doc_id tie-break makes the decile assignment
    // deterministic on both engines (same IEEE quality doubles, same
    // SQL-standard ntile remainder distribution).
    // LEAKAGE-FREE train/val split — the assignment step between
    // curation and training: hashing the DOC id would let two exact
    // duplicates straddle the split (the val set then "contains" the
    // training data — the test-set-leakage failure decontamination
    // exists to prevent, now at split granularity), so the split key
    // is the content FINGERPRINT: every exact-dup group lands whole
    // on one side, deterministically (seeded md5, first hex digit
    // 0-3 → val ≈ 25%). Near-dup leakage is the scrub pipeline's job
    // BEFORE the split (pipe_scrub_e2e order); this grades the
    // co-assignment invariant itself — straddling_fps is computed
    // from the data and must be 0. Scale shape: the split is a
    // scan-stage hash; the audit aggregates are one (split, fp)
    // exchange + a two-group fold.
    Q("t_split_leakfree",
      (s, d) => {
        val per = T(s, d, "documents")
          .select(col("doc_id"), text.fingerprint(col("text")).as("fp"))
          .withColumn("split",
            when(substring(md5(concat(lit("split42:"), col("fp"))), 1, 1)
              .isin("0", "1", "2", "3"), lit("val")).otherwise(lit("train")))
        val straddle = per.groupBy(col("fp"))
          .agg(countDistinct(col("split")).as("ns"))
          .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("straddling_fps"))
        per.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_fps"))
          .crossJoin(broadcast(straddle))
      },
      Some(s"""WITH per AS (
              |  SELECT doc_id,
              |    CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
              |  FROM (SELECT doc_id, text, $normSql AS norm FROM documents)),
              |sp AS (SELECT doc_id, fp,
              |         CASE WHEN substring(md5('split42:' || fp), 1, 1) IN ('0','1','2','3')
              |              THEN 'val' ELSE 'train' END AS split
              |       FROM per),
              |str AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
              |          AS straddling_fps
              |        FROM (SELECT fp, count(DISTINCT split) AS ns FROM sp GROUP BY fp))
              |SELECT split, count(*) AS n_docs,
              |  CAST(count(DISTINCT fp) AS BIGINT) AS n_fps, straddling_fps
              |FROM sp, str GROUP BY split, straddling_fps""".stripMargin)),

    Q("t_curriculum",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id").asc)
        T(s, d, "documents")
          .select(col("doc_id"), col("source"),
            text.qualityScore(col("text")).as("quality"))
          .withColumn("decile", ntile(10).over(w))
      },
      Some(s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality FROM documents)
              |SELECT doc_id, source, quality,
              |  CAST(ntile(10) OVER (PARTITION BY source
              |                       ORDER BY quality DESC, doc_id) AS INT) AS decile
              |FROM q""".stripMargin)),

    // curriculum sharding, the 100 TB plan: t_curriculum's exact
    // per-shard ntile sort caps parallelism at the source count (a
    // near-global sort when sources are few) — here the deciles come
    // from per-source approx_percentile boundary sketches (GK,
    // accuracy 2000; ONE partial-aggregable pass, no sort anywhere),
    // broadcast back as a source-keyed dim, and each doc buckets by
    // comparing its quality against the 9 boundaries. Sketch contract
    // as g_approx_quantile: boundary VALUES stay out of the hash; the
    // graded row carries the exact per-source doc count plus two
    // booleans — `within_bound` checks every boundary against GK's
    // RANK guarantee in tie-robust form (frac_lt - eps <= d/10 <=
    // frac_le + eps, eps 2% >> the 0.05% sketch bound so duplicate
    // quality values straddling a cut can't flake), and
    // `bucket_monotone` checks the assignment itself: buckets are
    // quality-RANGE partitions, so min(quality) of decile k must
    // strictly exceed max(quality) of every worse decile — exact by
    // construction when bucketing is right, regardless of where the
    // approx boundaries landed. ApproxSpec pins occupancy numerically.
    Q("t_curriculum_scale",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T(s, d, "documents")
          .select(col("doc_id"), col("source"),
            text.qualityScore(col("text")).as("quality"))
        val bounds = docs.groupBy(col("source")).agg(
          expr("approx_percentile(quality, " +
            "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D), 2000)").as("_bnd"))
        // decile 1 = best: quality above all 9 ascending boundaries
        val bucketed = docs.join(broadcast(bounds), Seq("source"))
          .withColumn("_decile", expr("10 - size(filter(_bnd, b -> quality > b))"))
        val leSums = (1 to 9).map(i => sum(when(
          col("quality") <= element_at(col("_bnd"), i), 1L).otherwise(0L)).as(s"_le_$i"))
        val ltSums = (1 to 9).map(i => sum(when(
          col("quality") < element_at(col("_bnd"), i), 1L).otherwise(0L)).as(s"_lt_$i"))
        // ONE pass over the joined corpus: per-(source, decile)
        // partials of EVERYTHING the grading needs — count, range
        // min/max AND the 18 boundary-rank sums — so qualityScore
        // runs once for the sketch and once here, not once per
        // grading branch (three corpus passes measured ~2x slower
        // at the 10x corpus)
        val perDec = bucketed.groupBy(col("source"), col("_decile"))
          .agg(count(lit(1)).as("_n"),
            (min(col("quality")).as("_mn") +: max(col("quality")).as("_mx") +:
              (leSums ++ ltSums)): _*)
        // everything below runs on the tiny sources x <=10 frame
        val ranks = perDec.groupBy(col("source"))
          .agg(sum(col("_n")).as("n_docs"),
            (1 to 9).map(i => sum(col(s"_le_$i")).as(s"_le_$i")) ++
              (1 to 9).map(i => sum(col(s"_lt_$i")).as(s"_lt_$i")): _*)
        val withinBound = (1 to 9).map { i =>
          (col(s"_lt_$i").cast("double") / col("n_docs") <= lit(i / 10.0 + 0.02)) &&
            (col(s"_le_$i").cast("double") / col("n_docs") >= lit(i / 10.0 - 0.02))
        }.reduce(_ && _)
        val wd = Window.partitionBy(col("source")).orderBy(col("_decile"))
        val monotone = perDec
          .withColumn("_prev_mn", lag(col("_mn"), 1).over(wd))
          .groupBy(col("source"))
          .agg(min(col("_prev_mn").isNull || col("_prev_mn") > col("_mx"))
            .as("bucket_monotone"))
        ranks.select(col("source"), col("n_docs"), withinBound.as("within_bound"))
          .join(monotone, Seq("source"))
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  TRUE AS within_bound, TRUE AS bucket_monotone
             |FROM documents GROUP BY source""".stripMargin)),

    // n-gram-profile language id (argmax with first-wins tie-break)
    Q("t_lang_id",
      (s, d) => T(s, d, "documents").select(col("doc_id"), col("lang"),
        text.langId(col("text"), Seq(
          "en" -> Seq("the", "a", "of", "is"),
          "de" -> Seq("der", "die", "und", "das"),
          "es" -> Seq("el", "la", "de", "y"),
          "fr" -> Seq("le", "les", "et", "est"))).as("pred_lang")),
      Some {
        def hits(markers: Seq[String]) =
          s"CAST(len(list_filter(tk, x -> list_contains([${markers.map(m => s"'$m'").mkString(",")}], x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE)"
        val langs = Seq(
          "en" -> Seq("the", "a", "of", "is"),
          "de" -> Seq("der", "die", "und", "das"),
          "es" -> Seq("el", "la", "de", "y"),
          "fr" -> Seq("le", "les", "et", "est"))
        val scores = langs.map { case (l, m) => l -> s"s_$l" }
        val defs = langs.map { case (l, m) => s"${hits(m)} AS s_$l" }.mkString(",\n    ")
        val best = s"greatest(${scores.map(_._2).mkString(", ")})"
        val cases = scores.map { case (l, sc) =>
          s"WHEN $sc = best AND $sc > 0e0 THEN '$l'" }.mkString("\n    ")
        s"""SELECT doc_id, lang,
           |  CASE $cases ELSE 'unk' END AS pred_lang
           |FROM (SELECT doc_id, lang, s_en, s_de, s_es, s_fr, $best AS best
           |      FROM (SELECT doc_id, lang, $defs
           |            FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents)))""".stripMargin
      }),

    // TRAINED multiclass language classifier (the CCNet lineage:
    // fasttext-style lang-id is a trained linear model, not a
    // heuristic) — one-vs-rest logistic heads over marker-ratio
    // features, every GD step ONE aggregate computing all K*p
    // gradient sums. The corpus's text is deliberately language-
    // independent (t_lang_id's heuristic mostly sees English
    // stopwords), so this row uses the PLANTED convention
    // (e_ann_recall_planted): each doc gets its language's marker
    // suffix appended in-plan, making the label learnable, and the
    // graded 4-step trajectory (all 30 weights + argmax accuracy per
    // step) must show the distillation converging — through the
    // DuckDB replay of the identical snapped GD chain.
    Q("t_lang_classifier",
      // ownedLazy feat: 2*steps training passes re-consume it; the
      // first gradient aggregate builds the cache serially
      (s, d) => graft.ops.Logistic.trainOvr(
        graft.Caches.ownedLazy(langFeat(T(s, d, "documents"))), p = 6, classes = 5,
        steps = LangSteps, lr = 4.0),
      Some(ovrTrajectorySql)),

    // the serving half: heads trained by the identical snapped chain
    // (weights bit-equal to the trajectory's final row by
    // construction), predictions folded into the scan stage as
    // literals — per-doc argmax lang + correctness, hash-graded.
    Q("t_lang_classify_served",
      (s, d) => {
        val feat = graft.Caches.ownedLazy(langFeat(T(s, d, "documents")))
        langServed(feat, graft.ops.Logistic.trainOvrWeights(feat, p = 6, classes = 5,
          steps = LangSteps, lr = 4.0))
      },
      Some(ovrServedSql)),

    // the PERSISTED model — the serving-store form (the
    // buildWeightsIfAbsent convention at K heads): the OvR weight
    // matrix trains once per corpus fingerprint, every later classify
    // job reads K rows and folds the heads into its scan stage.
    // Persisted == in-plan by construction, so the same oracle
    // hash-grades both (the e_ivfpq_indexed convention).
    Q("t_lang_classify_indexed",
      (s, d) => {
        val feat = graft.Caches.ownedLazy(langFeat(T(s, d, "documents")))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ovrw-${storeKey(d)}"
        graft.ops.Logistic.buildOvrWeightsIfAbsent(s, feat, p = 6, classes = 5,
          steps = LangSteps, lr = 4.0, dir = dir,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        langServed(feat, graft.ops.Logistic.storedOvrWeights(s, dir))
      },
      Some(ovrServedSql), build = true),

    // corpus top terms: the wordcount staple over the BPE-ish
    // tokenizer (regex runs, not whitespace), deterministic tie-break
    Q("t_top_terms",
      (s, d) => T(s, d, "documents")
        .select(explode(text.wordTokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(20),
      Some("""SELECT term, CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
             |      FROM documents)
             |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin)),

    // TF-IDF top-3 terms per document. TF comes from the native
    // graft_word_counts per-doc map (ZERO-shuffle: the composed
    // explode + groupBy(doc, term) moves every distinct (doc, term)
    // pair, which the doc id makes partition-unique — map-side
    // combine can't help), DF aggregates the exploded map entries,
    // idf joins back with the corpus size as a broadcast scalar, and
    // the per-doc top-k is the graft_bottom_k bounded aggregate
    // (ops/TopN.topNPerGroupAgg — the oracle is the naive
    // explode/groupBy/window form; the rewrites must emit identical
    // rows). ln snapped to the 1e-6 grid: Java vs libm last-ulp.
    // Okapi BM25 over a fixed query-term set — the LEXICAL half of a
    // retrieval stack (the vector half is e_cosine_topk; the fusion is
    // e_hybrid_rrf). Scale shape per ops/Retrieval.bm25Scores: corpus
    // work confines to the query's terms IN THE SCAN STAGE, the df/N
    // stats are term-count-sized broadcasts, the one transcendental
    // (idf's ln) is quantized per TERM, and per-term scores quantize
    // to 1e-6 BEFORE the per-doc sum so the sum is exact-integer.
    Q("t_bm25_topk",
      (s, d) => graft.ops.Retrieval.bm25Scores(T(s, d, "documents"),
          col("text"), col("doc_id"), Bm25Terms)
        .select(col("id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(10),
      Some(s"""WITH ${bm25Ctes("documents")}
              |SELECT id AS doc_id, score FROM bm25
              |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    Q("t_tfidf_top",
      (s, d) => {
        val docs = T(s, d, "documents")
        val tf = docs
          .select(col("doc_id"),
            explode(call_function("graft_word_counts", text.wordTokens(col("text"))))
              .as(Seq("term", "tf")))
        val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
        val nDocs = docs.agg(count(lit(1)).as("nd"))
        val scored = tf.join(dfq, "term").crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("term"),
            qround(col("tf").cast("double") *
              log(col("nd").cast("double") / col("dfc").cast("double")), 6).as("tfidf"))
        graft.ops.TopN.topNPerGroupAgg(scored, "doc_id", "tfidf", 3, Seq("term"))
          .select(col("doc_id"), col("rn"), col("term"), col("tfidf"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
             |              FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS nd FROM documents),
             |scored AS (SELECT doc_id, term,
             |             (floor((CAST(tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(dfc AS DOUBLE))) * 1000000 + 0.5e0) / 1000000.0e0) AS tfidf
             |           FROM tf JOIN dfq USING (term), n)
             |SELECT doc_id, CAST(rn AS BIGINT) AS rn, term, tfidf FROM (
             |  SELECT doc_id, term, tfidf,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
             |  FROM scored)
             |WHERE rn <= 3""".stripMargin)),

    // deterministic stratified mix-sampling — the data-mixing step of
    // a training corpus: per-language keep rates decided by an
    // md5-derived bucket (seeded, engine-reproducible, no RNG state),
    // so any worker re-derives the same keep/drop for a row
    Q("t_mix_sample",
      (s, d) => {
        def hexVal(c: org.apache.spark.sql.Column) =
          ascii(c) - when(ascii(c) >= 97, 87).otherwise(48)
        val hx = md5(concat(lit("mix7:"), col("doc_id").cast("string")))
        val bucket = (hexVal(substring(hx, 1, 1)) * 4096 + hexVal(substring(hx, 2, 1)) * 256
          + hexVal(substring(hx, 3, 1)) * 16 + hexVal(substring(hx, 4, 1))) % 100
        val rate = when(col("lang") === "en", 80)
          .when(col("lang") === "de", 50).otherwise(20)
        T(s, d, "documents")
          .where(bucket < rate)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      },
      Some {
        def hv(c: String) = s"(ascii($c) - CASE WHEN ascii($c) >= 97 THEN 87 ELSE 48 END)"
        val hx = "md5(concat('mix7:', CAST(doc_id AS VARCHAR)))"
        val bucket = s"(${hv(s"substring($hx, 1, 1)")} * 4096 + ${hv(s"substring($hx, 2, 1)")} * 256" +
          s" + ${hv(s"substring($hx, 3, 1)")} * 16 + ${hv(s"substring($hx, 4, 1)")}) % 100"
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
           |FROM documents
           |WHERE $bucket < (CASE WHEN lang = 'en' THEN 80
           |                      WHEN lang = 'de' THEN 50 ELSE 20 END)
           |GROUP BY lang""".stripMargin
      }),

    // rolling-hash fingerprint (order-sensitive, incremental) next to
    // the md5 fingerprint of t_exact_dedup; DuckDB twin folds the same
    // recurrence with list_reduce
    Q("t_rolling_fp",
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        text.rollingFingerprint(col("text")).as("rolling_fp")),
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(text, ' '),
             |        tk -> CAST(ascii(tk) + 131 * ascii(reverse(tk)) + 7 * length(tk) AS BIGINT))),
             |    (acc, v) -> (acc * 31 + v) % 2147483647) AS rolling_fp
             |FROM documents""".stripMargin)),

    // PII scrubbing: emails/phones -> typed placeholders. Scan-stage
    // map work (no shuffle); the corpus is synthetic so most rows pass
    // through unchanged — the hash compare pins the transform, and
    // TextPipelineSpec asserts the redaction behavior on crafted PII.
    Q("t_redact_pii",
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        text.redactPii(col("text")).as("red_text"),
        (text.redactPii(col("text")) =!= col("text")).as("changed")),
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS red_text,
             |  (regexp_replace(regexp_replace(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') <> text) AS changed
             |FROM documents""".stripMargin)),

    // benchmark decontamination: 5-gram overlap of every corpus doc
    // against a held-out "benchmark" slice (doc_id % 50 = 0 stands in
    // for an eval suite). Shape for 100 TB: the benchmark shingle set
    // is BROADCAST (eval suites are tiny next to a corpus), the left
    // join + countDistinct pair runs in ONE shuffle keyed by doc —
    // corpus shingles never join each other, so there is no N² term.
    Q("t_decontam_overlap",
      (s, d) => {
        val docs = T(s, d, "documents")
        val corpusSh = Dedup.shingleRows(
          docs.where(col("doc_id") % 50 =!= 0), col("text"), col("doc_id"), 5)
        val benchSh = Dedup.shingleRows(
          docs.where(col("doc_id") % 50 === 0), col("text"), col("doc_id"), 5)
          .select(col("s")).distinct().withColumn("_hit", lit(1))
        // two-level agg instead of a dual countDistinct: the latter
        // plans as Expand (2x the exploded shingle rows) shuffled on a
        // wide composite key; this dedupes (doc, shingle) with map-side
        // combine first, then counts per doc — plan-pinned in PlanSpec
        corpusSh.join(broadcast(benchSh), Seq("s"), "left")
          .groupBy(col("doc_id"), col("s"))
          .agg(max(coalesce(col("_hit"), lit(0))).as("_h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sh"), sum(col("_h")).as("n_hit"))
          .where(col("n_hit") > 0)
          .select(col("doc_id"), col("n_sh"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_sh").cast("double")).as("contam_frac"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh AS (SELECT doc_id, unnest($gram5) AS s
             |       FROM toks WHERE len(tk) >= 5),
             |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
             |corpus AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
             |  CAST(count(*) FILTER (WHERE s IN (SELECT s FROM bench)) AS BIGINT) AS n_hit,
             |  CAST(count(*) FILTER (WHERE s IN (SELECT s FROM bench)) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) AS contam_frac
             |FROM corpus GROUP BY doc_id
             |HAVING count(*) FILTER (WHERE s IN (SELECT s FROM bench)) > 0""".stripMargin)),

    // decontamination END PRODUCT with a Bloom prefilter: the clean
    // keep-list (corpus docs sharing no 5-gram with the benchmark
    // slice). The Bloom sketch — Spark's own BloomFilterAggregate /
    // BloomFilterMightContain pair, surfaced as graft_bloom_agg /
    // graft_might_contain — prunes corpus shingles in the scan stage
    // BEFORE any join; the exact-confirm semi-join then removes false
    // positives, so the graded result is EXACT and the oracle is the
    // plain exact SQL (no within_bound weakening needed: Bloom has no
    // false negatives). Docs too short to shingle survive trivially.
    Q("t_bloom_decontam",
      (s, d) => Dedup.bloomDecontamKeep(T(s, d, "documents"),
        col("text"), col("doc_id"), col("doc_id") % 50 === 0, shingleK = 5),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh AS (SELECT doc_id, unnest($gram5) AS s
             |       FROM toks WHERE len(tk) >= 5),
             |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
             |contaminated AS (SELECT DISTINCT doc_id FROM sh
             |                 WHERE doc_id % 50 <> 0 AND s IN (SELECT s FROM bench))
             |SELECT doc_id FROM documents
             |WHERE doc_id % 50 <> 0
             |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin)),

    // the LLM-side FLAGSHIP: the full corpus-scrub pipeline as ONE
    // Catalyst plan — held-out bench split + quality floor (scan
    // stage) -> exact dedup (min-id per normalized fingerprint, one
    // key shuffle) -> MinHash/LSH near-dup removal (scan-stage
    // signatures, band-bucket pairs, min-id drop policy, anti-join)
    // -> 5-gram decontamination vs the bench slice (broadcast
    // shingles, semi-join confine, anti-join) -> kept corpus with
    // token counts. Every stage is the already-graded operator; the
    // composition is what a real ingest run executes, and the oracle
    // replays the identical stage order and tie-breaks. (Production
    // would Jaccard-rescore the LSH candidates before dropping —
    // d_jaccard_pairs grades that op; the pure-band policy here keeps
    // the composed oracle deterministic.)
    Q("pipe_scrub_e2e",
      (s, d) => scrubChain(T(s, d, "documents")),
      Some(s"WITH ${scrubOracleBody("documents")}")),

    // the scrub flagship with the CRAWL FRONT DOOR attached: every doc
    // arrives as real markup (the deterministic HTML wrapper around
    // documents.text — title/script/style/comment/nav/entities), the
    // native graft_html_extract recovers the text IN THE SCAN STAGE,
    // and the identical scrub chain (quality floor -> exact dedup ->
    // LSH near-dup -> decontam) runs on the EXTRACTED text. The
    // oracle replays the extraction as the same leftmost-first regex
    // alternation + entity replaces (RE2 and Java agree — the
    // ScalarsSpec fuzz pin), then the unchanged scrub chain — so a
    // kernel bug anywhere in tag/entity handling breaks the hash
    // through every downstream stage.
    Q("pipe_scrub_html_e2e",
      (s, d) => scrubChain(
        T(s, d, "documents").select(col("doc_id"),
          text.htmlExtract(htmlWrap(col("source"), col("text"), col("lang")))
            .as("text"))),
      Some(s"""WITH crawl AS (SELECT doc_id, $htmlExtractSql AS text FROM documents),
              |${scrubOracleBody("crawl")}""".stripMargin)),

    // the FULL crawl front door as ONE Catalyst plan — every
    // web-pipeline stage this engine grades, chained: markup →
    // graft_html_extract (scan stage) → corpus-wide duplicated-LINE
    // removal (Dedup.lineDedup over the extracted text: copy-group
    // fragments and wrapper-merged edge fragments are cross-doc dups
    // here, so the line stage genuinely rewrites most docs before
    // the chain sees them) → quality floor → exact dedup → LSH
    // near-dup → 5-gram decontam. The oracle splices extraction
    // replay → lineDedupCtes → scrubOracleBody — three
    // independently-graded fragments composed, so a regression in
    // ANY stage hash-fails end to end. `crawl` and `cleaned`
    // MATERIALIZED: every later stage re-references them (the DuckDB
    // CTE-inlining cost model).
    Q("pipe_crawl_e2e",
      (s, d) => scrubChain(
        Dedup.lineDedup(
          T(s, d, "documents").select(col("doc_id"),
            text.htmlExtract(htmlWrap(col("source"), col("text"), col("lang")))
              .as("text")),
          col("text"), col("doc_id"), sep = " the ", maxOcc = 4)
          .select(col("doc_id"), col("clean_text").as("text"))),
      Some(s"""WITH crawl AS MATERIALIZED (SELECT doc_id, $htmlExtractSql AS text FROM documents),
              |${lineDedupCtes("crawl")},
              |cleaned AS MATERIALIZED (
              |  SELECT l.doc_id, $lineCleanSql AS text
              |  FROM ls l LEFT JOIN cov c ON c.doc_id = l.doc_id),
              |${scrubOracleBody("cleaned")}""".stripMargin)),

    // the crawl flagship with the LEARNED quality gate as stage 3.5 —
    // the batch twin of CrawlStream's gate slot, graded end to end.
    // Reference lineage: the validity gate AFTER cleaning
    // (weather4cast/datasets.py:38-47 admits sequences only after
    // per-frame validity is established on the PREPROCESSED data,
    // datasets.py:59-71) — here the gate is likewise fit to and
    // applied on the post-line-dedup text, not the raw markup:
    // extract → line dedup → TRAIN the 6-step quality distillation on
    // the CLEANED text (the model a crawl pipeline actually fits —
    // post-boilerplate features, not raw-markup features) → gate with
    // the trained weights folded into the scan as literals
    // (Logistic.scoreCols, zero exchanges in the gate) → the
    // unchanged scrub chain on the survivors. The oracle splices
    // FOUR independently-graded fragments (extraction replay, line
    // CTEs, the logit trajectory re-pointed at `cleaned`, the scrub
    // body over `gated`), so a drift in training arithmetic over
    // crawl-shaped text — empty post-scrub docs included — breaks
    // the hash through every downstream stage.
    Q("pipe_crawl_learned_e2e",
      (s, d) => {
        val crawl = T(s, d, "documents").select(col("doc_id"),
          text.htmlExtract(htmlWrap(col("source"), col("text"), col("lang")))
            .as("text"))
        // checkpointed (r20): the 6-step training loop plus the scrub
        // chain's double-consumed subtrees re-analyzed the extract +
        // line-dedup lineage per action; the checkpoint roots them all
        // at one LogicalRDD leaf (same rows — oracle-checked, and the
        // same-session A/B read 3.18 vs 3.3 s warm in its favor)
        val cleaned = graft.Caches.checkpointed(
          Dedup.lineDedup(crawl, col("text"), col("doc_id"), sep = " the ", maxOcc = 4)
            .select(col("doc_id"), col("clean_text").as("text")))
        val feat = graft.Caches.ownedLazy(qualityFeat(cleaned))
        val w = graft.ops.Logistic.trainWeights(feat, p = 4, steps = 6, lr = 2.0)
        scrubChain(cleaned.where(graft.ops.Logistic.scoreCols(qualityXs, w) >= 0.5))
      },
      Some(s"""WITH crawl AS MATERIALIZED (SELECT doc_id, $htmlExtractSql AS text FROM documents),
              |${lineDedupCtes("crawl")},
              |cleaned AS MATERIALIZED (
              |  SELECT l.doc_id, $lineCleanSql AS text
              |  FROM ls l LEFT JOIN cov c ON c.doc_id = l.doc_id),
              |${logitBody(6, srcRel = "cleaned")},
              |gated AS MATERIALIZED (
              |  SELECT f.doc_id, c.text FROM feat f, cleaned c, w6
              |  WHERE c.doc_id = f.doc_id AND ${logitSigSql("w6")} >= 0.5e0),
              |${scrubOracleBody("gated")}""".stripMargin)),

    // the native extraction graded ALONE (the unit the flagship
    // composes): each doc HTML-wrapped deterministically, extracted
    // in the scan stage, the full clean text hash-graded against the
    // DuckDB regex replay — script/style/comment content must vanish,
    // tags must separate words, &amp;/&#169; must decode.
    Q("t_html_extract",
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        text.htmlExtract(htmlWrap(col("source"), col("text"), col("lang")))
          .as("clean_text"))
        .select(col("doc_id"), col("clean_text"),
          length(col("clean_text")).cast("long").as("n_chars_clean")),
      Some(s"""SELECT doc_id, $htmlExtractSql AS clean_text,
              |  CAST(length($htmlExtractSql) AS BIGINT) AS n_chars_clean
              |FROM documents""".stripMargin)),

    // the FULL crawl container chain: each doc's deterministic HTML
    // wrapper travels as a real WARC response record (ops/Warc pack →
    // parseAuto → httpBody strips the HTTP message headers), and the
    // native graft_html_extract runs on the RECOVERED markup. The
    // oracle is t_html_extract's replay verbatim — the WARC+HTTP leg
    // must be byte-exact or every extracted char shifts and the hash
    // fails. This is the shape a Common-Crawl-style lake actually
    // hands the pipeline: WARC frame → HTTP message → markup → text.
    // Container leg is scan-stage mapPartitions (zero shuffles);
    // extraction stays the codegen'd kernel.
    Q("t_warc_html_extract",
      (s, d) => warcRecoveredHtml(s, d).select(col("doc_id"),
        text.htmlExtract(col("html")).as("clean_text"))
        .select(col("doc_id"), col("clean_text"),
          length(col("clean_text")).cast("long").as("n_chars_clean")),
      Some(s"""SELECT doc_id, $htmlExtractSql AS clean_text,
              |  CAST(length($htmlExtractSql) AS BIGINT) AS n_chars_clean
              |FROM documents""".stripMargin)),

    // RAG FLAGSHIP — the retrieval stack the round-17 stages were
    // built FOR, as ONE graded composition: the crawl lake's arrival
    // bytes (WARC frame → HTTP message → markup) → graft_html_extract
    // → cross-doc line dedup → the full scrub chain (quality floor →
    // exact dedup → LSH near-dup → decontam) CURATES the corpus, and
    // the hybrid retrieval serves over exactly the curated set: BM25
    // top-20 on the curated TEXT, filtered ANN top-20 over the
    // persisted IVFADC index with the curated ids as the allow-list
    // (the metadata-predicate serving shape — retrieval must never
    // surface a doc curation dropped), fused by reciprocal-rank
    // (Cormack et al. 2009). Embedding GENERATION stays out of
    // engine scope (no model here) — the embeddings table is the
    // seam, ids shared with documents as in a real RAG lake.
    //
    // Scale shape, stage by stage: container+extract ride the scan;
    // line dedup is one bounded line-keyed exchange; the scrub chain
    // is the pipe_crawl_e2e shape (capped LSH, broadcast decontam);
    // the ANN leg reads ONLY the probe cell's partitions of the
    // build-once index (PartitionFilters) with the allow-list join
    // planner-chosen; BM25 confines corpus work to the query terms
    // in the scan stage; ranking/fusion touch two 20-row lists
    // (bounded windows — PlanSpec whitelist). The oracle splices
    // FIVE independently-graded fragments: extraction replay, line
    // CTEs, the scrub-kept CTEs, the bm25 CTEs, and the IVFADC
    // chain, so a drift in ANY stage hash-fails the fusion. The
    // curated corpus is stored once per documents fingerprint
    // (ragCuratedStore), so steady-state runs measure SERVING.
    Q("pipe_rag_e2e",
      (s, d) => ragServe(s, d, s.read.parquet(ragCuratedStore(s, d))),
      Some(s"""WITH crawl AS MATERIALIZED (SELECT doc_id, $htmlExtractSql AS text FROM documents),
              |${lineDedupCtes("crawl")},
              |cleaned AS MATERIALIZED (
              |  SELECT l.doc_id, $lineCleanSql AS text
              |  FROM ls l LEFT JOIN cov c ON c.doc_id = l.doc_id),
              |${scrubKeptCtes("cleaned")},
              |curated AS MATERIALIZED (SELECT doc_id, text FROM skept),
              |${bm25Ctes("curated")},
              |bmt AS (SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 20),
              |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank_a FROM bmt),
              |${SimilarityQueries.ivfpqCtes(SimilarityQueries.ivfpqSeedChain, "c0", 1)
                 .stripPrefix("WITH ")},
              |annt AS (SELECT vec_id, ad2 FROM ad
              |         WHERE vec_id IN (SELECT doc_id FROM curated)
              |         ORDER BY ad2 ASC, vec_id ASC LIMIT 20),
              |annr AS (SELECT vec_id AS id,
              |           row_number() OVER (ORDER BY ad2 ASC, vec_id) AS rank_b FROM annt)
              |SELECT coalesce(a.id, b.id) AS id,
              |  ${qroundSql(
                   "coalesce(1e0 / (60 + a.rank_a), 0e0) + coalesce(1e0 / (60 + b.rank_b), 0e0)",
                   6)} AS rrf,
              |  CAST(coalesce(a.rank_a, 0) AS BIGINT) AS rank_a,
              |  CAST(coalesce(b.rank_b, 0) AS BIGINT) AS rank_b
              |FROM bmr a FULL OUTER JOIN annr b ON a.id = b.id
              |ORDER BY rrf DESC, id LIMIT 10""".stripMargin), build = true),

    // exact substring duplication (Lee et al. 2021, stride form):
    // 40-char windows every 10 chars, one equi-join on window equality
    // — doc pairs sharing an aligned duplicated span, with the shared
    // window count. Scan-stage explode, distinct with map-side
    // combine, never all-pairs.
    Q("d_substr_dup",
      (s, d) => Dedup.substrDupPairs(T(s, d, "documents"),
        col("text"), col("doc_id"), winLen = 40, stride = 10),
      Some("""WITH w0 AS (
             |  SELECT doc_id, text,
             |         unnest(range(0, (length(text) - 40) // 10 + 1)) AS i
             |  FROM documents WHERE length(text) >= 40),
             |w AS (SELECT DISTINCT doc_id,
             |        substr(text, CAST(i * 10 + 1 AS BIGINT), 40) AS s FROM w0)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       CAST(count(*) AS BIGINT) AS n_windows
             |FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
             |GROUP BY 1, 2""".stripMargin)),

    // exact duplicated-span REMOVAL — the rewrite counterpart of
    // d_substr_dup (Lee et al. 2021 CUT the duplicated span rather
    // than drop the document): word 5-grams shared by >= 2 distinct
    // docs are duplicated text, covered token positions are cut, and
    // the FULL rewritten corpus is emitted (clean docs unchanged).
    // Scale shape documented on Dedup.substrScrub: one gram-keyed
    // exchange with BOUNDED agg state (graft_bottom_k gather, grams
    // over the 10000-occurrence cap observably dropped — the LSH
    // maxBucket skew convention, mirrored by the oracle's HAVING) +
    // one doc-keyed re-agg + scan-stage rebuild.
    Q("t_substr_scrub",
      (s, d) => Dedup.substrScrub(T(s, d, "documents"),
        col("text"), col("doc_id"), k = 5, minDocs = 2),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |pos AS (SELECT doc_id, tk, unnest(range(0, len(tk) - 4)) AS i
             |        FROM toks WHERE len(tk) >= 5),
             |sh AS (SELECT doc_id, i,
             |         concat_ws(' ', tk[i+1], tk[i+2], tk[i+3], tk[i+4], tk[i+5]) AS s
             |       FROM pos),
             |freq AS (SELECT s FROM sh GROUP BY s
             |         HAVING count(*) <= 10000 AND count(DISTINCT doc_id) >= 2),
             |hits AS (SELECT doc_id, i FROM sh WHERE s IN (SELECT s FROM freq)),
             |cov AS (SELECT doc_id, list(DISTINCT i + d) AS cl
             |        FROM hits, (SELECT unnest(range(0, 5)) AS d) GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
             |  CAST(coalesce(len(c.cl), 0) AS BIGINT) AS n_cut,
             |  coalesce(array_to_string(list_transform(
             |    list_filter(range(0, len(t.tk)),
             |      p -> NOT coalesce(list_contains(c.cl, p), FALSE)),
             |    p -> t.tk[p + 1]), ' '), '') AS clean_text
             |FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id""".stripMargin)),

    // corpus-wide duplicated-LINE removal (CCNet-style boilerplate
    // scrub) — the most common web-corpus cleanup: a line appearing
    // in >= 2 distinct docs is cut from every doc. The testdata has
    // no newlines, so the graded "line" boundary is the literal
    // separator " the " (split literally by BOTH engines — Spark
    // quotes it, DuckDB string_split is literal by definition);
    // lines here are the inter-stopword fragments, duplicated across
    // the corpus's copy groups exactly like nav-bar boilerplate.
    // maxOcc = 4 sits below the densest line at both graded SFs
    // (sf0.01 max 5, sf0.1 max 29), so the driver gate exercises
    // BOTH routes — the bounded gather and the broadcast mega-line
    // pass — while the oracle stays cap-free (the cut is exact and
    // cap-independent, unlike t_substr_scrub's observable drops).
    Q("t_line_dedup",
      (s, d) => Dedup.lineDedup(T(s, d, "documents"),
        col("text"), col("doc_id"), sep = " the ", maxOcc = 4),
      Some(s"""WITH ${lineDedupCtes("documents")}
              |SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
              |  CAST(coalesce(len(c.cl), 0) AS BIGINT) AS n_cut,
              |  $lineCleanSql AS clean_text
              |FROM ls l LEFT JOIN cov c ON c.doc_id = l.doc_id""".stripMargin)),

    // the PERSISTED line store — boilerplate scrubbing's serving
    // shape (what d_delta_index_keep is to dedup): the corpus's
    // per-line distinct-doc profile materializes once per corpus
    // fingerprint, and the crawl batch (doc_id % 10 == 7) scrubs
    // against the STORE plus its own lines — corpus text never
    // re-read, store scanned never shuffled, every exchange
    // batch-bounded. A line is cut when stored + batch distinct-doc
    // counts reach 2; the oracle replays exactly that.
    Q("t_line_dedup_indexed",
      (s, d) => {
        val docs = T(s, d, "documents")
        val corpus = docs.where(col("doc_id") % 10 =!= 7)
        val delta = docs.where(col("doc_id") % 10 === 7)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-linestore-${storeKey(d)}"
        graft.ops.LineStore.buildIfAbsent(s, corpus, dir, col("text"), col("doc_id"),
          sep = " the ",
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        graft.ops.LineStore.scrubDelta(s, delta, dir, col("text"), col("doc_id"),
          sep = " the ")
      },
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
             |delta AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
             |cls AS (SELECT doc_id, string_split(text, ' the ') AS ls FROM corpus),
             |ccnt AS (SELECT line, count(*) AS s_docs FROM (
             |           SELECT DISTINCT doc_id, unnest(ls) AS line FROM cls) GROUP BY line),
             |dls AS (SELECT doc_id, string_split(text, ' the ') AS ls FROM delta),
             |dpos AS (SELECT doc_id, i, ls[i+1] AS line
             |         FROM (SELECT doc_id, ls, unnest(range(0, len(ls))) AS i FROM dls)),
             |dcnt AS (SELECT line, count(*) AS b_docs FROM (
             |           SELECT DISTINCT doc_id, unnest(ls) AS line FROM dls) GROUP BY line),
             |dup AS (SELECT d.line FROM dcnt d LEFT JOIN ccnt c ON c.line = d.line
             |        WHERE d.b_docs + coalesce(c.s_docs, 0) >= 2),
             |cov AS (SELECT doc_id, list(DISTINCT i) AS cl
             |        FROM dpos WHERE line IN (SELECT line FROM dup) GROUP BY doc_id)
             |SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
             |  CAST(coalesce(len(c.cl), 0) AS BIGINT) AS n_cut,
             |  coalesce(array_to_string(list_transform(
             |    list_filter(range(0, len(l.ls)),
             |      p -> NOT coalesce(list_contains(c.cl, p), FALSE)),
             |    p -> l.ls[p + 1]), ' the '), '') AS clean_text
             |FROM dls l LEFT JOIN cov c ON c.doc_id = l.doc_id""".stripMargin), build = true),

    // TAKEDOWN for the line store — erasure in an ADDITIVE store is
    // just an appended NEGATIVE partial (LineStore.takedown):
    // -lineCounts(removed) rows land like any batch partial, the
    // probe's read-time per-line sum subtracts them with zero
    // probe-path changes, and compaction drops lines reaching 0.
    // Graded consequence: a line that was cross-doc boilerplate only
    // BECAUSE of erased docs falls back under the >= minDocs
    // threshold and stops being scrubbed from arriving batches — the
    // store serves exactly as if the erased docs were never
    // ingested, which is what the oracle replays (corpus counts
    // minus the removed slice).
    Q("t_line_dedup_takedown",
      (s, d) => {
        val docs = T(s, d, "documents")
        val corpus = docs.where(col("doc_id") % 10 =!= 7)
        val removed = docs.where(col("doc_id") % 10 === 3)
        val delta = docs.where(col("doc_id") % 10 === 7)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-linestore-td-${storeKey(d)}"
        graft.ops.LineStore.buildTakedownIfAbsent(s, corpus, removed, dir,
          col("text"), col("doc_id"), sep = " the ",
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s,
            s"$d/documents.parquet") + "|td=3")
        graft.ops.LineStore.scrubDelta(s, delta, dir, col("text"), col("doc_id"),
          sep = " the ")
      },
      Some("""WITH corpus AS (SELECT * FROM documents
             |                WHERE doc_id % 10 <> 7 AND doc_id % 10 <> 3),
             |delta AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
             |cls AS (SELECT doc_id, string_split(text, ' the ') AS ls FROM corpus),
             |ccnt AS (SELECT line, count(*) AS s_docs FROM (
             |           SELECT DISTINCT doc_id, unnest(ls) AS line FROM cls) GROUP BY line),
             |dls AS (SELECT doc_id, string_split(text, ' the ') AS ls FROM delta),
             |dpos AS (SELECT doc_id, i, ls[i+1] AS line
             |         FROM (SELECT doc_id, ls, unnest(range(0, len(ls))) AS i FROM dls)),
             |dcnt AS (SELECT line, count(*) AS b_docs FROM (
             |           SELECT DISTINCT doc_id, unnest(ls) AS line FROM dls) GROUP BY line),
             |dup AS (SELECT d.line FROM dcnt d LEFT JOIN ccnt c ON c.line = d.line
             |        WHERE d.b_docs + coalesce(c.s_docs, 0) >= 2),
             |cov AS (SELECT doc_id, list(DISTINCT i) AS cl
             |        FROM dpos WHERE line IN (SELECT line FROM dup) GROUP BY doc_id)
             |SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
             |  CAST(coalesce(len(c.cl), 0) AS BIGINT) AS n_cut,
             |  coalesce(array_to_string(list_transform(
             |    list_filter(range(0, len(l.ls)),
             |      p -> NOT coalesce(list_contains(c.cl, p), FALSE)),
             |    p -> l.ls[p + 1]), ' the '), '') AS clean_text
             |FROM dls l LEFT JOIN cov c ON c.doc_id = l.doc_id""".stripMargin), build = true),

    // the DATA CARD: the per-(lang, source) corpus report a training
    // run ships with — doc/token counts, exact-duplicate mass, mean
    // quality — with lang-level and corpus-level rollup rows from the
    // SAME pass (GROUP BY ROLLUP = one Expand + one keyed agg; three
    // separate scans of 100 TB is the naive alternative). The dup
    // flag costs one fingerprint-keyed exchange first (keeper = min
    // doc_id per fingerprint, the t_exact_dedup policy); quality is
    // pre-quantized per doc so the rollup means are exact-integer
    // sums on both engines.
    Q("t_datacard",
      (s, d) => {
        val per = T(s, d, "documents").select(
          col("lang"), col("source"), col("doc_id"),
          text.nTokens(col("text")).as("ntok"),
          qlong(text.qualityScore(col("text")), 1e6).as("q6"),
          text.fingerprint(col("text")).as("fp"))
        val keep = per.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
        per.join(keep, Seq("fp"))
          .withColumn("is_dup", (col("doc_id") =!= col("keeper")).cast("long"))
          .rollup(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("n_tokens"),
            sum(col("is_dup")).as("n_dups"),
            (sum(col("q6")) / (lit(1e6) * count(lit(1)))).as("mean_quality"))
      },
      Some(s"""WITH per AS (SELECT lang, source, doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
              |    ${qlongSql(qualitySql, "1000000")} AS q6,
              |    CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
              |  FROM (SELECT doc_id, text, lang, source, $normSql AS norm FROM documents)),
              |keep AS (SELECT fp, min(doc_id) AS keeper FROM per GROUP BY 1)
              |SELECT lang, source, count(*) AS n_docs,
              |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
              |  CAST(sum(CASE WHEN per.doc_id <> keep.keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
              |  CAST(sum(q6) AS BIGINT) / (1e6 * count(*)) AS mean_quality
              |FROM per JOIN keep USING (fp)
              |GROUP BY ROLLUP (lang, source)""".stripMargin)),

    // cross-SOURCE overlap matrix — the data-card companion that
    // finds source-level contamination (mirrored crawls, syndicated
    // feeds): for every source pair, the number of distinct word
    // 5-grams present in both. Shape: distinct (source, gram) ->
    // ONE gram-keyed aggregate whose collect_set state is bounded by
    // the SOURCE COUNT (20 here, never corpus-sized), pair fan-out
    // from the sorted set is scan-stage array work, and the final agg
    // is over <= sources^2 rows. The oracle takes the equivalent
    // self-join form (identical semantics over the distinct rows).
    Q("t_source_overlap",
      (s, d) => {
        val sh = Dedup.shingleRows(T(s, d, "documents"), col("text"), col("source"), 5)
          .select(col("doc_id").as("source"), col("s")).distinct()
        sh.groupBy(col("s")).agg(sort_array(collect_set(col("source"))).as("ss"))
          .where(size(col("ss")) >= 2)
          .select(explode(flatten(transform(col("ss"), (a, i) =>
            transform(slice(col("ss"), i + lit(2), greatest(size(col("ss")) - i - lit(1), lit(0))),
              b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
          .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
          .agg(count(lit(1)).as("shared_grams"))
      },
      Some(s"""WITH toks AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
              |sh AS (SELECT DISTINCT source, unnest($gram5) AS s
              |       FROM toks WHERE len(tk) >= 5)
              |SELECT a.source AS src_a, b.source AS src_b,
              |       CAST(count(*) AS BIGINT) AS shared_grams
              |FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
              |GROUP BY 1, 2""".stripMargin)),

    // distributed BPE tokenizer TRAINING (ops/Bpe): the corpus
    // collapses to a word-frequency dictionary in ONE pass (the only
    // corpus-sized exchange — the dict is vocabulary-sized by Heaps'
    // law), then each merge iteration is dict-only work: weighted
    // adjacent-pair counts, one broadcast best-pair row, greedy
    // left-to-right merge application via an explicit run-parity
    // position spec (never string replace — engines disagree about
    // rescan-after-replacement, a position spec cannot). Graded
    // output = the learned merge table itself, the artifact a
    // tokenizer ships. The oracle unrolls the identical 3-iteration
    // chain (the kmeansCtes convention).
    Q("t_bpe_train",
      (s, d) => graft.ops.Bpe.train(T(s, d, "documents"), col("text"), iters = 3),
      Some(bpeSql(3))),

    // the batched-merge variant: corpus pass -> bounded dict ->
    // driver-side merge loop (ONE job for all iterations — the
    // production shape for a 30k-merge vocab, where per-merge Spark
    // jobs are pure scheduling overhead). Same greedy spec, same
    // DuckDB oracle as t_bpe_train: the two training paths must emit
    // the identical merge table.
    Q("t_bpe_train_local",
      (s, d) => graft.ops.Bpe.trainLocal(T(s, d, "documents"), col("text"), iters = 3),
      Some(bpeSql(3))),

    // BATCHED merge training — the third training path (per-merge
    // distributed / all-driver local / batched hybrid): 3 iterations
    // learned 2-per-collect (2 driver round-trips instead of 3 dict
    // jobs), each batch applied to the FULL distributed dict as one
    // scan-stage foldMerge chain. Same greedy spec, same oracle as
    // t_bpe_train/t_bpe_train_local: all three paths must emit the
    // identical merge table.
    Q("t_bpe_train_batched",
      (s, d) => graft.ops.Bpe.trainBatched(T(s, d, "documents"), col("text"),
        iters = 3, batch = 2).result,
      Some(bpeSql(3))),

    // FOREIGN-artifact ingest, hash-graded end to end: a hand-written
    // HuggingFace-style merges.txt + vocab.json (ids deliberately
    // NON-dense and NOT in symbol order — the numbering is the
    // artifact's, never re-derived; 'y' deliberately absent so the
    // UNK path grades too) drives the same import + scan-stage merge
    // replay as t_bpe_export_roundtrip. The oracle replays the SAME
    // fixed merge list through the bpeCtes apply machinery and reads
    // ids from a literal VALUES vocab — a real SQL twin, so a drift
    // in merge order handling, JSON parsing, or the -1 fallback is a
    // hash mismatch. The merge chain ('a n' -> 's c' -> 'sc an')
    // composes: 'scan' tokenizes to the single foreign id 100 only
    // if all three fire in order.
    Q("t_bpe_foreign_vocab",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-bpeforeign-${storeKey(d)}"
        graft.ops.Bpe.writeText(s, s"$dir/merges.txt", ForeignMergesTxt)
        graft.ops.Bpe.writeText(s, s"$dir/vocab.json", ForeignVocabJson)
        idsAsString(graft.ops.Bpe.encodeIdsFromArtifacts(
          s, docs, col("text"), col("doc_id"), dir))
      },
      Some(foreignVocabSql), build = true),

    // unigram-LM (SentencePiece-style) tokenizer training — the
    // probabilistic other half of the subword family: seed pieces =
    // all substrings <= 4 chars frequency-weighted over the word
    // dict, then 2 hard-EM rounds of Viterbi segmentation + count
    // re-estimation, all in DICTIONARY space (the corpus is touched
    // once for the word dict; every DP layer is a vocab-sized frame
    // with the piece model broadcast in). Determinism: integer
    // 1e-6-snapped -ln(p) costs (the transcendental convention) and
    // the (cost, np, seg) tie-break — both engine-exact. Graded
    // output = the final piece model; the oracle unrolls the SAME
    // 8-layer DP per round as CTEs (the kmeansCtes convention).
    Q("t_unigram_train",
      (s, d) => graft.ops.Unigram.trainFull(T(s, d, "documents"), col("text"),
        rounds = 2).result,
      Some(s"""${unigramCtes(2)}
              |SELECT piece, cnt,
              |  floor(CAST(cnt AS DOUBLE) / (SELECT CAST(sum(cnt) AS DOUBLE) FROM un2)
              |    * 1000000 + 0.5e0) / 1000000.0e0 AS prob6
              |FROM un2""".stripMargin)),

    // the trained unigram tokenizer's ACTION: per-word Viterbi
    // segmentation under the round-2 model (the segmentation that
    // produced the graded counts) — what [[t_unigram_train]]'s model
    // DOES to each dictionary word.
    Q("t_unigram_segment",
      (s, d) => graft.ops.Unigram.segmentFull(T(s, d, "documents"), col("text"),
        rounds = 2).result,
      Some(s"""${unigramCtes(2)}
              |SELECT w, c, seg FROM uv2""".stripMargin)),

    // unigram token-ID emission — id-surface parity with
    // t_bpe_encode_ids for the subword family's other half: per-doc
    // `token_ids array<int>` under the round-2 model's Viterbi
    // segmentations, ids dense in piece order. Spark derives the
    // vocabulary from the segmentation cache's distinct pieces; the
    // oracle numbers un2's pieces — the two sets coincide by the
    // EM invariant (round r's segmentation produces round r's
    // counts), so a drift between model and segmentation surfaces
    // as a hash mismatch here.
    Q("t_unigram_encode_ids",
      (s, d) => {
        val docs = T(s, d, "documents")
        val segs = graft.ops.Unigram.segmentFull(docs, col("text"), rounds = 2)
        idsAsString(
          graft.ops.Unigram.encodeIds(docs, col("text"), col("doc_id"), segs.result))
      },
      Some(unigramIdsSql)),

    // the ENCODE half of tokenization: per-doc word + BPE token
    // counts against the 3-merge trained dict — corpus streams
    // through a scan-stage explode + ONE broadcast join against the
    // vocabulary-sized dict, then one doc-keyed re-agg (the corpus
    // text itself never shuffles). The oracle splices the training
    // chain's final dict into a plain join.
    Q("t_bpe_encode",
      (s, d) => {
        val docs = T(s, d, "documents")
        val trained = graft.ops.Bpe.trainedDictFull(docs, col("text"), iters = 3)
        graft.ops.Bpe.encode(docs, col("text"), col("doc_id"), trained.result)
      },
      Some(s"""${bpeCtes(3)}
              |SELECT doc_id, count(*) AS n_words,
              |  CAST(sum(coalesce(len(string_split(d3.seq, ' ')), length(t.w))) AS BIGINT)
              |    AS n_bpe_tokens
              |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
              |LEFT JOIN d3 ON d3.w = t.w
              |GROUP BY doc_id""".stripMargin)),

    // encode against the PERSISTED trained dict — the tokenizer's
    // serving shape (build-once per corpus fingerprint via the shared
    // AnnIndex marker lifecycle, then every encode job broadcast-joins
    // the vocabulary-sized parquet, paying zero training cost). Same
    // oracle as t_bpe_encode: persisted == in-plan, hash-graded.
    Q("t_bpe_encode_indexed",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-bpedict-${storeKey(d)}"
        graft.ops.Bpe.buildDictIfAbsent(s, docs, col("text"), dir, iters = 3,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        graft.ops.Bpe.encodeIndexed(s, docs, col("text"), col("doc_id"), dir)
      },
      Some(s"""${bpeCtes(3)}
              |SELECT doc_id, count(*) AS n_words,
              |  CAST(sum(coalesce(len(string_split(d3.seq, ' ')), length(t.w))) AS BIGINT)
              |    AS n_bpe_tokens
              |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
              |LEFT JOIN d3 ON d3.w = t.w
              |GROUP BY doc_id""".stripMargin), build = true),

    // the tokenizer's REAL deliverable: per-doc token-ID SEQUENCES
    // (array<int>), not counts — what a training pipeline feeds the
    // model. Ids come from the symbol vocabulary (alphabet + one new
    // symbol per merge: merge-table-sized, ALWAYS broadcastable even
    // when the word dict is not — the word dict is a segmentation
    // cache over it); unseen words fall back to char segmentation,
    // out-of-alphabet chars to -1 (UNK). Plan: two scan-stage
    // posexplodes + the size-gated dict join + a broadcast vocab
    // join, then ONE doc-keyed exchange of int triples — the
    // output's own volume, the floor for ordered-sequence delivery.
    // The oracle replays ids (row_number over the distinct d3
    // symbols) and re-assembles with an ordered list_agg.
    Q("t_bpe_encode_ids",
      (s, d) => {
        val docs = T(s, d, "documents")
        val trained = graft.ops.Bpe.trainedDictFull(docs, col("text"), iters = 3)
        idsAsString(
          graft.ops.Bpe.encodeIds(docs, col("text"), col("doc_id"), trained.result))
      },
      Some(bpeIdsSql(3))),

    // tokenizer-artifact INTERCHANGE, graded end to end: train →
    // export merges.txt + vocab.json (the format every public BPE
    // stack reads) → import → replay the merges per word in the scan
    // stage → emit ids. The oracle is t_bpe_encode_ids's, verbatim —
    // export→import→encode must be row-identical to direct encode,
    // so a drift in the artifact writer, the JSON escaping, or the
    // merge replay surfaces as a hash mismatch, not a silent
    // vocabulary skew. Export runs once per corpus fingerprint (the
    // persisted-store lifecycle); encode pays one word-dict distinct
    // plus scan-stage merge folds.
    Q("t_bpe_export_roundtrip",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-bpeart-${storeKey(d)}"
        graft.ops.Bpe.exportArtifactsIfAbsent(s, docs, col("text"), dir, iters = 3,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        idsAsString(graft.ops.Bpe.encodeIdsFromArtifacts(
          s, docs, col("text"), col("doc_id"), dir))
      },
      Some(bpeIdsSql(3)), build = true),

    // encode against a frequency-PRUNED dict (top-20 words by count
    // desc, word asc) — the scale-safe serving shape: the raw word
    // dict of a web corpus has an unbounded hapax tail (billions of
    // rows — past any broadcast budget), but unseen words already
    // fall back to char segmentation (training's iteration-0 floor),
    // so a top-N dict is semantically coherent and broadcastable.
    // Hash-graded vs the oracle's identically-pruned dict: pruning
    // changes ONLY pruned-word rows, proven by the d3-vs-dp twin.
    Q("t_bpe_encode_pruned",
      (s, d) => {
        val docs = T(s, d, "documents")
        val trained = graft.ops.Bpe.trainedDictFull(docs, col("text"), iters = 3)
        graft.ops.Bpe.encode(docs, col("text"), col("doc_id"),
          graft.ops.Bpe.pruneDict(trained.result, 20))
      },
      Some(s"""${bpeCtes(3)},
              |dp AS (SELECT * FROM d3 ORDER BY c DESC, w ASC LIMIT 20)
              |SELECT doc_id, count(*) AS n_words,
              |  CAST(sum(coalesce(len(string_split(dp.seq, ' ')), length(t.w))) AS BIGINT)
              |    AS n_bpe_tokens
              |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
              |LEFT JOIN dp ON dp.w = t.w
              |GROUP BY doc_id""".stripMargin)),

    // DECODE — the round-trip witness for the id surface: ids map
    // back through the vocab (folded to ONE broadcast row; decode is
    // a pure scan-stage array transform + concat) and must
    // reconstruct the space-stripped document exactly wherever no
    // UNK was emitted. The decoded string itself is hash-graded, not
    // just the boolean — a numbering or ordering bug shows up as a
    // string diff, not a silent true.
    Q("t_bpe_decode",
      (s, d) => {
        val docs = T(s, d, "documents")
        val trained = graft.ops.Bpe.trainedDictFull(docs, col("text"), iters = 3)
        val ids = graft.ops.Bpe.encodeIds(docs, col("text"), col("doc_id"),
          trained.result)
        graft.ops.Bpe.decodeIds(ids, trained.result)
          .join(docs.select(col("doc_id"),
            regexp_replace(col("text"), " ", "").as("stripped")), Seq("doc_id"))
          .select(col("doc_id"), col("decoded"), col("n_unk"),
            (col("decoded") === col("stripped")).as("roundtrip"))
      },
      Some(s"""${bpeCtes(3)},
              |${idsCtes(3)},
              |dec AS (SELECT tkq.doc_id,
              |          string_agg(CASE WHEN voc.tok_id IS NULL THEN chr(65533)
              |                          ELSE tkq.tok END, '' ORDER BY wpos, tpos) AS decoded,
              |          CAST(count(*) FILTER (WHERE voc.tok_id IS NULL) AS BIGINT) AS n_unk
              |        FROM tkq LEFT JOIN voc ON voc.tok = tkq.tok GROUP BY tkq.doc_id)
              |SELECT dec.doc_id, dec.decoded, dec.n_unk,
              |  (dec.decoded = regexp_replace(d.text, ' ', '', 'g')) AS roundtrip
              |FROM dec JOIN documents d ON d.doc_id = dec.doc_id""".stripMargin)),

    // PACKED TRAINING ROWS — the pipeline's last operator and its
    // literal deliverable: contiguous token-id runs under the
    // t_pack_sequences assignment rule (greedy by cumulative count
    // within (lang, source), docs never split), each pack carrying
    // its concatenated ids in document order. ONE (lang,source)
    // exchange feeds both the running-count window and the pack
    // re-agg; the packed arrays are the output's own volume.
    Q("t_pack_ids",
      (s, d) => {
        val docs = T(s, d, "documents")
        val trained = graft.ops.Bpe.trainedDictFull(docs, col("text"), iters = 3)
        val ids = graft.ops.Bpe.encodeIds(docs, col("text"), col("doc_id"),
          trained.result)
        idsAsString(graft.ops.Bpe.packIds(ids,
          docs.select(col("doc_id"), col("lang"), col("source")), PackBudget))
      },
      Some(s"""${bpeCtes(3)},
              |${idsCtes(3)},
              |enc AS (SELECT doc_id, list(coalesce(voc.tok_id, -1) ORDER BY wpos, tpos) AS token_ids
              |        FROM tkq LEFT JOIN voc ON voc.tok = tkq.tok GROUP BY doc_id),
              |pk AS (SELECT d.lang, d.source, e.doc_id, e.token_ids,
              |         CAST(len(e.token_ids) AS BIGINT) AS n_tokens,
              |         sum(CAST(len(e.token_ids) AS BIGINT)) OVER (
              |           PARTITION BY d.lang, d.source ORDER BY e.doc_id
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |       FROM enc e JOIN documents d ON d.doc_id = e.doc_id)
              |SELECT lang, source, CAST((cum - 1) // $PackBudget AS BIGINT) AS pack_id,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              |  array_to_string(flatten(list(token_ids ORDER BY doc_id)), ' ') AS token_ids
              |FROM pk GROUP BY lang, source, pack_id""".stripMargin)),

    // BEST-FIT-DECREASING packing vs greedy vs CAPPED BFD,
    // metrics-graded: per (lang, source) shard, pack count + pad
    // waste + budget overflow under all three packers on the same
    // ids and the same $PackBudget budget. Greedy hits the minimum
    // pack count by letting packs straddle the budget (overflow > 0
    // — truncation at training time); BFD never overflows (single
    // over-budget docs aside) and the waste it pays for that is
    // pinned here, not argued; CAPPED BFD (shardCap=$BfdDemoCap —
    // deliberately below the graded shard sizes so sub-sharding is
    // actually exercised in-gate) is the bounded-state production
    // shape, and ITS waste delta vs global BFD is the price of
    // O(shardCap) aggregation state — pinned, not argued. The
    // packers run over a deterministic bounded slice (top
    // $BfdSliceRank docs per shard by the fold's own n DESC, doc ASC
    // order) so the oracle's recursive global-BFD replay has bounded
    // depth at every SF; the FULL-corpus BFD surface stays graded in
    // t_pack_bfd_rows (whose sub-shard recursion is bounded by
    // construction).
    Q("t_pack_ids_bfd",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T(s, d, "documents")
        val trained = graft.ops.Bpe.trainedDictFull(docs, col("text"), iters = 3)
        val ids = graft.ops.Bpe.encodeIds(docs, col("text"),
          col("doc_id"), trained.result)
        val meta = docs.select(col("doc_id"), col("lang"), col("source"))
        val w = Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("n_tokens").desc, col("doc_id"))
        // checkpointed (not owned): three packer arms + their grading
        // joins re-analyzed the slice's full producing lineage (dict
        // chain + encode + rank window — a 38k-line plan) per action;
        // the checkpoint roots all of them at one LogicalRDD leaf
        val sliced = graft.Caches.checkpointed(ids.join(meta, Seq("doc_id"))
          .withColumn("n_tokens", size(col("token_ids")).cast("long"))
          .withColumn("slrk", row_number().over(w))
          .where(col("slrk") <= BfdSliceRank)
          .select(col("doc_id"), col("token_ids"), col("lang"), col("source"),
            col("n_tokens")))
        def m(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy(col("lang"), col("source")).agg(
            count(lit(1)).as(s"n_packs_$tag"),
            sum(greatest(lit(PackBudget.toLong) - col("total_tokens"), lit(0L)))
              .as(s"waste_$tag"),
            sum(greatest(col("total_tokens") - lit(PackBudget.toLong), lit(0L)))
              .as(s"overflow_$tag"))
        m(graft.ops.Bpe.packIdsSized(sliced, PackBudget), "greedy")
          .join(m(graft.ops.Bpe.packIdsBfdSized(sliced, PackBudget,
            shardCap = Int.MaxValue), "bfd"), Seq("lang", "source"))
          .join(m(graft.ops.Bpe.packIdsBfdSized(sliced, PackBudget,
            shardCap = BfdDemoCap), "bfdc"), Seq("lang", "source"))
      },
      Some(s"""${bpeCtes(3).replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |${idsCtes(3)},
              |encn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tkq GROUP BY doc_id),
              |pd AS (SELECT lang, source, doc_id, n FROM (
              |         SELECT d.lang, d.source, e.doc_id, e.n,
              |           row_number() OVER (PARTITION BY d.lang, d.source
              |             ORDER BY e.n DESC, e.doc_id) AS slrk
              |         FROM encn e JOIN documents d ON d.doc_id = e.doc_id)
              |       WHERE slrk <= $BfdSliceRank),
              |gr AS (SELECT lang, source, CAST((cum - 1) // $PackBudget AS BIGINT) AS pack_id,
              |         CAST(sum(n) AS BIGINT) AS total
              |       FROM (SELECT lang, source, doc_id, n,
              |               sum(n) OVER (PARTITION BY lang, source ORDER BY doc_id
              |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |             FROM pd)
              |       GROUP BY 1, 2, 3),
              |gm AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_packs_greedy,
              |         CAST(sum(greatest($PackBudget - total, 0)) AS BIGINT) AS waste_greedy,
              |         CAST(sum(greatest(total - $PackBudget, 0)) AS BIGINT) AS overflow_greedy
              |       FROM gr GROUP BY 1, 2),
              |dsrt AS (SELECT lang, source, doc_id, n,
              |           CAST(row_number() OVER (PARTITION BY lang, source
              |             ORDER BY n DESC, doc_id) AS INTEGER) AS rn
              |         FROM pd),
              |rec AS (
              |  SELECT lang, source, 0 AS rn,
              |         CAST([] AS BIGINT[]) AS bins, CAST([] AS INTEGER[]) AS packs
              |  FROM (SELECT DISTINCT lang, source FROM dsrt)
              |  UNION ALL
              |  SELECT r.lang, r.source, r.rn + 1,
              |    CASE WHEN fit IS NULL
              |         THEN list_append(r.bins, greatest($PackBudget - d.n, 0))
              |         ELSE list_concat(list_concat(r.bins[1:fit-1], [r.bins[fit] - d.n]),
              |                          r.bins[fit+1:len(r.bins)]) END AS bins,
              |    list_append(r.packs, CAST(coalesce(fit, len(r.bins) + 1) AS INTEGER) - 1) AS packs
              |  FROM (SELECT r0.*,
              |          list_position(r0.bins, list_min([b FOR b IN r0.bins IF b >= d0.n])) AS fit
              |        FROM rec r0 JOIN dsrt d0 ON d0.lang = r0.lang AND d0.source = r0.source
              |                                 AND d0.rn = r0.rn + 1) r
              |  JOIN dsrt d ON d.lang = r.lang AND d.source = r.source AND d.rn = r.rn + 1),
              |fin AS (SELECT r.* FROM rec r
              |        JOIN (SELECT lang, source, max(rn) AS mx FROM dsrt GROUP BY 1, 2) m
              |          ON m.lang = r.lang AND m.source = r.source AND m.mx = r.rn),
              |br AS (SELECT a.lang, a.source, a.pack_id, CAST(sum(a.n) AS BIGINT) AS total
              |       FROM (SELECT f.lang, f.source, d.doc_id, d.n,
              |               CAST(f.packs[d.rn] AS BIGINT) AS pack_id
              |             FROM fin f JOIN dsrt d ON d.lang = f.lang AND d.source = f.source) a
              |       GROUP BY 1, 2, 3),
              |bm AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_packs_bfd,
              |         CAST(sum(greatest($PackBudget - total, 0)) AS BIGINT) AS waste_bfd,
              |         CAST(sum(greatest(total - $PackBudget, 0)) AS BIGINT) AS overflow_bfd
              |       FROM br GROUP BY 1, 2),
              |cs AS (SELECT lang, source, doc_id, n,
              |         CAST((rn - 1) // $BfdDemoCap AS BIGINT) AS ss,
              |         CAST(((rn - 1) % $BfdDemoCap) + 1 AS INTEGER) AS crn
              |       FROM dsrt),
              |recc AS (
              |  SELECT lang, source, ss, 0 AS rn,
              |         CAST([] AS BIGINT[]) AS bins, CAST([] AS INTEGER[]) AS packs
              |  FROM (SELECT DISTINCT lang, source, ss FROM cs)
              |  UNION ALL
              |  SELECT r.lang, r.source, r.ss, r.rn + 1,
              |    CASE WHEN fit IS NULL
              |         THEN list_append(r.bins, greatest($PackBudget - d.n, 0))
              |         ELSE list_concat(list_concat(r.bins[1:fit-1], [r.bins[fit] - d.n]),
              |                          r.bins[fit+1:len(r.bins)]) END AS bins,
              |    list_append(r.packs, CAST(coalesce(fit, len(r.bins) + 1) AS INTEGER) - 1) AS packs
              |  FROM (SELECT r0.*,
              |          list_position(r0.bins, list_min([b FOR b IN r0.bins IF b >= d0.n])) AS fit
              |        FROM recc r0 JOIN cs d0 ON d0.lang = r0.lang AND d0.source = r0.source
              |                                AND d0.ss = r0.ss AND d0.crn = r0.rn + 1) r
              |  JOIN cs d ON d.lang = r.lang AND d.source = r.source
              |           AND d.ss = r.ss AND d.crn = r.rn + 1),
              |finc AS (SELECT r.* FROM recc r
              |         JOIN (SELECT lang, source, ss, max(crn) AS mx FROM cs GROUP BY 1, 2, 3) m
              |           ON m.lang = r.lang AND m.source = r.source
              |          AND m.ss = r.ss AND m.mx = r.rn),
              |brc AS (SELECT a.lang, a.source, a.pack_id, CAST(sum(a.n) AS BIGINT) AS total
              |        FROM (SELECT f.lang, f.source, d.doc_id, d.n,
              |                CAST(f.ss * $BfdDemoCap + f.packs[d.crn] AS BIGINT) AS pack_id
              |              FROM finc f JOIN cs d ON d.lang = f.lang AND d.source = f.source
              |                                   AND d.ss = f.ss) a
              |        GROUP BY 1, 2, 3),
              |bmc AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_packs_bfdc,
              |          CAST(sum(greatest($PackBudget - total, 0)) AS BIGINT) AS waste_bfdc,
              |          CAST(sum(greatest(total - $PackBudget, 0)) AS BIGINT) AS overflow_bfdc
              |        FROM brc GROUP BY 1, 2)
              |SELECT lang, source, n_packs_greedy, waste_greedy, overflow_greedy,
              |       n_packs_bfd, waste_bfd, overflow_bfd,
              |       n_packs_bfdc, waste_bfdc, overflow_bfdc
              |FROM gm JOIN bm USING (lang, source) JOIN bmc USING (lang, source)""".stripMargin)),

    // FOREIGN unigram-model ingest, hash-graded — the subword
    // family's twin of t_bpe_foreign_vocab: a hand-written
    // SentencePiece-style piece/count TSV (full a-z floor + weighted
    // multi-char pieces) drives the same import → integer costs →
    // Viterbi → ids path as the export round-trip. The oracle runs
    // the SAME bounded-length DP (the unigramDpCtes layer, factored
    // from the training oracle) over a literal VALUES model — a real
    // SQL twin: a drift in the TSV parse, the cost snap, the DP
    // tie-break, or the segmentation-derived vocab numbering is a
    // hash mismatch.
    Q("t_unigram_foreign_vocab",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-uniforeign-${storeKey(d)}"
        graft.ops.Bpe.writeText(s, s"$dir/unigram_pieces.tsv", ForeignPiecesTsv)
        idsAsString(graft.ops.Unigram.encodeIdsFromArtifacts(
          s, docs, col("text"), col("doc_id"), dir))
      },
      Some(foreignUnigramSql), build = true),

    // the BFD packs THEMSELVES, content-hash-graded — t_pack_ids_bfd
    // pins the metrics (pack count / waste / overflow); this row pins
    // the literal deliverable: every pack's concatenated id run under
    // the BOUNDED-STATE BFD assignment, as the graded string surface,
    // over the FULL corpus. shardCap=$BfdRowsCap is deliberately
    // below the graded shard sizes so the sub-shard path — the shape
    // that survives a skewed shard at 100 TB — is what the hash
    // grades; it also bounds the oracle's recursive replay at
    // $BfdRowsCap iterations regardless of shard size (the unbounded
    // replay was half the DuckDB control's runtime at sf0.1). The
    // oracle composes the sub-sharded recursive BFD replay with the
    // id-emission CTEs: rank -> sub-shard -> assignment -> per-doc
    // ids -> doc-ordered flatten per pack — so the sub-shard key, the
    // assignment, AND the content it routes are all hashed.
    Q("t_pack_bfd_rows",
      (s, d) => {
        val docs = T(s, d, "documents")
        val trained = graft.ops.Bpe.trainedDictFull(docs, col("text"), iters = 3)
        val ids = graft.ops.Bpe.encodeIds(docs, col("text"), col("doc_id"),
          trained.result)
        idsAsString(graft.ops.Bpe.packIdsBfd(ids,
          docs.select(col("doc_id"), col("lang"), col("source")), PackBudget,
          shardCap = BfdRowsCap))
      },
      Some(s"""${bpeCtes(3).replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |${idsCtes(3)},
              |encl AS (SELECT doc_id, list(coalesce(voc.tok_id, -1) ORDER BY wpos, tpos) AS token_ids
              |         FROM tkq LEFT JOIN voc ON voc.tok = tkq.tok GROUP BY doc_id),
              |pd AS (SELECT d.lang, d.source, e.doc_id,
              |         CAST(len(e.token_ids) AS BIGINT) AS n
              |       FROM encl e JOIN documents d ON d.doc_id = e.doc_id),
              |cs AS (SELECT lang, source, doc_id, n,
              |         CAST((rn0 - 1) // $BfdRowsCap AS BIGINT) AS ss,
              |         CAST(((rn0 - 1) % $BfdRowsCap) + 1 AS INTEGER) AS crn
              |       FROM (SELECT lang, source, doc_id, n,
              |               row_number() OVER (PARTITION BY lang, source
              |                 ORDER BY n DESC, doc_id) AS rn0
              |             FROM pd)),
              |rec AS (
              |  SELECT lang, source, ss, 0 AS rn,
              |         CAST([] AS BIGINT[]) AS bins, CAST([] AS INTEGER[]) AS packs
              |  FROM (SELECT DISTINCT lang, source, ss FROM cs)
              |  UNION ALL
              |  SELECT r.lang, r.source, r.ss, r.rn + 1,
              |    CASE WHEN fit IS NULL
              |         THEN list_append(r.bins, greatest($PackBudget - d.n, 0))
              |         ELSE list_concat(list_concat(r.bins[1:fit-1], [r.bins[fit] - d.n]),
              |                          r.bins[fit+1:len(r.bins)]) END AS bins,
              |    list_append(r.packs, CAST(coalesce(fit, len(r.bins) + 1) AS INTEGER) - 1) AS packs
              |  FROM (SELECT r0.*,
              |          list_position(r0.bins, list_min([b FOR b IN r0.bins IF b >= d0.n])) AS fit
              |        FROM rec r0 JOIN cs d0 ON d0.lang = r0.lang AND d0.source = r0.source
              |                               AND d0.ss = r0.ss AND d0.crn = r0.rn + 1) r
              |  JOIN cs d ON d.lang = r.lang AND d.source = r.source
              |           AND d.ss = r.ss AND d.crn = r.rn + 1),
              |fin AS (SELECT r.* FROM rec r
              |        JOIN (SELECT lang, source, ss, max(crn) AS mx FROM cs GROUP BY 1, 2, 3) m
              |          ON m.lang = r.lang AND m.source = r.source
              |         AND m.ss = r.ss AND m.mx = r.rn),
              |asg AS (SELECT f.lang, f.source, d.doc_id, d.n,
              |          CAST(f.ss * $BfdRowsCap + f.packs[d.crn] AS BIGINT) AS pack_id
              |        FROM fin f JOIN cs d ON d.lang = f.lang AND d.source = f.source
              |                            AND d.ss = f.ss)
              |SELECT a.lang, a.source, a.pack_id,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(a.n) AS BIGINT) AS total_tokens,
              |  array_to_string(flatten(list(e.token_ids ORDER BY a.doc_id)), ' ') AS token_ids
              |FROM asg a JOIN encl e ON e.doc_id = a.doc_id
              |GROUP BY 1, 2, 3""".stripMargin)),

    // model-based quality filtering (ops/Logistic): 6 full-batch GD
    // steps distilling the 0.6-thresholded heuristic quality rule
    // into a 4-weight logistic model over the rule's own features.
    // The TRAJECTORY is graded — per-step weights AND post-step
    // training accuracy — so both the learning dynamics and the
    // serving effect are pinned, not just a terminal state. Every
    // step is one map-side-combined aggregate folding to a p-long
    // gradient row broadcast back in: nothing corpus-sized shuffles.
    Q("t_quality_classifier",
      (s, d) => {
        // ownedLazy: the training loop's first gradient aggregate
        // builds the cache serially (no concurrent consumers)
        val feat = graft.Caches.ownedLazy(qualityFeat(T(s, d, "documents")))
        graft.ops.Logistic.train(feat, p = 4, steps = 6, lr = 2.0)
      },
      Some(logitSql(6))),

    // unigram DECODE — the round-trip witness for the unigram id
    // surface (the t_bpe_decode convention, shared decode core).
    // Unigram's coverage floor (single-char pieces always survive
    // in the model their own word's path feeds) means same-corpus
    // decode must reconstruct EVERY space-stripped doc with zero
    // UNKs — the roundtrip column grades that claim per doc rather
    // than asserting it.
    Q("t_unigram_decode",
      (s, d) => {
        val docs = T(s, d, "documents")
        val segs = graft.ops.Unigram.segmentFull(docs, col("text"), rounds = 2)
        val ids = graft.ops.Unigram.encodeIds(docs, col("text"), col("doc_id"),
          segs.result)
        graft.ops.Unigram.decodeIds(ids, segs.result)
          .join(docs.select(col("doc_id"),
            regexp_replace(col("text"), " ", "").as("stripped")), Seq("doc_id"))
          .select(col("doc_id"), col("decoded"), col("n_unk"),
            (col("decoded") === col("stripped")).as("roundtrip"))
      },
      Some(s"""$unigramIdsCtes,
              |udec AS (SELECT utk.doc_id,
              |           string_agg(CASE WHEN uvoc.tok_id IS NULL THEN chr(65533)
              |                           ELSE utk.tok END, '' ORDER BY wpos, tpos) AS decoded,
              |           CAST(count(*) FILTER (WHERE uvoc.tok_id IS NULL) AS BIGINT) AS n_unk
              |         FROM utk LEFT JOIN uvoc ON uvoc.tok = utk.tok GROUP BY utk.doc_id)
              |SELECT udec.doc_id, udec.decoded, udec.n_unk,
              |  (udec.decoded = regexp_replace(d.text, ' ', '', 'g')) AS roundtrip
              |FROM udec JOIN documents d ON d.doc_id = udec.doc_id""".stripMargin)),

    // unigram encode against the PERSISTED segmentation cache — the
    // serving shape (build-once per corpus fingerprint via the shared
    // marker lifecycle; the store completes the serving family: ANN
    // index, dedup store, BPE dict, sketch store, unigram model).
    // Same oracle as t_unigram_encode_ids: persisted == in-plan,
    // hash-graded.
    Q("t_unigram_encode_indexed",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-unigram-${storeKey(d)}"
        graft.ops.Unigram.buildModelIfAbsent(s, docs, col("text"), dir, rounds = 2,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        idsAsString(
          graft.ops.Unigram.encodeIdsIndexed(s, docs, col("text"), col("doc_id"), dir))
      },
      Some(unigramIdsSql), build = true),

    // unigram-artifact INTERCHANGE, graded end to end — the subword
    // family's other half of t_bpe_export_roundtrip: train → export
    // the piece/count rows as the SentencePiece-style TSV vocabulary
    // → import → re-derive the integer Viterbi costs → segment →
    // emit ids. Counts (exact longs), not float probs, so the
    // round-trip is bit-identical; the oracle is unigramIdsSql
    // verbatim — artifact encode must equal direct encode.
    Q("t_unigram_export_roundtrip",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-uniart-${storeKey(d)}"
        graft.ops.Unigram.exportModelIfAbsent(s, docs, col("text"), dir, rounds = 2,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        idsAsString(graft.ops.Unigram.encodeIdsFromArtifacts(
          s, docs, col("text"), col("doc_id"), dir))
      },
      Some(unigramIdsSql), build = true),

    // the SERVING half of the model-based filter: train the same
    // 6-step distillation (gradient passes only — weights are
    // bit-identical to the graded trajectory, proven by sharing
    // Logistic.gradStep), then score + filter the corpus with the
    // final weights folded into the scan stage as literals: the keep
    // decision rides the feature scan, ZERO exchanges. The kept set
    // AND each doc's p_good are hash-graded, so a weight, snap, or
    // threshold divergence shows as a row diff, not a silent count.
    Q("t_quality_filter",
      (s, d) => {
        // ownedLazy: the training loop's first gradient aggregate
        // builds the cache serially (no concurrent consumers)
        val feat = graft.Caches.ownedLazy(qualityFeat(T(s, d, "documents")))
        val w = graft.ops.Logistic.trainWeights(feat, p = 4, steps = 6, lr = 2.0)
        graft.ops.Logistic.keep(feat, w, threshold = 0.5)
      },
      Some(s"""${logitCtes(6)}
              |SELECT doc_id, ${logitSigSql("w6")} AS p_good
              |FROM feat, w6 WHERE ${logitSigSql("w6")} >= 0.5e0""".stripMargin)),

    // filtering under the PERSISTED quality model — the smallest
    // member of the serving family: the weight vector (p doubles,
    // one parquet row) builds once per corpus fingerprint; every
    // filter job reads ONE row and folds the weights into its scan.
    // Same oracle as t_quality_filter: persisted == in-plan.
    Q("t_quality_filter_indexed",
      (s, d) => {
        // ownedLazy: the training loop's first gradient aggregate
        // builds the cache serially (no concurrent consumers)
        val feat = graft.Caches.ownedLazy(qualityFeat(T(s, d, "documents")))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-logit-${storeKey(d)}"
        graft.ops.Logistic.buildWeightsIfAbsent(s, feat, p = 4, steps = 6,
          lr = 2.0, dir = dir,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        graft.ops.Logistic.keepIndexed(s, feat, dir, threshold = 0.5)
      },
      Some(s"""${logitCtes(6)}
              |SELECT doc_id, ${logitSigSql("w6")} AS p_good
              |FROM feat, w6 WHERE ${logitSigSql("w6")} >= 0.5e0""".stripMargin), build = true),

    // within-doc repetition (Gopher-style quality rule): fraction of
    // repeated 2-grams = 1 - distinct/total. One doc-keyed shuffle;
    // boilerplate/spam scores high, clean prose near 0.
    Q("t_repetition",
      (s, d) => {
        val bi = Dedup.shingleRows(T(s, d, "documents"), col("text"), col("doc_id"), 2)
        bi.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_bigrams"),
          countDistinct(col("s")).as("n_distinct"))
          .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
            (lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams").cast("double"))
              .as("rep_ratio"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |bi AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 1),
             |         i -> concat_ws(' ', tk[i+1], tk[i+2]))) AS s
             |       FROM toks WHERE len(tk) >= 2)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  CAST(count(DISTINCT s) AS BIGINT) AS n_distinct,
             |  1.0 - CAST(count(DISTINCT s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rep_ratio
             |FROM bi GROUP BY doc_id""".stripMargin)),

    // MinHash signature: 4 md5-salted min-hash components per doc
    Q("d_minhash_sig",
      (s, d) => Dedup.minhashSignature(T(s, d, "documents"), col("text"), col("doc_id"),
        shingleK = 3, seeds = Seeds),
      Some(s"$sigCte\nSELECT doc_id, m_0, m_1, m_2, m_3 FROM sig")),

    // LSH banded candidate pairs + signature-agreement estimate
    Q("d_lsh_pairs",
      (s, d) => {
        // keepShort=false: banding drops null signatures anyway, so
        // the null-keeping left join (one shuffle) is pure cost here
        val sig = Dedup.minhashSignature(T(s, d, "documents"), col("text"), col("doc_id"),
          shingleK = 3, seeds = Seeds, keepShort = false)
        Dedup.lshCandidatePairs(Dedup.lshBands(sig, Seeds, Bands), Seeds, Bands)
      },
      Some(s"""$sigCte
              |SELECT doc_a, doc_b, (n_match / 4) AS jaccard_est FROM (
              |$pairsSql)""".stripMargin)),

    // the OTHER band geometry: 8 seeds in 4 bands of TWO rows each —
    // the precision knob production LSH actually turns (a candidate
    // must agree on BOTH components of some band, so boilerplate-ish
    // half-matches stop pairing; the 4x1 default above is the
    // max-recall end). Grades that the engine's banding generalizes
    // beyond rows-per-band=1: the signature scheme's second md5
    // ("mh1:"-salted slices, components 4-7) and the two-component
    // band keys both replay in SQL — band-key equality
    // (md5(m_2b || m_2b+1)) is exactly pairwise component equality
    // because the slices are fixed-width.
    Q("d_lsh_pairs_r2",
      (s, d) => {
        val sig = Dedup.minhashSignature(T(s, d, "documents"), col("text"), col("doc_id"),
          shingleK = 3, seeds = 8, keepShort = false)
        Dedup.lshCandidatePairs(Dedup.lshBands(sig, 8, 4), 8, 4)
      },
      Some {
        val nm = (0 until 8).map(i =>
          s"(CASE WHEN a.m_$i = c.m_$i THEN 1 ELSE 0 END)").mkString(" + ")
        val branches = (0 until 4).map(bn =>
          s"""SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, CAST($nm AS DOUBLE) AS n_match
             |FROM b8 a JOIN b8 c ON a.m_${2 * bn} = c.m_${2 * bn}
             |  AND a.m_${2 * bn + 1} = c.m_${2 * bn + 1} AND a.doc_id < c.doc_id""".stripMargin)
          .mkString("\nUNION\n")
        s"""WITH ${sig8Ctes("documents")}
           |SELECT doc_a, doc_b, (n_match / 8) AS jaccard_est FROM (
           |$branches)""".stripMargin
      }),

    // SimHash (16 bits from md5 hex digit votes)
    Q("d_simhash",
      (s, d) => Dedup.simhash(T(s, d, "documents"), col("text"), col("doc_id"), 16),
      Some {
        val votes = (0 until 16).map(b =>
          s"sum(CASE WHEN substring(hx, ${b + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v_$b")
          .mkString(",\n    ")
        val combine = (0 until 16).map(b =>
          s"(CASE WHEN v_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString("\n    + ")
        s"""SELECT doc_id, CAST($combine AS BIGINT) AS simhash
           |FROM (SELECT doc_id,
           |    $votes
           |  FROM (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS hx FROM documents)
           |  GROUP BY doc_id)""".stripMargin
      }),

    // Hamming distance between adjacent-id docs' simhashes
    Q("d_hamming_adjacent",
      (s, d) => {
        // the signature pipeline (explode -> md5 -> 16-vote groupBy)
        // feeds BOTH sides of the adjacent-id self-join — materialize
        // once (the S3 decode-cache pattern, as in Dedup.jaccard)
        val sh = graft.Caches.owned(
          Dedup.simhash(T(s, d, "documents"), col("text"), col("doc_id"), 16))
        val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
        val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
        a.join(b, col("doc_b") === col("doc_a") + 1)
          .select(col("doc_a"), col("doc_b"),
            text.hamming(col("sh_a"), col("sh_b")).as("hamming"))
      },
      Some {
        val votes = (0 until 16).map(b =>
          s"sum(CASE WHEN substring(hx, ${b + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v_$b")
          .mkString(",\n    ")
        val combine = (0 until 16).map(b =>
          s"(CASE WHEN v_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
        s"""WITH sh AS (
           |  SELECT doc_id, CAST($combine AS BIGINT) AS simhash
           |  FROM (SELECT doc_id,
           |      $votes
           |    FROM (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS hx FROM documents)
           |    GROUP BY doc_id))
           |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
           |FROM sh a JOIN sh c ON c.doc_id = a.doc_id + 1""".stripMargin
      }),

    // duplicate clusters: LSH candidate pairs -> connected components
    // (iterative min-label propagation) -> (doc, canonical keep-first
    // cluster id). The oracle computes the same components via a
    // recursive transitive closure over the identical pair set.
    Q("d_dup_clusters",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 3, Seeds,
          keepShort = false)
        val pairs = Dedup.lshCandidateIdPairs(Dedup.lshBands(sig, Seeds, Bands), Bands).result
        Dedup.dupClusters(pairs)
      },
      Some(s"""${sigCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |pairs AS (SELECT DISTINCT doc_a, doc_b FROM ($pairsSql)),
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              |          UNION SELECT doc_b, doc_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT src, dst FROM edges
              |  UNION
              |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
              |SELECT id AS doc_id, least(id, min(r)) AS cluster
              |FROM reach GROUP BY id""".stripMargin)),

    // exact shingle-set Jaccard over the LSH candidates
    Q("d_jaccard_pairs",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 3, Seeds,
          keepShort = false)
        // id-pairs variant: the rescorer ignores jaccard_est, so the
        // signature columns never enter the self-join/distinct
        val pairs = Dedup.lshCandidateIdPairs(Dedup.lshBands(sig, Seeds, Bands), Bands).result
        Dedup.jaccard(pairs, docs, col("text"), col("doc_id"), 3)
          .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
      },
      Some(s"""$sigCte,
              |pairs AS (SELECT DISTINCT doc_a, doc_b FROM ($pairsSql)),
              |$jaccardCtes
              |SELECT p.doc_a, p.doc_b, coalesce(i.n_inter, 0) AS n_inter,
              |  CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |    / CAST(ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
              |FROM pairs p
              |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
              |JOIN cnt ca ON ca.doc_id = p.doc_a
              |JOIN cnt cb ON cb.doc_id = p.doc_b""".stripMargin)),

    // asymmetric CONTAINMENT over the same LSH candidates — the
    // second dedup axis: c(A⊆B) = |A∩B|/|A|. Jaccard under-scores
    // subset duplication (a doc quoted verbatim inside a longer one
    // scores ≈ |short|/|long|), containment scores it 1.0 — the
    // shingle-set form of Lee et al. 2021's substring criterion,
    // candidate-confined like every pair op here (work ∝ candidates,
    // never corpus²).
    Q("d_containment_pairs",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 3, Seeds,
          keepShort = false)
        val pairs = Dedup.lshCandidateIdPairs(Dedup.lshBands(sig, Seeds, Bands), Bands).result
        Dedup.containment(pairs, docs, col("text"), col("doc_id"), 3)
          .select(col("doc_a"), col("doc_b"), col("n_inter"),
            col("cont_a"), col("cont_b"))
      },
      Some(s"""$sigCte,
              |pairs AS (SELECT DISTINCT doc_a, doc_b FROM ($pairsSql)),
              |$jaccardCtes
              |SELECT p.doc_a, p.doc_b, coalesce(i.n_inter, 0) AS n_inter,
              |  CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(ca.n_sh AS DOUBLE) AS cont_a,
              |  CAST(coalesce(i.n_inter, 0) AS DOUBLE) / CAST(cb.n_sh AS DOUBLE) AS cont_b
              |FROM pairs p
              |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
              |JOIN cnt ca ON ca.doc_id = p.doc_a
              |JOIN cnt cb ON cb.doc_id = p.doc_b""".stripMargin)),

    // the PRODUCTION near-dup policy as an end product: LSH candidates
    // rescored by exact shingle-set Jaccard, pairs at >= 0.5 drop the
    // larger id, keep-list by anti-join. The threshold compares the
    // identical integer-count division on both engines (n_inter /
    // (n_a + n_b - n_inter) — IEEE-exact same shape), so the boundary
    // EDIT-DISTANCE rescoring of LSH candidates — the typo/OCR-noise
    // axis of near-duplication (character-level, where Jaccard works
    // on shingle sets and containment on subset structure): exact
    // Levenshtein computed ONLY over the band-confined candidate
    // pairs (never all-pairs — O(len_a * len_b) per pair is exactly
    // the cost you must confine at corpus scale), and the per-pair DP
    // itself is BOUNDED twice: the exact |len_a - len_b| <= 40
    // prefilter (edit distance >= the length gap, so nothing is
    // lost) skips the DP entirely on length-mismatched candidates,
    // and Spark's threshold form levenshtein(a, b, k) early-exits the
    // band DP at O(k * len) instead of O(len^2) — measured 33.7 s ->
    // 0.6 s at sf0.1 (the full-DP form would dominate the whole
    // bench). The oracle states the same semantics with DuckDB's
    // unbounded levenshtein under the identical WHERE. Output keeps
    // candidates within distance 40 (~a few edited words at this doc
    // length); doc_a < doc_b by the pair generator's construction.
    Q("d_fuzzy_pairs",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 3, Seeds,
          keepShort = false)
        val pairs = Dedup.lshCandidateIdPairs(Dedup.lshBands(sig, Seeds, Bands), Bands).result
        pairs
          .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
          .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
          .where(abs(length(col("ta")) - length(col("tb"))) <= 40)
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("ta"), col("tb"), 40).cast("long").as("edit_dist"))
          .where(col("edit_dist") =!= -1L)
      },
      Some(s"""$sigCte,
              |pairs AS (SELECT DISTINCT doc_a, doc_b FROM ($pairsSql))
              |SELECT p.doc_a, p.doc_b,
              |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
              |FROM pairs p
              |JOIN documents da ON da.doc_id = p.doc_a
              |JOIN documents db ON db.doc_id = p.doc_b
              |WHERE abs(length(da.text) - length(db.text)) <= 40
              |  AND levenshtein(da.text, db.text) <= 40""".stripMargin)),

    // cannot flip. This is the rescore stage pipe_scrub_e2e's comment
    // defers to, graded standalone.
    Q("d_rescored_keep",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 3, Seeds,
          keepShort = false)
        val pairs = Dedup.lshCandidateIdPairs(Dedup.lshBands(sig, Seeds, Bands), Bands).result
        val drop = Dedup.jaccard(pairs, docs, col("text"), col("doc_id"), 3)
          .where(col("jaccard") >= 0.5)
          .select(col("doc_b").as("doc_id")).distinct()
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"))
      },
      Some(s"""$sigCte,
              |pairs AS (SELECT DISTINCT doc_a, doc_b FROM ($pairsSql)),
              |$jaccardCtes,
              |dropped AS (SELECT DISTINCT i.doc_b FROM inter i
              |            JOIN cnt ca ON ca.doc_id = i.doc_a
              |            JOIN cnt cb ON cb.doc_id = i.doc_b
              |            WHERE CAST(i.n_inter AS DOUBLE)
              |              / CAST(ca.n_sh + cb.n_sh - i.n_inter AS DOUBLE) >= 0.5)
              |SELECT doc_id, n_chars FROM documents
              |WHERE doc_id NOT IN (SELECT doc_b FROM dropped)""".stripMargin)),

    // the dedup pipeline's END PRODUCT: the deduplicated corpus.
    // Clusters (signature -> LSH -> connected components) pick a
    // canonical member (min doc_id = the cluster label); every other
    // member is dropped and the keep-list is corpus ANTI-JOIN drop-set.
    // Scale shape: the drop-set is |duplicates| rows (small relative to
    // the corpus by definition of near-dup density), so the anti-join
    // broadcasts or shuffle-hashes on the id key — never corpus².
    // The cluster labels are stored once per corpus fingerprint, the
    // production pattern (labels are always materialized before anyone
    // asks for the deduplicated corpus), so the query itself is the
    // INCREMENTAL keep-list anti-join over them.
    Q("d_dedup_keep",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = s"${sys.props("java.io.tmpdir")}/graft-duplabels-${storeKey(d)}"
        graft.ops.Stores.oncePerFingerprint(s, dir, "duplabels",
            graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet")) {
          val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 3, Seeds,
            keepShort = false)
          val pairs = Dedup.lshCandidateIdPairs(Dedup.lshBands(sig, Seeds, Bands), Bands).result
          Dedup.dupClusters(pairs).write.mode("overwrite").parquet(s"$dir/labels")
        }
        Dedup.keepList(s.read.parquet(s"$dir/labels"), docs)
          .select(col("doc_id"), col("n_chars"))
      },
      Some(s"""${sigCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |pairs AS (SELECT DISTINCT doc_a, doc_b FROM ($pairsSql)),
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              |          UNION SELECT doc_b, doc_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT src, dst FROM edges
              |  UNION
              |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
              |clusters AS (SELECT id AS doc_id, least(id, min(r)) AS cluster
              |             FROM reach GROUP BY id)
              |SELECT d.doc_id, d.n_chars FROM documents d
              |WHERE NOT EXISTS (SELECT 1 FROM clusters c
              |                  WHERE c.doc_id = d.doc_id AND c.doc_id != c.cluster)""".stripMargin), build = true),

    // seeded WEIGHTED sampling without replacement (Efraimidis &
    // Spirakis 2006): key_i = -ln(u_i) / w_i with u_i a seeded
    // md5-derived uniform and w_i = quality + 0.1 (smoothing floor so
    // zero-quality docs keep nonzero mass); the k smallest keys ARE a
    // weighted sample without replacement — the quality-weighted
    // corpus subsampling step of every curation pipeline. Scale
    // shape: u and key are scan-stage; the draw is ONE bounded
    // graft_bottom_k aggregate (<= k rows of partial state per
    // partition, never a global sort — the ORDER BY..LIMIT oracle
    // form would range-sort the corpus); both engines quantize the
    // key before comparing and tie-break on doc_id.
    Q("t_weighted_sample",
      (s, d) => graft.ops.Sampling.weightedSample(
          T(s, d, "documents"), col("doc_id"),
          text.qualityScore(col("text")) + lit(0.1), WSampleK, "ws7")
        .select(col("rn"), col("id").as("doc_id"), col("key")),
      Some {
        def hd(i: Int) =
          s"(CASE WHEN ascii(substring(h, $i, 1)) >= 97 THEN ascii(substring(h, $i, 1)) - 87 ELSE ascii(substring(h, $i, 1)) - 48 END)"
        val v = (2 to 8).foldLeft(s"CAST(${hd(1)} AS BIGINT)")((acc, i) => s"($acc * 16 + ${hd(i)})")
        s"""WITH b AS (SELECT doc_id, text,
           |             md5(concat('ws7:', CAST(doc_id AS VARCHAR))) AS h
           |           FROM documents),
           |k AS (SELECT doc_id,
           |        ${qroundSql(s"-ln((CAST($v AS DOUBLE) + 0.5e0) / 4294967296e0)\n            / (($qualitySql) + 0.1e0)", 6)} AS key
           |      FROM b)
           |SELECT CAST(row_number() OVER (ORDER BY key ASC, doc_id ASC) AS BIGINT) AS rn,
           |       doc_id, key
           |FROM k ORDER BY key ASC, doc_id ASC LIMIT $WSampleK""".stripMargin
      }),

    // PERSISTED dedup index + incremental delta dedup — the serving
    // shape of the dedup family (what d_dedup_keep is to one corpus,
    // this is to a corpus plus a daily crawl): ops.DedupIndex builds
    // the fingerprint + band-bucket/signature store ONCE per corpus
    // fingerprint (marker-skipped on every later call, the AnnIndex
    // lifecycle contract), and the delta batch (doc_id % 10 == 7,
    // held out of the build) dedups against the STORE — corpus text
    // never re-read, store never shuffled, both probes broadcast the
    // delta. Near-dup = >= 3 of 4 MinHash components agree with a
    // band-sharing stored doc; rows-per-band = 1 makes the bucket
    // confinement lossless for that threshold, which is why the
    // oracle can replay the predicate exactly.
    deltaIndexKeepQ("d_delta_index_keep", mod = 10, tag = ""),

    // CRAWL-BATCH-SIZED delta — the serving shape the store exists
    // for: the same build-once/probe-many flow with the delta at 1%
    // of the lake (doc_id % 100 == 7) instead of 10%. Grades that the
    // probe's cost structure (delta-broadcast joins, capped bucket
    // gather) is delta-proportional, not store-proportional — the
    // x1000 SCALE.md row pins the measured timing claim; this row
    // pins the semantics at the driver gate.
    deltaIndexKeepQ("d_delta_index_small", mod = 100, tag = "-small"),

    // TAKEDOWN — the store's erasure verb graded end to end: build
    // over the corpus, tombstone the doc_id % 10 IN (0, 5, 9) slice
    // (DedupIndex.takedown: content-level fp tombstones + doc-level
    // band tombstones, two takedown-sized appends, store untouched),
    // then probe the same held-out delta. A delta doc whose ONLY
    // dup/near-dup lived in the erased slice flips from dropped to
    // KEPT — the post-erasure lake no longer contains its content,
    // so re-crawling it is genuinely new. The oracle replays the
    // tombstone semantics exactly: erased fingerprints leave the
    // exact-dup identity, erased doc_ids leave the banded signature
    // rows BEFORE the density-cap ranking (the probe anti-joins
    // tombstones before the bottom_k gather, so a tombstoned doc
    // never occupies a capped slot — bit-identical to probing a
    // compacted store, which DedupSpec pins separately).
    Q("d_delta_index_takedown",
      (s, d) => {
        val docs = T(s, d, "documents")
        val corpus = docs.where(col("doc_id") % 10 =!= 7)
        val removed = docs.where((col("doc_id") % 10).isin(0, 5, 9))
        val delta = docs.where(col("doc_id") % 10 === 7)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-dedupidx-td-${storeKey(d)}"
        graft.ops.DedupIndex.buildTakedownIfAbsent(s, corpus, removed, dir,
          col("text"), col("doc_id"),
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s,
            s"$d/documents.parquet") + "|td=0,5,9")
        graft.ops.DedupIndex.deltaKeep(s, delta, dir, col("text"), col("doc_id"),
            maxBucket = DeltaProbeCap)
          .select(col("doc_id"), col("n_chars"))
      },
      Some {
        val agree = (0 until Seeds).map(i =>
          s"(CASE WHEN dd.m_$i = cc.m_$i THEN 1 ELSE 0 END)").mkString(" + ")
        // blv = band rows surviving the doc-level tombstones; the
        // density cap ranks the LIVE rows (post-compact parity)
        val rankedCtes = (0 until Bands).map(bn =>
          s"""rc$bn AS (SELECT * FROM (SELECT bc.*,
             |    row_number() OVER (PARTITION BY m_$bn ORDER BY doc_id) AS rk
             |  FROM (SELECT * FROM blv) bc)
             |  WHERE rk <= $DeltaProbeCap)""".stripMargin).mkString(",\n")
        val candBranches = (0 until Bands).map(bn =>
          s"""SELECT dd.doc_id, $agree AS n_match
             |    FROM bd dd JOIN rc$bn cc ON dd.m_$bn = cc.m_$bn""".stripMargin)
          .mkString("\nUNION\n")
        s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
           |removed AS (SELECT * FROM documents WHERE doc_id % 10 IN (0, 5, 9)),
           |delta AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
           |cf AS (SELECT DISTINCT CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT text, $normSql AS norm FROM corpus)),
           |tf AS (SELECT DISTINCT CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT text, $normSql AS norm FROM removed)),
           |df AS (SELECT doc_id, CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT doc_id, text, $normSql AS norm FROM delta)),
           |${sigCtes("corpus", "c")},
           |${sigCtes("delta", "d")},
           |blv AS (SELECT * FROM bc
           |        WHERE doc_id NOT IN (SELECT doc_id FROM removed)),
           |$rankedCtes,
           |near AS (SELECT DISTINCT doc_id FROM ($candBranches) WHERE n_match >= 3)
           |SELECT dl.doc_id, dl.n_chars
           |FROM delta dl JOIN df ON df.doc_id = dl.doc_id
           |WHERE df.fp NOT IN (SELECT fp FROM cf WHERE fp NOT IN (SELECT fp FROM tf))
           |  AND dl.doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin
      }, build = true),

    // the persisted store at the OTHER band geometry (8 seeds, 4
    // VERSIONED PINNED READ graded end to end — the reproducibility
    // handle the zero-window compact protocol opened (CompactSwap:
    // the promotion sentinel doubles as the version's data-file
    // MANIFEST): build the store over a corpus slice, compact
    // (promotes fp_v1 — the pin point), then APPEND a second slice
    // through the canonical deltaKeep lifecycle. The graded output
    // is the PINNED version-1 fp table — which must equal exactly
    // the distinct fingerprints of the pre-pin slice, byte-stable
    // under the post-pin append that landed in the SAME version dir.
    // A manifest that leaked the appended files (or lost folded
    // ones) hash-fails; this is "train against the store as of
    // compact N" as a correctness-gated contract, not just a spec.
    // (Store builds once per corpus fingerprint; the pinned read is
    // stable across repeat runs by construction.)
    Q("d_store_pinned_read",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sliceA = docs.where(col("doc_id") % 7 =!= 0)
        val sliceB = docs.where(col("doc_id") % 7 === 0)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-dedupidx-pin-${storeKey(d)}"
        graft.ops.DedupIndex.buildCompactAppendIfAbsent(s, sliceA, sliceB, dir,
          col("text"), col("doc_id"),
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        graft.ops.DedupIndex.readTableVersion(s, dir, "fp", 1)
      },
      Some(s"""SELECT DISTINCT CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
              |FROM (SELECT text, $normSql AS norm FROM documents WHERE doc_id % 7 <> 0)""".stripMargin), build = true),

    // bands of 2 rows — d_lsh_pairs_r2's precision knob carried to
    // the serving store): near-dup = shares a TWO-component band
    // bucket AND >= 5 of 8 components agree. matchMin = 5 = bands+1
    // keeps the bucket confinement LOSSLESS by pigeonhole (5
    // agreements across 4 two-slot bands must fill some band), so
    // the oracle can replay the plain agreement predicate under the
    // per-bucket density cap — which partitions by BOTH band
    // components here, exactly like the store's md5(concat) band key
    // (fixed-width slices make that bijective).
    Q("d_delta_index_r2",
      (s, d) => {
        val docs = T(s, d, "documents")
        val corpus = docs.where(col("doc_id") % 10 =!= 7)
        val delta = docs.where(col("doc_id") % 10 === 7)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-dedupidx-r2-${storeKey(d)}"
        graft.ops.DedupIndex.buildIfAbsent(s, corpus, dir, col("text"), col("doc_id"),
          shingleK = 3, seeds = 8, bands = 4,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        graft.ops.DedupIndex.deltaKeep(s, delta, dir, col("text"), col("doc_id"),
            shingleK = 3, seeds = 8, bands = 4, matchMin = 5, maxBucket = DeltaProbeCap)
          .select(col("doc_id"), col("n_chars"))
      },
      Some {
        val agree = (0 until 8).map(i =>
          s"(CASE WHEN dd.m_$i = cc.m_$i THEN 1 ELSE 0 END)").mkString(" + ")
        val rankedCtes = (0 until 4).map(bn =>
          s"""rc$bn AS (SELECT * FROM (SELECT b8c.*,
             |    row_number() OVER (PARTITION BY m_${2 * bn}, m_${2 * bn + 1} ORDER BY doc_id) AS rk
             |  FROM b8c)
             |  WHERE rk <= $DeltaProbeCap)""".stripMargin).mkString(",\n")
        val candBranches = (0 until 4).map(bn =>
          s"""SELECT dd.doc_id, $agree AS n_match
             |    FROM b8d dd JOIN rc$bn cc ON dd.m_${2 * bn} = cc.m_${2 * bn}
             |      AND dd.m_${2 * bn + 1} = cc.m_${2 * bn + 1}""".stripMargin)
          .mkString("\nUNION\n")
        s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
           |delta AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
           |cf AS (SELECT DISTINCT CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT text, $normSql AS norm FROM corpus)),
           |df AS (SELECT doc_id, CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT doc_id, text, $normSql AS norm FROM delta)),
           |${sig8Ctes("corpus", "c")},
           |${sig8Ctes("delta", "d")},
           |$rankedCtes,
           |near AS (SELECT DISTINCT doc_id FROM ($candBranches) WHERE n_match >= 5)
           |SELECT dl.doc_id, dl.n_chars
           |FROM delta dl JOIN df ON df.doc_id = dl.doc_id
           |WHERE df.fp NOT IN (SELECT fp FROM cf)
           |  AND dl.doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin
      }, build = true),

    // INCREMENTAL store maintenance, graded end to end: build the
    // dedup store over doc_id % 10 NOT IN (7,8), ingest the day-1
    // batch (% 10 == 8 — its kept sketches APPEND), then dedup the
    // day-2 batch (% 10 == 7) against the APPENDED store. The oracle
    // replays the full two-day sequence in SQL (three sigCtes
    // instances + the set unions), so a half-applied or
    // self-poisoning append (the bug class DedupSpec's parity test
    // caught: the first store write invalidating the kept-plan cache)
    // hash-mismatches here too — through an independent engine.
    Q("d_delta_index_appended",
      (s, d) => {
        val docs = T(s, d, "documents")
        val corpus = docs.where(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8)
        val day1 = docs.where(col("doc_id") % 10 === 8)
        val day2 = docs.where(col("doc_id") % 10 === 7)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-dedupidx-app-${storeKey(d)}"
        graft.ops.DedupIndex.buildAppendIfAbsent(s, corpus, day1, dir,
          col("text"), col("doc_id"), maxBucket = DeltaProbeCap,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
        graft.ops.DedupIndex.deltaKeep(s, day2, dir, col("text"), col("doc_id"),
            maxBucket = DeltaProbeCap)
          .select(col("doc_id"), col("n_chars"))
      },
      Some {
        def agree(a: String, b: String) = (0 until Seeds).map(i =>
          s"(CASE WHEN $a.m_$i = $b.m_$i THEN 1 ELSE 0 END)").mkString(" + ")
        // per-band ranked (density-capped) views of a band store rel —
        // the probe sees only the cap smallest doc_ids per bucket
        def rankedCtes(pfx: String, store: String) = (0 until Bands).map(bn =>
          s"""$pfx$bn AS (SELECT * FROM (SELECT $store.*,
             |    row_number() OVER (PARTITION BY m_$bn ORDER BY doc_id) AS rk FROM $store)
             |  WHERE rk <= $DeltaProbeCap)""".stripMargin).mkString(",\n")
        def branches(probe: String, storePfx: String) = (0 until Bands).map(bn =>
          s"""SELECT dd.doc_id, ${agree("dd", "cc")} AS n_match
             |    FROM $probe dd JOIN $storePfx$bn cc ON dd.m_$bn = cc.m_$bn""".stripMargin)
          .mkString("\nUNION\n")
        s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 7 AND doc_id % 10 <> 8),
           |delta8 AS (SELECT * FROM documents WHERE doc_id % 10 = 8),
           |delta7 AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
           |cf AS (SELECT DISTINCT CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT text, $normSql AS norm FROM corpus)),
           |ef AS (SELECT doc_id, CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT doc_id, text, $normSql AS norm FROM delta8)),
           |df AS (SELECT doc_id, CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
           |       FROM (SELECT doc_id, text, $normSql AS norm FROM delta7)),
           |${sigCtes("corpus", "c")},
           |${sigCtes("delta8", "e")},
           |${sigCtes("delta7", "d")},
           |${rankedCtes("rcc", "bc")},
           |near8 AS (SELECT DISTINCT doc_id FROM (${branches("be", "rcc")}) WHERE n_match >= 3),
           |kept8 AS (SELECT d8.doc_id FROM delta8 d8 JOIN ef ON ef.doc_id = d8.doc_id
           |          WHERE ef.fp NOT IN (SELECT fp FROM cf)
           |            AND d8.doc_id NOT IN (SELECT doc_id FROM near8)),
           |sfp AS (SELECT fp FROM cf
           |        UNION SELECT fp FROM ef WHERE doc_id IN (SELECT doc_id FROM kept8)),
           |sb AS (SELECT * FROM bc
           |       UNION ALL SELECT * FROM be WHERE doc_id IN (SELECT doc_id FROM kept8)),
           |${rankedCtes("rcs", "sb")},
           |near7 AS (SELECT DISTINCT doc_id FROM (${branches("bd", "rcs")}) WHERE n_match >= 3)
           |SELECT dl.doc_id, dl.n_chars
           |FROM delta7 dl JOIN df ON df.doc_id = dl.doc_id
           |WHERE df.fp NOT IN (SELECT fp FROM sfp)
           |  AND dl.doc_id NOT IN (SELECT doc_id FROM near7)""".stripMargin
      }, build = true),

    // fixed-window document chunking with overlap (chunk=500 chars,
    // stride=400 -> 100-char overlap): the context-window splitter every
    // LLM ingest pipeline runs before tokenization. Pure scan-stage
    // sequence+explode — zero shuffle, output rows ~ corpus chars /
    // stride, so the shape is flat at any corpus size.
    Q("t_chunk_split",
      (s, d) => {
        val docs = T(s, d, "documents")
        val n = length(col("text")).cast("long")
        val nChunks = when(n <= ChunkSize, lit(1L))
          .otherwise(floor((n - lit(ChunkSize - ChunkStride + 1)) / lit(ChunkStride.toDouble)).cast("long") + lit(1L))
        docs.select(col("doc_id"), col("text"), nChunks.as("n_chunks"))
          .select(col("doc_id"), col("n_chunks"), col("text"),
            explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id"), col("n_chunks"),
            col("text").substr((col("chunk_id") * ChunkStride + 1).cast("int"), lit(ChunkSize))
              .as("chunk_text"))
      },
      Some(s"""WITH base AS (SELECT doc_id, text,
              |    CASE WHEN length(text) <= $ChunkSize THEN 1
              |         ELSE (length(text) - ${ChunkSize - ChunkStride + 1}) // $ChunkStride + 1 END AS n_chunks
              |  FROM documents),
              |ex AS (SELECT doc_id, text, n_chunks,
              |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM base)
              |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
              |  CAST(n_chunks AS BIGINT) AS n_chunks,
              |  substring(text, CAST(chunk_id * $ChunkStride + 1 AS INT), $ChunkSize) AS chunk_text
              |FROM ex""".stripMargin)),

    // character-trigram LM quality score (the CCNet/KenLM perplexity
    // filter, reduced to a broadcastable n-gram model): train trigram
    // counts on a deterministic reference slice (doc_id % 10 == 0),
    // broadcast the model (bounded: |charset|^3 keys max, ~100k
    // observed), score every doc by its Laplace-smoothed mean log
    // likelihood. Scale shape: model = one bounded agg broadcast back;
    // scoring = scan-stage explode + broadcast join + doc-keyed agg —
    // no corpus-sized shuffle anywhere. Mean is computed in exact
    // integer space (per-term qlong at 1e-6) so the parallel sum is
    // reassociation-proof and hash-matches DuckDB.
    Q("t_lm_score",
      (s, d) => {
        val docs = T(s, d, "documents")
        // native one-pass gram list (returns empty for len<3 — explode
        // drops those rows, matching the oracle's WHERE length >= 3);
        // the composed substring twin is what DuckDB runs and what
        // ScalarsSpec pins this equal to
        val tri = docs.select(col("doc_id"),
          explode(call_function("graft_char_ngrams", col("text"), lit(3))).as("tg"))
        val model = tri.where(col("doc_id") % 10 === 0)
          .groupBy(col("tg")).agg(count(lit(1)).as("cnt"))
        val stats = model.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("v"))
        // precompute the quantized log-likelihood PER MODEL KEY (bounded
        // dimension), not per corpus occurrence: ln runs |model| times
        // instead of |corpus trigrams| times, and the hot scoring path
        // is a codegen'd long lookup. Identical numbers by construction
        // (same per-trigram ln input -> same quantized value), so the
        // per-occurrence oracle SQL is unchanged.
        val qModel = model.crossJoin(broadcast(stats))
          .select(col("tg"),
            qlong(log((col("cnt") + lit(1L)).cast("double")
              / (col("tot") + col("v")).cast("double")), 1e6).as("q"))
        // unseen-trigram fallback ln(1/(tot+v)): coalesce evaluates it
        // only on misses, and its ln input is per-row constant
        val qMiss = qlong(log(lit(1.0) / (col("tot") + col("v")).cast("double")), 1e6)
        tri.join(broadcast(qModel), Seq("tg"), "left")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), coalesce(col("q"), qMiss).as("q"))
          .groupBy(col("doc_id"))
          .agg((sum(col("q")).cast("double") / count(lit(1)).cast("double") / lit(1e6))
            .as("lm_score"))
      },
      Some("""WITH tri AS (SELECT doc_id,
             |    unnest(list_transform(range(0, length(text) - 2),
             |      i -> substring(text, CAST(i + 1 AS INT), 3))) AS tg
             |  FROM documents WHERE length(text) >= 3),
             |model AS (SELECT tg, CAST(count(*) AS BIGINT) AS cnt
             |  FROM tri WHERE doc_id % 10 = 0 GROUP BY tg),
             |stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
             |    CAST(count(*) AS BIGINT) AS v FROM model)
             |SELECT t.doc_id,
             |  CAST(sum(CAST(floor(ln(CAST(coalesce(m.cnt, 0) + 1 AS DOUBLE)
             |        / CAST(s.tot + s.v AS DOUBLE)) * 1000000e0 + 0.5e0) AS BIGINT)) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) / 1000000e0 AS lm_score
             |FROM tri t LEFT JOIN model m ON m.tg = t.tg CROSS JOIN stats s
             |GROUP BY t.doc_id""".stripMargin)),

    // greedy token-budget sequence packing: assign docs (in stable
    // doc_id order) to consecutive packs of <=~1024 tokens — the
    // pretraining batch-assembly step. Partitioned by (lang, source):
    // each shard packs independently, which is the 100 TB shape (a
    // single global running sum would serialize the corpus; per-shard
    // packing is deterministic given the shard key and parallel across
    // shards). One window shuffle on the shard key + one agg shuffle.
    Q("t_pack_sequences",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        T(s, d, "documents")
          .select(col("lang"), col("source"), col("doc_id"),
            text.nTokens(col("text")).as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .groupBy(col("lang"), col("source"),
            expr(s"CAST((cum - 1) DIV $PackBudget AS BIGINT)").as("pack_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            min(col("doc_id")).as("first_doc"))
      },
      Some(s"""WITH t AS (SELECT lang, source, doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
              |c AS (SELECT lang, source, doc_id, n_tokens,
              |    sum(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM t)
              |SELECT lang, source, CAST((cum - 1) // $PackBudget AS BIGINT) AS pack_id,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              |  CAST(min(doc_id) AS BIGINT) AS first_doc
              |FROM c GROUP BY lang, source, pack_id""".stripMargin)),
  )

  /** Build-once/probe-many graded row over the persisted dedup store:
    * corpus = doc_id % `mod` != 7, delta = the held-out % `mod` == 7
    * slice (mod 10 -> a 10% backfill batch, mod 100 -> a 1% crawl
    * batch). The probe runs with the [[DeltaProbeCap]] store-bucket
    * density cap ACTIVE; the oracle replays the cap as a per-band
    * row_number() <= cap over the stored signatures, so the capped
    * semantics themselves are hash-graded. */
  private def deltaIndexKeepQ(name: String, mod: Int, tag: String): Q = Q(name,
    (s, d) => {
      val docs = T(s, d, "documents")
      val corpus = docs.where(col("doc_id") % mod =!= 7)
      val delta = docs.where(col("doc_id") % mod === 7)
      val dir = s"${sys.props("java.io.tmpdir")}/graft-dedupidx$tag-${storeKey(d)}"
      graft.ops.DedupIndex.buildIfAbsent(s, corpus, dir, col("text"), col("doc_id"),
        fingerprint = graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet"))
      graft.ops.DedupIndex.deltaKeep(s, delta, dir, col("text"), col("doc_id"),
          maxBucket = DeltaProbeCap)
        .select(col("doc_id"), col("n_chars"))
    },
    Some {
      val agree = (0 until Seeds).map(i =>
        s"(CASE WHEN dd.m_$i = cc.m_$i THEN 1 ELSE 0 END)").mkString(" + ")
      // the store-bucket density cap, replayed exactly: per band,
      // only the DeltaProbeCap smallest doc_ids of each stored
      // bucket are near-dup candidates (graft_bottom_k on the Spark
      // side == row_number() <= cap here)
      val rankedCtes = (0 until Bands).map(bn =>
        s"""rc$bn AS (SELECT * FROM (SELECT bc.*,
           |    row_number() OVER (PARTITION BY m_$bn ORDER BY doc_id) AS rk FROM bc)
           |  WHERE rk <= $DeltaProbeCap)""".stripMargin).mkString(",\n")
      val candBranches = (0 until Bands).map(bn =>
        s"""SELECT dd.doc_id, $agree AS n_match
           |    FROM bd dd JOIN rc$bn cc ON dd.m_$bn = cc.m_$bn""".stripMargin)
        .mkString("\nUNION\n")
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % $mod <> 7),
         |delta AS (SELECT * FROM documents WHERE doc_id % $mod = 7),
         |cf AS (SELECT DISTINCT CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
         |       FROM (SELECT text, $normSql AS norm FROM corpus)),
         |df AS (SELECT doc_id, CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fp
         |       FROM (SELECT doc_id, text, $normSql AS norm FROM delta)),
         |${sigCtes("corpus", "c")},
         |${sigCtes("delta", "d")},
         |$rankedCtes,
         |near AS (SELECT DISTINCT doc_id FROM ($candBranches) WHERE n_match >= 3)
         |SELECT dl.doc_id, dl.n_chars
         |FROM delta dl JOIN df ON df.doc_id = dl.doc_id
         |WHERE df.fp NOT IN (SELECT fp FROM cf)
         |  AND dl.doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin
    }, build = true)

  // ---- trained language classifier (planted-marker corpus) ----

  private[queries] lazy val LangClasses = Seq("en", "de", "es", "fr", "zh")
  private lazy val LangSteps = 6
  /** Marker vocabularies per class — the FEATURE definition. en's
    * markers occur naturally in every doc (the corpus text is
    * English-ish for all langs); the other classes' markers exist
    * only where [[langSuffix]] plants them, so the planted corpus is
    * linearly separable and the trajectory can show real learning. */
  private lazy val LangMarkers = Seq(
    "en" -> Seq("the", "of", "is", "a"),
    "de" -> Seq("der", "und", "das"),
    "es" -> Seq("el", "la", "y"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("你好", "世界"))
  private lazy val LangSuffix = Seq(
    "en" -> " the of is", "de" -> " der und das", "es" -> " el la y",
    "fr" -> " le les et", "zh" -> " 你好 世界")

  /** (doc_id, y = class index as double, x = [1, f_en..f_zh]) over
    * the planted corpus; f_l = min(marker-ratio * 50, 1) — the ratio
    * scale-up keeps early-step logits out of the flat sigmoid tail
    * (the qualityXs scale-up convention; 50x saturates the planted-marker feature to ~1.0 for typical doc lengths). */
  private def langFeat(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val suffix = LangSuffix.foldRight(lit(""): org.apache.spark.sql.Column) {
      case ((l, sfx), acc) => when(col("lang") === l, lit(sfx)).otherwise(acc) }
    val tk = split(concat(col("text"), suffix), " ")
    val n = size(tk).cast("double")
    val xs = lit(1.0) +: LangMarkers.map { case (_, ms) =>
      least(size(filter(tk, t => t.isin(ms.map(lit): _*))).cast("double") / n * lit(50.0),
        lit(1.0)) }
    val y = LangClasses.zipWithIndex.foldRight(lit(-1.0): org.apache.spark.sql.Column) {
      case ((l, c), acc) => when(col("lang") === l, lit(c.toDouble)).otherwise(acc) }
    docs.select(col("doc_id"), y.as("y"), array(xs: _*).as("x"))
  }

  /** 8-seed signature CTE chain over `from` (the seeds>4 form of
    * [[sigCtes]]: components 0-3 slice the unsalted md5, 4-7 the
    * "mh1:"-salted one — Dedup.minhashSignature's slice scheme).
    * `sfx` suffixes every CTE name so two instances compose. */
  private def sig8Ctes(from: String, sfx: String = ""): String = {
    val mins = (0 until 8).map(s =>
      s"list_min(list_transform(h${s / 4}$sfx, h -> substring(h, ${8 * (s % 4) + 1}, 8))) AS m_$s")
      .mkString(",\n    ")
    s"""toks8$sfx AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $from),
       |sh8$sfx AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN NULL
       |         ELSE list_transform(range(0, len(tk) - 2),
       |                i -> concat_ws(' ', tk[i+1], tk[i+2], tk[i+3])) END AS shl
       |       FROM toks8$sfx),
       |hx8$sfx AS (SELECT doc_id, list_transform(shl, x -> md5(x)) AS h0$sfx,
       |               list_transform(shl, x -> md5('mh1:' || x)) AS h1$sfx FROM sh8$sfx),
       |sig8$sfx AS (SELECT doc_id,
       |    $mins
       |  FROM hx8$sfx),
       |b8$sfx AS (SELECT * FROM sig8$sfx WHERE m_0 IS NOT NULL)""".stripMargin
  }

  /** Corpus-wide line-dedup oracle CTEs over `srcRel` (ls/pos/dup/cov
    * — the [[Dedup.lineDedup]] replay; minDocs = 2, cap-free because
    * the cut is cap-independent). No WITH prefix. */
  private def lineDedupCtes(srcRel: String): String =
    s"""ls AS (SELECT doc_id, string_split(text, ' the ') AS ls FROM $srcRel),
       |pos AS (SELECT doc_id, i, ls[i+1] AS line
       |        FROM (SELECT doc_id, ls, unnest(range(0, len(ls))) AS i FROM ls)),
       |dup AS (SELECT line FROM pos GROUP BY line
       |        HAVING count(DISTINCT doc_id) >= 2),
       |cov AS (SELECT doc_id, list(DISTINCT i) AS cl
       |        FROM pos WHERE line IN (SELECT line FROM dup) GROUP BY doc_id)""".stripMargin

  /** The rebuilt clean text off `l`(ls) LEFT JOIN `c`(cl) — shared by
    * every line-dedup oracle's final projection. */
  private def lineCleanSql: String =
    """coalesce(array_to_string(list_transform(
      |    list_filter(range(0, len(l.ls)),
      |      p -> NOT coalesce(list_contains(c.cl, p), FALSE)),
      |    p -> l.ls[p + 1]), ' the '), '')""".stripMargin

  /** Per-doc argmax serving frame under literal OvR heads — shared by
    * the in-plan (t_lang_classify_served) and persisted
    * (t_lang_classify_indexed) rows, which must stay bit-identical. */
  private def langServed(feat: org.apache.spark.sql.DataFrame,
                         w: Seq[Seq[Double]]): org.apache.spark.sql.DataFrame = {
    val pred = graft.ops.Logistic.predictOvr(col("x"), w)
    val predLang = LangClasses.zipWithIndex.foldRight(lit("unk")) {
      case ((l, c), acc) => when(pred === c, lit(l)).otherwise(acc) }
    feat.select(col("doc_id"), col("y").cast("long").as("y"),
      pred.cast("long").as("pred"), predLang.as("pred_lang"),
      (pred === col("y").cast("int")).cast("long").as("correct"))
  }

  /** The OvR oracle CTE chain: planted features, w0 = zeros, then per
    * step one 30-sum gradient CTE + the K weight-list updates + the
    * argmax accuracy — the logitBody pattern at K = 5 heads. */
  private def ovrBody(steps: Int, lr: String = "4e0"): String = {
    val K = LangClasses.length
    val P = 6
    val suffix = LangSuffix.map { case (l, sfx) => s"WHEN '$l' THEN '$sfx'" }
      .mkString(" ")
    val feats = LangMarkers.map { case (_, ms) =>
      val set = ms.map(m => s"'$m'").mkString(",")
      s"least((CAST(len(list_filter(tk2, x -> list_contains([$set], x))) AS DOUBLE)" +
        s" / CAST(len(tk2) AS DOUBLE)) * 50e0, 1e0)"
    }.mkString(",\n      ")
    val yCase = LangClasses.zipWithIndex
      .map { case (l, c) => s"WHEN '$l' THEN ${c}e0" }.mkString(" ")
    def sig(wRel: String, c: Int): String = {
      val dot = qroundSql((1 to P).map(j => s"x[$j] * $wRel.c$c[$j]").mkString(" + "), 6)
      qroundSql(s"1e0 / (1e0 + exp(-($dot)))", 6)
    }
    val zeros = s"[${Seq.fill(P)("0e0").mkString(", ")}]"
    val sb = new StringBuilder(
      s"""feat AS MATERIALIZED (SELECT doc_id,
         |    CASE lang $yCase END AS y,
         |    [1e0,
         |      $feats] AS x
         |  FROM (SELECT doc_id, lang,
         |          string_split(text || CASE lang $suffix END, ' ') AS tk2
         |        FROM documents)),
         |w0 AS (SELECT ${(0 until K).map(c => s"$zeros AS c$c").mkString(", ")})""".stripMargin)
    for (t <- 1 to steps) {
      val p = t - 1
      val gsums = (for (c <- 0 until K; j <- 0 until P) yield
        s"CAST(sum(${qlongSql(s"((CASE WHEN y = ${c}e0 THEN 1e0 ELSE 0e0 END) - ${sig(s"w$p", c)}) * x[${j + 1}]", "1000000")}) AS BIGINT) AS g_${c}_$j")
        .mkString(",\n         ")
      val wnews = (0 until K).map { c =>
        val es = (0 until P).map(j =>
          qroundSql(s"w$p.c$c[${j + 1}] + $lr * CAST(g_${c}_$j AS DOUBLE) / (1000000e0 * CAST(n AS DOUBLE))", 6))
        s"[${es.mkString(", ")}] AS c$c"
      }.mkString(",\n         ")
      val sigs = (0 until K).map(c => s"${sig(s"w$t", c)} AS s$c").mkString(", ")
      val best = s"greatest(${(0 until K).map(c => s"s$c").mkString(", ")})"
      val predCase = (0 until K).map(c => s"WHEN s$c = best THEN $c").mkString(" ")
      sb ++=
        s""",
           |g$t AS (SELECT $gsums,
           |         CAST(count(*) AS BIGINT) AS n FROM feat, w$p),
           |w$t AS (SELECT $wnews FROM g$t, w$p),
           |s$t AS (SELECT y, $sigs FROM feat, w$t),
           |a$t AS (SELECT ${qroundSql(s"avg(CASE WHEN (CASE $predCase END) = CAST(y AS INTEGER) THEN 1e0 ELSE 0e0 END)", 6)} AS acc
           |       FROM (SELECT y, s0, s1, s2, s3, s4, $best AS best FROM s$t))""".stripMargin
    }
    sb.toString
  }

  private def ovrTrajectorySql: String = {
    val K = LangClasses.length
    val P = 6
    val cols = (for (c <- 0 until K; j <- 0 until P)
      yield s"c$c[${j + 1}] AS w${c}_$j").mkString(", ")
    "WITH " + ovrBody(LangSteps) + "\nSELECT * FROM (" +
      (1 to LangSteps).map(t =>
        s"SELECT CAST($t AS BIGINT) AS step, $cols, acc FROM w$t, a$t")
        .mkString(" UNION ALL ") + ")"
  }

  private def ovrServedSql: String = {
    val K = LangClasses.length
    def sig(c: Int): String = {
      val dot = qroundSql((1 to 6).map(j => s"x[$j] * wf.c$c[$j]").mkString(" + "), 6)
      qroundSql(s"1e0 / (1e0 + exp(-($dot)))", 6)
    }
    val sigs = (0 until K).map(c => s"${sig(c)} AS s$c").mkString(", ")
    val best = s"greatest(${(0 until K).map(c => s"s$c").mkString(", ")})"
    val predCase = (0 until K).map(c => s"WHEN s$c = best THEN $c").mkString(" ")
    val langCase = LangClasses.zipWithIndex
      .map { case (l, c) => s"WHEN $c THEN '$l'" }.mkString(" ")
    "WITH " + ovrBody(LangSteps) +
      s""",
         |wf AS (SELECT * FROM w$LangSteps),
         |sc AS (SELECT doc_id, y, $sigs FROM feat, wf),
         |pr AS (SELECT doc_id, y,
         |         (CASE $predCase END) AS pred
         |       FROM (SELECT doc_id, y, s0, s1, s2, s3, s4, $best AS best FROM sc))
         |SELECT doc_id, CAST(y AS BIGINT) AS y, CAST(pred AS BIGINT) AS pred,
         |  (CASE pred $langCase ELSE 'unk' END) AS pred_lang,
         |  (CASE WHEN pred = CAST(y AS INTEGER) THEN 1 ELSE 0 END)::BIGINT AS correct
         |FROM pr""".stripMargin
  }

  /** The deterministic HTML wrapper the html-front-door rows grade
    * against: title carries `source`, a script and style block and a
    * comment must be DROPPED with content, the nav div and trailing
    * paragraph carry entities (&amp; plus the numeric &#169;), and
    * the doc's text rides in the main <p>. */
  private def htmlWrap(source: org.apache.spark.sql.Column,
                       body: org.apache.spark.sql.Column,
                       lang: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<html><head><title>"), source,
      lit("</title><script type=\"text/javascript\">track(1 &lt; 2);</script>" +
        "<style>.nav{display:none}</style></head><body><!-- chrome -->" +
        "<div class=\"nav\">Home &amp; About</div><p>"),
      body,
      lit("</p><br/><p>lang: "), lang, lit(" &#169; 2024</p></body></html>"))

  /** DuckDB twin of [[graft.functions.text.htmlExtractComposed]] over
    * the [[htmlWrap]] construction (the html input built inline from
    * source/text/lang). RE2 evaluates the identical leftmost-first
    * alternation; entity replaces cover the set the wrapper can
    * produce (incl. the numeric &#169; as an explicit literal ->
    * chr(169)). */
  private def htmlExtractSql: String = {
    val wrap = "'<html><head><title>' || source || " +
      "'</title><script type=\"text/javascript\">track(1 &lt; 2);</script>" +
      "<style>.nav{display:none}</style></head><body><!-- chrome -->" +
      "<div class=\"nav\">Home &amp; About</div><p>' || text || " +
      "'</p><br/><p>lang: ' || lang || ' &#169; 2024</p></body></html>'"
    val tagged = s"regexp_replace($wrap, " +
      "'(?is)(<script\\b[^>]*(>.*?(</script\\s*>|$)|$)" +
      "|<style\\b[^>]*(>.*?(</style\\s*>|$)|$)" +
      "|<!--.*?(-->|$)" +
      "|<[^>]*(>|$))', ' ', 'g')"
    val ent = Seq("'&lt;', '<'", "'&gt;', '>'", "'&quot;', '\"'",
        "'&apos;', chr(39)", "'&nbsp;', ' '", "'&#169;', chr(169)", "'&amp;', '&'")
      .foldLeft(tagged)((c, pair) => s"replace($c, $pair)")
    s"trim(regexp_replace($ent, '[ \\t\\n\\r\\f]+', ' ', 'g'))"
  }

  /** LSH bucket-density cap for the scrub flagships' near-dup stage.
    * Sized to be INACTIVE at every graded SF (max band bucket: clean
    * text 20 at sf0.1, extracted text ~470) and to kill the measured
    * x100 pathology: the HTML wrapper's shared shingles skew minhash
    * minima, and at x10 the extracted corpus already carries a
    * 4,731-member band bucket holding (with its peers over 1000) 66%
    * of all candidate pairs — uncapped, pipe_scrub_html_e2e ran
    * 149.8 s at x100 (slope 64.9/10x; the line-dedup'd pipe_crawl_e2e
    * stayed at 22.7 s, which is how the blow-up was isolated to the
    * wrapper-shingle buckets). Docs whose every band is over-dense
    * fall back to the chain's exact-dedup stage — the standing
    * maxBucket doctrine; drops observable via lshCandidatePairsFull. */
  // final val with a literal = compile-time constant: scrubOracleBody
  // runs during `val all`'s initializer, BEFORE later fields
  // initialize (the lazy-LangClasses lesson); a plain val reads as 0
  // there and silently disables the oracle's cap mirror
  private final val ScrubMaxBucket = 1000

  /** The scrub flagship as a chain over any (doc_id, text) frame —
    * shared by pipe_scrub_e2e (clean text) and pipe_scrub_html_e2e
    * (extracted text). Quality floor -> exact dedup (min-id keeper)
    * -> LSH near-dup removal (density-capped, [[ScrubMaxBucket]]) ->
    * 5-gram decontamination vs the held-out doc_id % 50 == 0 slice,
    * ONE Catalyst plan. */
  /** The WARC container leg shared by t_warc_html_extract and
    * pipe_rag_e2e: each doc's deterministic HTML wrapper travels as a
    * real WARC response record (ops/Warc pack → parseAuto → httpBody
    * strips the HTTP message), framings mixed per id (plain vs
    * record-gzipped, id % 3) — scan-stage mapPartitions, zero
    * shuffles. Returns (doc_id, html) with the RECOVERED markup; the
    * oracle side is byte-identity (the WARC+HTTP leg must round-trip
    * exactly or every extracted char shifts). */
  private def warcRecoveredHtml(s: org.apache.spark.sql.SparkSession,
                                d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    T(s, d, "documents").select(col("doc_id"),
        htmlWrap(col("source"), col("text"), col("lang")).as("html"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, html) =>
          val rec = (Seq("WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:uuid:0000-$id-1>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "WARC-Target-URI" -> s"http://example.com/doc/$id",
            "Content-Type" -> "application/http;msgtype=response"),
            graft.ops.Warc.httpWrap(200, "text/html",
              html.getBytes("UTF-8")))
          val fileBytes =
            if (id % 3 == 0) graft.ops.Warc.gzipMember(graft.ops.Warc.pack(Seq(rec)))
            else graft.ops.Warc.pack(Seq(rec))
          val parsed = graft.ops.Warc.parseAuto(fileBytes).head
          (id, new String(graft.ops.Warc.httpBody(parsed.payload)._2, "UTF-8"))
        }
      }.toDF("doc_id", "html")
  }

  private def scrubChain(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scrubKept(docs).select(col("doc_id"), text.nTokens(col("text")).as("n_tokens"))

  /** The scrub chain's SURVIVORS with their text — the spliceable
    * form for flagships that keep composing after curation
    * (pipe_rag_e2e feeds these docs to the retrieval legs);
    * [[scrubChain]] is its graded (doc_id, n_tokens) projection. */
  private def scrubKept(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.where(col("doc_id") % 50 =!= 0 &&
      text.nTokens(col("text")) >= 5)
    val w = Window.partitionBy(text.fingerprint(col("text")))
    val ex = base.withColumn("_keep", min(col("doc_id")).over(w))
      .where(col("doc_id") === col("_keep")).drop("_keep")
    // `ex` and `near` each feed two consumers below, so their
    // post-shuffle window/anti-join work executes twice in this
    // one plan (ReuseExchange only saves the work below identical
    // exchanges). A RECORDED trade: persisting would collapse the
    // advertised single-Catalyst-plan shape into multiple jobs,
    // and the duplicated subtree is the cheap top of the pipeline
    // (measured slope 1.6 at the 10x corpus, SCALE.md). Callers
    // who want the materialized form compose the Dedup.*Full
    // variants instead.
    val sig = Dedup.minhashSignature(ex, col("text"), col("doc_id"),
      shingleK = 3, seeds = Seeds, keepShort = false)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, Seeds, Bands), Seeds, Bands,
      maxBucket = ScrubMaxBucket)
    val dropNear = pairs.select(col("doc_b").as("doc_id")).distinct()
    val near = ex.join(dropNear, Seq("doc_id"), "left_anti")
    val benchSh = Dedup.shingleRows(docs.where(col("doc_id") % 50 === 0),
      col("text"), col("doc_id"), 5).select(col("s")).distinct()
    val contaminated = Dedup.shingleRows(near, col("text"), col("doc_id"), 5)
      .join(broadcast(benchSh), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
    near.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
  }

  /** The scrub flagship's oracle over any (doc_id, text) relation
    * named `docsRel` — no WITH prefix; callers splice it after their
    * own leading CTEs. */
  private def scrubOracleBody(docsRel: String): String =
    s"""${scrubKeptCtes(docsRel)}
       |SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |FROM skept""".stripMargin

  /** The scrub chain as a CTE chain ending in `skept` = (doc_id,
    * text) — the DuckDB twin of [[scrubKept]], spliceable by oracles
    * that keep composing after curation (pipe_rag_e2e). */
  private def scrubKeptCtes(docsRel: String): String =
    s"""base AS (
       |  SELECT doc_id, text FROM $docsRel
       |  WHERE doc_id % 50 <> 0 AND len(string_split(text, ' ')) >= 5),
       |fp AS (SELECT doc_id, text,
       |         CASE WHEN length(norm) = 0 THEN md5(text) ELSE md5(norm) END AS fingerprint
       |       FROM (SELECT doc_id, text, $normSql AS norm FROM base)),
       |ex AS (SELECT doc_id, text FROM (
       |         SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fingerprint) AS keeper
       |         FROM fp)
       |       WHERE doc_id = keeper),
       |${sigCtes("ex")},
       |drop_near AS (SELECT DISTINCT doc_b AS doc_id FROM (
       |${cappedPairsSql(ScrubMaxBucket)})),
       |near AS (SELECT doc_id, text FROM ex
       |         WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)),
       |btoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $docsRel
       |          WHERE doc_id % 50 = 0),
       |bsh AS (SELECT DISTINCT unnest($gram5) AS s
       |        FROM btoks WHERE len(tk) >= 5),
       |ntoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM near),
       |nsh AS (SELECT doc_id, unnest($gram5) AS s
       |        FROM ntoks WHERE len(tk) >= 5),
       |contaminated AS (SELECT DISTINCT doc_id FROM nsh
       |                 WHERE s IN (SELECT s FROM bsh)),
       |skept AS (SELECT doc_id, text FROM near
       |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))""".stripMargin

  // ---- RAG flagship seams ------------------------------------------

  /** The CURATION half of pipe_rag_e2e: WARC frame → HTTP message →
    * graft_html_extract → cross-doc line dedup → the full scrub chain.
    * Returned uncached; [[ragCuratedStore]] persists it. */
  private def ragCurated(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    val crawl = warcRecoveredHtml(s, d).select(col("doc_id"),
      text.htmlExtract(col("html")).as("text"))
    scrubKept(Dedup.lineDedup(crawl, col("text"), col("doc_id"),
        sep = " the ", maxOcc = 4)
      .select(col("doc_id"), col("clean_text").as("text")))
  }

  /** The curated corpus as parquet, written once per documents
    * fingerprint, so serving (which reads it twice, once per leg) never
    * re-runs curation; returns its path. */
  private def ragCuratedStore(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ragcur-${storeKey(d)}"
    graft.ops.Stores.oncePerFingerprint(s, dir, "ragcur",
        graft.ops.AnnIndex.tableFingerprint(s, s"$d/documents.parquet")) {
      ragCurated(s, d).write.mode("overwrite").parquet(s"$dir/curated")
    }
    s"$dir/curated"
  }

  /** The SERVING half: hybrid BM25 + allow-list-filtered ANN + RRF
    * over an already-curated corpus frame. Builds the shared IVFADC
    * store if absent (O(#files) fingerprint check after the first
    * build), so steady-state cost is the term-confined BM25 scan, the
    * partition-pruned index probe, and a 40-row fusion. */
  private def ragServe(s: org.apache.spark.sql.SparkSession, d: String,
                       curated: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    // the SAME build-once store e_ann_filtered serves from
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-${storeKey(d)}"
    graft.ops.AnnIndex.buildIfAbsent(s, emb.where(col("vec_id") =!= 0), dir,
      SimilarityQueries.IvfK, SimilarityQueries.P,
      fingerprint = Some(graft.ops.AnnIndex.tableFingerprint(s, s"$d/embeddings.parquet")))
    val bm = graft.ops.Retrieval.bm25Scores(curated,
        col("text"), col("doc_id"), Bm25Terms)
      .orderBy(col("score").desc, col("id").asc).limit(20)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("id").asc)).cast("long"))
    val ann = graft.ops.AnnIndex.search(s, dir,
        emb.where(col("vec_id") === 0).select(col("ve").as("qv")),
        nprobe = 1, limit = 20, p = SimilarityQueries.P,
        allow = Some(curated.select(col("doc_id").as("vec_id"))))
      .select(col("vec_id").as("id"), col("ad2"))
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("ad2").asc, col("id").asc)).cast("long"))
    graft.ops.Retrieval.rrfFuse(bm, ann, 60)
      .orderBy(col("rrf").desc, col("id").asc).limit(10)
  }
}
