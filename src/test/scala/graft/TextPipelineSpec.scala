package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.text

/** PII redaction + benchmark decontamination behavior on crafted
  * inputs (the graded queries hash-compare the same transforms against
  * DuckDB on the synthetic corpus, which contains little real PII —
  * these cases pin what the operators actually do to hits). */
class TextPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("redactPii: emails and phone runs become typed tokens, clean text untouched") {
    val rows = Seq(
      "mail me at jane.doe+spam@sub.example.co.uk today",
      "call +1 (415) 555-0199 now",
      "both a.b@x.org and 0171-555 0123 here",
      "no pii at all",
      "v2.0 released 2024",           // short digit runs survive
      "order 12345678901 shipped"     // long bare digit run IS a phone-shaped hit
    ).toDF("text")
    val got = rows.select(text.redactPii($"text").as("r")).collect().map(_.getString(0))
    assert(got(0) == "mail me at <EMAIL> today")
    assert(got(1) == "call <PHONE> now")
    assert(got(2) == "both <EMAIL> and <PHONE> here")
    assert(got(3) == "no pii at all")
    assert(got(4) == "v2.0 released 2024")
    assert(got(5) == "order <PHONE> shipped")
  }

  test("redactPii is idempotent: placeholders are not re-redacted") {
    val once = Seq("a@b.io and 123456789").toDF("text")
      .select(text.redactPii($"text").as("r"))
    val twice = once.select(text.redactPii($"r").as("r")).collect()(0).getString(0)
    assert(twice == "<EMAIL> and <PHONE>")
  }

  test("decontam shape: full copy of a benchmark doc scores 1.0, clean doc is absent") {
    import graft.ops.Dedup
    val bench = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (50L, bench),                                    // benchmark slice (id % 50 == 0)
      (1L, bench),                                     // verbatim contamination
      (2L, s"prefix words here $bench"),               // partial overlap
      (3L, "completely unrelated clean text with many distinct tokens")
    ).toDF("doc_id", "text")
    val corpusSh = Dedup.shingleRows(docs.where($"doc_id" % 50 =!= 0), $"text", $"doc_id", 5)
    val benchSh = Dedup.shingleRows(docs.where($"doc_id" % 50 === 0), $"text", $"doc_id", 5)
      .select($"s").distinct().withColumn("_hit", lit(1))
    val got = corpusSh.join(broadcast(benchSh), Seq("s"), "left")
      .groupBy($"doc_id")
      .agg(countDistinct($"s").as("n_sh"),
        countDistinct(when($"_hit" === 1, $"s")).as("n_hit"))
      .where($"n_hit" > 0)
      .select($"doc_id", ($"n_hit".cast("double") / $"n_sh".cast("double")).as("frac"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 1.0, s"verbatim copy must be fully contaminated: $got")
    assert(got(2L) > 0.5 && got(2L) < 1.0, s"partial overlap strictly between: $got")
    assert(!got.contains(3L), s"clean doc must not appear: $got")
  }

  test("t_chunk_split: overlapping chunks losslessly reconstruct every doc") {
    // chunk i covers chars [i*400+1, i*400+500]; dropping each later
    // chunk's first 100 chars (the overlap) and concatenating must give
    // back the original text exactly, for short, boundary, and long docs
    val q = SparkEntry.allQueries.find(_.name == "t_chunk_split").get
    val lens = Seq(0, 1, 499, 500, 501, 900, 901, 1300, 5000)
    val docs = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, Seq.tabulate(n)(j => ('a' + (j % 26)).toChar).mkString,
        "en", "src", n.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("chunks").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = q.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val original = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, parts) <- chunks) {
      val rebuilt = parts.head + parts.tail.map(_.drop(100)).mkString
      assert(rebuilt == original(id), s"doc $id len=${original(id).length}: reconstruction broke")
      assert(parts.forall(_.length <= 500), s"doc $id: chunk over size")
      // every doc yields at least one chunk; exact count formula
      val n = original(id).length
      val want = if (n <= 500) 1 else (n - 101) / 400 + 1
      assert(parts.length == want, s"doc $id len=$n: ${parts.length} chunks, want $want")
    }
    assert(chunks.keySet == original.keySet)
  }

  test("t_pack_sequences: packs partition the corpus and respect the token budget") {
    val q = SparkEntry.allQueries.find(_.name == "t_pack_sequences").get
    val d = "/root/testdata/sf0.001"
    val packs = q.fn(spark, d).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2)), (r.getLong(3), r.getLong(4))))
    val docs = sources.Tables.load(spark, d, "documents")
      .select($"lang", $"source", text.nTokens($"text").as("t"))
      .groupBy($"lang", $"source").agg(sum($"t").as("tot"), max($"t").as("mx"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // conservation: per shard, pack totals sum to the shard's tokens and doc counts
    for (((lang, src), (tot, mx, n)) <- docs) {
      val mine = packs.filter(p => p._1._1 == lang && p._1._2 == src)
      assert(mine.map(_._2._2).sum == tot, s"$lang/$src: token conservation")
      assert(mine.map(_._2._1).sum == n, s"$lang/$src: doc conservation")
      // greedy bound: a pack exceeds the budget only via its straddling
      // last doc, so total <= budget + max_doc_tokens - 1
      assert(mine.forall(_._2._2 <= 1024 + mx - 1), s"$lang/$src: pack over budget+straddle")
      // pack ids are distinct; the last is exactly (tot-1) div budget
      // (ids may skip only when a single doc exceeds the budget)
      val ids = mine.map(_._1._3).sorted
      assert(ids.distinct.length == ids.length, s"$lang/$src: duplicate pack ids")
      assert(ids.last == (tot - 1) / 1024, s"$lang/$src: last pack id ${ids.last}")
    }
  }

  test("Bpe.train: greedy overlap, ascending tie-break, and merge chaining") {
    import graft.ops.Bpe
    // aaaa x2 + banana: iteration 1 must pick 'a a' (3 overlapping
    // positions x weight 2 = 6) and merge GREEDILY left-to-right
    // ('aa aa', two merges from the length-3 match run — a single
    // non-rescanning replace would leave 'aa a a'); iteration 2 is a
    // three-way tie at cnt 2 ('a n', 'n a', 'aa aa') broken ascending
    // to 'a n'; iteration 3 merges the merged symbols themselves.
    val docs = Seq((1L, "aaaa aaaa banana")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, $"text", iters = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(merges.toSeq == Seq((1L, "a a", 6L), (2L, "a n", 2L), (3L, "aa aa", 2L)),
      s"merge table: ${merges.toSeq}")
    // and the dict after all three: aaaa fully re-fused, banana split
    val d0 = Bpe.wordDict(docs, $"text")
    val (_, d1) = Bpe.mergeStep(d0)
    val (_, d2) = Bpe.mergeStep(d1)
    val (_, d3) = Bpe.mergeStep(d2)
    val seqs = d3.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(seqs("aaaa") == "aaaa" && seqs("banana") == "b an an a", s"dict: $seqs")
  }

  test("Bpe.encode: trained words use merged segments, unseen words fall back to chars") {
    import graft.ops.Bpe
    val train = Seq((1L, "aaaa aaaa banana")).toDF("doc_id", "text")
    val d0 = Bpe.wordDict(train, $"text")
    val trained = (1 to 3).foldLeft(d0)((dd, _) => Bpe.mergeStep(dd)._2)
    // after 3 merges: aaaa -> 1 subword, banana -> 4 ("b an an a");
    // "spark" never trained -> 5 raw chars
    val enc = Seq((7L, "aaaa banana spark")).toDF("doc_id", "text")
    val row = Bpe.encode(enc, $"text", $"doc_id", trained).collect().head
    assert(row.getLong(0) == 7L && row.getLong(1) == 3L && row.getLong(2) == 10L,
      s"encode row: $row")
  }

  test("Unigram: Viterbi segmentations cover words exactly; model is a distribution") {
    import graft.ops.Unigram
    val docs = Seq((1L, "abab abab ab cd"), (2L, "abab dcba")).toDF("doc_id", "text")
    val seg = Unigram.segmentFull(docs, $"text", rounds = 2).result.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // every word appears once, and its segmentation concatenates back
    // to the word (the DP's cover invariant)
    assert(seg.map(_._1).sorted.toSeq == Seq("ab", "abab", "cd", "dcba"))
    for ((w, _, sg) <- seg) assert(sg.split(" ").mkString == w, s"$w -> '$sg'")
    // the frequent 'abab' must not fall apart into single chars: its
    // substrings dominate the seed counts, so Viterbi keeps a
    // multi-char piece (np < length)
    val abab = seg.find(_._1 == "abab").get._3
    assert(abab.split(" ").length < 4, s"abab segmented as '$abab'")
    val model = Unigram.trainFull(docs, $"text", rounds = 2).result.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // pieces are exactly those used by some Viterbi path, probs sum to
    // ~1 (each snapped to 1e-6), every count positive
    val used = seg.flatMap(_._3.split(" ")).toSet
    assert(model.map(_._1).toSet == used, s"model pieces vs used: ${model.map(_._1).toSet} vs $used")
    assert(model.forall(_._2 > 0))
    assert(math.abs(model.map(_._3).sum - 1.0) < 1e-4, s"prob mass ${model.map(_._3).sum}")
    // over-long words fail loudly, not silently truncated
    val long = Seq((1L, "abcdefghi ab")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Unigram.trainFull(long, $"text", rounds = 1))
    intercept[IllegalArgumentException](Unigram.trainFull(docs, $"text", rounds = 0))
  }

  test("Bpe.trainLocal: merge table identical to the distributed chain") {
    import graft.ops.Bpe
    val docs = Seq((1L, "aaaa aaaa banana"), (2L, "banana spark zz zz zz")).toDF("doc_id", "text")
    val dist = Bpe.train(docs, $"text", iters = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val loc = Bpe.trainLocal(docs, $"text", iters = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(dist == loc, s"\ndist=$dist\n loc=$loc")
    // pruning below the full dict is the caller's trade, not an error:
    // top-1 dict (zz, c=3) trains only on zz's chars
    val pruned = Bpe.trainLocal(docs, $"text", iters = 1, maxWords = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(pruned == Seq((1L, "z z", 3L)), s"pruned: $pruned")
    intercept[IllegalArgumentException](Bpe.trainLocal(docs, $"text", iters = 0))
  }

  test("Bpe.encodeIds: ordered token-id sequences, char fallback, -1 UNK") {
    import graft.ops.Bpe
    val train = Seq((1L, "aaaa aaaa banana")).toDF("doc_id", "text")
    val trained = (1 to 3).foldLeft(Bpe.wordDict(train, $"text"))((dd, _) => Bpe.mergeStep(dd)._2)
    // vocab = distinct d3 symbols {aaaa, b, an, a} numbered in symbol
    // order: a=1, aaaa=2, an=3, b=4
    val voc = Bpe.vocab(trained).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(voc == Map("a" -> 1, "aaaa" -> 2, "an" -> 3, "b" -> 4), s"vocab: $voc")
    // aaaa -> [2]; banana -> b an an a -> [4,3,3,1]; spark (unseen) ->
    // chars s p a r k with only 'a' in the alphabet -> [-1,-1,1,-1,-1]
    val enc = Seq((7L, "aaaa banana spark")).toDF("doc_id", "text")
    val row = Bpe.encodeIds(enc, $"text", $"doc_id", trained).collect().head
    assert(row.getLong(0) == 7L, s"row: $row")
    assert(row.getSeq[Int](1) == Seq(2, 4, 3, 3, 1, -1, -1, 1, -1, -1), s"ids: $row")
  }

  test("Bpe.encode: over-budget dict takes the shuffle-hash path, not broadcast") {
    import graft.ops.Bpe
    val docs = Seq((1L, "aaaa banana"), (2L, "banana spark")).toDF("doc_id", "text")
    val trained = (1 to 2).foldLeft(Bpe.wordDict(docs, $"text"))((dd, _) => Bpe.mergeStep(dd)._2)
    val viaBroadcast = Bpe.encode(docs, $"text", $"doc_id", trained)
    val viaShuffle = Bpe.encode(docs, $"text", $"doc_id", trained, maxBroadcastRows = 0L)
    // contract: the gated form must not plan a broadcast join anywhere
    // (an over-budget dict would otherwise OOM the executors); results
    // are identical either way
    viaShuffle.collect()
    val plan = viaShuffle.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), s"broadcast leaked into gated plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffle-hash dict join:\n$plan")
    assert(viaShuffle.collect().map(_.toSeq).toSet == viaBroadcast.collect().map(_.toSeq).toSet)
    // encodeIds under the same gate: the vocab join stays broadcast
    // (alphabet+merges-sized — always safe) but the DICT join must not
    val ids = Bpe.encodeIds(docs, $"text", $"doc_id", trained, maxBroadcastRows = 0L)
    val idsDefault = Bpe.encodeIds(docs, $"text", $"doc_id", trained)
    assert(ids.collect().map(_.toSeq).toSet == idsDefault.collect().map(_.toSeq).toSet)
  }

  test("Bpe.pruneDict: kept words unchanged, pruned words fall to char floor") {
    import graft.ops.Bpe
    val train = Seq((1L, "aaaa aaaa banana")).toDF("doc_id", "text")
    val trained = (1 to 3).foldLeft(Bpe.wordDict(train, $"text"))((dd, _) => Bpe.mergeStep(dd)._2)
    // counts: aaaa c=2, banana c=1 -> top-1 keeps aaaa only
    val pruned = Bpe.pruneDict(trained, 1)
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("aaaa"))
    val enc = Seq((7L, "aaaa banana")).toDF("doc_id", "text")
    val full = Bpe.encode(enc, $"text", $"doc_id", trained).collect().head
    val cut = Bpe.encode(enc, $"text", $"doc_id", pruned).collect().head
    // kept word aaaa contributes 1 token in both; banana goes from 4
    // merged subwords to its 6-char fallback — only the pruned word moved
    assert(full.getLong(2) == 5L && cut.getLong(2) == 7L, s"full=$full cut=$cut")
    intercept[IllegalArgumentException](Bpe.pruneDict(trained, 0))
  }

  test("Bpe persisted dict: build-once marker semantics + encode parity") {
    import graft.ops.Bpe
    val docs = Seq((1L, "aaaa aaaa banana"), (2L, "banana spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bpedict").toString
    Bpe.buildDictIfAbsent(spark, docs, $"text", dir, iters = 2, fingerprint = "fp1")
    val trained = Bpe.trainedDictFull(docs, $"text", iters = 2)
    val persisted = Bpe.encodeIndexed(spark, docs, $"text", $"doc_id", dir)
      .collect().map(_.toSeq).toSet
    val inPlan = Bpe.encode(docs, $"text", $"doc_id", trained.result)
      .collect().map(_.toSeq).toSet
    trained.unpersistAll()
    assert(persisted == inPlan, s"persisted != in-plan: $persisted vs $inPlan")
    // same fingerprint: the marker must skip the rebuild entirely,
    // even when handed a different corpus frame
    val other = Seq((9L, "zz zz")).toDF("doc_id", "text")
    Bpe.buildDictIfAbsent(spark, other, $"text", dir, iters = 2, fingerprint = "fp1")
    val again = Bpe.encodeIndexed(spark, docs, $"text", $"doc_id", dir)
      .collect().map(_.toSeq).toSet
    assert(again == persisted, "same fingerprint must be a no-op")
    // moved fingerprint: rebuild from the new corpus (old dict gone,
    // so 'aaaa' now falls back to its 4 raw chars)
    Bpe.buildDictIfAbsent(spark, other, $"text", dir, iters = 2, fingerprint = "fp2")
    val rebuilt = Bpe.encodeIndexed(spark,
        Seq((3L, "aaaa")).toDF("doc_id", "text"), $"text", $"doc_id", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rebuilt.toSeq == Seq((3L, 1L, 4L)), s"rebuild: ${rebuilt.toSeq}")
  }

  test("Unigram persisted model: build-once marker semantics + encodeIds parity") {
    import graft.ops.Unigram
    val docs = Seq((1L, "abab abab cd"), (2L, "cd ab")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-unigram").toString
    Unigram.buildModelIfAbsent(spark, docs, $"text", dir, rounds = 2,
      fingerprint = "fp1")
    val segs = Unigram.segmentFull(docs, $"text", rounds = 2)
    val persisted = Unigram.encodeIdsIndexed(spark, docs, $"text", $"doc_id", dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    val inPlan = Unigram.encodeIds(docs, $"text", $"doc_id", segs.result)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    segs.unpersistAll()
    assert(persisted == inPlan, s"persisted != in-plan: $persisted vs $inPlan")
    // same fingerprint: marker skips the rebuild even for another corpus
    val other = Seq((9L, "zz zz")).toDF("doc_id", "text")
    Unigram.buildModelIfAbsent(spark, other, $"text", dir, rounds = 2,
      fingerprint = "fp1")
    val again = Unigram.encodeIdsIndexed(spark, docs, $"text", $"doc_id", dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(again == persisted, "same fingerprint must be a no-op")
    // moved fingerprint: rebuild — the old corpus's words are gone, so
    // encode of 'abab' now char-falls-back with out-of-model chars -> -1
    Unigram.buildModelIfAbsent(spark, other, $"text", dir, rounds = 2,
      fingerprint = "fp2")
    val rebuilt = Unigram.encodeIdsIndexed(spark,
        Seq((3L, "abab")).toDF("doc_id", "text"), $"text", $"doc_id", dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(rebuilt.length == 1 && rebuilt.head._2.forall(_ == -1),
      s"rebuilt model must not know the old corpus: ${rebuilt.toSeq}")
  }

  test("Logistic persisted weights: build-once marker + keepIndexed parity") {
    import graft.ops.Logistic
    val feat = Seq(
      (1L, 1.0, Seq(1.0, 0.9, 0.8, 1.0)), (2L, 0.0, Seq(1.0, 0.1, 0.0, 0.0)),
      (3L, 1.0, Seq(1.0, 0.7, 0.9, 1.0)), (4L, 0.0, Seq(1.0, 0.2, 0.1, 0.0)))
      .toDF("doc_id", "y", "x").persist()
    val dir = java.nio.file.Files.createTempDirectory("graft-logit").toString
    Logistic.buildWeightsIfAbsent(spark, feat, p = 4, steps = 3, lr = 2.0,
      dir = dir, fingerprint = "fp1")
    val w = Logistic.trainWeights(feat, p = 4, steps = 3, lr = 2.0)
    assert(Logistic.storedWeights(spark, dir) == w,
      "stored weights must equal the in-plan training chain's")
    val persisted = Logistic.keepIndexed(spark, feat, dir)
      .collect().map(_.getLong(0)).toSet
    val inPlan = Logistic.keep(feat, w).collect().map(_.getLong(0)).toSet
    assert(persisted == inPlan, s"persisted != in-plan: $persisted vs $inPlan")
    // same fingerprint: no rebuild even when handed different features
    Logistic.buildWeightsIfAbsent(spark, feat.limit(1), p = 4, steps = 3,
      lr = 2.0, dir = dir, fingerprint = "fp1")
    assert(Logistic.storedWeights(spark, dir) == w, "marker must skip rebuild")
    feat.unpersist()
  }

  test("Bpe.encodeStream: streamed doc feed == batch encode over the persisted dict") {
    import graft.ops.Bpe
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val train = Seq((1L, "aaaa aaaa banana"), (2L, "banana spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bpestream").toString
    Bpe.buildDictIfAbsent(spark, train, $"text", dir, iters = 2, fingerprint = "s1")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)] // (doc_id, text, sec)
    val stream = mem.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
    val out = Bpe.encodeStream(spark, stream, $"text", $"doc_id", $"ts", dir)
    val q = out.writeStream.format("memory").queryName("bpe_stream_out")
      .outputMode("append").start()
    try {
      mem.addData((10L, "aaaa banana unseen", 4L), (11L, "banana banana", 6L))
      q.processAllAvailable()
      mem.addData((12L, "late", 100L)) // advances the watermark; closes [0,10)
      q.processAllAvailable()
      val got = spark.table("bpe_stream_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Bpe.encodeIndexed(spark,
          Seq((10L, "aaaa banana unseen"), (11L, "banana banana")).toDF("doc_id", "text"),
          $"text", $"doc_id", dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batch, s"\n got=$got\nbatch=$batch")
    } finally q.stop()
  }

  test("Bpe.mergeStep: an exhausted dictionary is a no-op, not an empty frame") {
    import graft.ops.Bpe
    // every word a single symbol -> no adjacent pair anywhere: best
    // must be EMPTY and the dict must pass through unchanged (the
    // left broadcast join keeps rows; an inner form would silently
    // empty the corpus dictionary)
    val docs = Seq((1L, "a b a")).toDF("doc_id", "text")
    val (best, d1) = Bpe.mergeStep(Bpe.wordDict(docs, $"text"))
    assert(best.collect().isEmpty, "no pair exists to merge")
    val seqs = d1.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(seqs == Map("a" -> "a", "b" -> "b"), s"dict mutated: $seqs")
  }

  test("Bpe/substrScrub: loud contracts on nonsense parameters") {
    import graft.ops.{Bpe, Dedup}
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Bpe.train(docs, $"text", iters = 0))
    intercept[IllegalArgumentException](
      Dedup.substrScrub(docs, $"text", $"doc_id", k = 5, minDocs = 1))
    intercept[IllegalArgumentException](
      Dedup.substrScrub(docs, $"text", $"doc_id", k = 0, minDocs = 2))
  }

  test("weightedSample: inclusion tracks weight (extreme-weight fixture)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 200 rows at weight 1e-3; ids 7 and 13 at weight 1e3. Their ES
    // keys are ~|ln u|/1e3 (≈ 1e-4) vs ~|ln u|*1e3 for the rest — a
    // six-order-of-magnitude gap no uniform draw crosses, so BOTH
    // heavy rows must be in any k>=2 draw, at ranks 1-2.
    val rows = (1L to 200L).map(i => (i, if (i == 7 || i == 13) 1e3 else 1e-3))
      .toDF("id", "w")
    val s10 = graft.ops.Sampling.weightedSample(rows, $"id", $"w", 10, "fix")
      .collect().sortBy(_.getAs[Long]("rn"))
    assert(s10.length == 10)
    val firstTwo = s10.take(2).map(_.getAs[Long]("id")).toSet
    assert(firstTwo == Set(7L, 13L), s"heavy rows not drawn first: ${firstTwo}")
    // k > n returns everything, ranked
    val all = graft.ops.Sampling.weightedSample(rows.limit(5), $"id", $"w", 99, "fix")
    assert(all.count() == 5)
    // on the real corpus: the graded query is deterministic and the
    // weight floor keeps every doc drawable
    val d = "/root/testdata/sf0.01"
    val a = SparkEntry.allQueries.find(_.name == "t_weighted_sample").get
      .fn(spark, d).collect().map(_.getAs[Long]("doc_id")).toSeq
    val b = SparkEntry.allQueries.find(_.name == "t_weighted_sample").get
      .fn(spark, d).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(a == b && a.length == 20, "draw must be deterministic across runs")
  }

  test("Bpe.decodeIds: round-trips encodeIds modulo spaces; UNK decodes to U+FFFD") {
    import graft.ops.Bpe
    val train = Seq((1L, "aaaa aaaa banana")).toDF("doc_id", "text")
    val trained = (1 to 3).foldLeft(Bpe.wordDict(train, $"text"))((dd, _) => Bpe.mergeStep(dd)._2)
    // "aaaa banana spark": aaaa->[2], banana->[4,3,3,1], spark (unseen,
    // chars s/p/r/k outside the alphabet) -> [-1,-1,1,-1,-1]; decode
    // reverses each id and replaces UNK with U+FFFD
    val enc = Seq((7L, "aaaa banana spark")).toDF("doc_id", "text")
    val row = Bpe.decodeIds(
      Bpe.encodeIds(enc, $"text", $"doc_id", trained), trained).collect().head
    assert(row.getAs[Long]("doc_id") == 7L)
    assert(row.getAs[String]("decoded") == "aaaabanana��a��", s"decoded: $row")
    assert(row.getAs[Long]("n_unk") == 4L, s"n_unk: $row")
    // a fully in-vocabulary doc round-trips exactly (modulo spaces)
    val clean = Seq((8L, "banana aaaa banana")).toDF("doc_id", "text")
    val r2 = Bpe.decodeIds(
      Bpe.encodeIds(clean, $"text", $"doc_id", trained), trained).collect().head
    assert(r2.getAs[String]("decoded") == "bananaaaaabanana" && r2.getAs[Long]("n_unk") == 0L)
  }

  test("Bpe.packIds: greedy assignment by cumulative count, ids concatenate in doc order") {
    import graft.ops.Bpe
    // 4 docs of 3/3/3/3 chars in one (lang, source) shard, budget 5:
    // cum = 3,6,9,12 -> pack_id = (cum-1) div 5 = 0,1,1,2
    val docs = Seq(
      (1L, "abc"), (2L, "bca"), (3L, "cab"), (4L, "aaa")).toDF("doc_id", "text")
    val dict = Bpe.wordDict(docs, $"text") // no merges: chars are the vocab
    val ids = Bpe.encodeIds(docs, $"text", $"doc_id", dict)
    val meta = docs.select($"doc_id", lit("xx").as("lang"), lit("s1").as("source"))
    val packs = Bpe.packIds(ids, meta, budget = 5)
      .collect().sortBy(_.getAs[Long]("pack_id"))
    assert(packs.map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("total_tokens"))).toSeq ==
      Seq((0L, 1L, 3L), (1L, 2L, 6L), (2L, 1L, 3L)), packs.toSeq.toString)
    // vocab over d0 symbols {a,b,c} -> a=1,b=2,c=3; pack 1 = docs 2,3
    // in doc order: bca cab -> [2,3,1, 3,1,2]
    assert(packs(1).getSeq[Int](packs(1).fieldIndex("token_ids")) ==
      Seq(2, 3, 1, 3, 1, 2), packs(1).toString)
    // conservation on the real corpus: packs partition the docs and
    // carry exactly their tokens (arrays concatenate, nothing drops).
    // The GRADED query projects token_ids to its space-joined string
    // (idsAsString) — count ids by splitting that surface back.
    val d = "/root/testdata/sf0.001"
    val real = SparkEntry.allQueries.find(_.name == "t_pack_ids").get.fn(spark, d)
      .select($"n_docs", $"total_tokens",
        size(split($"token_ids", " ")).cast("long").as("sz"))
      .collect()
    assert(real.forall(r => r.getAs[Long]("total_tokens") == r.getAs[Long]("sz")),
      "packed array length must equal the counted token total")
    val nDocs = real.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == 500L, s"packs must partition the 500 docs, got $nDocs")
  }

  test("Logistic.train: distillation learns (acc beats majority), in steps+1 fused passes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val fn = SparkEntry.allQueries.find(_.name == "t_quality_classifier").get.fn
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      val df = fn(spark, "/root/testdata/sf0.01")
      val out = df.collect().sortBy(_.getAs[Long]("step"))
      Thread.sleep(2000) // listener bus is async; let starts drain
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    // steps+1 FUSED aggregates (round 17: step t's gradient and step
    // t-1's accuracy share one pass under the same weights), AQE
    // charging 2 jobs each (stage materialization + final) plus one
    // broadcast stage for the one-row weight frame (round 20: weights
    // ride a column instead of folded literals, so the step aggregate
    // compiles ONCE instead of once per distinct weight vector —
    // measured t_quality_classifier 1.19 -> 0.80 s warm), + the
    // feature-cache materialization and the local-frame collect; the
    // first-cut chained-frame form re-executed upstream aggregates
    // combinatorially (246 single-partition exchanges for 6 steps) —
    // this pin is the regression guard on the corpus-passes contract
    assert(jobs.get() <= 28, s"${jobs.get()} jobs for 6 GD steps — lineage re-execution is back")
    val accs = rows.map(_.getAs[Double]("acc")).toSeq
    val base = {
      val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "documents")
      val y = docs.select(
        when(graft.functions.text.qualityScore($"text") >= 0.6, 1.0).otherwise(0.0).as("y"))
        .agg(avg($"y")).collect().head.getDouble(0)
      math.max(y, 1.0 - y)
    }
    assert(accs.last >= 0.8 && accs.last > base,
      s"final acc ${accs.last} must clear the majority baseline $base")
    // monotone non-decreasing once past the first update
    assert(accs.sliding(2).drop(1).forall(p => p(1) >= p(0) - 1e-9),
      s"accuracy trajectory regressed: $accs")
  }

  test("Logistic.trainOvr: multiclass lang distillation converges; served == trajectory-final") {
    val fn = SparkEntry.allQueries.find(_.name == "t_lang_classifier").get.fn
    val rows = fn(spark, "/root/testdata/sf0.01").collect().sortBy(_.getAs[Long]("step"))
    val accs = rows.map(_.getAs[Double]("acc")).toSeq
    // planted markers make the corpus linearly separable: the OvR
    // heads must reach perfect training accuracy, starting from the
    // majority floor (en = 43.6% at sf0.01)
    assert(accs.head < 0.6, s"step-1 accuracy $accs should start near the floor")
    assert(accs.last == 1.0, s"final accuracy must hit 1.0 on separable data: $accs")
    // serving parity: trainOvrWeights == the trajectory's final row
    // (the identical snapped chain minus accuracy passes)
    val served = SparkEntry.allQueries.find(_.name == "t_lang_classify_served").get
      .fn(spark, "/root/testdata/sf0.01").collect()
    assert(served.forall(_.getAs[Long]("correct") == 1L),
      "served argmax must match every planted label at convergence")
    val predLangs = served.map(_.getAs[String]("pred_lang")).toSet
    assert(predLangs == Set("en", "de", "es", "fr", "zh"), predLangs.toString)
  }

  test("OvR weight store: stored == trained, marker makes the rebuild a no-op") {
    import org.apache.spark.sql.functions.col
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ovrw-spec"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    // a tiny separable fixture: 2 classes, bias + one indicator
    val feat = Seq(
      (1L, 0.0, Seq(1.0, 0.0)), (2L, 0.0, Seq(1.0, 0.0)),
      (3L, 1.0, Seq(1.0, 1.0)), (4L, 1.0, Seq(1.0, 1.0)))
      .toDF("doc_id", "y", "x")
    graft.ops.Logistic.buildOvrWeightsIfAbsent(spark, feat, p = 2, classes = 2,
      steps = 3, lr = 4.0, dir = dir, fingerprint = "fx1")
    val stored = graft.ops.Logistic.storedOvrWeights(spark, dir)
    val trained = graft.ops.Logistic.trainOvrWeights(feat, p = 2, classes = 2,
      steps = 3, lr = 4.0)
    assert(stored == trained, s"stored $stored != trained $trained")
    // marker no-op: rewrite the store with junk-free second call —
    // the weights file's mtime must not change
    val wFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/weights"))
      .filter(_.isFile).map(f => f.getPath.getName -> f.getModificationTime).toMap
    graft.ops.Logistic.buildOvrWeightsIfAbsent(spark, feat, p = 2, classes = 2,
      steps = 3, lr = 4.0, dir = dir, fingerprint = "fx1")
    val wFile2 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/weights"))
      .filter(_.isFile).map(f => f.getPath.getName -> f.getModificationTime).toMap
    assert(wFile == wFile2, "marker-matched rebuild must be a no-op")
    // and the served predictions classify the fixture perfectly
    val pred = feat.select(col("doc_id"),
      graft.ops.Logistic.predictOvr(col("x"), stored).as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pred == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1), pred.toString)
  }

  test("ids-flagship gate predicate compiles under CODEGEN_ONLY (no interpreted fallback)") {
    // Regression pin on the round-13 codegen fix: score(qualityX, w)
    // wrapped the inline CaseWhen features in CreateArray and
    // element_at-ed them back; at gate-predicate size Spark's codegen
    // function split put ElementAt's null branch out of scope (Janino
    // "isNull_N is not an rvalue") and the WHOLE predicate silently
    // ran interpreted. scoreCols scores the feature columns directly.
    // CODEGEN_ONLY turns any such fallback into a hard error, so this
    // test fails loudly if the broken shape ever returns.
    import org.apache.spark.sql.functions.col
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      val w = Seq(-1.0, 0.8, 0.9, 0.7)
      val gated = docs
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          graft.functions.text.fingerprint(col("text")).as("fp"))
        .where(graft.ops.Logistic.scoreCols(
          graft.queries.TextQueries.qualityXs, w) >= 0.5)
      assert(gated.count() > 0, "gate must keep some docs at sf0.001")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("BPE artifact interchange: export is byte-stable, import encodes identically") {
    import graft.ops.Bpe
    // corpus with JSON-hostile symbols (quote, backslash) so the
    // vocab.json escaping path is exercised, not just ASCII words
    val docs = Seq(
      (1L, """ab ab "q" c\d ab"""),
      (2L, """c\d c\d "q" ab x"""),
      (3L, "ab x x ab ab c\\d")
    ).toDF("doc_id", "text")
    val (merges, dictCf) = Bpe.trainedWithMergesFull(docs, $"text", iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("bpeart").toString
    Bpe.exportArtifacts(spark, merges, dictCf.result, dir)
    val m1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/merges.txt"))
    val v1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/vocab.json"))
    Bpe.exportArtifacts(spark, merges, dictCf.result, dir) // re-export over the same files
    assert(java.util.Arrays.equals(m1,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/merges.txt"))),
      "merges.txt must be byte-stable across exports")
    assert(java.util.Arrays.equals(v1,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/vocab.json"))),
      "vocab.json must be byte-stable across exports")
    // parity: artifact encode == direct encode, row for row
    val direct = Bpe.encodeIds(docs, $"text", $"doc_id", dictCf.result)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaArt = Bpe.encodeIdsFromArtifacts(spark, docs, $"text", $"doc_id", dir)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaArt == direct, s"artifact round-trip must equal direct encode:\n$viaArt\n$direct")
    // the imported vocab is the exported numbering, escapes intact
    val voc = Bpe.importVocab(spark, s"$dir/vocab.json")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val fromDict = Bpe.vocab(dictCf.result)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(voc == fromDict, "imported vocab.json must reproduce vocab(dict) exactly")
    assert(voc.keys.exists(_.contains("\"")) && voc.keys.exists(_.contains("\\")),
      "fixture must actually exercise the JSON escape path")
    dictCf.unpersistAll()
  }

  test("merges.txt round-trips pairs whose first symbol starts with '#'") {
    import graft.ops.Bpe
    // a corpus of '#'-led tokens trains merges like "# t" — real merge
    // data that a drop-all-comment-lines import filter would silently
    // skip (round-15 advice): only the leading '#version' header may
    // be dropped
    val docs = Seq(
      (1L, "#tag #tag #tag word"),
      (2L, "#tag #top word #tag"),
      (3L, "#top #tag word")
    ).toDF("doc_id", "text")
    val (merges, dictCf) = Bpe.trainedWithMergesFull(docs, $"text", iters = 3)
    val trained = merges.orderBy($"it").select($"pair")
      .collect().map(_.getString(0)).toSeq
    assert(trained.exists(_.startsWith("#")),
      s"fixture must actually train a '#'-leading pair: $trained")
    val dir = java.nio.file.Files.createTempDirectory("bpehash").toString
    Bpe.exportArtifacts(spark, merges, dictCf.result, dir)
    assert(Bpe.importMerges(spark, s"$dir/merges.txt") == trained,
      "import must keep '#'-leading pairs and drop only the header")
    val direct = Bpe.encodeIds(docs, $"text", $"doc_id", dictCf.result)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaArt = Bpe.encodeIdsFromArtifacts(spark, docs, $"text", $"doc_id", dir)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaArt == direct,
      s"artifact encode must equal direct encode under '#' pairs:\n$viaArt\n$direct")
    dictCf.unpersistAll()
  }

  test("unigram artifact interchange: TSV export byte-stable, import encodes identically") {
    import graft.ops.Unigram
    val docs = Seq((1L, "abab ab ba"), (2L, "ba abab abab"), (3L, "ab ab ba")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("uniart").toString
    Unigram.exportModelIfAbsent(spark, docs, $"text", dir, rounds = 2, fingerprint = "fx")
    val t1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/unigram_pieces.tsv"))
    // corrupt the artifact; the fresh-fingerprint rebuild must replace it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/unigram_pieces.tsv"), "corrupt".getBytes)
    Unigram.exportModelIfAbsent(spark, docs, $"text", dir, rounds = 2, fingerprint = "fy")
    assert(java.util.Arrays.equals(t1, java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/unigram_pieces.tsv"))),
      "unigram_pieces.tsv must be byte-stable across exports")
    val segs = Unigram.segmentFull(docs, $"text", rounds = 2)
    val direct = Unigram.encodeIds(docs, $"text", $"doc_id", segs.result)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaArt = Unigram.encodeIdsFromArtifacts(spark, docs, $"text", $"doc_id", dir)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaArt == direct, s"artifact round-trip must equal direct encode:\n$viaArt\n$direct")
    segs.unpersistAll()
  }

  test("packIdsBfd: best-fit-decreasing assignment, budget respected, tokens conserved") {
    import graft.ops.Bpe
    // hand-checked fixture (doc -> n_tokens): en/web {1:700, 2:400,
    // 3:300, 4:300, 5:200, 6:1200}, de/book {7:512, 8:512, 9:10}.
    // BFD at 1024: en/web -> pack0={6} (oversized, alone), pack1={1,3}
    // =1000, pack2={2,4,5}=900; de/book -> pack0={7,8}=1024, pack1={9}
    val ids = Seq(
      (1L, 700), (2L, 400), (3L, 300), (4L, 300), (5L, 200), (6L, 1200),
      (7L, 512), (8L, 512), (9L, 10)
    ).toDF("doc_id", "n").select($"doc_id",
      sequence(lit(1), $"n").as("token_ids")) // content is irrelevant to assignment
    val meta = Seq(
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "web"),
      (4L, "en", "web"), (5L, "en", "web"), (6L, "en", "web"),
      (7L, "de", "book"), (8L, "de", "book"), (9L, "de", "book")
    ).toDF("doc_id", "lang", "source")
    val packs = Bpe.packIdsBfd(ids, meta, 1024)
      .select($"lang", $"source", $"pack_id", $"n_docs", $"total_tokens")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(packs == Map(
      ("en", "web", 0L) -> (1L, 1200L), ("en", "web", 1L) -> (2L, 1000L),
      ("en", "web", 2L) -> (3L, 900L),
      ("de", "book", 0L) -> (2L, 1024L), ("de", "book", 1L) -> (1L, 10L)),
      packs.toString)
    // real corpus: budget never exceeded except single-doc packs;
    // tokens conserved (every doc's ids land in exactly one pack)
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, d, "documents")
    val trained = Bpe.trainedDictFull(docs, $"text", iters = 3)
    val rids = Bpe.encodeIds(docs, $"text", $"doc_id", trained.result).persist()
    val rp = Bpe.packIdsBfd(rids,
      docs.select($"doc_id", $"lang", $"source"), 1024)
      .select($"n_docs", $"total_tokens", size($"token_ids").cast("long").as("sz"))
      .collect()
    assert(rp.forall(r => r.getAs[Long]("total_tokens") == r.getAs[Long]("sz")),
      "packed array length must equal the counted token total")
    assert(rp.forall(r => r.getAs[Long]("total_tokens") <= 1024L ||
      r.getAs[Long]("n_docs") == 1L),
      "only single-doc packs may exceed the budget")
    assert(rp.map(_.getAs[Long]("n_docs")).sum == 500L, "packs must partition the docs")
    val directTotal = rids.agg(sum(size($"token_ids"))).collect()(0).getLong(0)
    assert(rp.map(_.getAs[Long]("total_tokens")).sum == directTotal,
      "token conservation across the doc-keyed join")
    rids.unpersist()
    trained.unpersistAll()
  }

  test("packIdsBfd shardCap: parity below the cap, bounded sub-shards above it") {
    import graft.ops.Bpe
    // same fixture as above; en/web n-DESC order: 6(1200), 1(700),
    // 2(400), 3(300), 4(300), 5(200)
    val ids = Seq(
      (1L, 700), (2L, 400), (3L, 300), (4L, 300), (5L, 200), (6L, 1200),
      (7L, 512), (8L, 512), (9L, 10)
    ).toDF("doc_id", "n").select($"doc_id",
      sequence(lit(1), $"n").as("token_ids"))
    val meta = Seq(
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "web"),
      (4L, "en", "web"), (5L, "en", "web"), (6L, "en", "web"),
      (7L, "de", "book"), (8L, "de", "book"), (9L, "de", "book")
    ).toDF("doc_id", "lang", "source")
    def packsOf(cap: Int) = Bpe.packIdsBfd(ids, meta, 1024, shardCap = cap)
      .select($"lang", $"source", $"pack_id", $"n_docs", $"total_tokens")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // cap >= every shard (6 docs max): EXACT global-BFD parity,
    // including pack ids — ss = 0 everywhere
    assert(packsOf(6) == packsOf(Int.MaxValue), "parity below the cap must be exact")
    assert(packsOf(4096) == packsOf(Int.MaxValue), "default cap >= shard -> global BFD")
    // cap 3 splits en/web into sub-shards {6,1,2} / {3,4,5} on the
    // n DESC, doc ASC order; hand-checked: ss0 -> {6} (oversized,
    // closes), {1}, {2}; ss1 -> {3,4,5}=800 as global pack id
    // 1*3+0=3. de/book (3 docs) fits one sub-shard -> unchanged.
    val capped = packsOf(3)
    assert(capped == Map(
      ("en", "web", 0L) -> (1L, 1200L), ("en", "web", 1L) -> (1L, 700L),
      ("en", "web", 2L) -> (1L, 400L), ("en", "web", 3L) -> (3L, 800L),
      ("de", "book", 0L) -> (2L, 1024L), ("de", "book", 1L) -> (1L, 10L)),
      capped.toString)
    // budget contract survives sub-sharding: never exceeded except
    // single-doc packs; and the bounded-state waste delta vs global
    // BFD is the documented price, not a silent regression — pin it
    def waste(m: Map[(String, String, Long), (Long, Long)]) =
      m.values.map { case (_, tot) => math.max(1024L - tot, 0L) }.sum
    assert(waste(capped) == 2186L && waste(packsOf(Int.MaxValue)) == 1162L,
      s"pinned waste: capped ${waste(capped)} vs global ${waste(packsOf(Int.MaxValue))}")
    // real corpus: sub-sharded packing still partitions the docs and
    // conserves tokens (the t_pack_bfd_rows configuration)
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, d, "documents")
    val trained = Bpe.trainedDictFull(docs, $"text", iters = 3)
    val rids = Bpe.encodeIds(docs, $"text", $"doc_id", trained.result).persist()
    val rp = Bpe.packIdsBfd(rids,
      docs.select($"doc_id", $"lang", $"source"), 1024, shardCap = 4)
      .select($"n_docs", $"total_tokens", size($"token_ids").cast("long").as("sz"))
      .collect()
    assert(rp.map(_.getAs[Long]("n_docs")).sum == 500L,
      "sub-sharded packs must partition the docs")
    assert(rp.forall(r => r.getAs[Long]("total_tokens") == r.getAs[Long]("sz")))
    assert(rp.forall(r => r.getAs[Long]("total_tokens") <= 1024L ||
      r.getAs[Long]("n_docs") == 1L))
    rids.unpersist()
    trained.unpersistAll()
  }

  test("footer gate contract: persisted-dict encodes plan with ZERO gate jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.ops.Bpe
    val docs = Seq((1L, "ab ab ba"), (2L, "ba ab")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpegate").toString
    Bpe.buildDictIfAbsent(spark, docs, $"text", dir, iters = 2, fingerprint = "g1")
    // footer metadata agrees with the real count
    val viaFooter = Bpe.parquetRowCount(spark, s"$dir/dict")
    assert(viaFooter == spark.read.parquet(s"$dir/dict").count(),
      "footer row count must equal the scan count")
    val jobSites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobSites.add(js.stageInfos.map(_.name).mkString("; "))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // PLAN CONSTRUCTION of the serving encode: the broadcast gate
      // reads parquet footers on the driver — no COUNT job may start.
      // (Datasource resolution may run footer-reading "parquet at"
      // jobs; those are metadata-sized and not the gate count this
      // test pins. The in-plan path keeps its one cache-hit count by
      // design.)
      val e1 = Bpe.encodeIndexed(spark, docs, $"text", $"doc_id", dir)
      Thread.sleep(1500) // listener bus is async
      val sites = jobSites.toArray.map(_.toString).toSeq
      assert(!sites.exists(_.contains("count at")),
        s"persisted-dict encode planning must not run a gate count, saw: $sites")
      // and the plan still executes correctly
      assert(e1.count() == 2)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("trainBatched == trainFull merge-for-merge; batch boundaries don't matter") {
    import graft.ops.Bpe
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = Bpe.trainFull(docs, $"text", iters = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("it").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val ref = rows(full.result)
    for (b <- Seq(1, 2, 3, 4)) {
      val got = Bpe.trainBatched(docs, $"text", iters = 4, batch = b)
      assert(rows(got.result) == ref, s"batch=$b diverged from the per-merge chain")
      got.unpersistAll()
    }
    full.unpersistAll()
  }

  test("foreign vocab: the merge chain composes and the artifact's ids are honored") {
    import graft.ops.Bpe
    val docs = Seq((1L, "scan key"), (2L, "an scan scan")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpeforeign-spec").toString
    Bpe.writeText(spark, s"$dir/merges.txt",
      graft.queries.TextQueries.ForeignMergesTxt)
    Bpe.writeText(spark, s"$dir/vocab.json",
      graft.queries.TextQueries.ForeignVocabJson)
    val got = Bpe.encodeIdsFromArtifacts(spark, docs, $"text", $"doc_id", dir)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'scan': a n fires (s c an), then s c (sc an), then sc an (scan)
    // -> foreign id 100. 'key': k e y with y ABSENT from the vocab ->
    // 12 5 -1. 'an' -> 7.
    assert(got(1L) == "100 12 5 -1", got.toString)
    assert(got(2L) == "7 100 100", got.toString)
  }

  test("foreign unigram model: weighted pieces beat char paths; ids are segmentation-derived") {
    import graft.ops.{Bpe, Unigram}
    val docs = Seq((1L, "scan order"), (2L, "an scan")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("uniforeign-spec").toString
    Bpe.writeText(spark, s"$dir/unigram_pieces.tsv",
      graft.queries.TextQueries.ForeignPiecesTsv)
    val ids = Unigram.encodeIdsFromArtifacts(spark, docs, $"text", $"doc_id", dir)
    // segmentation check through the import path directly
    val pieces = Unigram.importPieces(spark, s"$dir/unigram_pieces.tsv")
    val vit = Unigram.viterbiFull(
      Bpe.wordDict(docs, $"text").select($"w", $"c"),
      Unigram.costs(pieces), maxPieceLen = 4, maxWordLen = 8)
    val seg = vit.result.select($"w", $"seg").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(seg("scan") == "scan", s"weighted piece must win: $seg")
    assert(seg("an") == "an", seg.toString)
    assert(seg("order") == "or der", s"or+der beats chars: $seg")
    // the id surface is dense over the SEGMENTATION pieces
    val got = ids.select($"doc_id",
      concat_ws(" ", $"token_ids".cast("array<string>")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // distinct segmentation pieces sorted: an, der, or, scan -> 1..4
    assert(got(1L) == "4 3 2" && got(2L) == "1 4", got.toString)
    vit.unpersistAll()
  }

  test("foreign unigram: uncoverable words (chars outside the model) fall back, never NPE") {
    import graft.ops.{Bpe, Unigram}
    // regression pin for the containsNull fix in viterbiFull's DP
    // zero: 'copy7x'/'123' have no path under an a-z model — the DP
    // holds NULL structs at unreachable positions, which crashed
    // codegen when the fold zero declared containsNull=false (found
    // by the x10 copy-salt corpus). Uncoverable words drop from the
    // segmentation (the oracle's inner-join absence) and encode falls
    // back to char segmentation with segmentation-vocab lookups.
    val docs = Seq((1L, "scan copy7x order"), (2L, "an 123 scan")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("unifv-npe").toString
    Bpe.writeText(spark, s"$dir/unigram_pieces.tsv",
      graft.queries.TextQueries.ForeignPiecesTsv)
    val got = Unigram.encodeIdsFromArtifacts(spark, docs, $"text", $"doc_id", dir)
      .select($"doc_id", concat_ws(" ", $"token_ids".cast("array<string>")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // segmentation vocab over covered words {scan, or der, an}:
    // an=1, der=2, or=3, scan=4; uncoverable words emit one -1 per
    // char (chars are not segmentation pieces here)
    assert(got(1L) == "4 -1 -1 -1 -1 -1 -1 3 2", got.toString)
    assert(got(2L) == "1 -1 -1 -1 4", got.toString)
  }

  test("unigram degenerate inputs: empty words drop; maxPieceLen>16 refuses") {
    import graft.ops.Unigram
    // consecutive spaces make an empty word in the split — Spark's
    // sequence(1,0) counts DOWN where DuckDB's range(1,0) is empty,
    // so the dict must drop it before any DP unroll (the seedPieces
    // guard); the segmentation output then simply has no "" row
    val docs = Seq((1L, "ab  ab ba"), (2L, "ba  ab")).toDF("doc_id", "text")
    val segs = Unigram.segmentFull(docs, $"text", rounds = 2)
    val words = segs.result.select($"w").collect().map(_.getString(0)).toSet
    assert(!words.contains(""), s"empty word must not reach the DP: $words")
    assert(words == Set("ab", "ba"), words.toString)
    segs.unpersistAll()
    val dict = Seq(("abc", 2L)).toDF("w", "c")
    val err = intercept[IllegalArgumentException] {
      Unigram.viterbiFull(dict, Seq(("a", 1L, 1L)).toDF("piece", "cnt", "cost"),
        maxPieceLen = 17, maxWordLen = 8)
    }
    assert(err.getMessage.contains("key packing"))
  }

  test("leakage-free split: exact-dup groups never straddle train/val (planted dups)") {
    // the graded t_split_leakfree runs on a corpus without exact dups
    // (its straddling_fps = 0 is trivially true there); this plants
    // dup GROUPS and pins the invariant that makes the policy safe —
    // plus determinism (same content -> same side, independent of id)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog"
    val docs = (1L to 40L).map { i =>
      (i, if (i % 4 == 0) base                      // one 10-member dup group
          else if (i % 4 == 1) base + " again"      // a second group
          else s"unique document number $i content")
    }.toDF("doc_id", "text")
    val per = docs
      .select(col("doc_id"), graft.functions.text.fingerprint(col("text")).as("fp"))
      .withColumn("split",
        when(substring(md5(concat(lit("split42:"), col("fp"))), 1, 1)
          .isin("0", "1", "2", "3"), lit("val")).otherwise(lit("train")))
    val byFp = per.groupBy("fp").agg(countDistinct("split").as("ns"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(byFp.exists(_._2 == 10L), "fixture must contain a 10-member dup group")
    assert(byFp.forall(_._1 == 1L), s"a dup group straddled the split: ${byFp.toSeq}")
    // determinism + id-independence: re-id the same content, same sides
    val reId = docs.withColumn("doc_id", col("doc_id") + 1000L)
      .select(col("doc_id"), graft.functions.text.fingerprint(col("text")).as("fp"))
      .withColumn("split",
        when(substring(md5(concat(lit("split42:"), col("fp"))), 1, 1)
          .isin("0", "1", "2", "3"), lit("val")).otherwise(lit("train")))
    val a = per.select("fp", "split").distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = reId.select("fp", "split").distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == b, "split must depend on content only")
  }
}
