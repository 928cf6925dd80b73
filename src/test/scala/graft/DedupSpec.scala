package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup
import graft.functions.text

/** Dedup pipeline on planted fixtures: exact dups, near-dups (one
  * word changed), and unrelated docs — the LSH path must surface the
  * near-pair and not the unrelated pair. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again until dawn"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base),                                     // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),           // near-dup of 1
    (4L, "completely different words about spark catalyst tungsten shuffles and joins"),
    (5L, "你好世界 你好世界 你好世界")                  // non-latin: fingerprint must not collapse to md5("")
  ).toDF("doc_id", "text")

  test("exact dup groups: only the planted pair shares a fingerprint") {
    val groups = Dedup.exactDupGroups(docs, $"text", $"doc_id")
    val dupes = groups.where($"n_docs" > 1).collect()
    assert(dupes.length == 1 && dupes(0).getAs[Long]("n_docs") == 2L)
    // CJK doc fingerprint differs from empty-string hash
    val fps = docs.select(text.fingerprint($"text").as("f")).collect().map(_.getString(0))
    assert(fps.distinct.length == 4) // docs 1,2 shared; 3,4,5 distinct
  }

  test("minhash LSH surfaces exact and near dups, not unrelated pairs") {
    val sig = Dedup.minhashSignature(docs, $"text", $"doc_id", shingleK = 3, seeds = 4)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, 4, 4), 4, 4)
    val ps = pairs.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(ps.contains((1L, 2L)), s"exact pair missing: $ps")
    assert(ps.contains((1L, 3L)) || ps.contains((2L, 3L)), s"near pair missing: $ps")
    assert(!ps.exists { case (a, b) => b == 4L || a == 4L }, s"unrelated doc paired: $ps")
    // exact dup has full signature agreement
    val est = pairs.where($"doc_a" === 1 && $"doc_b" === 2).collect()(0).getAs[Double]("jaccard_est")
    assert(est == 1.0)
  }

  test("exact jaccard ranks near-dup high, identical pair at 1.0") {
    val sig = Dedup.minhashSignature(docs, $"text", $"doc_id", 3, 4)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, 4, 4), 4, 4).select("doc_a", "doc_b")
    val j = Dedup.jaccard(pairs, docs, $"text", $"doc_id", 3)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double]("jaccard"))).toMap
    assert(j((1L, 2L)) == 1.0)
    j.get((1L, 3L)).foreach(v => assert(v > 0.5 && v < 1.0))
  }

  test("simhash: near-dups land within small hamming distance") {
    val sh = Dedup.simhash(docs, $"text", $"doc_id", 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) == 0)          // identical docs, identical hash
    assert(ham(sh(1L), sh(3L)) <= 6)          // one-word change stays close
    assert(ham(sh(1L), sh(4L)) >= ham(sh(1L), sh(3L))) // unrelated at least as far
  }

  test("banding r=2 (2 bands of 2 rows) still surfaces exact dups, stricter on near") {
    val sig = Dedup.minhashSignature(docs, $"text", $"doc_id", 3, 4)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, 4, 2), 4, 2)
    val ps = pairs.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // identical docs agree on every component -> both 2-row bands match
    assert(ps.contains((1L, 2L)), s"exact pair missing under r=2: $ps")
    // unrelated docs never collide on two joint components
    assert(!ps.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("maxBucket cap bounds a duplicate-heavy corpus's hot band buckets") {
    // 40 identical docs put all 40 rows into the same bucket in every
    // band -> 780 quadratic pairs uncapped; the cap drops the hot
    // buckets entirely (exact dedup owns this case), while distinct
    // docs' small buckets are untouched.
    val heavy = ((1L to 40L).map(i => (i, base)) ++ Seq(
      (101L, base.replace("lazy", "sleepy") + " extra tail words here"),
      (102L, "completely different words about spark catalyst tungsten shuffles and joins")
    )).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(heavy, $"text", $"doc_id", 3, 4)
    val banded = Dedup.lshBands(sig, 4, 4)
    val uncapped = Dedup.lshCandidatePairs(banded, 4, 4).count()
    val capped = Dedup.lshCandidatePairs(banded, 4, 4, maxBucket = 10).count()
    assert(uncapped >= 780L, s"hot bucket should be quadratic uncapped: $uncapped")
    assert(capped < 40L, s"cap must drop the hot bucket: $capped")
  }

  test("capped run reports dropped buckets; uncapped run reports none") {
    val heavy = ((1L to 40L).map(i => (i, base)) ++ Seq(
      (101L, base.replace("lazy", "sleepy") + " extra tail words here"),
      (102L, "completely different words about spark catalyst tungsten shuffles and joins")
    )).toDF("doc_id", "text")
    val banded = Dedup.lshBands(Dedup.minhashSignature(heavy, $"text", $"doc_id", 3, 4), 4, 4)
    val capped = Dedup.lshCandidatePairsFull(banded, 4, 4, maxBucket = 10)
    val dropped = capped.droppedBuckets.collect()
    // the 40 identical docs form one >10-doc bucket in EACH of the 4
    // bands — the side channel makes the recall loss countable
    assert(dropped.length == 4, s"expected 4 hot buckets, got ${dropped.toSeq}")
    assert(dropped.forall(_.getAs[Long]("n_docs") >= 40L))
    val uncapped = Dedup.lshCandidatePairsFull(banded, 4, 4)
    assert(uncapped.droppedBuckets.count() == 0L)
    capped.unpersistAll(); uncapped.unpersistAll()
  }

  test("lshCandidateIdPairs yields exactly the full variant's pair set") {
    val banded = Dedup.lshBands(Dedup.minhashSignature(docs, $"text", $"doc_id", 3, 4), 4, 4)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.lshCandidatePairsFull(banded, 4, 4)
    val ids = Dedup.lshCandidateIdPairs(banded, 4)
    assert(pairSet(ids.result) == pairSet(full.pairs))
    // and under a cap, both drop the same buckets
    val fullCap = Dedup.lshCandidatePairsFull(banded, 4, 4, maxBucket = 1)
    val idsCap = Dedup.lshCandidateIdPairs(banded, 4, maxBucket = 1)
    assert(pairSet(idsCap.result) == pairSet(fullCap.pairs))
    Seq(full.caches, fullCap.caches, ids.caches, idsCap.caches)
      .flatten.foreach(_.unpersist())
  }

  test("Full variants expose persisted intermediates; unpersistAll releases them") {
    val sig = Dedup.minhashSignature(docs, $"text", $"doc_id", 3, 4)
    val lsh = Dedup.lshCandidatePairsFull(Dedup.lshBands(sig, 4, 4), 4, 4)
    lsh.pairs.write.format("noop").mode("overwrite").save()
    // the bucket-gather pair generator is single-pass: nothing to cache
    assert(lsh.caches.isEmpty)
    lsh.unpersistAll(blocking = true)
    val jf = Dedup.jaccardFull(lsh.pairs.select("doc_a", "doc_b"), docs, $"text", $"doc_id", 3)
    jf.result.write.format("noop").mode("overwrite").save()
    assert(jf.caches.size == 2 && jf.caches.forall(_.storageLevel.useMemory))
    jf.unpersistAll(blocking = true)
    assert(jf.caches.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
  }

  test("32-bit simhash: low 16 bits equal the 16-bit hash; near-dups still close") {
    val sh16 = Dedup.simhash(docs, $"text", $"doc_id", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh32 = Dedup.simhash(docs, $"text", $"doc_id", 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, h) <- sh16) assert((sh32(id) & 0xFFFFL) == h, s"doc $id low bits changed")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh32(1L), sh32(2L)) == 0)
    assert(ham(sh32(1L), sh32(3L)) < ham(sh32(1L), sh32(4L)))
  }

  test("8-seed signature: first 4 components match the 4-seed scheme; b=4,r=2 banding works") {
    val sig4 = Dedup.minhashSignature(docs, $"text", $"doc_id", 3, 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> (0 until 4).map(i => r.getAs[String](s"m_$i"))).toMap
    val sig8df = Dedup.minhashSignature(docs, $"text", $"doc_id", 3, 8)
    val sig8 = sig8df.collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 8).map(i => r.getAs[String](s"m_$i"))).toMap
    // backwards-compatible prefix: seeds<=4 slice scheme unchanged
    for ((id, s4) <- sig4) assert(sig8(id).take(4) == s4, s"doc $id prefix changed")
    // the salted second md5 yields genuinely different components
    assert(sig8(1L).take(4) != sig8(1L).drop(4))
    // banding at r=2 over 8 seeds still surfaces the exact pair only
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig8df.where($"m_0".isNotNull), 8, 4), 8, 4)
    val ps = pairs.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(ps.contains((1L, 2L)))
    assert(!ps.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("native minhash expression == exploded-builtins pipeline on real docs") {
    val real = sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for (seeds <- Seq(4, 8)) {
      val native = Dedup.minhashSignature(real, $"text", $"doc_id", 3, seeds)
        .collect().map(r => r.getLong(0) ->
          (0 until seeds).map(i => r.getAs[String](s"m_$i"))).toMap
      val exploded = Dedup.minhashSignatureExploded(real, $"text", $"doc_id", 3, seeds)
        .collect().map(r => r.getLong(0) ->
          (0 until seeds).map(i => r.getAs[String](s"m_$i"))).toMap
      assert(native.keySet == exploded.keySet)
      for ((id, e) <- exploded)
        assert(native(id) == e, s"doc $id signature diverged (seeds=$seeds)")
    }
  }

  test("native simhash expression == exploded vote pipeline on real docs") {
    val real = sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for (bits <- Seq(16, 32)) {
      val native = Dedup.simhash(real, $"text", $"doc_id", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exploded = Dedup.simhashExploded(real, $"text", $"doc_id", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native == exploded, s"simhash diverged at $bits bits")
    }
  }

  test("native shingle-set expression == explode+collect_set on real docs") {
    val real = sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val native = real.select($"doc_id",
        call_function("graft_shingle_set", split($"text", " "), lit(3)).as("ss"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val composed = Dedup.shingleRows(real, $"text", $"doc_id", 3)
      .groupBy($"doc_id").agg(collect_set($"s").as("ss"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // composed drops <k-token docs; native gives them an empty set
    for ((id, s) <- composed) assert(native(id) == s, s"doc $id shingle set diverged")
    for ((id, s) <- native if !composed.contains(id)) assert(s.isEmpty)
  }

  test("dupClusters: chains merge into one component labeled by its min id") {
    // components: {1,2,3,9} via chain 9-1, 1-2, 2-3; {5,6}; 7 isolated (no pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 1L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("keep-list shape: corpus anti-join drops every non-canonical member, keeps the rest") {
    // same components as above; docs 1..9, keep = {1,5} canonicals +
    // {4,7,8} untouched; drop = {2,3,6,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 1L), (5L, 6L)).toDF("doc_a", "doc_b")
    val docs = (1L to 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val labels = Dedup.dupClusters(pairs)
    val drop = labels.where($"doc_id" =!= $"cluster").select($"doc_id")
    val keep = docs.join(drop, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keep == Seq(1L, 4L, 5L, 7L, 8L))
    // the keepList API over already-materialized labels is the same
    // anti-join — one call, no re-clustering
    val viaApi = Dedup.keepList(labels, docs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaApi == keep)
  }

  test("dupClusters: pointer doubling closes a 64-node chain in <= 7 iterations") {
    // worst case for plain min-propagation (diameter 63 would need 63
    // rounds); the label[label] shortcut halves the remaining distance
    // each round, so maxIter = 7 must suffice — failOnUnconverged
    // (default true) turns a miss into a thrown error, so this test
    // pins BOTH the O(log D) convergence and the correct labels
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(chain, maxIter = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 64)
    assert(got.values.forall(_ == 0L), s"non-root labels: ${got.filter(_._2 != 0L)}")
  }

  test("dupClusters: backstop with labels still moving throws, not silent wrong output") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
    // opt-out path: caller explicitly accepts unconverged labels
    val lax = Dedup.dupClusters(chain, maxIter = 2, failOnUnconverged = false)
    assert(lax.count() == 64)
  }

  test("dupClusters: a lazy (non-eager) checkpointer is a contract error, not a hang") {
    val chain = (0L until 4L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.dupClusters(chain, checkpointer = identity,
        metricTimeout = scala.concurrent.duration.Duration(3, "s"))
    }
    assert(e.getMessage.contains("EAGER"), s"got: ${e.getMessage}")
  }

  test("bloomDecontamKeep: bloom prune + exact confirm equals the plain exact keep-list") {
    // bench doc 10 shares a 5-gram with docs 1/2/3 (same base text);
    // doc 4 and the short doc 6 are clean
    val corpus = docs.union(Seq(
      (6L, "too short"),
      (10L, base + " with a benchmark suffix")).toDF("doc_id", "text"))
    val keep = Dedup.bloomDecontamKeep(corpus, $"text", $"doc_id",
      $"doc_id" === 10L, shingleK = 5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keep == Seq(4L, 5L, 6L), s"got $keep")

    // exactness under a DELIBERATELY tiny, collision-heavy filter:
    // false positives must be confirmed away, never surfacing
    val keepTiny = Dedup.bloomDecontamKeep(corpus, $"text", $"doc_id",
      $"doc_id" === 10L, shingleK = 5, estItems = 4L, numBits = 64L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keepTiny == Seq(4L, 5L, 6L), s"tiny-filter run diverged: $keepTiny")
  }

  test("bloomDecontamKeep: empty benchmark slice keeps the whole corpus") {
    val keep = Dedup.bloomDecontamKeep(docs, $"text", $"doc_id",
      $"doc_id" === 999L, shingleK = 5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keep == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("substrDupPairs: exact dup shares all aligned windows; unrelated docs never pair") {
    val winLen = 40; val stride = 10
    val expWindows = (0 to (base.length - winLen) / stride)
      .map(i => base.substring(i * stride, i * stride + winLen)).distinct.size
    val pairs = Dedup.substrDupPairs(docs, $"text", $"doc_id", winLen, stride)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(exact.exists(_._3 == expWindows.toLong), s"exact-dup pair: $exact, want $expWindows")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: ${pairs.toSeq}")
    // near-dup (doc 3, one word changed) shares the windows before the
    // edit but not all of them
    val near = pairs.filter(p => p._2 == 3L || p._1 == 3L)
    near.foreach(p => assert(p._3 < expWindows, s"near-dup shares all windows? $p"))
  }

  test("substrScrub: shared span cut from BOTH docs, clean and short docs untouched") {
    val fix = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique1 tail1 words here"),
      (2L, "prefix2 alpha beta gamma delta epsilon zeta other2 stuff2"),
      (3L, "totally fresh content nothing shared at all"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.substrScrub(fix, $"text", $"doc_id", k = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // the 6-token shared span yields 5-grams at i=0,1 (doc 1) and
    // i=1,2 (doc 2), covering exactly the 6 span positions in each
    assert(out(1L) == ((10L, 6L, "unique1 tail1 words here")), s"doc1: ${out(1L)}")
    assert(out(2L) == ((9L, 6L, "prefix2 other2 stuff2")), s"doc2: ${out(2L)}")
    assert(out(3L) == ((7L, 0L, "totally fresh content nothing shared at all")),
      s"clean doc rewritten: ${out(3L)}")
    assert(out(4L) == ((2L, 0L, "tiny doc")), s"short doc rewritten: ${out(4L)}")
  }

  test("substrScrub: over-cap mega-gram drops observably, normal grams still scrub") {
    // 'x y z w v' repeats 3x in doc 1 and once in doc 2 (4 occurrences
    // > maxOcc=3 -> dropped, both docs keep those spans); the distinct
    // 'p q r s t' span (one occurrence in each doc, 2 <= cap) scrubs
    val fix = Seq(
      (1L, "x y z w v x y z w v x y z w v p q r s t"),
      (2L, "x y z w v end1 end2 end3 p q r s t")).toDF("doc_id", "text")
    val full = Dedup.substrScrubFull(fix, $"text", $"doc_id",
      k = 5, minDocs = 2, maxOcc = 3)
    val dropped = full.droppedGrams.collect().map(_.getString(0))
    assert(dropped.toSeq == Seq("x y z w v"), s"dropped: ${dropped.toSeq}")
    val out = full.result.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((5L, "x y z w v x y z w v x y z w v")), s"doc1: ${out(1L)}")
    assert(out(2L) == ((5L, "x y z w v end1 end2 end3")), s"doc2: ${out(2L)}")
    // and with a cap that admits it, the mega-gram scrubs everywhere
    val uncapped = Dedup.substrScrub(fix, $"text", $"doc_id",
      k = 5, minDocs = 2, maxOcc = 100)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(uncapped(1L) == "" && uncapped(2L) == "end1 end2 end3",
      s"uncapped: $uncapped")
  }

  test("fuzzy rescore: exact dup at distance 0, near-dup at the word-edit cost, unrelated absent") {
    val sig = Dedup.minhashSignature(docs, $"text", $"doc_id", 3, 4, keepShort = false)
    val pairs = Dedup.lshCandidateIdPairs(Dedup.lshBands(sig, 4, 4), 4).result
    val scored = pairs
      .join(docs.select($"doc_id".as("doc_a"), $"text".as("ta")), Seq("doc_a"))
      .join(docs.select($"doc_id".as("doc_b"), $"text".as("tb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", levenshtein($"ta", $"tb").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(scored.get((1L, 2L)).contains(0), s"exact dup: $scored")
    // 'lazy' -> 'sleepy': levenshtein("lazy","sleepy") = 4 edits in context
    assert(scored.get((1L, 3L)).exists(d => d > 0 && d <= 6), s"near-dup: $scored")
    assert(!scored.keySet.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated paired: $scored")
  }

  test("rows-per-band=2 banding: precision tightens (r2 pairs ⊆ 1-row pairs), dups survive") {
    val sig = Dedup.minhashSignature(docs, $"text", $"doc_id", shingleK = 3, seeds = 8)
    def pairsOf(bands: Int) =
      Dedup.lshCandidatePairs(Dedup.lshBands(sig, 8, bands), 8, bands)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val r2 = pairsOf(4) // 4 bands x 2 rows
    val r1 = pairsOf(8) // 8 bands x 1 row — the max-recall geometry
    // agreeing on BOTH components of a band implies agreeing on each
    // singly — the 2-row candidate set can only shrink
    assert(r2.subsetOf(r1), s"r2 produced pairs r1 lacks: ${r2 -- r1}")
    // the exact dup (full signature agreement) survives any geometry;
    // the unrelated doc pairs with nothing under the tighter bands
    assert(r2.contains((1L, 2L)), s"exact pair lost at rows-per-band=2: $r2")
    assert(!r2.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $r2")
  }

  test("lineDedup: cross-doc boilerplate lines cut everywhere, unique lines survive") {
    val nav = "home products about contact"
    val cookie = "we use cookies accept or decline"
    val ld = Seq(
      (1L, s"$nav\nunique article one body text\n$cookie"),
      (2L, s"$nav\nanother completely different story\n$cookie"),
      (3L, s"$nav\nthird page content here\nrepeated inside\nrepeated inside"),
      (4L, "standalone doc with no shared lines at all")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(ld, $"text", $"doc_id", sep = "\n")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // nav + cookie cut from docs 1-2; nav cut from 3; 4 untouched
    assert(out(1L) == ((3L, 2L, "unique article one body text")), out(1L).toString)
    assert(out(2L) == ((3L, 2L, "another completely different story")), out(2L).toString)
    // doc 3's intra-doc repeat is NOT cross-doc — it survives (both copies)
    assert(out(3L) == ((4L, 1L,
      "third page content here\nrepeated inside\nrepeated inside")), out(3L).toString)
    assert(out(4L) == ((1L, 0L, "standalone doc with no shared lines at all")), out(4L).toString)
  }

  test("lineDedup: randomized parity with an in-memory brute force, all maxOcc routes") {
    // 24 seeded trials over random corpora (shared boilerplate lines
    // + per-doc unique lines, docs with repeats of their own lines),
    // each checked against the reference semantics computed in plain
    // Scala: a line is cut from EVERY position iff it occurs in >= 2
    // distinct docs; survivors rejoin with sep; gutted docs become
    // "". maxOcc cycles through {1, 2, 3, 10000} so both the bounded
    // gather and the broadcast mega-line route (size > maxOcc) carry
    // the same exact result — the cap is a routing knob, never a
    // semantics knob.
    val pool = Seq("nav bar", "cookie banner", "footer text", "alpha", "beta",
      "gamma story line", "delta content", "epsilon words")
    for (trial <- 0 until 24) {
      val rnd = new scala.util.Random(4242 + trial)
      val docsL = (0 until (3 + rnd.nextInt(5))).map { d =>
        val n = 1 + rnd.nextInt(6)
        val ls = (0 until n).map { _ =>
          val base = pool(rnd.nextInt(pool.length))
          if (rnd.nextBoolean()) base else s"$base u$d-${rnd.nextInt(3)}"
        }
        (d.toLong, ls)
      }
      val expected = {
        val docsOf = docsL.flatMap { case (d, ls) => ls.map(l => (l, d)) }
          .groupBy(_._1).map { case (l, occ) => l -> occ.map(_._2).distinct.size }
        docsL.map { case (d, ls) =>
          d -> ls.filter(l => docsOf(l) < 2).mkString("\n")
        }.toMap
      }
      val df = docsL.map { case (d, ls) => (d, ls.mkString("\n")) }.toDF("doc_id", "text")
      val maxOcc = Seq(1, 2, 3, 10000)(trial % 4)
      val got = Dedup.lineDedup(df, $"text", $"doc_id", sep = "\n", maxOcc = maxOcc)
        .select($"doc_id", $"clean_text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected,
        s"trial $trial maxOcc $maxOcc:\n got $got\n exp $expected\n corpus $docsL")
    }
  }

  test("lineDedup maxOcc: the broadcast mega-line route is exact (cap-independent result)") {
    // one boilerplate line in 30 docs (over any small cap), one
    // normal dup in 2 docs, one line repeated 40x inside a SINGLE doc
    // (over-cap but NOT cross-doc: must survive)
    val mega = "subscribe to our newsletter today"
    val ld = ((1L to 30L).map(i => (i, s"$mega\nbody text number $i")) ++
      Seq((31L, "shared pair line\nown text a"),
          (32L, "shared pair line\nown text b"),
          (33L, (1 to 40).map(_ => "intra doc repeat").mkString("\n"))))
      .toDF("doc_id", "text")
    val full = Dedup.lineDedupFull(ld, $"text", $"doc_id", sep = "\n", maxOcc = 3)
    val capped = full.result.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    val uncapped = Dedup.lineDedup(ld, $"text", $"doc_id", sep = "\n")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(capped == uncapped, "mega route changed the cut — it must be exact")
    assert(capped(1L) == ((1L, "body text number 1")), capped(1L).toString)
    assert(capped(31L) == ((1L, "own text a")), capped(31L).toString)
    // the single-doc mega repeat is over-cap but not cross-doc: kept whole
    assert(capped(33L)._1 == 0L, capped(33L).toString)
    // observability: both over-cap lines surface (cross-doc or not)
    val megas = full.megaLines.collect().map(_.getString(0)).toSet
    assert(megas == Set(mega, "intra doc repeat"), megas.toString)
  }

  test("DedupIndex.deltaKeep: loud contract on a missing/half-built store") {
    import graft.ops.DedupIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-miss").toString
    val e = intercept[IllegalArgumentException] {
      DedupIndex.deltaKeep(spark, docs, s"$dir/nothing-here", $"text", $"doc_id")
    }
    assert(e.getMessage.contains("buildIfAbsent"), e.getMessage)
    intercept[IllegalArgumentException] {
      DedupIndex.deltaKeep(spark, docs, dir, $"text", $"doc_id", matchMin = 9)
    }
  }

  test("containment: verbatim quotation scores 1.0 where jaccard collapses") {
    val article = "alpha beta gamma " + base + " delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
    val quote = base // fully contained in article
    val cd = Seq((1L, article), (2L, quote)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val c = Dedup.containment(pairs, cd, $"text", $"doc_id").collect()(0)
    val j = Dedup.jaccard(pairs, cd, $"text", $"doc_id").collect()(0)
    // every 3-shingle of the quote appears in the article -> cont_b = 1.0
    assert(c.getAs[Double]("cont_b") == 1.0, s"quote not contained: $c")
    assert(c.getAs[Double]("cont_a") < 0.5, s"article should not be contained: $c")
    assert(j.getAs[Double]("jaccard") < 0.5, s"jaccard must under-score the quotation: $j")
  }

  test("DedupIndex: delta dedups against the persisted store, never the corpus text") {
    import graft.ops.DedupIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-spec").toString
    // corpus = the fixture docs; delta plants one exact dup (101), one
    // near-dup (102: one word differs from doc 1), one fresh doc
    // (103), one short fresh doc (104: below the shingle width, NULL
    // signature -> exact check only), and one short doc whose
    // fingerprint collides with nothing (105)
    val delta = Seq(
      (101L, base),                                  // exact dup of corpus doc 1
      (102L, base.replace("dawn", "noon")),          // near-dup of corpus doc 1
      (103L, "entirely novel content streaming watermarks state stores and sinks forever"),
      (104L, "tiny doc"),                            // short, fresh
      (105L, "未知 文档")                              // short, non-latin, fresh
    ).toDF("doc_id", "text")
    DedupIndex.build(docs, dir, $"text", $"doc_id")
    val kept = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(103L, 104L, 105L), s"kept: $kept")
    // a delta whose short doc exactly duplicates a SHORT corpus doc is
    // dropped by the fingerprint probe alone (no signature exists)
    val corpus2 = Seq((1L, "tiny doc"), (2L, base)).toDF("doc_id", "text")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-dedupidx-spec2").toString
    DedupIndex.build(corpus2, dir2, $"text", $"doc_id")
    val kept2 = DedupIndex.deltaKeep(spark,
        Seq((201L, "tiny doc"), (202L, "other tiny")).toDF("doc_id", "text"),
        dir2, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept2 == Seq(202L), s"kept2: $kept2")
  }

  test("DedupIndex.deltaKeep: over-budget delta degrades to planner-chosen joins, same answer") {
    import graft.ops.DedupIndex
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-gate").toString
    val delta = Seq(
      (101L, base),                                  // exact dup of corpus doc 1
      (102L, base.replace("dawn", "noon")),          // near-dup of corpus doc 1
      (103L, "entirely novel content streaming watermarks state stores and sinks forever")
    ).toDF("doc_id", "text")
    DedupIndex.build(docs, dir, $"text", $"doc_id")
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    // in budget (the serving contract): the delta-side hints are there
    val hinted = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id")
    assert(hints(hinted) > 0, "delta within budget should carry broadcast hints")
    // a "delta" over the broadcast budget (maxBroadcastRows = 0 makes
    // ANY delta over-budget): every forced hint drops away — the exact
    // failure mode that used to OOM the driver on a lake-sized delta
    // now degrades to planner-chosen joins, left sides delta-bounded
    val gated = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id",
      maxBroadcastRows = 0L)
    assert(hints(gated) == 0, "over-budget delta must carry NO forced broadcast hints")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(gated) == Seq(103L) && ids(hinted) == ids(gated),
      "gate must change the plan, never the answer")
    // knownDeltaRows is the zero-jobs path (stream batches, footer
    // counts): the gate honors it without counting
    val known = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id",
      maxBroadcastRows = 0L, knownDeltaRows = Some(3L))
    assert(hints(known) == 0 && ids(known) == Seq(103L))
  }

  test("DedupIndex.deltaKeep maxBucket: mega-bucket probes are density-capped, observably") {
    import graft.ops.DedupIndex
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-cap").toString
    // planted mega-bucket: 10 store docs sharing a long base text with
    // one unique trailing word each — near-identical shingle sets, so
    // the band-key minima all come from the shared shingles and every
    // doc lands in the SAME bucket in every band (boilerplate shape)
    val mega = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val store = (1L to 10L).map(i => (i, s"$mega unique$i")).toDF("doc_id", "text")
    DedupIndex.build(store, dir, $"text", $"doc_id")
    // precondition: the planted bucket really is mega (>= 10 members)
    val bucketMax = spark.read.parquet(s"$dir/bands")
      .groupBy($"band_idx", $"band_key").count().agg(max($"count")).collect()(0).getLong(0)
    assert(bucketMax == 10L, s"fixture did not plant a mega bucket: max=$bucketMax")

    val delta = Seq(
      (101L, s"$mega unique101"), // near-dup of the whole bucket
      (102L, "entirely different words about watermark state stores and streaming sinks"),
      (103L, s"$mega unique10")   // EXACT dup of the over-cap store doc 10
    ).toDF("doc_id", "text")

    val cap = 3
    val r = DedupIndex.deltaKeepFull(spark, delta, dir, $"text", $"doc_id", maxBucket = cap)
    // drops are observable: every truncated bucket reported with its full size
    val drops = r.droppedBuckets.collect()
    assert(drops.nonEmpty, "cap engaged but droppedBuckets is empty")
    assert(drops.forall(_.getAs[Long]("n_docs") == 10L), drops.mkString(","))
    // near-dup caught through the capped survivors; fresh doc kept; and
    // the exact dup of an OVER-CAP member (invisible to the near probe)
    // is still dropped by the fp probe — the cap's backstop
    val kept = r.kept.select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(102L), s"kept: $kept")

    // capped semantics == an independent window replay (row_number per
    // bucket over doc_id, <= cap) of the same store + predicate
    def replayKeep(cp: Int): Seq[Long] = {
      val fpStore = spark.read.parquet(s"$dir/fp")
      val w = Window.partitionBy($"band_idx", $"band_key").orderBy($"doc_id")
      val capped = spark.read.parquet(s"$dir/bands")
        .withColumn("rk", row_number().over(w)).where($"rk" <= cp).drop("rk")
      val dBands = DedupIndex.bandRows(delta, $"text", $"doc_id", 3, 4, 4)
        .select($"band_idx" +: $"band_key" +: $"doc_id".as("delta_id") +:
          (0 until 4).map(i => col(s"m_$i").as(s"d_m_$i")): _*)
      val agreement = (0 until 4)
        .map(i => when(col(s"m_$i") === col(s"d_m_$i"), 1).otherwise(0)).reduce(_ + _)
      val near = capped.join(dBands, Seq("band_idx", "band_key"))
        .where(agreement >= 3).select($"delta_id").distinct()
        .collect().map(_.getLong(0)).toSet
      val dupFp = delta.select($"doc_id",
          graft.functions.text.fingerprint($"text").as("f"))
        .join(fpStore, $"f" === $"fp", "left_semi")
        .collect().map(_.getLong(0)).toSet
      delta.select($"doc_id").collect().map(_.getLong(0))
        .filterNot(near).filterNot(dupFp).sorted.toSeq
    }
    assert(replayKeep(cap) == kept, "capped gather diverges from the window replay")
    // cap >= bucket size: bit-identical to the uncapped probe
    val uncapped = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val wide = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id", maxBucket = 100)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(wide == uncapped, s"wide cap diverged: $wide vs $uncapped")
    assert(replayKeep(100) == uncapped, "replay at wide cap diverges from uncapped")
  }

  test("LineStore: delta scrub == one-shot lineDedup over corpus ∪ batch, on the batch") {
    import graft.ops.{Dedup, LineStore}
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-linestore-parity"
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val nav = "home products about contact"
    val corpus = Seq(
      (1L, s"$nav\nstory one body"),
      (2L, s"$nav\nstory two body"),
      (3L, "footer text here\nunrelated corpus doc"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, s"$nav\nfresh crawl content"),        // nav known to the store
      (102L, "footer text here\nmore fresh words"), // 1 store + 1 batch doc = 2
      (103L, "batch dup line\nalpha"),              // dup WITHIN the batch
      (104L, "batch dup line\nbeta"),
      (105L, "wholly unique document"))
      .toDF("doc_id", "text")
    LineStore.build(corpus, dir, $"text", $"doc_id")
    val scrubbed = LineStore.scrubDelta(spark, batch, dir, $"text", $"doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // the stated contract: identical to the one-shot corpus-wide op
    // over corpus ∪ batch, restricted to the batch's docs
    val oneShot = Dedup.lineDedup(corpus.unionAll(batch), $"text", $"doc_id")
      .where($"doc_id" >= 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(scrubbed == oneShot, s"scrub=$scrubbed\noneShot=$oneShot")
    assert(scrubbed(101L) == ((1L, "fresh crawl content")), scrubbed(101L).toString)
    assert(scrubbed(102L) == ((1L, "more fresh words")), scrubbed(102L).toString)
    assert(scrubbed(103L) == ((1L, "alpha")), scrubbed(103L).toString)
    assert(scrubbed(105L) == ((0L, "wholly unique document")), scrubbed(105L).toString)

    // append day 1, scrub day 2 against the grown store, compact, re-ask
    LineStore.append(batch, dir, $"text", $"doc_id")
    val day2 = Seq((201L, "fresh crawl content\nnever seen line")).toDF("doc_id", "text")
    // "fresh crawl content" now has 1 stored doc (101) + 1 batch doc = cut
    val d2 = LineStore.scrubDelta(spark, day2, dir, $"text", $"doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(d2(201L) == ((1L, "never seen line")), d2(201L).toString)
    LineStore.compact(spark, dir)
    assert(spark.read.parquet(
        graft.ops.CompactSwap.currentTablePath(spark, dir, "counts"))
      .groupBy($"line").count()
      .where($"count" > 1).isEmpty, "compact must fold partials to one row per line")
    val d2b = LineStore.scrubDelta(spark, day2, dir, $"text", $"doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(d2b == d2, "compaction changed scrub answers")
    // fast-fail under the marker
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_compacting")
    fs.create(marker, true).close()
    val e = intercept[IllegalStateException](
      LineStore.append(day2, dir, $"text", $"doc_id"))
    assert(e.getMessage.contains("compacting"), e.getMessage)
    fs.delete(marker, false)
  }

  test("LineStore.scrubStream: micro-batches == sequential scrub+append; replay is a no-op") {
    import graft.ops.LineStore
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-linestore-stream"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft-linestore-stream-ckpt"
    val batchDir = s"${sys.props("java.io.tmpdir")}/graft-linestore-batch"
    Seq(dir, ckpt, batchDir).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val corpus = Seq((1L, "shared line\ncorpus body")).toDF("doc_id", "text")
    LineStore.build(corpus, dir, $"text", $"doc_id")
    LineStore.build(corpus, batchDir, $"text", $"doc_id")
    val b1 = Seq((101L, "shared line\nday one")).toDF("doc_id", "text")
    val b2 = Seq((201L, "day one\nday two words")).toDF("doc_id", "text")
    // sequential twin
    val seq1 = LineStore.scrubDelta(spark, b1, batchDir, $"text", $"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    LineStore.append(b1, batchDir, $"text", $"doc_id")
    val seq2 = LineStore.scrubDelta(spark, b2, batchDir, $"text", $"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    LineStore.append(b2, batchDir, $"text", $"doc_id")
    // streaming form
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map[Long, Set[(Long, Long, String)]]()
    val q = LineStore.scrubStream(spark,
      mem.toDF().toDF("doc_id", "text"), dir, col("text"), col("doc_id"), ckpt) {
      (cleaned, id) =>
        emitted(id) = cleaned.collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    }
    mem.addData((101L, "shared line\nday one")); q.processAllAvailable()
    mem.addData((201L, "day one\nday two words")); q.processAllAvailable()
    q.stop()
    assert(emitted(0L) == seq1, s"batch 0: ${emitted(0L)} vs $seq1")
    assert(emitted(1L) == seq2, s"batch 1: ${emitted(1L)} vs $seq2")
    // "day one" was appended by batch 0, so batch 1's doc gets it cut
    assert(seq2 == Set((201L, 1L, "day two words")), seq2.toString)
    // replayed batch: marker makes the re-append a no-op
    val before = spark.read.parquet(s"$dir/counts").count()
    val ckptTag = java.lang.Integer.toHexString(ckpt.hashCode)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_scrubbed_${ckptTag}_batch_1")))
    val after = spark.read.parquet(s"$dir/counts").count()
    assert(after == before)
  }

  test("CrawlStream.ingest: stream == sequential extract→lineScrub→dedup→append; replay no-op") {
    import graft.ops.{CrawlStream, DedupIndex, LineStore}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, regexp_replace}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = sys.props("java.io.tmpdir")
    val dirs = Seq("lineS", "dedupS", "lineB", "dedupB", "ckpt")
      .map(n => n -> s"$tmp/graft-crawlstream-$n").toMap
    dirs.values.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    // a toy "markup" wrapper the extract stage strips: <b>text</b>
    def wrap(t: String) = s"<b>$t</b>"
    val extract: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.select(col("doc_id"),
        regexp_replace(col("raw"), "</?b>", "").as("text"))
    val corpus = Seq(
      (1L, "nav bar line\ncorpus story one"),
      (2L, "nav bar line\ncorpus story two")).toDF("doc_id", "text")
    for (k <- Seq("lineS", "lineB")) LineStore.build(corpus, dirs(k), $"text", $"doc_id")
    for (k <- Seq("dedupS", "dedupB")) DedupIndex.build(corpus, dirs(k), $"text", $"doc_id")
    val b1 = Seq(
      (101L, wrap("nav bar line\nfresh day one")),   // boilerplate cut, then kept
      (102L, wrap("corpus story one")),              // exact dup of doc 1 -> dropped
      (103L, wrap("day one banner\nalpha")))
      .toDF("doc_id", "raw")
    val b2 = Seq(
      (201L, wrap("day one banner\nbeta")),          // banner seen in batch 1 -> cut
      (202L, wrap("fresh day one")))                 // exact dup of 101's KEPT text -> dropped
      .toDF("doc_id", "raw")
    // sequential twin over the *B stores
    def seqBatch(b: org.apache.spark.sql.DataFrame): Set[(Long, String)] = {
      val ex = Caches.checkpointed(extract(b))
      val scrubbed = LineStore.scrubDelta(spark, ex, dirs("lineB"), $"text", $"doc_id")
        .select($"doc_id", $"clean_text".as("text"))
      val kept = Caches.checkpointed(
        DedupIndex.deltaKeep(spark, scrubbed, dirs("dedupB"), $"text", $"doc_id"))
      val out = kept.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      LineStore.append(ex, dirs("lineB"), $"text", $"doc_id")
      DedupIndex.append(kept, dirs("dedupB"), $"text", $"doc_id")
      ex.unpersist(); kept.unpersist()
      out
    }
    val seq1 = seqBatch(b1)
    val seq2 = seqBatch(b2)
    // streaming form over the *S stores
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map[Long, Set[(Long, String)]]()
    val q = CrawlStream.ingest(spark, mem.toDF().toDF("doc_id", "raw"),
      dirs("lineS"), dirs("dedupS"), dirs("ckpt"), extract) { (kept, id) =>
      emitted(id) = kept.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    mem.addData((101L, wrap("nav bar line\nfresh day one")),
      (102L, wrap("corpus story one")),
      (103L, wrap("day one banner\nalpha")))
    q.processAllAvailable()
    mem.addData((201L, wrap("day one banner\nbeta")), (202L, wrap("fresh day one")))
    q.processAllAvailable()
    q.stop()
    assert(emitted(0L) == seq1, s"batch 0: ${emitted(0L)} vs $seq1")
    assert(emitted(1L) == seq2, s"batch 1: ${emitted(1L)} vs $seq2")
    // semantics spot checks: 101's nav line cut before dedup; 102 —
    // an exact dup of a corpus doc — is GUTTED by the line scrub
    // first (its one line is corpus boilerplate) and survives dedup
    // as an empty doc (why production chains put a quality floor
    // after the scrub); 103's banner is batch-unique in batch 1 and
    // survives whole. Batch 2: the banner is now stored (1+1 = 2) so
    // 201 loses it, and 202 is an exact dup of 101's KEPT text —
    // dropped only BECAUSE batch 1's kept sketches were appended.
    assert(seq1 == Set((101L, "fresh day one"), (102L, ""),
      (103L, "day one banner\nalpha")), seq1.toString)
    assert(seq2 == Set((201L, "beta")), seq2.toString)
    // replay: the composite marker makes a duplicate batch a no-op
    val linesBefore = spark.read.parquet(s"${dirs("lineS")}/counts").count()
    val ckptTag = java.lang.Integer.toHexString(dirs("ckpt").hashCode)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"${dirs("lineS")}/_crawled_${ckptTag}_batch_1")))
    assert(spark.read.parquet(s"${dirs("lineS")}/counts").count() == linesBefore)
    // the stream's store appends went through the TAGGED exactly-once
    // path: partials published under deterministic gb- batch names,
    // each with its _published sidecar (the marker-file accumulation
    // convention — deliberately no untag-on-commit, see
    // CompactSwap.appendExactlyOnce)
    for ((d, table) <- Seq(dirs("lineS") -> "counts", dirs("dedupS") -> "bands")) {
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$d/$table"))
        .map(_.getPath.getName)
      assert(names.exists(_.startsWith(s"gb-${ckptTag}_b")),
        s"$table missing tagged batch partials: ${names.mkString(",")}")
      val sidecars = fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .map(_.getPath.getName).filter(_.startsWith(s"_published_${table}_"))
      assert(sidecars.nonEmpty, s"missing publish sidecars for $table")
    }
  }

  test("LineStore.scrubDelta: loud contract on a missing store") {
    import graft.ops.LineStore
    val dir = java.nio.file.Files.createTempDirectory("graft-linestore-miss").toString
    val e = intercept[IllegalArgumentException] {
      LineStore.scrubDelta(spark, docs, s"$dir/nothing-here", $"text", $"doc_id")
    }
    assert(e.getMessage.contains("buildIfAbsent"), e.getMessage)
    intercept[IllegalArgumentException] {
      LineStore.scrubDelta(spark, docs, dir, $"text", $"doc_id", minDocs = 1)
    }
  }

  test("CrawlStream.ingest gate: the post-scrub quality floor drops gutted docs") {
    import graft.ops.{CrawlStream, DedupIndex, LineStore}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, length}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = sys.props("java.io.tmpdir")
    val (lineDir, dedupDir, ckpt) = (s"$tmp/graft-crawlgate-line",
      s"$tmp/graft-crawlgate-dedup", s"$tmp/graft-crawlgate-ckpt")
    Seq(lineDir, dedupDir, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val corpus = Seq((1L, "only line of corpus doc")).toDF("doc_id", "text")
    LineStore.build(corpus, lineDir, $"text", $"doc_id")
    DedupIndex.build(corpus, dedupDir, $"text", $"doc_id")
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = CrawlStream.ingest(spark, mem.toDF().toDF("doc_id", "raw"),
      lineDir, dedupDir, ckpt,
      extract = df => df.select(col("doc_id"), col("raw").as("text")),
      gate = df => df.where(length(col("text")) >= 5)) { (kept, _) =>
      emitted ++= kept.collect().map(r => (r.getLong(0), r.getString(1)))
    }
    // 101 duplicates the corpus doc's only line -> scrub guts it to
    // "" -> the gate drops it BEFORE dedup/sink/append
    mem.addData((101L, "only line of corpus doc"), (102L, "substantial fresh content"))
    q.processAllAvailable(); q.stop()
    assert(emitted.toSet == Set((102L, "substantial fresh content")), emitted.toString)
    // and the gutted doc's (empty) fingerprint never entered the store
    val fps = spark.read.parquet(s"$dedupDir/fp").count()
    assert(fps == 2L, s"store fp rows: $fps (corpus 1 + kept 1)")
  }

  test("CrawlStream.ingest gate: the LEARNED quality model (Logistic.keep) as stage 3.5") {
    // the round-18 composition row: the stream's gate slot is not a
    // length floor but the trained distillation model — the exact
    // weights t_quality_filter grades, folded into the gated frame's
    // scan as literals (Logistic.scoreCols — zero exchanges inside
    // the gate). Trained here on the same sf0.001 corpus + feature
    // recipe as the graded query, so the gate IS the served model.
    import graft.ops.{CrawlStream, DedupIndex, LineStore, Logistic}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = sys.props("java.io.tmpdir")
    val (lineDir, dedupDir, ckpt) = (s"$tmp/graft-crawllearn-line",
      s"$tmp/graft-crawllearn-dedup", s"$tmp/graft-crawllearn-ckpt")
    Seq(lineDir, dedupDir, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    // train the 4-weight distillation exactly as t_quality_filter does
    val corpus = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val xs = graft.queries.TextQueries.qualityXs
    val feat = corpus.select(col("doc_id"),
      when(text.qualityScore(col("text")) >= 0.6, 1.0).otherwise(0.0).as("y"),
      array(xs: _*).as("x"))
    val w = Logistic.trainWeights(feat, p = 4, steps = 6, lr = 2.0)
    // planted stream docs must straddle the 0.5 threshold under w —
    // asserted on the model directly so a fixture/model drift fails
    // HERE, not as a confusing stream diff below
    val junk = "zq xv k"
    // > 500 chars so the capped length feature saturates at 1.0 — the
    // distilled model weights length heaviest, and the planted doc
    // must clear the threshold under the TRAINED weights, not a toy
    val good = ("the quick brown fox jumps over the lazy dog and then the dog " +
      "sleeps in the warm sun for hours while the fox keeps running through the field ") * 4
    val scores = Seq((101L, junk), (102L, good)).toDF("doc_id", "text")
      .select(col("doc_id"), Logistic.scoreCols(xs, w).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(101L) < 0.5, s"junk doc must score below threshold: $scores, w=$w")
    assert(scores(102L) >= 0.5, s"good doc must clear threshold: $scores, w=$w")
    val seed = Seq((1L, "corpus baseline story unrelated to the stream")).toDF("doc_id", "text")
    LineStore.build(seed, lineDir, $"text", $"doc_id")
    DedupIndex.build(seed, dedupDir, $"text", $"doc_id")
    val gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.where(Logistic.scoreCols(xs, w) >= 0.5)
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = CrawlStream.ingest(spark, mem.toDF().toDF("doc_id", "raw"),
      lineDir, dedupDir, ckpt,
      extract = df => df.select(col("doc_id"), col("raw").as("text")),
      gate = gate) { (kept, _) =>
      emitted ++= kept.collect().map(r => (r.getLong(0), r.getString(1)))
    }
    mem.addData((101L, junk), (102L, good))
    q.processAllAvailable(); q.stop()
    assert(emitted.toSet == Set((102L, good)), emitted.toString)
    // the gated-out doc's sketches never reached the store: seed + kept
    val fps = spark.read.parquet(s"$dedupDir/fp").count()
    assert(fps == 2L, s"store fp rows: $fps (seed 1 + kept 1)")
  }

  test("CrawlStream.ingest gate: PERSISTED quality weights — one store row read per batch") {
    // the serving composition: the stream's gate reads the trained
    // weight vector from the Logistic store (the
    // t_quality_filter_indexed artifact) instead of retraining —
    // storedWeights is read INSIDE the gate fn, so every micro-batch
    // folds the current store row into its scan as literals, the
    // keepIndexed shape. Store == in-session training is already
    // pinned by TextPipelineSpec; here the STREAM behavior under the
    // stored model is what's asserted.
    import graft.ops.{CrawlStream, DedupIndex, LineStore, Logistic}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = sys.props("java.io.tmpdir")
    val (lineDir, dedupDir, ckpt, wDir) = (s"$tmp/graft-crawlpw-line",
      s"$tmp/graft-crawlpw-dedup", s"$tmp/graft-crawlpw-ckpt", s"$tmp/graft-crawlpw-w")
    Seq(lineDir, dedupDir, ckpt, wDir).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val corpus = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val xs = graft.queries.TextQueries.qualityXs
    val feat = corpus.select(col("doc_id"),
      when(text.qualityScore(col("text")) >= 0.6, 1.0).otherwise(0.0).as("y"),
      array(xs: _*).as("x"))
    Logistic.buildWeightsIfAbsent(spark, feat, p = 4, steps = 6, lr = 2.0,
      dir = wDir, fingerprint = "crawlpw-fixture")
    val w = Logistic.storedWeights(spark, wDir)
    assert(w == Logistic.trainWeights(feat, p = 4, steps = 6, lr = 2.0),
      "stored weights must equal the in-session training")
    val junk = "zq xv k"
    val good = ("the quick brown fox jumps over the lazy dog and then the dog " +
      "sleeps in the warm sun for hours while the fox keeps running through the field ") * 4
    val seed = Seq((1L, "corpus baseline story unrelated to the stream")).toDF("doc_id", "text")
    LineStore.build(seed, lineDir, $"text", $"doc_id")
    DedupIndex.build(seed, dedupDir, $"text", $"doc_id")
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = CrawlStream.ingest(spark, mem.toDF().toDF("doc_id", "raw"),
      lineDir, dedupDir, ckpt,
      extract = df => df.select(col("doc_id"), col("raw").as("text")),
      // the store row is read here, per batch — a weight refresh
      // between batches would take effect without restarting the query
      gate = df => df.where(Logistic.scoreCols(xs,
        Logistic.storedWeights(spark, wDir)) >= 0.5)) { (kept, _) =>
      emitted ++= kept.collect().map(r => (r.getLong(0), r.getString(1)))
    }
    mem.addData((101L, junk), (102L, good))
    q.processAllAvailable(); q.stop()
    assert(emitted.toSet == Set((102L, good)), emitted.toString)
    val fps = spark.read.parquet(s"$dedupDir/fp").count()
    assert(fps == 2L, s"store fp rows: $fps (seed 1 + kept 1)")
  }

  test("CrawlStream.ingest at the 8-seed 4x2 geometry: stream == sequential, near-dup dropped") {
    // the other round-18 composition row: the d_delta_index_r2
    // precision geometry (seeds=8, 4 bands of 2, matchMin=5=bands+1 —
    // lossless bucket confinement by pigeonhole) carried into the
    // STREAMING front door; the stream must equal the sequential
    // composition of the same ops at the same geometry.
    import graft.ops.{CrawlStream, DedupIndex, LineStore}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = sys.props("java.io.tmpdir")
    val dirs = Seq("lineS", "dedupS", "lineB", "dedupB", "ckpt")
      .map(n => n -> s"$tmp/graft-crawlr2-$n").toMap
    dirs.values.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val story = "the quick brown fox jumps over the lazy dog again and " +
      "again until dawn breaks over the quiet hills and the morning light returns " +
      "to warm the sleeping valley where rivers run past ancient stones and tall " +
      "grass bends beneath a gentle wind that carries distant birdsong across the " +
      "meadow toward the old farmhouse standing alone at the edge of the forest"
    val corpus = Seq((1L, story)).toDF("doc_id", "text")
    for (k <- Seq("lineS", "lineB")) LineStore.build(corpus, dirs(k), $"text", $"doc_id")
    for (k <- Seq("dedupS", "dedupB")) DedupIndex.build(corpus, dirs(k), $"text", $"doc_id",
      shingleK = 3, seeds = 8, bands = 4)
    // 101: one word changed late in the story — a near-dup that must
    // agree on >= 5 of 8 components AND share a 2-slot band with the
    // stored doc; 102: fresh content, must survive
    val nearDup = story.replace("morning", "evening")
    val fresh = "completely different words about spark catalyst tungsten shuffles and joins"
    // sequential twin over the *B stores at the SAME geometry
    def seqBatch(b: org.apache.spark.sql.DataFrame): Set[(Long, String)] = {
      val scrubbed = LineStore.scrubDelta(spark, b, dirs("lineB"), $"text", $"doc_id")
        .select($"doc_id", $"clean_text".as("text"))
      val kept = Caches.checkpointed(
        DedupIndex.deltaKeep(spark, scrubbed, dirs("dedupB"),
          $"text", $"doc_id", shingleK = 3, seeds = 8, bands = 4, matchMin = 5))
      val out = kept.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      LineStore.append(b, dirs("lineB"), $"text", $"doc_id")
      DedupIndex.append(kept, dirs("dedupB"), $"text", $"doc_id",
        shingleK = 3, seeds = 8, bands = 4)
      kept.unpersist()
      out
    }
    val seq1 = seqBatch(Seq((101L, nearDup), (102L, fresh)).toDF("doc_id", "text"))
    // the near-dup is CAUGHT at this geometry, the fresh doc survives
    assert(seq1 == Set((102L, fresh)), s"r2 geometry must drop the near-dup: $seq1")
    val mem = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map[Long, Set[(Long, String)]]()
    val q = CrawlStream.ingest(spark, mem.toDF().toDF("doc_id", "raw"),
      dirs("lineS"), dirs("dedupS"), dirs("ckpt"),
      extract = df => df.select(col("doc_id"), col("raw").as("text")),
      shingleK = 3, seeds = 8, bands = 4, matchMin = 5) { (kept, id) =>
      emitted(id) = kept.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    mem.addData((101L, nearDup), (102L, fresh))
    q.processAllAvailable(); q.stop()
    assert(emitted(0L) == seq1, s"stream vs sequential at seeds=8: ${emitted(0L)} vs $seq1")
    // the stores agree too: band tables carry the 8-component layout
    val cols = spark.read.parquet(s"${dirs("dedupS")}/bands").columns.toSet
    assert((0 until 8).forall(i => cols.contains(s"m_$i")), cols.toString)
  }

  test("tagged appends: a torn-batch replay lands each store partial exactly once") {
    // the window the batch marker alone leaves open — crash AFTER a
    // store append, BEFORE the marker — replays the WHOLE batch body:
    // recompute + append. The replay probes with excludeTag (the
    // store as of batch start, skipping its own first-attempt files),
    // so the recomputed kept/scrubbed frames are BIT-EQUAL to the
    // first attempt's — without it the dedup replay self-matches its
    // own fingerprints, derives kept = EMPTY, and the tagged
    // re-append would ERASE the batch from the store.
    import graft.ops.{DedupIndex, LineStore}
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val lineDir = java.nio.file.Files.createTempDirectory("graft-tornline").toString
    val dedupDir = java.nio.file.Files.createTempDirectory("graft-torndedup").toString
    val corpus = Seq((1L, "seed doc line")).toDF("doc_id", "text")
    LineStore.build(corpus, lineDir, $"text", $"doc_id")
    DedupIndex.build(corpus, dedupDir, $"text", $"doc_id")
    val batch = Seq((101L, "fresh crawl words\nunique trailing line")).toDF("doc_id", "text")
    def lineState() = spark.read.parquet(s"$lineDir/counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    def dedupState() = (
      spark.read.parquet(s"$dedupDir/fp").collect().map(_.getString(0)).sorted.toSeq,
      spark.read.parquet(s"$dedupDir/bands").count())
    val tag = "ckpt_b0"
    // ---- attempt 1 (the stream's batch body) ----
    def batchBody(): (Seq[(Long, String)], Seq[(Long, String)]) = {
      val scrubbed = LineStore.scrubDelta(spark, batch, lineDir, $"text", $"doc_id",
          excludeTag = Some(tag))
        .select($"doc_id", $"clean_text".as("text"))
      val kept = Caches.checkpointed(
        DedupIndex.deltaKeep(spark, scrubbed, dedupDir, $"text", $"doc_id",
          excludeTag = Some(tag)))
      val out = (scrubbed.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted,
        kept.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted)
      LineStore.append(batch, lineDir, $"text", $"doc_id", tag = Some(tag))
      DedupIndex.append(kept, dedupDir, $"text", $"doc_id", tag = Some(tag))
      kept.unpersist()
      out
    }
    val (scrub1, kept1) = batchBody()
    assert(kept1.nonEmpty, "fixture: the batch doc must survive attempt 1")
    val (line1, dedup1) = (lineState(), dedupState())
    // ---- the torn replay: the exact same body runs again ----
    val (scrub2, kept2) = batchBody()
    assert(scrub2 == scrub1, "replayed scrub diverged from attempt 1")
    assert(kept2 == kept1, "replayed kept set diverged from attempt 1 " +
      "(empty here = the self-match bug: the replay saw its own fingerprints)")
    assert(lineState() == line1, "line partial must not double under replay")
    assert(dedupState() == dedup1, "dedup sketches must not double under replay")
    // the published files carry the deterministic tag names
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$lineDir/counts"))
      .map(_.getPath.getName).filter(_.startsWith(s"gb-$tag-"))
    assert(names.nonEmpty, "tagged partial files missing")
    // ...and a SECOND batch under a different tag still accumulates
    LineStore.append(Seq((201L, "unique trailing line")).toDF("doc_id", "text"),
      lineDir, $"text", $"doc_id", tag = Some("ckpt_b1"))
    val sums = spark.read.parquet(s"$lineDir/counts")
      .groupBy($"line").agg(sum($"n_docs").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums("unique trailing line") == 2L, sums.toString)
    assert(sums("fresh crawl words") == 1L, sums.toString)
  }

  test("tagged appends: a compaction that folded the torn batch is not re-introduced") {
    // the third window: batch published (sidecar written), crash
    // before the marker, store compacted while the stream is down
    // (folding the tagged files into anonymous part files), THEN the
    // stream restarts and replays. The published sidecar — outside
    // the table dir, untouched by CompactSwap — tells the replay the
    // batch is already in the store; republishing would double it.
    import graft.ops.LineStore
    val lineDir = java.nio.file.Files.createTempDirectory("graft-tornfold").toString
    LineStore.build(Seq((1L, "seed doc line")).toDF("doc_id", "text"),
      lineDir, $"text", $"doc_id")
    val batch = Seq((101L, "folded batch line")).toDF("doc_id", "text")
    LineStore.append(batch, lineDir, $"text", $"doc_id", tag = Some("ck_b7"))
    LineStore.compact(spark, lineDir)   // folds gb-ck_b7-* into part files
    // the replay's append: must detect the fold and skip
    LineStore.append(batch, lineDir, $"text", $"doc_id", tag = Some("ck_b7"))
    val sums = spark.read.parquet(s"$lineDir/counts")
      .groupBy($"line").agg(sum($"n_docs").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums("folded batch line") == 1L,
      s"compact-folded batch was re-introduced by the replay: $sums")
  }

  test("compact refuses a torn tagged publish; the replay completes it and compact proceeds") {
    // the sub-window between appendExactlyOnce's sidecar delete and
    // its renames: tagged files without a sidecar = a publish in
    // flight. Folding that partial state would freeze it anonymously
    // and the replay would then re-publish ON TOP (the double-count).
    // Compact must refuse loudly; the stream's replay re-publishes
    // (sidecar restored), after which compact proceeds.
    import graft.ops.LineStore
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("graft-tornrefuse").toString
    LineStore.build(Seq((1L, "seed doc line")).toDF("doc_id", "text"),
      dir, $"text", $"doc_id")
    val batch = Seq((101L, "torn publish line")).toDF("doc_id", "text")
    LineStore.append(batch, dir, $"text", $"doc_id", tag = Some("ck_b9"))
    // simulate the torn state: sidecar gone, tagged files present
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_published_counts_ck_b9"), false)
    val e = intercept[IllegalArgumentException](LineStore.compact(spark, dir))
    assert(e.getMessage.contains("torn"), e.getMessage)
    // no _compacting marker left behind by the refusal
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_compacting")))
    // the replay completes the publish; compact then proceeds
    LineStore.append(batch, dir, $"text", $"doc_id", tag = Some("ck_b9"))
    LineStore.compact(spark, dir)
    val sums = spark.read.parquet(s"$dir/counts")
      .groupBy($"line").agg(sum($"n_docs").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums("torn publish line") == 1L, sums.toString)
  }

  test("tagged appends: tag 'x' never claims tag 'x_y'-published files") {
    // '_' is a legal tag character, so deletes must match the exact
    // gb-<tag>-<digits>.parquet shape, not a bare prefix
    import graft.ops.LineStore
    val dir = java.nio.file.Files.createTempDirectory("graft-tagprefix").toString
    LineStore.build(Seq((1L, "seed doc line")).toDF("doc_id", "text"),
      dir, $"text", $"doc_id")
    LineStore.append(Seq((11L, "from x underscore y")).toDF("doc_id", "text"),
      dir, $"text", $"doc_id", tag = Some("x_y"))
    LineStore.append(Seq((12L, "from plain x")).toDF("doc_id", "text"),
      dir, $"text", $"doc_id", tag = Some("x"))
    // replay of tag "x" must leave tag "x_y"'s rows intact
    LineStore.append(Seq((12L, "from plain x")).toDF("doc_id", "text"),
      dir, $"text", $"doc_id", tag = Some("x"))
    val lines = spark.read.parquet(s"$dir/counts")
      .groupBy($"line").agg(sum($"n_docs").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lines("from x underscore y") == 1L, lines.toString)
    assert(lines("from plain x") == 1L, lines.toString)
  }

  test("DedupIndex.compact: crashed promotion purged, appends fold; append refused under the marker") {
    import graft.ops.DedupIndex
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-reconcile").toString
    DedupIndex.build(docs, dir, $"text", $"doc_id")
    def files(t: String): Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/$t")).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSet
    val snap = files("bands")
    // the "concurrent" append the snapshot missed
    val late = Seq((301L, "wholly new content about reconciliation and snapshots"))
      .toDF("doc_id", "text")
    DedupIndex.append(late, dir, $"text", $"doc_id")
    val truth = spark.read.parquet(s"$dir/bands").collect().map(_.toSeq).toSet
    // craft the versioned protocol's crash state: a compact died
    // AFTER writing (part of) bands_v1 but BEFORE the sentinel — the
    // next compact must purge the unsentineled dir and fold the real
    // current (flat) table, losing nothing (snap was listed above to
    // prove the crashed dir is not mistaken for the snapshot)
    assert(snap.nonEmpty)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/bands_v1")
    fs.mkdirs(orphan)
    spark.read.parquet(s"$dir/bands").limit(1)
      .write.mode("overwrite").parquet(orphan.toString)
    fs.delete(new org.apache.hadoop.fs.Path(orphan, "_SUCCESS"), false)
    DedupIndex.compact(spark, dir)
    assert(graft.ops.CompactSwap.currentVersion(spark, dir, "bands").contains(1),
      "compact must purge the crashed unsentineled v1 and promote its own")
    val recovered = spark.read.parquet(
        graft.ops.CompactSwap.currentTablePath(spark, dir, "bands"))
      .collect().map(_.toSeq).toSet
    assert(recovered == truth, "recovery lost or doubled the late append's band rows")
    // fast-fail: append refuses while a compact holds the store
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_compacting")
    fs.create(marker, true).close()
    val e = intercept[IllegalStateException](
      DedupIndex.append(late, dir, $"text", $"doc_id"))
    assert(e.getMessage.contains("compacting"), e.getMessage)
    fs.delete(marker, false)
  }

  test("DedupIndex.append: kept-delta ingest equals a one-shot build over corpus + kept") {
    import graft.ops.DedupIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-append").toString
    DedupIndex.build(docs, dir, $"text", $"doc_id")
    val delta = Seq(
      (101L, base),                                  // dup -> dropped, never ingested
      (103L, "entirely novel content streaming watermarks state stores and sinks forever"),
      (104L, "tiny doc")
    ).toDF("doc_id", "text")
    val kept = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id")
    DedupIndex.append(kept, dir, $"text", $"doc_id")
    // the appended store equals a one-shot build over corpus ∪ kept
    val oneShotDir = java.nio.file.Files.createTempDirectory("graft-dedupidx-oneshot").toString
    DedupIndex.build(docs.unionAll(kept), oneShotDir, $"text", $"doc_id")
    for (t <- Seq("fp", "bands")) {
      val a = spark.read.parquet(s"$dir/$t")
      val b = spark.read.parquet(s"$oneShotDir/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t diverged after append")
    }
    // and a second delta now dedups against TODAY'S ingested docs too
    val kept2 = DedupIndex.deltaKeep(spark,
        Seq((201L, "entirely novel content streaming watermarks state stores and sinks forever"),
            (202L, "genuinely unseen second-day words")).toDF("doc_id", "text"),
        dir, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept2 == Seq(202L), s"kept2: $kept2")
  }

  test("DedupIndex.ingestStream: micro-batch ingest equals sequential batch deltaKeep+append") {
    import graft.ops.DedupIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val streamDir = java.nio.file.Files.createTempDirectory("graft-dedupidx-stream").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft-dedupidx-sbatch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedupidx-ckpt").toString
    DedupIndex.build(docs, streamDir, $"text", $"doc_id")
    DedupIndex.build(docs, batchDir, $"text", $"doc_id")
    val b1 = Seq((101L, base), // dup of corpus doc 1 -> dropped
      (102L, "first-batch novel content with enough words to shingle and band cleanly"))
    val b2 = Seq(
      (201L, "first-batch novel content with enough words to shingle and band cleanly"), // dup of 102 (prior BATCH)
      (202L, "second-batch fresh material nobody has ingested before at all"))
    val mem = MemoryStream[(Long, String)]
    val keptStream = scala.collection.mutable.ArrayBuffer[Long]()
    val q = DedupIndex.ingestStream(spark, mem.toDF.toDF("doc_id", "text"),
        streamDir, $"text", $"doc_id", checkpoint = ckpt) { (kept, _) =>
      keptStream ++= kept.select($"doc_id").collect().map(_.getLong(0))
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // sequential batch twin over the same batch sequence
    val keptBatch = Seq(b1, b2).flatMap { b =>
      val kept = DedupIndex.deltaKeep(spark, b.toDF("doc_id", "text"),
        batchDir, $"text", $"doc_id")
      DedupIndex.append(kept, batchDir, $"text", $"doc_id")
      kept.select($"doc_id").collect().map(_.getLong(0))
    }
    assert(keptStream.sorted.toSeq == keptBatch.sorted, s"$keptStream vs $keptBatch")
    assert(keptStream.sorted.toSeq == Seq(102L, 202L), s"cross-batch dup survived: $keptStream")
    // the two stores converged file-content-wise too
    for (t <- Seq("fp", "bands")) {
      val a = spark.read.parquet(s"$streamDir/$t")
      val b = spark.read.parquet(s"$batchDir/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t diverged")
    }
  }

  test("DedupIndex.ingestStream: a committed batch marker makes replay a no-op") {
    import graft.ops.DedupIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-replay").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedupidx-rckpt").toString
    DedupIndex.build(docs, dir, $"text", $"doc_id")
    val before = spark.read.parquet(s"$dir/bands").count()
    // pre-commit batch 0's marker — the state after a sink+append
    // completed but the checkpoint offset write crashed; on restart
    // Spark REPLAYS batch 0 and the marker must swallow it
    val ckptTag = java.lang.Integer.toHexString(ckpt.hashCode)
    new java.io.File(s"$dir/_ingested_${ckptTag}_batch_0").createNewFile()
    val mem = MemoryStream[(Long, String)]
    var sunk = 0
    val q = DedupIndex.ingestStream(spark, mem.toDF.toDF("doc_id", "text"),
        dir, $"text", $"doc_id", checkpoint = ckpt) { (kept, _) =>
      sunk += kept.count().toInt
    }
    try {
      mem.addData((900L, "replayed batch content that would otherwise append new sketches"))
      q.processAllAvailable()
    } finally q.stop()
    assert(sunk == 0, "marker-committed batch must not reach the sink again")
    assert(spark.read.parquet(s"$dir/bands").count() == before,
      "marker-committed batch must not append again")
  }

  test("DedupIndex.compact: file counts drop, probe answers unchanged") {
    import graft.ops.DedupIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-compact").toString
    DedupIndex.build(docs, dir, $"text", $"doc_id")
    // a week of tiny appends -> file sprawl
    for (i <- 0 until 5) {
      val b = Seq((500L + i, s"append batch $i carries its own unique words for banding purposes"))
        .toDF("doc_id", "text")
      DedupIndex.append(DedupIndex.deltaKeep(spark, b, dir, $"text", $"doc_id"),
        dir, $"text", $"doc_id")
    }
    def files(t: String) = new java.io.File(
        graft.ops.CompactSwap.currentTablePath(spark, dir, t)).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = (files("fp"), files("bands"))
    val delta = Seq((900L, "append batch 3 carries its own unique words for banding purposes"), // dup of an appended doc
      (901L, "post-compaction fresh words that match nothing stored")).toDF("doc_id", "text")
    val keptBefore = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    DedupIndex.compact(spark, dir)
    val after = (files("fp"), files("bands"))
    assert(after._1 < before._1 && after._2 < before._2, s"no compaction: $before -> $after")
    val keptAfter = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(keptBefore == keptAfter && keptAfter == Seq(901L), s"$keptBefore vs $keptAfter")
  }

  test("DedupIndex.buildIfAbsent: marker skips the rebuild until the fingerprint moves") {
    import graft.ops.DedupIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupidx-marker").toString
    DedupIndex.buildIfAbsent(spark, docs, dir, $"text", $"doc_id", fingerprint = "fpA")
    def fpFiles = new java.io.File(s"$dir/fp").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    val first = fpFiles
    DedupIndex.buildIfAbsent(spark, docs, dir, $"text", $"doc_id", fingerprint = "fpA")
    assert(fpFiles == first, "same fingerprint must not rewrite the store")
    DedupIndex.buildIfAbsent(spark, docs, dir, $"text", $"doc_id", fingerprint = "fpB")
    assert(fpFiles != first, "a moved fingerprint must rebuild the store")
    // the store still answers correctly after the rebuild
    val kept = DedupIndex.deltaKeep(spark,
        Seq((300L, base), (301L, "fresh words nobody wrote before today")).toDF("doc_id", "text"),
        dir, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(301L), s"kept: $kept")
  }
}
