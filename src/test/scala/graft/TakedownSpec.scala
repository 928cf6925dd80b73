package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, CompactSwap, DedupIndex, LineStore, Pq, Sketches}

/** TAKEDOWN — the stores' erasure verb (GDPR/DMCA content removal) on
  * planted fixtures. The two invariants every store must hold:
  *
  *  1. ERASURE SEMANTICS: after takedown, probes answer as if the
  *     removed rows were never ingested (for the dedup store, at the
  *     CONTENT level: the erased docs' fingerprints leave the
  *     exact-dup identity entirely).
  *  2. TOMBSTONE/COMPACT PARITY: probe-time tombstone (or negative-
  *     partial) answers are bit-identical before and after [[compact]]
  *     folds them physically, and the fold really removes the rows
  *     (files observable).
  */
class TakedownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private val base = "the quick brown fox jumps over the lazy dog again and again until dawn"

  // ---------------------------------------------------------------
  // DedupIndex
  // ---------------------------------------------------------------

  test("DedupIndex.takedown: erased content is re-ingestable; tombstone == compacted == rebuilt-without") {
    val dir = tmp("graft-td-dedup")
    // corpus: doc 1 = the content to erase, doc 2 = its exact dup
    // (content-level erasure removes both), doc 3 = unrelated
    val corpus = Seq(
      (1L, base),
      (2L, base), // exact dup of 1 — same fingerprint
      (3L, "completely different words about spark catalyst tungsten shuffles and joins")
    ).toDF("doc_id", "text")
    DedupIndex.build(corpus, dir, $"text", $"doc_id")
    // delta: an exact re-crawl of doc 1's content, a near-dup of it,
    // and a near-dup of the retained doc 3
    val delta = Seq(
      (101L, base),                                  // exact dup of erased content
      (102L, base.replace("dawn", "noon")),          // near-dup of erased content
      (103L, "completely different words about flink catalyst tungsten shuffles and joins")
    ).toDF("doc_id", "text")
    def keptIds() = DedupIndex.deltaKeep(spark, delta, dir, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq

    // before erasure: everything is already in the lake
    assert(keptIds() == Seq.empty, s"pre-takedown kept: ${keptIds()}")

    // erase docs 1 AND 2 (every copy of the content — the recorded
    // content-removal contract)
    DedupIndex.takedown(corpus.where($"doc_id" <= 2), dir, $"text", $"doc_id")
    val tombstoned = keptIds()
    // the erased content is NEW again (exact + near probes both
    // released); doc 103 still matches retained doc 3
    assert(tombstoned == Seq(101L, 102L), s"post-takedown kept: $tombstoned")

    // parity 1: compact folds the tombstones physically, same answer
    DedupIndex.compact(spark, dir)
    assert(keptIds() == tombstoned, "compacted store diverged from tombstone probe")
    // fold is real: tombstone files gone, band rows reduced to doc 3's
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("tomb_fp", "tomb_doc")) {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$t"))
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
      assert(files.isEmpty, s"$t not folded: ${files.map(_.getPath.getName).mkString(",")}")
    }
    // post-compact the CURRENT bands table is the promoted version
    // (the flat v0 is retained for pinned readers until the next GC)
    val liveDocs = spark.read.parquet(
        graft.ops.CompactSwap.currentTablePath(spark, dir, "bands"))
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(liveDocs == Seq(3L), s"band rows not folded: $liveDocs")
    assert(CompactSwap.currentVersion(spark, dir, "bands").contains(1),
      "compact should have promoted bands to v1")

    // parity 2: == a store REBUILT without the erased docs
    val dir2 = tmp("graft-td-dedup-rebuild")
    DedupIndex.build(corpus.where($"doc_id" === 3), dir2, $"text", $"doc_id")
    val rebuilt = DedupIndex.deltaKeep(spark, delta, dir2, $"text", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rebuilt == tombstoned, s"rebuilt-without answers $rebuilt, tombstone $tombstoned")
  }

  test("DedupIndex.takedown: re-ingest inside the tombstone window — near probe self-heals; short docs carry the recorded rule") {
    // content-level fp tombstones suppress a fingerprint BY VALUE
    // until a compact folds them, so a fp re-appended inside that
    // window is suppressed too (and a compact sweeps it). For
    // signature-bearing docs the window is harmless: the first
    // re-crawl is kept (correct — the content IS new post-erasure)
    // and its appended BAND rows catch every later copy through the
    // near probe immediately. Only short docs (below the shingle
    // width, fp-only identity) exhibit the window — the recorded
    // compact-between-takedown-and-reingest rule exists for them.
    val dir = tmp("graft-td-reingest")
    val corpus = Seq((1L, base), (2L, "tiny doc")).toDF("doc_id", "text")
    DedupIndex.build(corpus, dir, $"text", $"doc_id")
    DedupIndex.takedown(corpus, dir, $"text", $"doc_id")
    def keep(id: Long, text: String) = {
      val kept = DedupIndex.deltaKeep(spark,
        Seq((id, text)).toDF("doc_id", "text"), dir, $"text", $"doc_id")
      val n = kept.count()
      if (n > 0) DedupIndex.append(kept, dir, $"text", $"doc_id")
      n
    }
    // signature-bearing content: kept once, then the near probe over
    // the re-ingested copy's own band rows closes the window
    assert(keep(101L, base) == 1L, "post-takedown re-crawl must be kept")
    assert(keep(102L, base) == 0L,
      "second re-crawl must drop via the first's appended signature")
    // short content: fp is the only identity and it is
    // tombstone-suppressed, so re-crawls keep landing — the window
    // the recorded rule is about
    assert(keep(201L, "tiny doc") == 1L, "post-takedown short re-crawl kept")
    assert(keep(202L, "tiny doc") == 1L,
      "short re-crawl kept AGAIN inside the window (the recorded rule)")
    // compact folds the tombstones (sweeping the window re-appends of
    // the erased fp by value); the NEXT kept copy's fp then serves
    DedupIndex.compact(spark, dir)
    assert(keep(203L, "tiny doc") == 1L,
      "the compact swept the window fp — one more copy lands")
    assert(keep(204L, "tiny doc") == 0L,
      "post-compact append finally closes the short-doc window")
    // and signature docs still dedup normally post-compact
    assert(keep(103L, base) == 0L)
  }

  test("DedupIndex.takedown: SAME-ID re-ingest stays suppressed until compact (recorded window)") {
    // page-identity ids (ingestWarc's URIs) reuse the erased doc_id on
    // a re-crawl: the id-keyed tomb_doc then suppresses the
    // re-ingested copy's OWN band rows, so the near-probe self-heal
    // does NOT apply — later copies keep landing until a compact
    // sweeps the same-id rows with the tombstone, after which the
    // next kept copy's append restores the identity (the recorded
    // one-compact-one-ingest closure, same as the short-doc window).
    val dir = tmp("graft-td-sameid")
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    DedupIndex.build(corpus, dir, $"text", $"doc_id")
    DedupIndex.takedown(corpus, dir, $"text", $"doc_id")
    def keep(id: Long) = {
      val kept = DedupIndex.deltaKeep(spark,
        Seq((id, base)).toDF("doc_id", "text"), dir, $"text", $"doc_id")
      val n = kept.count()
      if (n > 0) DedupIndex.append(kept, dir, $"text", $"doc_id")
      n
    }
    assert(keep(1L) == 1L, "same-id re-crawl kept (content is new post-erasure)")
    assert(keep(2L) == 1L,
      "the window: the same-id copy's band rows are tombstone-suppressed, so a fresh-id copy lands too")
    DedupIndex.compact(spark, dir)
    // compact swept doc 1's re-ingested rows with its tombstone, but
    // doc 2's fresh-id rows survived — identity restored through them
    assert(keep(3L) == 0L, "post-compact the near probe serves again via the fresh-id copy")
  }

  test("DedupIndex.takedown: tombstoned docs never occupy capped bucket slots") {
    // the mega-bucket fixture (DedupSpec's cap test): 10 store docs in
    // ONE bucket per band. Erase the cap-visible low ids 1..3; with
    // maxBucket = 3 the probe must gather the NEXT live ids (4..6),
    // not leave the bucket dark — i.e. tombstones apply BEFORE the
    // bottom_k gather (post-compact parity), not after.
    val dir = tmp("graft-td-dedupcap")
    val mega = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val store = (1L to 10L).map(i => (i, s"$mega unique$i")).toDF("doc_id", "text")
    DedupIndex.build(store, dir, $"text", $"doc_id")
    DedupIndex.takedown(store.where($"doc_id" <= 3), dir, $"text", $"doc_id")
    val delta = Seq((101L, s"$mega unique101")).toDF("doc_id", "text")
    val r = DedupIndex.deltaKeepFull(spark, delta, dir, $"text", $"doc_id", maxBucket = 3)
    // near-dup still caught through live capped survivors (4..6)
    assert(r.kept.count() == 0L, "near-dup escaped a cap slot a tombstoned doc was holding")
    // and the observable bucket size counts LIVE members only (7)
    val drops = r.droppedBuckets.collect()
    assert(drops.nonEmpty && drops.forall(_.getAs[Long]("n_docs") == 7L),
      s"dropped-bucket sizes should count live members: ${drops.mkString(",")}")
  }

  // ---------------------------------------------------------------
  // LineStore
  // ---------------------------------------------------------------

  test("LineStore.takedown: negative partials == rebuilt-without; compact folds zero lines away") {
    val dir = tmp("graft-td-line")
    // docs 1+2 share the boilerplate line; doc 3 is clean
    val corpus = Seq(
      (1L, "COOKIE BANNER\nreal content one"),
      (2L, "COOKIE BANNER\nreal content two"),
      (3L, "only unique content here")
    ).toDF("doc_id", "text")
    LineStore.build(corpus, dir, $"text", $"doc_id")
    val batch = Seq((101L, "COOKIE BANNER\nfresh arrival")).toDF("doc_id", "text")
    def cut() = LineStore.scrubDelta(spark, batch, dir, $"text", $"doc_id")
      .select($"n_cut").collect()(0).getLong(0)

    // boilerplate: banner appears in 2 stored docs -> scrubbed
    assert(cut() == 1L, "banner should be scrubbed while both carriers are stored")

    // erase doc 2: banner count falls to 1; batch adds 1 -> 2 >= minDocs…
    // still scrubbed. Erase doc 1 too: count 0; batch alone = 1 < 2 -> kept.
    LineStore.takedown(corpus.where($"doc_id" === 2), dir, $"text", $"doc_id")
    assert(cut() == 1L, "one stored carrier + the batch still crosses minDocs=2")
    LineStore.takedown(corpus.where($"doc_id" === 1), dir, $"text", $"doc_id")
    assert(cut() == 0L, "fully-erased line must stop being boilerplate")

    // compact: folds partials, drops lines at 0 — same probe answer
    LineStore.compact(spark, dir)
    assert(cut() == 0L, "compacted store diverged from negative-partial probe")
    val lines = spark.read.parquet(
        graft.ops.CompactSwap.currentTablePath(spark, dir, "counts")).collect()
    assert(lines.forall(_.getAs[Long]("n_docs") > 0L),
      s"zero/negative lines survived compact: ${lines.mkString(",")}")
    // the erased docs' unique lines are gone; doc 3's remain
    val names = lines.map(_.getAs[String]("line")).toSet
    assert(!names.contains("COOKIE BANNER") && names.contains("only unique content here"),
      s"folded store lines: $names")

    // == a store rebuilt without the erased docs
    val dir2 = tmp("graft-td-line-rebuild")
    LineStore.build(corpus.where($"doc_id" === 3), dir2, $"text", $"doc_id")
    val rebuilt = LineStore.scrubDelta(spark, batch, dir2, $"text", $"doc_id")
      .select($"n_cut").collect()(0).getLong(0)
    assert(rebuilt == 0L && rebuilt == cut(), "rebuilt-without diverged")
  }

  test("LineStore.compact fails LOUDLY on a negative line sum (double takedown)") {
    val dir = tmp("graft-td-line-neg")
    val corpus = Seq(
      (1L, "SHARED LINE\nalpha"),
      (2L, "SHARED LINE\nbeta")).toDF("doc_id", "text")
    LineStore.build(corpus, dir, $"text", $"doc_id")
    // contract violation: the same doc taken down twice (the easy
    // way: a caller retries after a driver failure on the untagged
    // path). doc 1's own line folds to 1 - 1 - 1 = -1; the shared
    // line folds to exactly 0 and would be silently over-released
    // while doc 2 still carries it — the violation the loud compact
    // surfaces instead of erasing.
    LineStore.takedown(corpus.where($"doc_id" === 1), dir, $"text", $"doc_id")
    LineStore.takedown(corpus.where($"doc_id" === 1), dir, $"text", $"doc_id")
    val e = intercept[Exception](LineStore.compact(spark, dir))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("NEGATIVE") && m.contains("alpha")),
      s"compact must name the violation and the line: ${msgs(e)}")
    // the rewrite aborted BEFORE any swap: the store still answers
    // (conservatively — negative partials suppress the line, which
    // never over-scrubs) and a reconciling re-append heals it
    LineStore.append(corpus.where($"doc_id" === 1), dir, $"text", $"doc_id")
    LineStore.compact(spark, dir)
    val lines = spark.read.parquet(
        graft.ops.CompactSwap.currentTablePath(spark, dir, "counts")).collect()
      .map(r => (r.getAs[String]("line"), r.getAs[Long]("n_docs"))).toMap
    assert(lines == Map("SHARED LINE" -> 1L, "beta" -> 1L), lines.toString)
  }

  // ---------------------------------------------------------------
  // AnnIndex
  // ---------------------------------------------------------------

  test("AnnIndex.takedown: tombstoned vectors leave the top-k; tombstone == compacted; fold observable") {
    val dim = 8
    val p = Pq.Params(dim = dim, m = 2, ks = 4)
    val k = 2
    val rnd = new scala.util.Random(7)
    // 40 corpus vectors + one query; vec 5 planted AT the query point
    // so it must rank first until erased
    val qv = Array.fill(dim)(rnd.nextDouble())
    val rows = (1 to 40).map { i =>
      val v = if (i == 5) qv.toSeq else Seq.fill(dim)(rnd.nextDouble())
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "ve")
    val dir = tmp("graft-td-ann")
    AnnIndex.build(emb, dir, k, p)
    val q = Seq(Tuple1(qv.toSeq)).toDF("qv")
    def top(n: Int) = AnnIndex.search(spark, dir, q, nprobe = k, limit = n, p = p)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq

    // PQ at m=2/ks=4 is coarse — same-code neighbors tie on ad2 and
    // break by vec_id, so pin PRESENCE (the takedown semantic), not rank
    assert(top(3).contains(5L), s"planted vector should serve pre-takedown: ${top(3)}")

    AnnIndex.takedown(spark, Seq(5L, 7L, 9L).toDF("vec_id"), dir)
    val after = top(10)
    assert(!after.exists(Set(5L, 7L, 9L)), s"tombstoned ids served: $after")

    // compact folds: same answer, tomb emptied, code rows reduced
    AnnIndex.compact(spark, dir)
    assert(top(10) == after, "compacted index diverged from tombstone probe")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/tomb"))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    assert(tombFiles.isEmpty, "tombstones not folded by compact")
    val liveIds = spark.read.parquet(
        graft.ops.CompactSwap.currentTablePath(spark, dir, "codes"))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(liveIds.size == 37 && !liveIds.exists(Set(5L, 7L, 9L)),
      s"codes not physically folded: ${liveIds.size} live")

    // batch search reads tombstones PER CALL — a fresh erasure is
    // visible to the next search without any restart. (searchStream
    // is different by stream-static semantics: its file listings pin
    // at stream start, so a live query stream serves takedowns only
    // after restart — the as-of-start rule recorded on takedown.)
    AnnIndex.takedown(spark, Seq(11L).toDF("vec_id"), dir)
    assert(!top(40).contains(11L), "fresh tombstone not visible to a new search")
  }

  test("AnnIndex.takedown refuses under a live compact marker") {
    val dir = tmp("graft-td-annrace")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_compacting"), true).close()
    val e = intercept[IllegalStateException] {
      AnnIndex.takedown(spark, Seq(1L).toDF("vec_id"), dir)
    }
    assert(e.getMessage.contains("compacting"))
  }

  // ---------------------------------------------------------------
  // Sketches — the recorded impossibility
  // ---------------------------------------------------------------

  test("Sketches.takedownGroup retains NULL-keyed survivor groups (three-valued logic)") {
    // a NULL group key is legal in groupBy (NULL data keys group
    // together); the takedown predicate evaluates NULL on that row
    // and a bare where(!removed) would silently erase it alongside
    // the target group — the bit-identical-to-rebuilt claim breaks
    val dir = tmp("sk-null-group")
    val rows = Seq(
      (Option("click"), 1L), (Option("click"), 2L),
      (Option("view"), 3L), (Option("view"), 4L),
      (Option.empty[String], 5L), (Option.empty[String], 6L))
      .toDF("grp", "uid")
    rows.groupBy($"grp")
      .agg(hll_sketch_agg($"uid".cast("string"), lit(12)).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/sketches")
    Sketches.takedownGroup(spark, dir, $"grp" === "click")
    val est = Sketches.estimateStore(spark, dir, Seq("grp"))
      .where($"gid" === 0)
      .select($"grp", $"est").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(!est.contains(Option("click")), s"click group must be erased: $est")
    assert(est.contains(Option.empty[String]),
      s"NULL-keyed survivor group was dropped by the takedown: $est")
    assert(est.contains(Option("view")), s"view group must survive: $est")
    // parity with a store rebuilt over the post-erasure corpus
    val dirB = tmp("sk-null-group-reb")
    rows.where(!($"grp" <=> "click")).groupBy($"grp")
      .agg(hll_sketch_agg($"uid".cast("string"), lit(12)).as("sk"))
      .write.mode("overwrite").parquet(s"$dirB/sketches")
    val estB = Sketches.estimateStore(spark, dirB, Seq("grp"))
      .where($"gid" === 0)
      .select($"grp", $"est").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(est == estB, s"takedownGroup $est != rebuilt-without $estB")
  }
}
