package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, CompactSwap, DedupIndex, LineStore}

/** The versioned-table protocol (CompactSwap.compactVersioned) under
  * its two serving claims:
  *
  *  1. ZERO-WINDOW COMPACTION: a compact promotes `<table>_v<N+1>`
  *     with one sentinel create and leaves v<N>'s files untouched, so
  *     a live reader — in particular a searchStream whose
  *     stream-static join pinned its file listing at stream start —
  *     keeps serving ACROSS the compact with zero missed/duplicate
  *     emissions and no FileNotFound window.
  *  2. VERSIONED READS: `readVersion(dir, table, v)` pins "the store
  *     as of compact v" byte-stably while appends and later compacts
  *     proceed, until the version GC (one compact later, keep = 1)
  *     retires it — the reproducible-training handle.
  */
class VersionedStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("searchStream serves ACROSS a concurrent compact — zero missed/duplicate emissions") {
    val emb = sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val dir = tmp("graft-vstore-stream")
    AnnIndex.build(emb.where(col("vec_id") =!= 0 && col("vec_id") <= 400), dir)
    AnnIndex.append(spark, emb.where(col("vec_id") > 400), dir) // small files to fold

    // batch answers BEFORE anything moves — the stream must emit
    // exactly these for both windows (stream-static = as-of-start)
    def batch(qid: Long) = AnnIndex.search(spark, dir,
        emb.where(col("vec_id") === qid).select(col("ve").as("qv")), nprobe = 2)
      .collect().map(r => (qid, r.getLong(0), r.getAs[Double]("ad2"))).toSeq
    val want0 = batch(0L)
    val want37 = batch(37L)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val queries = mem.toDF().toDF("query_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      .join(emb.withColumnRenamed("vec_id", "query_id"), "query_id")
      .withColumnRenamed("ve", "qv")
    val out = AnnIndex.searchStream(spark, queries, dir, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("vstore_stream_out")
      .outputMode("append").start()
    try {
      mem.addData((0L, 5L))
      q.processAllAvailable()
      // COMPACT MID-STREAM: promotes codes -> codes_v1; the flat v0
      // the stream pinned at start stays byte-complete on disk
      AnnIndex.compact(spark, dir)
      assert(CompactSwap.currentVersion(spark, dir, "codes").contains(1))
      mem.addData((37L, 106L)) // second window; also closes the first
      q.processAllAvailable()
      mem.addData((1L, 300L))  // closes the second window
      q.processAllAvailable()
      val got = spark.table("vstore_stream_out")
        .orderBy("wstart", "query_id", "rk")
        .select("query_id", "vec_id", "ad2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == want0 ++ want37,
        s"stream across compact diverged:\n got=$got\nwant=${want0 ++ want37}")
      assert(got.length == 20, s"missed/duplicate emissions: ${got.length}")
    } finally q.stop()
    // a NEW batch search resolves the promoted version and agrees
    // (no tombstones here, so content is identical)
    assert(batch(0L) == want0, "post-compact batch search diverged")
  }

  test("versioned reads: pin 'the store as of compact N' byte-stably; GC one compact later") {
    val emb = sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val dir = tmp("graft-vstore-pin")
    AnnIndex.build(emb.where(col("vec_id").between(1, 300)), dir)
    AnnIndex.append(spark, emb.where(col("vec_id").between(301, 350)), dir)
    assert(CompactSwap.currentVersion(spark, dir, "codes").contains(0), "flat build = version 0")

    AnnIndex.compact(spark, dir) // -> codes_v1
    assert(CompactSwap.currentVersion(spark, dir, "codes").contains(1))
    val asOf1 = CompactSwap.readVersion(spark, dir, "codes", 1)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(asOf1 == (1L to 350L).toSet)

    // later lifecycle: another append, another compact
    AnnIndex.append(spark, emb.where(col("vec_id").between(351, 400)), dir)
    AnnIndex.compact(spark, dir) // -> codes_v2; GC retires v0 (keep = 1)
    assert(CompactSwap.currentVersion(spark, dir, "codes").contains(2))

    // the pinned version is BYTE-STABLE under everything that happened
    val asOf1Again = CompactSwap.readVersion(spark, dir, "codes", 1)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(asOf1Again == asOf1, "pinned version drifted under later appends/compacts")
    // current reflects the full lifecycle
    assert(CompactSwap.readVersion(spark, dir, "codes", 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet == (1L to 400L).toSet)
    // v0 was GC'd — pinning it is a LOUD error naming the keep policy
    val e = intercept[IllegalArgumentException](CompactSwap.readVersion(spark, dir, "codes", 0))
    assert(e.getMessage.contains("garbage-collected"), e.getMessage)
  }

  test("serveStream: post-start takedowns, appends and compacts reflect in the NEXT batch") {
    val emb = sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val dir = tmp("graft-vstore-serve")
    AnnIndex.build(emb.where(col("vec_id") =!= 0), dir)
    val qv = emb.where(col("vec_id") === 0)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val queries = mem.toDF().toDF("query_id")
      .join(emb.withColumnRenamed("vec_id", "query_id"), "query_id")
      .withColumnRenamed("ve", "qv")
    val got = scala.collection.mutable.Map[Long, Seq[(Long, Long)]]()
    val q = AnnIndex.serveStream(spark, queries, dir, nprobe = 2) { (res, id) =>
      got(id) = res.orderBy("query_id", "rk")
        .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSeq
    }
    try {
      mem.addData(0L)
      q.processAllAvailable()
      val top0 = got.toSeq.maxBy(_._1)._2
      assert(top0.length == 10 && top0.map(_._1).forall(_ == 0L))
      assert(top0 == AnnIndex.searchBatch(spark, qv.select(lit(0L).as("query_id"),
          col("ve").as("qv")), dir, nprobe = 2)
        .orderBy("rk").collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSeq,
        "serveStream batch must equal searchBatch")

      // TAKEDOWN between batches: the erased top hit must vanish
      // from the very next batch — no restart
      val victim = top0.head._2
      AnnIndex.takedown(spark, Seq(victim).toDF("vec_id"), dir)
      mem.addData(0L)
      q.processAllAvailable()
      val afterTd = got.toSeq.maxBy(_._1)._2
      assert(!afterTd.exists(_._2 == victim),
        s"takedown invisible to the live serving loop: $victim still in $afterTd")
      assert(afterTd.length == 10, "top-k must refill after the takedown")

      // COMPACT between batches (folds the tombstone, promotes v1):
      // the serving loop re-resolves and keeps answering identically
      AnnIndex.compact(spark, dir)
      assert(CompactSwap.currentVersion(spark, dir, "codes").contains(1))
      mem.addData(0L)
      q.processAllAvailable()
      assert(got.toSeq.maxBy(_._1)._2 == afterTd,
        "compact must not change the served answer")

      // APPEND between batches: re-insert the erased vector's
      // content under a new id — it must rank again immediately
      val re = emb.where(col("vec_id") === victim)
        .select(lit(9999L).as("vec_id"), col("ve"))
      AnnIndex.append(spark, re, dir)
      mem.addData(0L)
      q.processAllAvailable()
      val afterApp = got.toSeq.maxBy(_._1)._2
      assert(afterApp.exists(_._2 == 9999L),
        s"post-start append invisible to the live serving loop: $afterApp")
    } finally q.stop()
  }

  test("searchBatch: a multi-query batch equals its per-query searches") {
    val emb = sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val dir = tmp("graft-vstore-batchq")
    AnnIndex.build(emb.where(col("vec_id") =!= 0), dir)
    val qids = Seq(0L, 37L, 123L)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("ve").as("qv"))
    val got = AnnIndex.searchBatch(spark, queries, dir, nprobe = 2)
      .orderBy("query_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("vec_id"),
        r.getAs[Double]("ad2"))).toSeq
    val want = qids.sorted.flatMap { qid =>
      AnnIndex.search(spark, dir,
          emb.where(col("vec_id") === qid).select(col("ve").as("qv")), nprobe = 2)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, (i + 1).toLong, r.getLong(0), r.getAs[Double]("ad2")) }
    }
    assert(got == want, s"\n got=$got\nwant=$want")
  }

  test("dedup + line stores: same versioned lifecycle, probes track the current version") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val delta = Seq((3L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")

    val ddir = tmp("graft-vstore-dedup")
    DedupIndex.build(docs, ddir, $"text", $"doc_id")
    DedupIndex.append(delta, ddir, $"text", $"doc_id")
    DedupIndex.compact(spark, ddir)
    assert(CompactSwap.currentVersion(spark, ddir, "fp").contains(1) &&
      CompactSwap.currentVersion(spark, ddir, "bands").contains(1),
      "both tables promote together")
    val fpAsOf1 = DedupIndex.readTableVersion(spark, ddir, "fp", 1).count()
    // probes read the CURRENT version transparently
    val kept = DedupIndex.deltaKeep(spark,
        Seq((4L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"),
        ddir, $"text", $"doc_id").count()
    assert(kept == 0, "exact dup must still drop against the promoted store")
    DedupIndex.append(
      Seq((5L, "fresh words nobody used before anywhere at all")).toDF("doc_id", "text"),
      ddir, $"text", $"doc_id")
    assert(DedupIndex.readTableVersion(spark, ddir, "fp", 1).count() == fpAsOf1,
      "pinned fp version must not see the later append")

    val ldir = tmp("graft-vstore-line")
    LineStore.build(docs, ldir, $"text", $"doc_id", sep = " ")
    LineStore.append(delta, ldir, $"text", $"doc_id", sep = " ")
    LineStore.compact(spark, ldir)
    assert(CompactSwap.currentVersion(spark, ldir, "counts").contains(1))
    val n1 = CompactSwap.readVersion(spark, ldir, "counts", 1).count()
    LineStore.append(Seq((9L, "brand new words here")).toDF("doc_id", "text"),
      ldir, $"text", $"doc_id", sep = " ")
    assert(CompactSwap.readVersion(spark, ldir, "counts", 1).count() == n1,
      "pinned counts version must not see the later append")
    // the scrub probe reads CURRENT state — v1's folded lines (alpha
    // from the build, nine from the pre-compact append) AND the
    // post-compact partial (brand) all cross minDocs=2 with the batch
    val cut = LineStore.scrubDelta(spark,
        Seq((10L, "alpha nine brand")).toDF("doc_id", "text"),
        ldir, $"text", $"doc_id", sep = " ")
      .select($"n_cut").collect()(0).getLong(0)
    assert(cut == 3L, s"probe must see folded + fresh lines, got $cut")
  }

  test("dedup/line serveStream: read-only probe loops reflect appends and compacts per batch") {
    // the r19 read-side symmetry: AnnIndex had serveStream, the dedup
    // and line stores only had ingest loops (probe + absorb). The
    // serving loops must (a) answer like the batch probe, (b) NOT
    // mutate the store, (c) see post-start appends/compacts in the
    // NEXT batch — per-batch store re-resolution, no restart.
    import graft.ops.{DedupIndex, LineStore}
    val dedupDir = tmp("graft-serve-dedup")
    val lineDir = tmp("graft-serve-line")
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    DedupIndex.build(corpus, dedupDir, $"text", $"doc_id")
    LineStore.build(Seq((1L, "boiler line\nunique a"), (2L, "boiler line\nunique b"))
      .toDF("doc_id", "text"), lineDir, $"text", $"doc_id")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val kept = scala.collection.mutable.Map[Long, Seq[Long]]()
    val q = DedupIndex.serveStream(spark, docs, dedupDir, $"text", $"doc_id") {
      (res, id) => kept(id) = res.select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    }
    val memL = MemoryStream[(Long, String)]
    val ldocs = memL.toDF().toDF("doc_id", "text")
    val cuts = scala.collection.mutable.Map[Long, Long]()
    val ql = LineStore.serveStream(spark, ldocs, lineDir, $"text", $"doc_id") {
      (res, id) => cuts(id) = res.agg(org.apache.spark.sql.functions.sum($"n_cut"))
        .collect()(0).getLong(0)
    }
    try {
      // batch 1: a near-dup of stored content drops; fresh doc kept
      mem.addData((101L, base.replace("dawn", "noon")),
        (102L, "completely different words about catalyst and tungsten"))
      q.processAllAvailable()
      assert(kept.toSeq.maxBy(_._1)._2 == Seq(102L), kept.toString)
      // read-only: the store's fp table must NOT have absorbed 102
      val fpN = spark.read.parquet(
        graft.ops.CompactSwap.currentTablePath(spark, dedupDir, "fp")).count()
      assert(fpN == 1L, s"serveStream must not mutate the store (fp rows: $fpN)")
      // APPEND between batches: absorb 102, the next probe of the
      // same content must now drop it
      DedupIndex.append(Seq((102L, "completely different words about catalyst and tungsten"))
        .toDF("doc_id", "text"), dedupDir, $"text", $"doc_id")
      mem.addData((103L, "completely different words about catalyst and tungsten"))
      q.processAllAvailable()
      assert(kept.toSeq.maxBy(_._1)._2 == Seq.empty, kept.toString)
      // COMPACT between batches: answers unchanged
      DedupIndex.compact(spark, dedupDir)
      mem.addData((104L, "completely different words about catalyst and tungsten"),
        (105L, "genuinely novel sentence with no store overlap"))
      q.processAllAvailable()
      assert(kept.toSeq.maxBy(_._1)._2 == Seq(105L), kept.toString)

      // line loop: stored boiler line crosses minDocs with the batch
      memL.addData((201L, "boiler line\nfresh line"))
      ql.processAllAvailable()
      assert(cuts.toSeq.maxBy(_._1)._2 == 1L, cuts.toString)
      // APPEND a doc carrying "fresh line" → next batch cuts both
      LineStore.append(Seq((202L, "fresh line")).toDF("doc_id", "text"),
        lineDir, $"text", $"doc_id")
      memL.addData((203L, "boiler line\nfresh line"))
      ql.processAllAvailable()
      assert(cuts.toSeq.maxBy(_._1)._2 == 2L, cuts.toString)
    } finally { q.stop(); ql.stop() }
  }

  test("as-of pins: torn-batch replay emissions are bit-equal ACROSS a concurrent compact") {
    // the SURVEY §16.22 divergence rule, closed: attempt 1 completes
    // its appends but crashes before the marker; a compact then FOLDS
    // the stores (anonymizing the tag's files — the case excludeTag
    // cannot reconstruct); the replay must still recompute the exact
    // first-attempt frames, because it reads the PINNED as-of-start
    // listings, whose files the versioned compact left on disk.
    import graft.ops.{CompactSwap, DedupIndex, LineStore}
    val lineDir = tmp("graft-pin-line")
    val dedupDir = tmp("graft-pin-dedup")
    val corpus = Seq(
      (1L, "seed doc line\nshared boiler line"),
      (2L, "another seed\nshared boiler line")).toDF("doc_id", "text")
    LineStore.build(corpus, lineDir, $"text", $"doc_id")
    DedupIndex.build(corpus, dedupDir, $"text", $"doc_id")
    val batch = Seq(
      (101L, "fresh crawl words here\nshared boiler line"),
      (102L, "seed doc line\nshared boiler line")) // near the stored content
      .toDF("doc_id", "text")
    val tag = "ckpt_b7"
    // the CrawlStream batch body (extract = identity here), pins first
    def batchBody(): (Seq[(Long, String)], Seq[(Long, String)]) = {
      CompactSwap.pinAsOf(spark, lineDir, Seq("counts"), tag, tag)
      CompactSwap.pinAsOf(spark, dedupDir, Seq("fp", "bands"), tag, tag)
      val scrubbed = LineStore.scrubDelta(spark, batch, lineDir, $"text", $"doc_id",
          asOfPin = Some(tag))
        .select($"doc_id", $"clean_text".as("text"))
      val kept = Caches.checkpointed(
        DedupIndex.deltaKeep(spark, scrubbed, dedupDir, $"text", $"doc_id",
          asOfPin = Some(tag)))
      val out = (scrubbed.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted,
        kept.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted)
      LineStore.append(batch, lineDir, $"text", $"doc_id", tag = Some(tag))
      DedupIndex.append(kept, dedupDir, $"text", $"doc_id", tag = Some(tag))
      kept.unpersist()
      out
    }
    val (scrub1, kept1) = batchBody()
    assert(kept1.nonEmpty, "fixture: some batch doc must survive attempt 1")
    // ---- crash before the marker; a COMPACT folds both stores ----
    LineStore.compact(spark, lineDir)
    DedupIndex.compact(spark, dedupDir)
    // the folded current tables carry no tag files any more — the
    // legacy excludeTag reconstruction is now blind to attempt 1
    val curCounts = spark.read.parquet(
      CompactSwap.currentTablePath(spark, lineDir, "counts"))
    assert(curCounts.columns.nonEmpty) // folded store readable
    // ---- the replay: pinned recompute must equal attempt 1 ----
    val (scrub2, kept2) = batchBody()
    assert(scrub2 == scrub1,
      "replayed scrub diverged from attempt 1 across the compact")
    assert(kept2 == kept1,
      "replayed kept set diverged from attempt 1 across the compact " +
        "(empty = the replay saw its own folded fingerprints)")
    // marker commit drops the pins
    val linePin = new java.io.File(lineDir, s"_asof_$tag")
    assert(linePin.exists(), s"pinAsOf must have written $linePin")
    CompactSwap.dropPin(spark, lineDir, tag)
    CompactSwap.dropPin(spark, dedupDir, tag)
    assert(!linePin.exists(), s"dropPin must remove $linePin")
    // a SECOND compact GCs the pinned generation; a late replay now
    // fails LOUDLY instead of silently diverging ("restart within
    // `keep` compacts" is mechanically checked)
    CompactSwap.pinAsOf(spark, lineDir, Seq("counts"), "stale_pin", "stale_pin")
    LineStore.append(Seq((301L, "more lines")).toDF("doc_id", "text"),
      lineDir, $"text", $"doc_id")
    LineStore.compact(spark, lineDir)
    LineStore.compact(spark, lineDir)
    val e = intercept[IllegalArgumentException] {
      CompactSwap.readPinned(spark, lineDir, "stale_pin", "counts").count()
    }
    assert(e.getMessage.contains("retired files"), e.getMessage)
  }

  test("append race: a publish into a superseded version surfaces exactly once (re-resolve + GC reconcile)") {
    val dir = tmp("graft-vstore-race")
    val flat = new org.apache.hadoop.fs.Path(dir, "rows")
    val fs = flat.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1L, 2L, 3L).toDF("v").write.parquet(flat.toString)
    def readCur() = spark.read
      .parquet(CompactSwap.currentTablePath(spark, dir, "rows"))
      .select($"v").collect().map(_.getLong(0)).sorted.toSeq
    def compact() = CompactSwap.compactVersioned(spark, dir, "rows",
      df => df, (df, p) => df.coalesce(1).write.parquet(p))

    compact() // -> rows_v1
    // TAGGED append published against the RETIRED flat v0 path — the
    // r18-advice race shape (the append resolved the path, then a
    // compact finished both reconcile passes before the job
    // committed). The commit-time re-resolve must carry the rows into
    // the current version immediately.
    CompactSwap.appendExactlyOnce(Seq(4L).toDF("v"), flat.toString, "race1")
    assert(readCur() == Seq(1L, 2L, 3L, 4L),
      s"tagged stale-publish rows must be visible immediately: ${readCur()}")
    compact() // -> rows_v2; GC retires v0 — the carried rows must not double
    assert(readCur() == Seq(1L, 2L, 3L, 4L),
      s"re-resolved rows doubled across the next compact: ${readCur()}")

    // UNTAGGED straggler: an anonymous part file lands in the retired
    // v1 (append committed after the handoff, crashed before any
    // re-resolve). Invisible until GC — then the final reconcile must
    // carry it forward instead of deleting it.
    val stage = tmp("graft-vstore-straggler")
    Seq(5L).toDF("v").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))(0).getPath
    require(fs.rename(part,
      new org.apache.hadoop.fs.Path(CompactSwap.versionPath(dir, "rows", 1),
        "part-straggler-0001.parquet")))
    assert(readCur() == Seq(1L, 2L, 3L, 4L),
      "straggler in a retired version is invisible pre-GC (the recorded window)")
    compact() // -> rows_v3; GC of v1 reconciles the straggler into v3
    assert(readCur() == Seq(1L, 2L, 3L, 4L, 5L),
      s"GC must carry the straggler forward, not delete it: ${readCur()}")
    compact() // -> rows_v4; the reconciled copy must not double
    assert(readCur() == Seq(1L, 2L, 3L, 4L, 5L),
      s"straggler doubled across the next compact: ${readCur()}")
  }
}
