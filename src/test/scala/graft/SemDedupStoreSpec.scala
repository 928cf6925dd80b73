package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CompactSwap, SemDedupStore}

/** The persisted semantic-dedup store (ops/SemDedupStore) under its
  * serving claims:
  *
  *  1. RADIUS KNOB: deltaKeep(radius) is monotone — a larger probe
  *     radius can only drop MORE delta vectors (the recall curve's
  *     direction), and radius 0 equals the plain bucketed
  *     confinement.
  *  2. IDENTITY SEMANTICS: deltaKeep is a cross-set probe (no
  *     vec_a < vec_b guard) — a delta vector whose copy is already
  *     stored matches it at cosine 1.0 and drops, which is exactly
  *     the serving contract ("is this batch row already in the
  *     lake?"); the re-probe assertion below pins it.
  *  3. LIFECYCLE: append folds kept vectors in (the next batch
  *     dedups against them); takedown tombstones read-side;
  *     compact folds tombstones physically (versioned promote) and
  *     serving continues against the promoted version.
  */
class SemDedupStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private lazy val emb = sources.Tables
    .load(spark, "/root/testdata/sf0.01", "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))

  test("hammingMasks is combinatorial and complete to the radius") {
    assert(SemDedupStore.hammingMasks(0, 1) == Seq(0L))
    assert(SemDedupStore.hammingMasks(3, 0) == Seq(0L))
    assert(SemDedupStore.hammingMasks(3, 1).toSet ==
      Set(0L, 1L, 2L, 4L), SemDedupStore.hammingMasks(3, 1).toString)
    // radius 2 over 4 bits: 1 + 4 + C(4,2) = 11 masks, all weight <= 2
    val m42 = SemDedupStore.hammingMasks(4, 2)
    assert(m42.size == 11 && m42.forall(java.lang.Long.bitCount(_) <= 2))
    // never 2^b: 20 bits radius 1 is 21 masks, not a million
    assert(SemDedupStore.hammingMasks(20, 1).size == 21)
  }

  test("build -> deltaKeep: radius knob is monotone; matches the query-family confinement") {
    val base = emb.where(col("vec_id") % 10 =!= 9)
    val delta = emb.where(col("vec_id") % 10 === 9)
    val dir = tmp("graft-semdd-spec")
    SemDedupStore.build(base, dir)
    val deltaN = delta.count()
    val kept = (0 to 2).map { r =>
      SemDedupStore.deltaKeep(spark, delta, dir, radius = r).count()
    }
    // monotone: more probes can only drop more
    assert(kept(0) >= kept(1) && kept(1) >= kept(2),
      s"radius knob must be monotone (kept counts: $kept)")
    assert(kept(0) <= deltaN)
    // the graded query's confinement (radius 1) reproduces through
    // the store API — the registry entry and the verb can't drift
    val graded = SparkEntry.queries("e_semdedup_served")(
      spark, "/root/testdata/sf0.01").count()
    assert(graded == kept(1),
      s"graded query ($graded) != store deltaKeep radius-1 (${kept(1)})")
  }

  test("append folds kept vectors in; takedown + compact serve on") {
    val base = emb.where(col("vec_id").between(1, 300))
    val batch1 = emb.where(col("vec_id").between(301, 350))
    val dir = tmp("graft-semdd-life")
    SemDedupStore.build(base, dir)

    val kept1 = SemDedupStore.deltaKeep(spark, batch1, dir, radius = 1)
    val kept1Ids = kept1.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    SemDedupStore.append(spark, kept1, dir)

    // the SAME batch probed again now hits its own appended vectors
    // at cosine 1.0 — everything drops
    val again = SemDedupStore.deltaKeep(spark, batch1, dir, radius = 0)
    assert(again.count() == 0,
      "a re-probed batch must drop against its own appended vectors")

    // takedown one appended vector: read-side anti-join revives it
    val victim = kept1Ids.head
    SemDedupStore.takedown(spark,
      spark.range(victim, victim + 1).select(col("id").as("vec_id")), dir)
    val revived = SemDedupStore.deltaKeep(spark,
        batch1.where(col("vec_id") === victim), dir, radius = 0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(revived == Set(victim),
      s"tombstoned vector must no longer drop its own probe: $revived")

    // compact folds the tombstone physically (versioned promote);
    // serving continues and still excludes the victim
    SemDedupStore.compact(spark, dir)
    assert(graft.ops.CompactSwap.currentVersion(spark, dir, "codes").contains(1))
    val afterCompact = SemDedupStore.deltaKeep(spark,
        batch1.where(col("vec_id") === victim), dir, radius = 0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(afterCompact == Set(victim),
      "post-compact serving must match the tombstoned read")
  }

  test("serveStream: read-only probe loop reflects appends in the NEXT batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = emb.where(col("vec_id").between(1, 300))
    val dir = tmp("graft-semdd-serve")
    SemDedupStore.build(base, dir)

    val mem = MemoryStream[Long]
    val vecs = mem.toDF().toDF("vec_id")
      .join(emb, Seq("vec_id"))
    val got = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = SemDedupStore.serveStream(spark, vecs, dir, radius = 1) {
      (kept, batchId) =>
        got(batchId) = kept.select(col("vec_id")).collect()
          .map(_.getLong(0)).toSet
    }
    try {
      // batch 0: held-out vectors, no stored near-dups expected to
      // drop them all — at minimum the probe runs and emits
      mem.addData(301L, 302L, 303L)
      q.processAllAvailable()
      val b0 = got.values.flatten.toSet
      assert(b0.nonEmpty && b0.subsetOf(Set(301L, 302L, 303L)), got.toString)
      // absorb one of them, then re-probe it: the SAME loop must now
      // drop it (per-batch store re-resolution — no restart)
      SemDedupStore.append(spark,
        emb.where(col("vec_id") === 301L), dir)
      got.clear()
      mem.addData(301L)
      q.processAllAvailable()
      assert(got.values.flatten.toSet.isEmpty,
        s"an appended vector must drop its own re-probe in the next batch: $got")
    } finally q.stop()
  }

  test("opq build: persisted rotation lifts served recall at the same b (sf0.1 pinned)") {
    // sample-trained OPQ rotation (bounded md5-keyed sample, re-keyed
    // dense ids) persisted at build; every served probe buckets
    // through the learned basis. sf0.1 (b = 3), base = 90% lake,
    // delta = the held-out 10%: the rotated store drops STRICTLY
    // more at both radii at the identical cost class — the
    // e_semdedup_opq lift reaching the serving path.
    val embS = sources.Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val base = embS.where(col("vec_id") % 10 =!= 9)
    val delta = embS.where(col("vec_id") % 10 === 9)
    def keptCounts(opq: Boolean): Seq[Long] = {
      val dir = tmp(s"graft-semdd-opq$opq")
      SemDedupStore.build(base, dir, opq = opq)
      (0 to 1).map(r =>
        SemDedupStore.deltaKeep(spark, delta, dir, radius = r).count())
    }
    val unrot = keptCounts(opq = false)
    val rot = keptCounts(opq = true)
    assert(unrot == Seq(189L, 164L), s"unrotated served counts moved: $unrot")
    assert(rot == Seq(188L, 162L), s"rotated served counts moved: $rot")
    assert(rot(0) <= unrot(0) && rot(1) <= unrot(1) &&
      rot.sum < unrot.sum,
      s"the learned basis must catch at least as many near-dups: $rot vs $unrot")
  }

  test("opq rebuild hygiene: a non-opq rebuild clears the stale rotation") {
    val base = emb.where(col("vec_id").between(1, 300))
    val dir = tmp("graft-semdd-rot-clear")
    SemDedupStore.build(base, dir, opq = true)
    val rotP = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    val fs = rotP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(rotP), "opq build must persist the rotation")
    SemDedupStore.build(base, dir, opq = false)
    assert(!fs.exists(rotP),
      "a plain rebuild must not leave a stale rotation for serving to apply")
  }

  test("ingestStream: absorb loop is exactly-once and self-deduping across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = emb.where(col("vec_id").between(1, 300))
    val dir = tmp("graft-semdd-ingest")
    val ckpt = tmp("graft-semdd-ingest-ckpt")
    SemDedupStore.build(base, dir)

    val mem = MemoryStream[Long]
    val vecs = mem.toDF().toDF("vec_id").join(emb, Seq("vec_id"))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Set[Long])]()
    val q = SemDedupStore.ingestStream(spark, vecs, dir, ckpt) {
      (kept, batchId) => got += batchId ->
        kept.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    }
    try {
      mem.addData(310L, 311L)
      q.processAllAvailable()
      // batch 1 re-sends 310 plus a new id: 310 was absorbed by
      // batch 0, so only the new id can survive
      mem.addData(310L, 312L)
      q.processAllAvailable()
      val absorbed = got.toMap
      assert(absorbed(0L).contains(310L), got.toString)
      assert(!absorbed(1L).contains(310L),
        s"batch 1 must dedup against batch 0's absorbed rows: $got")
    } finally q.stop()
  }

  test("versioned pinned read: codes as-of-compact survive a post-pin append byte-stably") {
    val base = emb.where(col("vec_id").between(1, 300))
    val dir = tmp("graft-semdd-pin")
    SemDedupStore.build(base, dir)
    SemDedupStore.compact(spark, dir) // promote codes -> codes_v1
    assert(CompactSwap.currentVersion(spark, dir, "codes").contains(1))
    val pinned = CompactSwap.readVersion(spark, dir, "codes", 1)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // append lands in the SAME current version dir — the pin's
    // sentinel manifest must exclude it
    SemDedupStore.append(spark, emb.where(col("vec_id").between(301, 320)), dir)
    val pinnedAfter = CompactSwap.readVersion(spark, dir, "codes", 1)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(pinnedAfter == pinned,
      s"pinned read must be byte-stable across an append: +${pinnedAfter -- pinned}")
    // the live read DOES see the append
    val live = SemDedupStore.deltaKeep(spark,
      emb.where(col("vec_id") === 310L), dir, radius = 0).count()
    assert(live == 0, "live serving must see the appended vectors")
  }

  test("loud store contract: probing a missing store names the fix") {
    val e = intercept[IllegalArgumentException] {
      SemDedupStore.deltaKeep(spark, emb.limit(1), tmp("graft-semdd-miss"))
    }
    assert(e.getMessage.contains("build/buildIfAbsent"), e.getMessage)
  }
}
