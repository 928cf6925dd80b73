package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bounds the approx sketches numerically. The graded queries emit
  * only (exact, within_bound) — the sketch VALUE is engine-specific
  * and must stay out of the oracle hash — so the raw-error assertions
  * against the sketch estimates live here, computed from the same
  * building blocks the queries use. */
class ApproxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("g_approx_distinct: within_bound TRUE and sketch within 5% of exact") {
    import org.apache.spark.sql.functions._
    val row = SparkEntry.allQueries.find(_.name == "g_approx_distinct").get
      .fn(spark, sfDir).collect()(0)
    assert(row.getAs[Boolean]("within_bound"),
      s"graded within_bound is false (exact=${row.getAs[Long]("exact_parts")})")
    // raw sketch error, recomputed directly
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet").agg(
      approx_count_distinct(col("l_partkey")).as("a"),
      countDistinct(col("l_partkey")).as("e")).collect()(0)
    val (approx, exact) = (raw.getAs[Long]("a").toDouble, raw.getAs[Long]("e").toDouble)
    assert(exact > 0)
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact rel-err=${math.abs(approx - exact) / exact}")
  }

  test("g_approx_quantile: within_bound TRUE and GK median within 2% of exact") {
    import org.apache.spark.sql.functions.expr
    val row = SparkEntry.allQueries.find(_.name == "g_approx_quantile").get
      .fn(spark, sfDir).collect()(0)
    assert(row.getAs[Boolean]("within_bound"), "graded rank check failed")
    // the exact percentile() twin lives here (small SF only) — it buffers
    // every value per partial aggregate, so it must never ride in the
    // graded query that the bench times at sf0.1
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val approx = li
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("a"))
      .collect()(0).getAs[Double]("a")
    val exact = li
      .agg(expr("percentile(l_extendedprice, 0.5)").as("exact_med"))
      .collect()(0).getAs[Double]("exact_med")
    assert(exact > 0)
    assert(math.abs(approx - exact) / exact < 0.02,
      s"approx=$approx exact=$exact rel-err=${math.abs(approx - exact) / exact}")
  }

  test("g_heavy_hitters: every top-10 row inside the CMS point-query bound") {
    val rows = SparkEntry.allQueries.find(_.name == "g_heavy_hitters").get
      .fn(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"CMS bound violated for item ${r.get(0)} (exact=${r.getAs[Long]("exact_cnt")})")
    }
  }

  test("graft_cms_estimate: never under-counts, over-counts at most eps*N on every key") {
    import org.apache.spark.sql.functions._
    import graft.ops.Sketches
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val n = ev.count()
    val sketch = ev.agg(
      expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("_cms"))
    val checked = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sketch))
      .select(col("exact"),
        Sketches.cmsEstimate(col("_cms"), col("user_id")).as("est"))
      .collect()
    assert(checked.nonEmpty)
    val slack = math.ceil(0.001 * n).toLong
    // never-under-count is structural (min over counters that each saw
    // every occurrence) — universal assertion. The eps*N over-count
    // bound holds per PROBE with confidence 0.99 only, so over a full
    // key sweep ~1% of keys MAY exceed it under an unlucky seed/data
    // combination; assert the violation FRACTION stays within twice
    // that budget instead of pinning every key (which held under seed
    // 42 on today's generator but is not what the sketch promises).
    var overBudget = 0
    checked.foreach { r =>
      val (exact, est) = (r.getAs[Long]("exact"), r.getAs[Long]("est"))
      assert(est >= exact, s"CMS under-counted: est=$est < exact=$exact")
      if (est > exact + slack) overBudget += 1
    }
    val allowed = math.max(1L, math.ceil(0.02 * checked.length).toLong)
    assert(overBudget <= allowed,
      s"$overBudget/${checked.length} keys exceeded exact+eps*N (allowed $allowed at 1-delta=0.01)")
  }

  test("e_ann_recall: numeric recall@10 pinned per method at sf0.01") {
    // the graded query hash-checks `hits` exactly; this pins the
    // measured values so a silent candidate-generation change (bucket
    // function, probe radius, IVF assignment) shows up as a number,
    // not just a within_bound flip. Isotropic-corpus calibration:
    // multi-probe LSH covers 5/16 of the corpus -> recall ~ 0.3;
    // IVF's cell holds a direction-correlated ~1/8 -> recall 0.5.
    val rows = SparkEntry.allQueries.find(_.name == "e_ann_recall").get
      .fn(spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("hits"), r.getAs[Boolean]("within_bound"))).toMap
    assert(rows("lsh") == ((3L, true)), s"lsh arm: ${rows("lsh")}")
    assert(rows("ivf") == ((5L, true)), s"ivf arm: ${rows("ivf")}")
  }

  test("t_curriculum_scale: graded booleans hold; decile occupancy near 10% per source") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.allQueries.find(_.name == "t_curriculum_scale").get
      .fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"GK rank bound violated for source ${r.get(0)}")
      assert(r.getAs[Boolean]("bucket_monotone"),
        s"decile quality ranges overlap for source ${r.get(0)}")
    }
    // occupancy recomputed from the same building blocks: every decile
    // holds roughly 10% of its source (slack for sketch cuts + quality
    // ties landing one side of a boundary)
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.text.qualityScore(col("text")).as("quality"))
    // accuracy 2000 = the SHIPPED query's sketch (TextQueries
    // t_curriculum_scale) — the occupancy band must hold for the
    // bucketing users actually get, not a finer one
    val bounds = docs.groupBy(col("source")).agg(
      expr("approx_percentile(quality, " +
        "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D), 2000)").as("_bnd"))
    val occ = docs.join(broadcast(bounds), Seq("source"))
      .withColumn("_decile", expr("10 - size(filter(_bnd, b -> quality > b))"))
      .groupBy(col("source"), col("_decile")).count().collect()
    val bySource = occ.groupBy(_.getAs[String]("source"))
    assert(bySource.nonEmpty)
    bySource.foreach { case (src, rs) =>
      val total = rs.map(_.getAs[Long]("count")).sum.toDouble
      assert(rs.length >= 8, s"$src: only ${rs.length} non-empty deciles")
      rs.foreach { r =>
        val share = r.getAs[Long]("count") / total
        assert(share >= 0.02 && share <= 0.22,
          s"$src decile ${r.get(1)}: occupancy $share outside [0.02, 0.22]")
      }
    }
  }

  test("e_ann_recall_planted: clustered corpus recall@10 pinned at sf0.01") {
    // the anisotropic complement: with planted cluster structure
    // (center + 0.15*perturbation), LSH recall measures neighbor
    // recovery, not candidate mass — both arms recover the full
    // true top-10 (vs the isotropic floor of 3/10 lsh, 5/10 ivf
    // pinned above), because same-cluster vectors agree on nearly
    // all hyperplane signs and whole clusters land in one IVF cell.
    val rows = SparkEntry.allQueries.find(_.name == "e_ann_recall_planted").get
      .fn(spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("hits"), r.getAs[Boolean]("within_bound"))).toMap
    assert(rows("lsh") == ((10L, true)), s"lsh arm: ${rows("lsh")}")
    assert(rows("ivf") == ((10L, true)), s"ivf arm: ${rows("ivf")}")
  }

  test("g_hll_merge: union of per-group sketches == one global sketch (mergeability)") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("string").as("u"), col("event_type"))
    val merged = ev.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("u"), lit(12)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0).toDouble
    val whole = ev.agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12))).as("est"))
      .collect().head.getLong(0).toDouble
    val exact = ev.agg(countDistinct(col("u"))).collect().head.getLong(0).toDouble
    // the algebraic property the 100 TB rollup relies on: merging
    // partial sketches loses nothing vs sketching the whole stream
    assert(merged == whole, s"merge broke mergeability: $merged vs $whole")
    assert(math.abs(merged - exact) <= exact * 0.05,
      s"merged estimate $merged outside 5% of exact $exact")
  }

  test("g_hll_cube: rollup of STORED sketches == rebuild from the corpus at every level") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("source"), md5(col("text")).as("h"))
    // finest-grain sketches through a parquet round-trip, then rolled
    // up — vs the same rollup over the in-memory sketches: persisting
    // the store must lose NOTHING (byte-exact sketch serialization).
    // NOTE deliberately not pinned: union-of-parts == direct
    // whole-corpus sketch. That holds only per HLL's error bound, not
    // bitwise (sparse->dense promotion differs by build path; observed
    // 500 vs 501 at the corpus root here) — the store's contract is
    // exact fidelity to the sketches it persisted plus the error
    // bound vs exact, which is what g_hll_cube grades.
    val grain = docs.groupBy(col("lang"), col("source"))
      .agg(hll_sketch_agg(col("h"), lit(12)).as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("graft-hllcube-spec").toString
    grain.write.mode("overwrite").parquet(dir)
    def rollupOf(g: org.apache.spark.sql.DataFrame) =
      g.rollup(col("lang"), col("source"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) -> r.getLong(2)).toMap
    val fromStore = rollupOf(spark.read.parquet(dir))
    val inMemory = rollupOf(grain)
    assert(fromStore == inMemory,
      s"parquet round-trip changed sketch rollup at ${
        fromStore.keySet.union(inMemory.keySet).filter(k => fromStore.get(k) != inMemory.get(k))}")
    // and every hierarchy level honors the lgK=12 error budget vs exact
    val exact = docs.rollup(col("lang"), col("source"))
      .agg(countDistinct(col("h")).as("n"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) -> r.getLong(2)).toMap
    assert(fromStore.keySet == exact.keySet && fromStore.contains((None, None)))
    for ((k, est) <- fromStore)
      assert(math.abs(est.toDouble - exact(k)) <= exact(k) * 0.05,
        s"$k: estimate $est outside 5% of exact ${exact(k)}")
  }

  test("opqRefine: qerr trajectory pinned, strictly decreasing; refined R orthogonal") {
    import org.apache.spark.sql.functions._
    // identity start isolates the refinement itself from the panel's
    // pre-rotation; every quantity below is integer-snapped (M and
    // the qerr sums are BIGINT folds, the Jacobi SVD is a fixed
    // deterministic sweep), so the trajectory is exact, not a bound —
    // a silent change to the assignment, re-mean, or Procrustes step
    // moves a pinned number
    val p = graft.ops.Pq.Params(64, 8, 16)
    val id64 = Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    def run(sf: String) = {
      val e0 = sources.Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
      graft.ops.Pq.opqRefine(e0, id64, p, rounds = 2)
    }
    val (rf, _, traj) = run(sfDir)
    assert(traj == Seq(374492199L, 273185505L, 252501416L),
      s"sf0.001 qerr trajectory drifted: $traj")
    assert(traj(1) < traj(0) && traj(2) < traj(1), "strict per-round decrease")
    val orthErr = (0 until 64).flatMap(i => (0 until 64).map { j =>
      math.abs((0 until 64).map(k => rf(i)(k) * rf(j)(k)).sum -
        (if (i == j) 1.0 else 0.0))
    }).max
    assert(orthErr < 1e-12, s"refined R must stay orthogonal: $orthErr")
    val (_, _, traj01) = run("/root/testdata/sf0.01")
    assert(traj01 == Seq(377682817L, 274768253L, 252691303L),
      s"sf0.01 qerr trajectory drifted: $traj01")
    // ~33% quantization-error reduction in two rounds — the measured
    // lift the graded e_opq_refined booleans summarize
    assert(traj(2).toDouble / traj(0) < 0.70 && traj01(2).toDouble / traj01(0) < 0.70)
  }

  test("e_opq_indexed: rotated serving — recall floor + measured hits pinned, both SFs") {
    import org.apache.spark.sql.functions._
    // the graded row asserts the recall FLOOR; the exact hit counts
    // live here, measured and pinned in BOTH directions like the
    // isotropic e_ann_recall pins: on a random (isotropic) corpus a
    // single query's PQ recall@10 is noise under ANY basis at this
    // code size — OPQ's benefit metric is the GLOBAL quantization
    // error (pinned at -33% in the opqRefine test), which the
    // rotated index serves. nprobe=2: sf0.001 opq 1 vs plain 3;
    // sf0.01 2 vs 2 — the rotation also moves the coarse cell
    // geometry, so probe-limited recall can go either way.
    def hitsOf(sf: String): Long = {
      val row = SparkEntry.allQueries.find(_.name == "e_opq_indexed").get
        .fn(spark, sf).collect()(0)
      assert(row.getBoolean(row.fieldIndex("within_bound")),
        s"recall floor must hold at $sf")
      val e0 = sources.Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
      val q1 = e0.where(col("vec_id") === 0).select(col("ve").as("qv"))
      val dir = s"${sys.props("java.io.tmpdir")}/graft-opqivf-${graft.queries.storeKey(sf)}"
      val got = graft.ops.AnnIndex.searchRotated(spark, dir, q1, nprobe = 2, limit = 10)
        .collect().map(_.getLong(0)).toSet
      val ex = e0.where(col("vec_id") =!= 0).crossJoin(broadcast(q1))
        .select(col("vec_id"),
          aggregate(zip_with(col("ve"), col("qv"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, v) => a + v).as("d2"))
        .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      spark.catalog.clearCache()
      got.intersect(ex).size.toLong
    }
    assert(hitsOf(sfDir) == 1L, "sf0.001 rotated-index hits drifted")
    assert(hitsOf("/root/testdata/sf0.01") == 2L, "sf0.01 rotated-index hits drifted")
  }

  test("e_opq_recall_planted: OPQ recall saturates; planted qerr HALVES in one round") {
    import org.apache.spark.sql.functions._
    // the clustered complement of the isotropic e_opq_indexed pins:
    // with real neighbor structure, one identity-start alternation
    // round cuts quantization error ~50% (vs ~27%/round isotropic —
    // cluster geometry gives the rotation something to align) and
    // OPQ recall@10 stays at the saturated 10/10 the plain-PQ arm
    // achieves. All integer-snapped -> exact pins.
    val P = graft.ops.Pq.Params(64, 8, 16)
    val id64 = Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    def run(sf: String): (Long, Seq[Long]) = {
      val base = sources.Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
      val ctr = base.where(col("vec_id").between(1, 16))
        .select(col("vec_id").as("center_id"), col("ve").as("cve"))
      val planted = base.join(broadcast(ctr),
          col("center_id") === col("vec_id") % 16 + 1)
        .select(col("vec_id"),
          zip_with(col("cve"), col("ve"), (c, e) => c + lit(0.15) * e).as("ve"))
        .persist()
      val (r, cb, traj) = graft.ops.Pq.opqRefine(planted, id64, P, rounds = 1)
      val rotAll = graft.ops.Pq.rotatedBy(planted, r, P)
      val qRot = rotAll.where(col("vec_id") === 0).select(col("ve").as("qv"))
      val hits = graft.ops.Pq.scoredQ(rotAll.crossJoin(broadcast(qRot)), cb, P)
        .agg(call_function("graft_bottom_k",
          struct(col("ad2"), col("vec_id")), lit(10)).as("ap"))
        .select(size(filter(transform(col("ap"), x => x.getField("vec_id")),
          id => id % 16 === 0)).cast("long"))
        .collect()(0).getLong(0)
      planted.unpersist()
      spark.catalog.clearCache()
      (hits, traj)
    }
    val (h1, t1) = run(sfDir)
    assert(h1 == 10L, s"sf0.001 OPQ planted recall drifted: $h1")
    assert(t1 == Seq(21815128L, 10870799L), s"sf0.001 planted qerr drifted: $t1")
    val (h2, t2) = run("/root/testdata/sf0.01")
    assert(h2 == 10L, s"sf0.01 OPQ planted recall drifted: $h2")
    assert(t2 == Seq(21670925L, 10867546L), s"sf0.01 planted qerr drifted: $t2")
    // the graded row's bound is comfortably met, and the refinement
    // effect is a ~2x error reduction, both SFs (49.8-50.2% measured)
    assert(t1(1).toDouble / t1(0) <= 0.51 && t2(1).toDouble / t2(0) <= 0.51)
  }

  test("procrustes: recovers a planted rotation exactly") {
    // M = R* (x-basis correlation of a perfectly-quantized corpus
    // rotated by R*): procrustes(M) must return R* itself
    val rng = new scala.util.Random(7)
    // random orthogonal R* via Gram-Schmidt of a random matrix
    val raw = Array.fill(8, 8)(rng.nextGaussian())
    val rStar = Array.ofDim[Double](8, 8)
    for (i <- 0 until 8) {
      val v = raw(i).clone()
      for (k <- 0 until i) {
        val d = (0 until 8).map(j => v(j) * rStar(k)(j)).sum
        for (j <- 0 until 8) v(j) -= d * rStar(k)(j)
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      for (j <- 0 until 8) rStar(i)(j) = v(j) / n
    }
    // M = Σ x̂ xᵀ with x̂ = R* x over a spanning x set == R* (x = eᵢ)
    val got = graft.ops.Pq.procrustes(rStar.map(_.clone()))
    val err = (0 until 8).flatMap(i => (0 until 8).map(j =>
      math.abs(got(i)(j) - rStar(i)(j)))).max
    assert(err < 1e-10, s"planted rotation not recovered: max err $err")
  }

  test("lloydStepQerr: a leading extra cbRow column leaves codebook and qerr unchanged") {
    import org.apache.spark.sql.functions._
    import graft.ops.Pq
    val p = Pq.Params()
    val emb = sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val cb = Pq.codebookRow(emb, p)
    def step(cbRow: org.apache.spark.sql.DataFrame) = {
      val r = Pq.lloydStepQerr(emb, cbRow, p).collect()(0)
      (r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("cbs")).map(_.toSeq), r.getAs[Long]("qerr_q6"))
    }
    val plain = step(cb)
    assert(plain._1.length == p.m * p.ks && plain._2 > 0)
    assert(step(cb.select(lit(7L).as("lead"), col("cbs"))) == plain)
  }

  test("Sketches.ingestStream == sequential ingestBatch; replayed batches are idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val batches = docs.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = s"${sys.props("java.io.tmpdir")}/graft-hll-ingest-spec"
    val (batchDir, streamDir, ckpt) = (s"$base/batch", s"$base/stream", s"$base/ckpt")
    Seq(base).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))

    // sequential-batch twin: three ingestBatch calls
    for (b <- batches)
      graft.ops.Sketches.ingestBatch(
        b.toDF("doc_id", "lang", "source", "h"), batchDir,
        Seq("lang", "source"), col("h"))

    // the stream: same three batches through ingestStream
    val mem = MemoryStream[(Long, String, String, String)]
    val q = graft.ops.Sketches.ingestStream(spark,
      mem.toDF().toDF("doc_id", "lang", "source", "h"),
      streamDir, Seq("lang", "source"), col("h"), ckpt)
    try {
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def estimates(dir: String) =
      graft.ops.Sketches.estimateStore(spark, dir, Seq("lang", "source"))
        .collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)) ->
          r.getLong(3)).toMap
    val fromStream = estimates(streamDir)
    val fromBatch = estimates(batchDir)
    assert(fromStream.keySet == fromBatch.keySet,
      "both stores must cover the same rollup levels")
    // DETAIL rows (g=0) must match exactly — same batch slices, same
    // groups. Wide-fanin union levels (the corpus root merges ~300
    // sketch rows) are NOT pinned bitwise: HLL's serialized form
    // depends on partial-merge order (physical partitioning differs
    // between a MemoryStream batch and a parallelized one), the same
    // representation caveat the g_hll_cube spec documents. Every
    // level instead honors the lgK=12 bound vs exact, both stores.
    val detailKeys = fromStream.keySet.filter(_._3 == 0L)
    assert(detailKeys.nonEmpty &&
      detailKeys.forall(k => fromStream(k) == fromBatch(k)),
      s"detail-group estimates must match: ${
        detailKeys.filter(k => fromStream(k) != fromBatch(k))}")
    val exactMap = docs.groupBy(d => (Option(d._2), Option(d._3)))
      .map { case (k, v) => k -> v.map(_._4).distinct.size }
    val exactRoot = docs.map(_._4).distinct.length
    def exactOf(k: (Option[String], Option[String], Long)): Int = k._3 match {
      case 0L => exactMap((k._1, k._2))
      case 1L => docs.filter(d => Option(d._2) == k._1).map(_._4).distinct.length
      case _ => exactRoot
    }
    for (m <- Seq(fromStream, fromBatch); (k, est) <- m) {
      val ex = exactOf(k)
      assert(math.abs(est.toDouble - ex) <= math.max(1.0, ex * 0.05),
        s"$k: estimate $est outside 5% of exact $ex")
    }

    // idempotency: a batch REPLAYED with its original batchId (crash
    // between the append and the checkpoint commit) is a no-op — the
    // per-batch marker already exists
    val before = spark.read.parquet(s"$streamDir/sketches").count()
    val ckptTag = java.lang.Integer.toHexString(ckpt.hashCode)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$streamDir/_ingested_${ckptTag}_batch_0")),
      "per-batch marker must exist after ingest")
    val ran = graft.ops.Sketches.ingestBatchOnce(spark,
      batches(0).toDF("doc_id", "lang", "source", "h"),
      streamDir, Seq("lang", "source"), col("h"), ckpt, batchId = 0)
    assert(!ran, "replayed (checkpoint, batchId) must be skipped")
    val after = spark.read.parquet(s"$streamDir/sketches").count()
    assert(after == before,
      s"replay must not re-append (rows $before -> $after)")

    // COMPACT: per-group rows collapse to one; estimates survive at
    // every group (union of a group's batch sketches is the same set
    // either way — per-group, not the wide-fanin caveat)
    val groups = spark.read.parquet(s"$streamDir/sketches")
      .select($"lang", $"source").distinct().count()
    graft.ops.Sketches.compact(spark, streamDir, Seq("lang", "source"))
    val rowsAfter = spark.read.parquet(
      graft.ops.CompactSwap.currentTablePath(spark, streamDir, "sketches")).count()
    assert(rowsAfter == groups,
      s"compacted store must hold one row per group ($rowsAfter vs $groups)")
    val compacted = estimates(streamDir)
    assert(compacted.filter(_._1._3 == 0L) == fromStream.filter(_._1._3 == 0L),
      "per-group estimates must survive compaction")
    // and a replayed batch stays a no-op after compaction too
    assert(!graft.ops.Sketches.ingestBatchOnce(spark,
      batches(1).toDF("doc_id", "lang", "source", "h"),
      streamDir, Seq("lang", "source"), col("h"), ckpt, batchId = 1))
  }

  test("sketch store: two checkpoints interleaved with compact lose nothing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the cross-checkpoint seam: feeds A and B (distinct checkpoints)
    // append batches around a compact — markers are namespaced by
    // checkpoint so neither swallows the other's batch ids, and
    // compaction's union-merge must preserve every feed's content
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-hll-xckpt"
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def batch(rows: (String, String)*) = rows.toSeq.toDF("lang", "h")
    val a0 = batch(("en", "h1"), ("en", "h2"), ("de", "h3"))
    val b0 = batch(("en", "h4"), ("fr", "h5"))
    val a1 = batch(("de", "h6"), ("fr", "h7"))
    assert(graft.ops.Sketches.ingestBatchOnce(spark, a0, dir, Seq("lang"), $"h", "ckA", 0))
    assert(graft.ops.Sketches.ingestBatchOnce(spark, b0, dir, Seq("lang"), $"h", "ckB", 0))
    graft.ops.Sketches.compact(spark, dir, Seq("lang"))
    assert(graft.ops.Sketches.ingestBatchOnce(spark, a1, dir, Seq("lang"), $"h", "ckA", 1))
    // same batchId 0 under EITHER checkpoint replays as a no-op even
    // after compaction rewrote the files
    assert(!graft.ops.Sketches.ingestBatchOnce(spark, a0, dir, Seq("lang"), $"h", "ckA", 0))
    assert(!graft.ops.Sketches.ingestBatchOnce(spark, b0, dir, Seq("lang"), $"h", "ckB", 0))
    val est = graft.ops.Sketches.estimateStore(spark, dir, Seq("lang"))
      .where(col("gid") === 0).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est == Map("en" -> 3L, "de" -> 2L, "fr" -> 2L),
      s"every feed's items must survive the interleave: $est")
  }

  test("sketch store: ingest is refused while a compact holds the store") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the round-15 advice race: a batch appended inside compact's
    // snapshot-read → rename window is retired with `old` while its
    // idempotency marker persists — the replay is a no-op and the
    // batch's sketches are permanently lost. The `_compacting`
    // exclusion marker turns that silent loss into a loud refusal
    // that leaves the batch UN-marked (a later retry ingests it).
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-hll-excl"
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def batch(rows: (String, String)*) = rows.toSeq.toDF("lang", "h")
    assert(graft.ops.Sketches.ingestBatchOnce(spark,
      batch(("en", "h1"), ("de", "h2")), dir, Seq("lang"), $"h", "ckX", 0))
    // simulate a compact in flight (crashed or concurrent): marker up
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_compacting")
    fs.create(marker, true).close()
    val e = intercept[IllegalStateException] {
      graft.ops.Sketches.ingestBatchOnce(spark,
        batch(("fr", "h3")), dir, Seq("lang"), $"h", "ckX", 1)
    }
    assert(e.getMessage.contains("compacting"), e.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_ingested_${
      java.lang.Integer.toHexString("ckX".hashCode)}_batch_1")),
      "a refused batch must stay un-marked so its replay ingests cleanly")
    // compact itself clears the marker (it owns the store it guarded),
    // after which the replayed batch ingests
    graft.ops.Sketches.compact(spark, dir, Seq("lang"))
    assert(!fs.exists(marker), "compact must release the exclusion marker")
    assert(graft.ops.Sketches.ingestBatchOnce(spark,
      batch(("fr", "h3")), dir, Seq("lang"), $"h", "ckX", 1))
    val est = graft.ops.Sketches.estimateStore(spark, dir, Seq("lang"))
      .where(col("gid") === 0).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est == Map("en" -> 1L, "de" -> 1L, "fr" -> 1L), est.toString)
  }

  test("sketch store: a file appended mid-compact is copied into the promoted version, not retired") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the round-16 advice race under the VERSIONED protocol: batch
    // 1's append commits after the fold's snapshot listing (injected
    // through the write callback, which runs exactly in that window)
    // — the copy-reconcile must carry it into the promoted version,
    // exactly once
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-hll-reconcile"
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def batch(rows: (String, String)*) = rows.toSeq.toDF("lang", "h")
    assert(graft.ops.Sketches.ingestBatchOnce(spark,
      batch(("en", "h1"), ("de", "h2")), dir, Seq("lang"), $"h", "ckR", 0))
    graft.ops.CompactSwap.compactVersioned(spark, dir, "sketches",
      df => df.groupBy(col("lang")).agg(expr("hll_union_agg(sk)").as("sk")),
      (df, tmp) => {
        df.write.parquet(tmp)
        assert(graft.ops.Sketches.ingestBatchOnce(spark,
          batch(("fr", "h3"), ("en", "h4")), dir, Seq("lang"), $"h", "ckR", 1))
      })
    assert(graft.ops.CompactSwap.currentVersion(spark, dir, "sketches").contains(1))
    val est = graft.ops.Sketches.estimateStore(spark, dir, Seq("lang"))
      .where(col("gid") === 0).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est == Map("en" -> 2L, "de" -> 1L, "fr" -> 1L),
      s"late append must survive compaction exactly once: $est")
  }

  test("sketch store: a compact that died before promotion is purged; nothing is lost") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-hll-restore"
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def batch(rows: (String, String)*) = rows.toSeq.toDF("lang", "h")
    assert(graft.ops.Sketches.ingestBatchOnce(spark,
      batch(("en", "h1"), ("fr", "h2")), dir, Seq("lang"), $"h", "ckS", 0))
    // craft the versioned crash: a compact wrote (part of)
    // sketches_v1 but died before its sentinel; a later append
    // landed in the still-current flat table
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/sketches_v1")
    fs.mkdirs(orphan)
    spark.read.parquet(s"$dir/sketches").limit(1)
      .write.mode("overwrite").parquet(orphan.toString)
    fs.delete(new org.apache.hadoop.fs.Path(orphan, "_SUCCESS"), false)
    assert(graft.ops.Sketches.ingestBatchOnce(spark,
      batch(("de", "h3")), dir, Seq("lang"), $"h", "ckS", 1))
    graft.ops.Sketches.compact(spark, dir, Seq("lang"))
    assert(graft.ops.CompactSwap.currentVersion(spark, dir, "sketches").contains(1),
      "crashed v1 must be purged and re-promoted")
    val est = graft.ops.Sketches.estimateStore(spark, dir, Seq("lang"))
      .where(col("gid") === 0).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est == Map("en" -> 1L, "fr" -> 1L, "de" -> 1L),
      s"purge-and-refold must keep every ingested row: $est")
  }

  test("g_hll_cube join keys: a NULL data key never matches a rollup subtotal") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // lang NULL in the DATA: its detail row and the all-langs
    // subtotal both show lang=NULL after rollup — only grouping_id
    // separates them. Without it in the join keys the null-safe
    // equality cross-matches the two and the detail row inherits the
    // subtotal's (larger) estimate.
    val docs = Seq(
      (null.asInstanceOf[String], "web", "t1"), (null.asInstanceOf[String], "web", "t2"),
      ("en", "web", "t3"), ("en", "web", "t4"), ("en", "web", "t5"),
      ("de", "book", "t6")
    ).toDF("lang", "source", "text")
    val grain = docs.groupBy($"lang", $"source")
      .agg(hll_sketch_agg(md5($"text"), lit(12)).as("sk"))
    val est = grain.rollup($"lang", $"source")
      .agg(grouping_id().as("_g"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("_est"))
      .select($"lang".as("_l"), $"source".as("_s"), $"_g", $"_est")
    val got = docs.rollup($"lang", $"source")
      .agg(grouping_id().as("_g2"), countDistinct(md5($"text")).as("n_exact"))
      .join(broadcast(est), $"lang" <=> $"_l" && $"source" <=> $"_s" && $"_g2" === $"_g")
      .select($"lang", $"source", $"_g2", $"n_exact", $"_est")
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4).toDouble)).toMap
    // every rollup level matched exactly once: 3 detail + 3 lang
    // subtotals + 1 grand total, no cross-matches inflating the count
    assert(got.size == 7, s"expected 7 uniquely-matched rollup rows, got: $got")
    // the NULL-lang DETAIL row (g=0) and lang-NULL SUBTOTAL (g=1)
    // keep their own 2-doc estimates, not the 6-doc grand total
    // (g=3) they would inherit from a cross-match
    val (dExact, dEst) = got((None, Some("web"), 0L))
    assert(dExact == 2L && math.abs(dEst - 2.0) < 0.2,
      s"NULL-lang detail row must keep its own estimate: exact=$dExact est=$dEst")
    val (sExact, sEst) = got((None, None, 1L))
    assert(sExact == 2L && math.abs(sEst - 2.0) < 0.2,
      s"NULL-lang subtotal: exact=$sExact est=$sEst")
    val (gExact, gEst) = got((None, None, 3L))
    assert(gExact == 6L && math.abs(gEst - 6.0) < 0.5, s"root: $gExact/$gEst")
  }

  test("e_opq_rotations: panel selects by the OPQ objective; exact ranking is rotation-invariant") {
    import org.apache.spark.sql.functions._
    def rows(sf: String) = SparkEntry.allQueries.find(_.name == "e_opq_rotations").get
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).sortBy(_._1)
    val r01 = rows("/root/testdata/sf0.01")
    assert(r01.length == 4 && r01.count(_._4) == 1, s"one winner: ${r01.toSeq}")
    val best = r01.filter(_._4).head
    assert(best._2 == r01.map(_._2).min, s"is_best must be the qerr argmin: ${r01.toSeq}")
    assert(r01.forall(r => r._3 >= 0 && r._3 <= 10))
    // measured behavior pinned, both directions honest: at sf0.001 a
    // ROTATION wins (arm 3's quantization error beats identity —
    // the panel can find a better basis), at sf0.01 the IDENTITY is
    // correctly retained (no candidate improves the objective, so
    // plain PQ survives the panel — selection never degrades qerr)
    val r001 = rows("/root/testdata/sf0.001")
    assert(r001.filter(_._4).head._1 == 3L, s"sf0.001 winner: ${r001.toSeq}")
    assert(best._1 == 0L, s"sf0.01 winner: ${r01.toSeq}")
    // rotations are orthogonal: the EXACT top-10 (by full-vector d2)
    // must be the same id set in every arm's rotated space
    val e0 = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val exact = e0.crossJoin(broadcast(
        e0.where(col("vec_id") === 0).select(col("ve").as("qv"))))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"),
        aggregate(zip_with(col("ve"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, v) => a + v).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    // arm hits are measured against per-arm rotated-space exact lists;
    // if rotation broke distances, hits would be vs a DIFFERENT set —
    // spot-check rotation 3 reproduces the unrotated exact top-10
    val perm = queries.SimilarityQueries.opqPerm(3)
    val sgn = queries.SimilarityQueries.opqSigns(3)
    val permLit = array(perm.map(lit): _*)
    val sgnLit = array(sgn.map(lit): _*)
    val rot = e0.select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        element_at(col("ve"), element_at(permLit, i)) * element_at(sgnLit, i)).as("ve"))
    val t3 = rot.crossJoin(broadcast(
        rot.where(col("vec_id") === 0).select(col("ve").as("qv"))))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"),
        aggregate(zip_with(col("ve"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, v) => a + v).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(t3 == exact, s"rotation must preserve the exact ranking: $t3 vs $exact")
  }

  test("e_rand_proj: isotropic floor + planted-cluster recall pinned at sf0.01") {
    // e_rand_proj emits the top-10 by PROJECTED distance with the
    // exact 64-dim distance alongside; recall@10 vs the exact ranking
    // is computed here (the graded rows hash-check the lists
    // themselves). Isotropic corpus: a 16-dim JL projection preserves
    // pairwise distances to ~sqrt(ln n / m) relative error, but
    // isotropic neighbors are separated by LESS than that, so the
    // specific top-10 barely survives — 1/10, the same honest floor
    // story as e_pq_recall. With planted clusters the inter-cluster
    // gaps dominate the JL distortion and recovery is 10/10.
    val sf01 = "/root/testdata/sf0.01"
    val proj = SparkEntry.allQueries.find(_.name == "e_rand_proj").get
      .fn(spark, sf01).collect().map(_.getAs[Long]("vec_id")).toSet
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sf01, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val q = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    val exact = emb.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), graft.ops.Pq.d2(col("ve"), col("qv")).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((proj & exact).size == 1, s"isotropic recall moved: ${(proj & exact).size}/10")
    val planted = SparkEntry.allQueries.find(_.name == "e_rand_proj_planted").get
      .fn(spark, sf01).collect().head
    assert(planted.getAs[Long]("hits") == 10L && planted.getAs[Boolean]("within_bound"),
      s"planted arm: $planted")
  }

  test("e_pq_recall: ADC recall@10 pinned at sf0.01") {
    // untrained 16-codeword-per-subspace PQ on the isotropic corpus:
    // recall@10 is 1 — low by design (distortion measure, not a tuned
    // index; real deployments k-means 256/subspace), but decisively
    // above collapse: a RANDOM ranking's expected hits at sf0.01 is
    // 100/5000 = 0.02, so P(hits >= 1) < 2%. The pin also locks the
    // determinism of BOTH top-10 sets (quantized keys + tie-break).
    val rows = SparkEntry.allQueries.find(_.name == "e_pq_recall").get
      .fn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("hits") == 1L &&
      rows.head.getAs[Boolean]("within_bound"),
      s"pq_adc arm: ${rows.head}")
  }

  test("e_pq_recall_planted: ADC top-10 cluster purity pinned at sf0.01") {
    // the two PQ quality numbers side by side: isotropic recall@10 is
    // 1 (distortion floor, pinned above), but under planted cluster
    // structure ALL TEN of the ADC top-10 lie in the query's true
    // cluster — inter-cluster geometry survives 64x compression
    // intact, which is the guarantee PQ actually makes (the
    // within-cluster ranking intentionally collapses: same-cluster
    // vectors share codes).
    val rows = SparkEntry.allQueries.find(_.name == "e_pq_recall_planted").get
      .fn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("hits") == 10L &&
      rows.head.getAs[Boolean]("within_bound"),
      s"pq_adc_cluster arm: ${rows.head}")
  }

  test("e_sq8_adc: per-dim 8-bit scalar quantization keeps recall@10 at 10/10 at sf0.01") {
    // SQ8's pitch vs PQ: 8x (not 64x) compression but near-zero
    // ranking distortion — the per-dim quantization step is
    // (max-min)/255, two orders below typical inter-vector distances,
    // so the ADC top-10 should MATCH the exact top-10 outright. Pin
    // that: recall@10 = 10 (PQ's isotropic floor is 1/10 — the family
    // spans the compression/recall trade and this is its high end).
    import org.apache.spark.sql.functions._
    val sq = SparkEntry.allQueries.find(_.name == "e_sq8_adc").get
      .fn(spark, "/root/testdata/sf0.01").collect().map(_.getAs[Long]("vec_id")).toSet
    assert(sq.size == 10)
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val q = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    val exact = emb.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), graft.ops.Pq.d2(col("ve"), col("qv")).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(sq.intersect(exact).size == 10, s"sq8 top-10 $sq vs exact $exact")
  }

  test("e_pq_adc_trained: two Lloyd iterations lift ADC recall@10 at sf0.01") {
    // the trained-codebook claim, pinned numerically: the seed
    // codebook (subvectors of vec_ids 1..16) scores 1/10, two
    // refinement iterations over the corpus lift it to 2/10 — recall
    // climbs, it doesn't just not-collapse. (At sf0.1 the lift
    // flattens to 1 -> 1; the graded within_bound is the RELATIVE
    // trained >= untrained for that reason.)
    val row = SparkEntry.allQueries.find(_.name == "e_pq_adc_trained").get
      .fn(spark, "/root/testdata/sf0.01").collect().head
    assert(row.getAs[Long]("hits_untrained") == 1L &&
      row.getAs[Long]("hits_trained") == 2L &&
      row.getAs[Boolean]("within_bound"),
      s"trained-recall row moved: $row")
  }

  test("e_pq_train_sampled: sample-trained recall equals full-corpus-trained, both SFs") {
    // the sample-train → full-encode convention's whole claim: a
    // seeded 160-vector sample trains a codebook whose full-corpus
    // ADC recall matches training on EVERYTHING — pinned against
    // e_pq_adc_trained's numbers (sf0.001: 2, sf0.01: 2, sf0.1: 1 in
    // the slope runs), so the delta is measured, not argued. Training
    // cost tracks the sample (one corpus scan to draw it), which is
    // the point at 100 TB.
    for ((sf, expUntrained, expSampled) <- Seq(
        ("/root/testdata/sf0.001", 2L, 2L), ("/root/testdata/sf0.01", 1L, 2L))) {
      val row = SparkEntry.allQueries.find(_.name == "e_pq_train_sampled").get
        .fn(spark, sf).collect().head
      graft.Caches.releaseAll()
      assert(row.getAs[Long]("hits_untrained") == expUntrained &&
        row.getAs[Long]("hits_sampled") == expSampled &&
        row.getAs[Boolean]("within_bound"),
        s"sampled-recall row moved at $sf: $row")
      // equality with the full-corpus-trained arm, same SF
      val full = SparkEntry.allQueries.find(_.name == "e_pq_adc_trained").get
        .fn(spark, sf).collect().head
      assert(full.getAs[Long]("hits_trained") == expSampled,
        s"sampled ($expSampled) vs full-trained " +
          s"(${full.getAs[Long]("hits_trained")}) recall diverged at $sf")
    }
  }

  test("AnnIndex: persisted-index search equals the in-plan IVFADC at nprobe=2") {
    // the serving-path contract, stronger than the shared oracle: the
    // index is built ONCE (codes + meta on disk), yet multi-probe
    // search over it returns row-for-row identical (vec_id, cell,
    // code, ad2) to the e_ivfpq_probe2 query that re-derives
    // everything in-plan — same coarse argmin, same per-cell query
    // residuals, same quantized ADC table, down to the last bit.
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-paritytest"
    graft.ops.AnnIndex.build(emb.where(col("vec_id") =!= 0), dir)
    val fromIndex = graft.ops.AnnIndex.search(spark, dir,
      emb.where(col("vec_id") === 0).select(col("ve").as("qv")), nprobe = 2)
      .collect().map(_.toSeq).toSeq
    val inPlan = SparkEntry.allQueries.find(_.name == "e_ivfpq_probe2").get
      .fn(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(fromIndex == inPlan,
      s"index path diverged from in-plan path:\n  index=$fromIndex\n  plan =$inPlan")
  }

  test("AnnIndex.append: incrementally-built index is bit-identical to a one-shot build") {
    // frozen-quantizer contract: encode-on-append against the
    // PERSISTED centroids/codebook yields the same codes table as
    // building over the full corpus, so multi-probe search results
    // match row for row — at scale, a delta scan is never a rebuild
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val corpus = emb.where(col("vec_id") =!= 0)
    val isDelta = col("vec_id") % 10 === 3 && col("vec_id") > 16
    val q = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    val dirFull = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-apptest-full"
    val dirApp = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-apptest-inc"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq(dirFull, dirApp).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    graft.ops.AnnIndex.build(corpus, dirFull)
    graft.ops.AnnIndex.build(corpus.where(!isDelta), dirApp)
    graft.ops.AnnIndex.append(spark, corpus.where(isDelta), dirApp)
    val full = graft.ops.AnnIndex.search(spark, dirFull, q, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    val inc = graft.ops.AnnIndex.search(spark, dirApp, q, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(inc == full,
      s"appended index diverged from one-shot build:\n  inc =$inc\n  full=$full")
    // and the appended rows really landed in the codes table
    val nFull = spark.read.parquet(s"$dirFull/codes").count()
    val nInc = spark.read.parquet(s"$dirApp/codes").count()
    assert(nInc == nFull, s"row counts diverged: $nInc vs $nFull")

    // compact: the post-append file count drops back while search
    // stays bit-identical (the lifecycle's third verb)
    def dataFiles(p: String): Int = {
      val path = new org.apache.hadoop.fs.Path(p)
      val it = fs.listFiles(path, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = dataFiles(s"$dirApp/codes")
    graft.ops.AnnIndex.compact(spark, dirApp)
    // promotion is VERSIONED (codes -> codes_v1): the flat v0 stays
    // byte-complete for pinned readers, the CURRENT table shrinks
    val after = dataFiles(
      graft.ops.CompactSwap.currentTablePath(spark, dirApp, "codes"))
    assert(after < before, s"compact did not shrink the file count: $before -> $after")
    val compacted = graft.ops.AnnIndex.search(spark, dirApp, q, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(compacted == full,
      s"compaction changed search results:\n  got =$compacted\n  want=$full")

    // crash recovery: a compact that died after writing (part of)
    // codes_v2 but BEFORE its sentinel — the unsentineled dir is
    // purged by the next compact, which then promotes its own v2;
    // nothing is lost because the crashed write never touched v1
    val orphan = new org.apache.hadoop.fs.Path(s"$dirApp/codes_v2")
    fs.mkdirs(orphan)
    graft.ops.AnnIndex.compact(spark, dirApp)
    assert(graft.ops.CompactSwap.currentVersion(spark, dirApp, "codes").contains(2),
      "crashed v2 must be purged and re-promoted")
    val recovered = graft.ops.AnnIndex.search(spark, dirApp, q, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(recovered == full,
      s"crash recovery lost data:\n  got =$recovered\n  want=$full")
  }

  test("AnnIndex tagged append: a torn-batch replay never doubles a vector's code row") {
    // a foreachBatch ingest's torn window: crash after append, marker
    // unwritten -> the batch body replays. Plain append mode would
    // land the delta's code rows TWICE, and a doubled vector occupies
    // two top-k slots (decision-changing, unlike the dedup store's
    // join-idempotent rows). The tagged path republishes the same
    // cell=*/b<tag> files, so replay == one append.
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val corpus = emb.where(col("vec_id") =!= 0)
    val isDelta = col("vec_id") % 10 === 3 && col("vec_id") > 16
    val q = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-torntag"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    graft.ops.AnnIndex.build(corpus.where(!isDelta), dir)
    graft.ops.AnnIndex.append(spark, corpus.where(isDelta), dir, tag = Some("ck_b0"))
    val once = graft.ops.AnnIndex.search(spark, dir, q, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    val rows1 = spark.read.parquet(s"$dir/codes").count()
    // the replay
    graft.ops.AnnIndex.append(spark, corpus.where(isDelta), dir, tag = Some("ck_b0"))
    assert(spark.read.parquet(s"$dir/codes").count() == rows1,
      "replayed tagged append doubled the codes table")
    val twice = graft.ops.AnnIndex.search(spark, dir, q, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(twice == once, "replay changed search results")
    // published names carry the tag inside their cell partitions
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/codes"), true)
    var tagged = 0
    while (it.hasNext) { if (it.next().getPath.getName.startsWith("gb-ck_b0-")) tagged += 1 }
    assert(tagged > 0, "tagged per-cell files missing")
  }

  test("AnnIndex.compact: a mid-compact append is copied into the promoted version; append refused under the marker") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val corpus = emb.where(col("vec_id") =!= 0)
    val isDelta = col("vec_id") % 10 === 3 && col("vec_id") > 16
    val q = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-reconcile"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    graft.ops.AnnIndex.build(corpus.where(!isDelta), dir)
    def rels(root: String): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet"))
          out += p.toString.stripPrefix(
            fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toString + "/")
      }
      out.result()
    }
    val snap = rels(s"$dir/codes")
    // an append whose commit lands MID-COMPACT — after the fold's
    // snapshot listing, before promotion (the in-flight-writer case
    // the _compacting gate cannot fully exclude): injected through
    // the write callback, which runs exactly in that window. The
    // versioned protocol must COPY these cell=N files into the
    // promoted version (never retire them), while the un-promoted
    // flat dir keeps its byte-complete copy for pinned readers.
    graft.ops.CompactSwap.compactVersioned(spark, dir, "codes",
      df => df.repartition(col("cell")),
      (df, tmp) => {
        df.write.partitionBy("cell").parquet(tmp)
        graft.ops.AnnIndex.append(spark, corpus.where(isDelta), dir)
      })
    assert(graft.ops.CompactSwap.currentVersion(spark, dir, "codes").contains(1))
    val truth = {
      val dirFull = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-reconcile-full"
      fs.delete(new org.apache.hadoop.fs.Path(dirFull), true)
      graft.ops.AnnIndex.build(corpus, dirFull)
      graft.ops.AnnIndex.search(spark, dirFull, q, nprobe = 2)
        .collect().map(_.toSeq).toSeq
    }
    val recovered = graft.ops.AnnIndex.search(spark, dir, q, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(recovered == truth, "copy-reconcile lost or doubled the mid-compact append")
    // the copied delta files kept their cell=N subpaths in v1, and
    // the snapshot files were folded (fewer anonymous files than the
    // flat dir), so both routes into the promoted version are real
    val v1Rels = rels(s"$dir/codes_v1")
    assert(v1Rels.exists(r => r.contains("cell=")), v1Rels.take(5).toString)
    assert(rels(s"$dir/codes") == snap ++ rels(s"$dir/codes").diff(snap),
      "flat v0 must keep every file it had (pinned readers)")
    // fast-fail side: append refuses while the marker is up
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_compacting")
    fs.create(marker, true).close()
    val e = intercept[IllegalStateException](
      graft.ops.AnnIndex.append(spark, corpus.where(isDelta), dir))
    assert(e.getMessage.contains("compacting"), e.getMessage)
    fs.delete(marker, false)
  }

  test("AnnIndex with TRAINED centroids: meta persists the quantizer, search follows") {
    // train -> build -> serve: two Lloyd iterations refine the coarse
    // quantizer, the index is built over it, and every candidate the
    // persisted search returns sits in a probed cell of the TRAINED
    // assignment — proof the quantizer rides in meta end to end
    // rather than being re-derived by the seed convention at query
    // time. Results must also differ from the seed-built index
    // (the training knob actually threads through).
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val corpus = emb.where(col("vec_id") =!= 0)
    val trained = graft.ops.Pq.ivfLloydStep(corpus,
      graft.ops.Pq.ivfLloydStep(corpus, graft.ops.Pq.cellsRow(corpus, 8)))
    val q = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    val dirT = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-trainedtest"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dirT), true)
    graft.ops.AnnIndex.build(corpus, dirT, cells = Some(trained))
    val got = graft.ops.AnnIndex.search(spark, dirT, q, nprobe = 2).collect()
    assert(got.length == 10)
    // the probed cells under the trained quantizer, computed in-plan
    val probeCells = emb.where(col("vec_id") === 0)
      .crossJoin(broadcast(trained))
      .select(slice(array_sort(transform(col("cells"), c =>
        struct(graft.queries.qround(graft.ops.Pq.d2(col("ve"), c.getField("cv")), 6).as("d2"),
          c.getField("cell").as("cell")))), 1, 2).as("pl"))
      .select(explode(col("pl")).as("e")).select(col("e.cell"))
      .collect().map(_.getInt(0)).toSet
    assert(got.forall(r => probeCells.contains(r.getLong(1).toInt)),
      s"candidates outside the trained probe cells: ${got.mkString(",")} vs $probeCells")
    val dirS = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-seedtest"
    fs.delete(new org.apache.hadoop.fs.Path(dirS), true)
    graft.ops.AnnIndex.build(corpus, dirS)
    val seed = graft.ops.AnnIndex.search(spark, dirS, q, nprobe = 2).collect()
    assert(got.map(_.toSeq).toSeq != seed.map(_.toSeq).toSeq,
      "trained and seed indexes returned identical results — the knob is not wired")
  }

  test("AnnIndex.search: loud contract errors, never silent wrong answers") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-paritytest" // built by the earlier test
    graft.ops.AnnIndex.build(emb.where(col("vec_id") =!= 0), dir)
    val q1 = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    // nprobe above K clamps to all cells rather than erroring
    assert(graft.ops.AnnIndex.search(spark, dir, q1, nprobe = 99).count() == 10)
    val eEmpty = intercept[IllegalArgumentException] {
      graft.ops.AnnIndex.search(spark, dir, q1.where(lit(false)))
    }
    assert(eEmpty.getMessage.contains("ONE query row"), eEmpty.getMessage)
    val eTwo = intercept[IllegalArgumentException] {
      graft.ops.AnnIndex.search(spark, dir,
        emb.where(col("vec_id").isin(0, 1)).select(col("ve").as("qv")))
    }
    assert(eTwo.getMessage.contains("ONE query row"), eTwo.getMessage)
    val eBad = intercept[IllegalArgumentException] {
      graft.ops.AnnIndex.search(spark, dir, q1, nprobe = 0)
    }
    assert(eBad.getMessage.contains("nprobe"), eBad.getMessage)
  }

  test("e_semdedup recall curve: multi-probe buys back cross-bucket recall (sf0.1 pinned)") {
    // sf0.1 is the smallest SF where b > 0 (b = 3: 8 residual buckets
    // per cell), so the knob is only measurable here. Pins the
    // numbers the graded hash already guards and asserts the
    // MONOTONE LIFT the multi-probe construction exists for: each
    // radius recovers strictly more of the exact hierarchy's dropped
    // pair mass, at ~(b+1)x / ~(1+b+C(b,2))x the radius-0 probe rows.
    // probe0 = the shipped e_semdedup_bucketed confinement;
    // probe1 = the production e_semdedup_probed knob setting.
    val rows = SparkEntry.allQueries.find(_.name == "e_semdedup_recall_curve").get
      .fn(spark, "/root/testdata/sf0.1").collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_dropped"), r.getAs[Long]("overlap_exact"))).toMap
    graft.Caches.releaseAll()
    assert(rows("exact_hier") == ((178L, 178L)), s"exact arm: ${rows("exact_hier")}")
    assert(rows("probe0") == ((109L, 49L)), s"probe0 arm: ${rows("probe0")}")
    assert(rows("probe1") == ((242L, 112L)), s"probe1 arm: ${rows("probe1")}")
    assert(rows("probe2") == ((278L, 126L)), s"probe2 arm: ${rows("probe2")}")
    assert(rows("probe0")._2 < rows("probe1")._2 &&
      rows("probe1")._2 < rows("probe2")._2,
      s"multi-probe recall lift must be monotone in radius: $rows")
  }

  test("e_semdedup_opq: the learned residual basis lifts recall at the same b (sf0.1 pinned)") {
    // the graded row keeps the SVD-derived counts out of the hash
    // (sketch contract); this pins them: at sf0.1 (b = 3) the
    // OPQ-rotated bucketing drops 124 docs with 57 overlapping the
    // exact hierarchy, vs the data-independent planes' 109/49 — a
    // +16% recall lift at the identical bucket count and cost class.
    // Reads the diag frame the graded query projects from, so the
    // SVD-derived counts are pinned here while staying out of the
    // oracle hash.
    val row = graft.queries.SimilarityQueries
      .semdedupOpqDiag(spark, "/root/testdata/sf0.1").collect().head
    graft.Caches.releaseAll()
    assert(row.getAs[Long]("n_dropped_unrot") == 109L &&
      row.getAs[Long]("overlap_unrot") == 49L,
      s"unrotated counts moved: $row")
    assert(row.getAs[Long]("nd_r") == 124L && row.getAs[Long]("ov_r") == 57L,
      s"rotated-basis counts moved: $row")
    assert(row.getAs[Boolean]("qerr_improved") && row.getAs[Boolean]("orthogonal"),
      s"OPQ residual-basis booleans regressed: $row")
    assert(row.getAs[Long]("ov_r") > row.getAs[Long]("overlap_unrot"),
      s"the learned basis must lift recall at b=3: $row")
  }

  test("e_semdedup_opq_probed: rotation x multi-probe compose (sf0.1 pinned)") {
    // the composed knob (OPQ-rotated residual basis + radius-1
    // Hamming probes) must recover MORE of the exact hierarchy's 178
    // drops than either knob alone: probe-only 112 (recall-curve
    // probe1 arm), rotate-only 57 (the radius-0 opq pin above).
    // Pins the SVD-derived composed counts the graded query keeps
    // out of the hash, and the unrotated radius-1 counts, which must
    // EQUAL the recall curve's probe1 arm (the diag and the curve
    // share semdedupProbedDrop over the same fine frame — any split
    // is a confinement bug).
    val row = graft.queries.SimilarityQueries
      .semdedupOpqDiag(spark, "/root/testdata/sf0.1", radius = 1)
      .collect().head
    graft.Caches.releaseAll()
    assert(row.getAs[Long]("n_dropped_unrot") == 242L &&
      row.getAs[Long]("overlap_unrot") == 112L,
      s"unrotated radius-1 counts diverged from the recall curve's probe1 arm: $row")
    assert(row.getAs[Long]("nd_r") == 251L && row.getAs[Long]("ov_r") == 115L,
      s"composed rotated+probed counts moved: $row")
    assert(row.getAs[Long]("ov_r") > 112L && row.getAs[Long]("ov_r") > 57L,
      s"the composed knob must beat both single knobs: $row")
    assert(row.getAs[Boolean]("qerr_improved") && row.getAs[Boolean]("orthogonal"),
      s"OPQ residual-basis booleans regressed under composition: $row")
  }
}
