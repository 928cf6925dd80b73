package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.{qlong, qround}

/** Product-quantization + IVF expression builders — the library layer
  * behind the `e_pq_*` / `e_ivf*` graded queries and [[AnnIndex]].
  *
  * Everything here is SCAN-STAGE work by construction: centroid
  * tables and codebooks fold to ONE row each ([[cellsRow]],
  * [[codebookRow]]) and broadcast, so coarse assignment, encode, and
  * ADC are per-row map work over the corpus — zero corpus shuffle at
  * any scale. All distances are 1e-6-quantized left-to-right folds so
  * a DuckDB oracle running the same expression shapes produces
  * bit-identical doubles (see graft.queries package doc).
  *
  * Reference analog: the precomputed-catalog / decode-cache idea of
  * weather4cast/datasets.py:51-53,229-241 applied to the similarity
  * extension surface.
  */
object Pq {

  /** Subspace geometry: `dim`-dim vectors split into `m` subspaces of
    * `sub = dim/m` dims, `ks` codewords per subspace. */
  final case class Params(dim: Int = 64, m: Int = 8, ks: Int = 16) {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub: Int = dim / m
  }

  /** Squared L2 as a left-to-right fold — the SAME accumulation order
    * DuckDB's list_sum runs, so 1e-6 quantization sees bit-identical
    * inputs on both sides. */
  def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Materialize a MODEL-SIZED frame (folded centroid rows, sub-cell
    * maps — one row or K rows of centroids, never corpus data) and
    * rebuild it as a LOCAL relation. Values pass through untouched
    * (the [[localCbRow]] convention), so downstream results are
    * bit-identical — what changes is the PLAN: every later consumer
    * analyzes a one-row LocalRelation instead of re-walking the
    * multi-step Lloyd/fold lineage that produced it, and broadcasts
    * build from local bytes instead of re-planned subqueries. At
    * sf0.1 the lineage walk (not the data) dominated the semdedup
    * family — 12.5 s warm with ~90 jobs whose inter-job planning
    * gaps summed to 11.6 s (guide §7.3: driver-side planning time);
    * model-frame localization is the structural fix, valid at every
    * scale because the collected frame is K·dim doubles, corpus-
    * independent (the sanctioned ridge-solve collect shape). */
  def localized(model: DataFrame): DataFrame = {
    val rows = model.collect()
    model.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), model.schema)
  }

  /** The m-th subvector of `v` (m is 0-based). */
  def subvec(v: Column, m: Column, p: Params): Column =
    slice(v, m * p.sub + 1, lit(p.sub))

  /** Codeword (m, cid) out of the folded codebook column `cbs`
    * (sorted by (m, cid), cid 1-based → position m*ks + cid). */
  def cw(cbs: Column, m: Column, cid: Column, p: Params): Column =
    element_at(cbs, (m * p.ks + cid).cast("int")).getField("cv")

  /** The folded IVF coarse quantizer: ONE row whose `cells` array is
    * sorted by cell id. Centroids are the vectors of vec_ids 1..k —
    * the deterministic training-free convention; swap the `where` for
    * trained centroids. Input frame carries (vec_id, ve). */
  def cellsRow(emb: DataFrame, k: Int): DataFrame =
    emb.where(col("vec_id").between(1, k))
      .select(struct(col("vec_id").cast("int").as("cell"), col("ve").as("cv")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("cells"))

  /** ZERO-SHUFFLE coarse assignment: broadcast the single folded
    * centroid row, compute each vector's cell as a scan-stage argmin
    * over the k-entry array (quantized squared-L2, cell-id
    * tie-break). Adds `cell` (int) and `cv` (matched centroid) to the
    * input frame. The crossJoin+groupBy/min_by alternative pays an
    * `Exchange hashpartitioning(vec_id)` carrying every corpus vector
    * plus its matched centroid — ~2x corpus volume shuffled for what
    * is logically a per-row computation. */
  def ivfAssigned(emb: DataFrame, k: Int): DataFrame =
    ivfAssignedWith(emb, cellsRow(emb, k))

  /** [[ivfAssigned]] against an EXPLICIT folded centroid row — the
    * seam that lets trained centroids ([[ivfLloydStep]]) drive the
    * same zero-shuffle scan-stage assignment as the seed convention. */
  def ivfAssignedWith(emb: DataFrame, cells: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cells))
      // native fused argmin (graft.expressions.IvfCellExpr): one JVM
      // loop per row instead of a K-struct HOF tree — bit-identical
      // to [[ivfAssignedWithHof]], cross-checked in PqExprSpec. The
      // winner's array position rides in the struct, so the matched
      // centroid lookup holds for ANY cell-id scheme. The `true`
      // flag enables the kernel's flat-decode cache — sound here
      // because `cells` is THIS crossJoin's own broadcast fold
      // (task-immutable bytes; see IvfCellExpr's cache contract).
      .withColumn("_bc", call_function("graft_ivf_cell", col("ve"), col("cells"), lit(true)))
      .withColumn("cell", col("_bc.cell"))
      .withColumn("cv", element_at(col("cells"), col("_bc.idx")).getField("cv"))
      .drop("cells", "_bc")

  /** The composable HOF twin of [[ivfAssignedWith]] — kept as the
    * cross-check reference the native kernel is asserted against. */
  private[graft] def ivfAssignedWithHof(emb: DataFrame, cells: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cells))
      .withColumn("_best", array_min(transform(col("cells"), c =>
        struct(qround(d2(col("ve"), c.getField("cv")), 6).as("d2"),
          c.getField("cell").as("cell"), c.getField("cv").as("cv")))))
      .withColumn("cell", col("_best.cell"))
      .withColumn("cv", col("_best.cv"))
      .drop("cells", "_best")

  /** One FULL-VECTOR Lloyd iteration over the IVF coarse quantizer —
    * the k-means twin of [[lloydStep]] (which refines the PQ
    * codebook): assign every vector to its nearest cell (scan-stage
    * broadcast argmin, zero corpus shuffle), re-estimate each cell's
    * centroid as the per-dimension member mean in exact integer space
    * (1e-6-quantized BIGINT sums — parallel reassociation cannot
    * perturb it, so an oracle running the same chain derives
    * bit-identical centroids), and fold the result back to ONE
    * cell-sorted row. Cells that attract no members keep their
    * previous centroid (the standard empty-cell policy).
    *
    * Scale shape per iteration: one corpus scan against the broadcast
    * K-entry centroid row, one hash-agg with K*dim groups (map-side
    * combined — the shuffle is <= K*dim rows per partition regardless
    * of corpus size), and centroid-sized folds. Iterating to
    * convergence = chaining calls, one broadcast + one tiny shuffle
    * each — the [[lloydStep]] / dupClusters loop pattern. */
  def ivfLloydStep(emb: DataFrame, cells: DataFrame): DataFrame = {
    // One corpus pass, ONE map-side-combined exchange (<= K*dim
    // tiny (cell, pos, sum, n) rows), then the centroid ASSEMBLY —
    // array ordering, empty-cell carry-over, the final cell-sorted
    // fold — runs on the DRIVER over those model-sized rows (the
    // MLlib k-means shape; the ridge-solve collect convention). The
    // previous form did the assembly as two more aggregations plus a
    // join — three exchanges and a corpus-independent but
    // plan-heavy tail whose per-action re-planning dominated the
    // semdedup bench family (guide §1.2: fix the pass structure
    // first). c_mean arithmetic is the exact same IEEE op sequence
    // (long→double cast, 1e6*n product, one divide), so centroids
    // are bit-identical to the aggregate form and the DuckDB oracle.
    // The returned frame is LOCAL (one row), so downstream plans
    // broadcast literal bytes instead of re-running the step.
    import org.apache.spark.sql.Row
    val spark = emb.sparkSession
    val prevRow = cells.collect()(0)
    val prev = prevRow.getSeq[Row](0)
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val localCells = spark.createDataFrame(
      java.util.Collections.singletonList(prevRow), cells.schema)
    val meanRows = ivfAssignedWith(emb, localCells)
      .select(col("cell"), posexplode(col("ve")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(qlong(col("v"), 1e6)).as("s"), count(lit(1)).as("n"))
      .collect()
    val byCell = meanRows.groupBy(_.getInt(0))
    val merged = prev.map { case (cellId, pcv) =>
      val cv = byCell.get(cellId) match {
        case Some(rows) => rows.sortBy(_.getInt(1)).toSeq
          .map(r => r.getLong(2).toDouble / (1e6 * r.getLong(3).toDouble))
        case None => pcv
      }
      (cellId, cv)
    }
    // the old fold re-sorted by cell id (sort_array); keep that
    // contract explicitly rather than relying on the input's order
    val arr = merged.sortBy(_._1).map { case (c, cv) => Row(c, cv) }
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(arr)), cells.schema)
  }

  // ---- hierarchical (two-level) k-means --------------------------
  //
  // Large-K k-means cannot brute-force its assignment: with K ∝ N
  // (the SemDeDup production shape — cluster size held ~constant)
  // a flat argmin is Θ(N·K·d) = Θ(N²d/c̄), the same quadratic wall
  // the pair term has at FIXED K, just moved into training. The
  // standard production answer (what IVF libraries do to train
  // 50k-centroid quantizers) is hierarchy: K1 = ⌈√K⌉ coarse cells,
  // K2 = ⌈K/K1⌉ sub-cells within each, so a row's assignment costs
  // O(K1 + K2) = O(√K) and the full chain is O(N·√K·d). The fine
  // partition is DEFINED hierarchically (coarse argmin, then argmin
  // over the own cell's sub-centroids) — deterministic, so a SQL
  // oracle mirrors it with two chained row_number argmin CTEs.
  //
  // Plan shape: sub-seeds are a bounded graft_bottom_k per coarse
  // cell (O(K2) partial state, map-side combined); the sub-quantizer
  // folds to ONE row mapping cell → its sub-centroid array and
  // broadcasts (K·d doubles total — MBs at K=50k); fine assignment
  // is scan-stage `graft_ivf_cell(ve, element_at(map, cell))` — the
  // kernel's flat-decode cache holds one decoded block per coarse
  // cell per task. One sub-Lloyd re-mean is the same exact-integer
  // K·d-group aggregate as [[ivfLloydStep]]. No shuffle ever carries
  // the corpus beyond the re-mean's map-side-combined partials.

  /** Sub-quantizer seeds: per coarse cell, the `k2` smallest-vec_id
    * members (the deterministic convention — the per-cell twin of
    * vec_ids 1..K), as (cell, sub 1..k2, scv). Input: the coarse
    * [[ivfAssignedWith]] output (cell, vec_id, ve). */
  def subSeeds(assigned: DataFrame, k2: Int): DataFrame =
    assigned.groupBy(col("cell"))
      .agg(call_function("graft_bottom_k",
        struct(col("vec_id"), col("ve")), lit(k2)).as("ss"))
      .select(col("cell"), posexplode(col("ss")).as(Seq("p", "e")))
      .select(col("cell"), (col("p") + 1).cast("int").as("sub"),
        col("e").getField("ve").as("scv"))

  /** Scan-stage fine assignment: adds `sub` to the coarse-assigned
    * frame via the own cell's sub-centroid argmin ((q6(d2), sub)
    * order — the oracle's row_number twin). `subMap` is ONE
    * [[localSubMap]] row: a map cell → sub-sorted
    * array<struct<cell:=sub, cv>> (the struct field is named `cell` so
    * [[ivfAssignedWith]]'s kernel reads it unchanged). */
  def fineAssigned(assigned: DataFrame, subMap: DataFrame): DataFrame =
    assigned.crossJoin(broadcast(subMap))
      .withColumn("_fc", call_function("graft_ivf_cell", col("ve"),
        element_at(col("subcells"), col("cell")), lit(true)))
      .withColumn("sub", col("_fc").getField("cell"))
      .drop("subcells", "_fc")

  /** One Lloyd iteration of the sub-quantizer: fine-assign, re-mean
    * each (cell, sub) in exact integer space (1e-6-quantized BIGINT
    * sums — both engines derive bit-identical centroids), empty
    * sub-cells keep their seed. Returns the refined one-row map.
    *
    * Same driver-assembly shape as [[ivfLloydStep]]: one corpus pass,
    * one map-side-combined exchange of <= K*dim (cell, sub, pos,
    * sum, n) rows, centroid assembly + the one-row map fold on the
    * driver (model-sized, the sanctioned collect). c_mean is the
    * identical IEEE op sequence, so the map is bit-identical to the
    * old aggregate/join/fold chain — minus its two extra exchanges
    * and the seed-map subplan (built locally from the same collected
    * seed rows both the assignment and the empty-cell policy use). */
  def subLloydStep(assigned: DataFrame, seeds: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = assigned.sparkSession
    val seedRows = seeds.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val meanRows = fineAssigned(assigned, localSubMap(spark, seedRows))
      .select(col("cell"), col("sub"), posexplode(col("ve")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("sub"), col("pos"))
      .agg(sum(qlong(col("v"), 1e6)).as("s"), count(lit(1)).as("n"))
      .collect()
    val byKey = meanRows.groupBy(r => (r.getInt(0), r.getInt(1)))
    val merged = seedRows.map { case (c, sb, scv) =>
      val cv = byKey.get((c, sb)) match {
        case Some(rows) => rows.sortBy(_.getInt(2)).toSeq
          .map(m => m.getLong(3).toDouble / (1e6 * m.getLong(4).toDouble))
        case None => scv
      }
      (c, sb, cv)
    }
    localSubMap(spark, merged)
  }

  /** Build the ONE-ROW sub-centroid map — cell -> sub-sorted
    * array<struct<cell:=sub, cv>> — locally from collected
    * (cell, sub, scv) rows. */
  private def localSubMap(spark: org.apache.spark.sql.SparkSession,
                          entries: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val m = entries.groupBy(_._1).map { case (c, rs) =>
      c -> rs.sortBy(_._2).map { case (_, sb, cv) => Row(sb, cv) }
    }
    val schema = StructType(Seq(StructField("subcells", MapType(IntegerType,
      ArrayType(StructType(Seq(StructField("cell", IntegerType),
        StructField("cv", ArrayType(DoubleType)))))))))
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(m)), schema)
  }

  /** The folded PQ codebook: (m, cid) -> sub-dim codeword, ONE row
    * whose array is sorted by (m, cid) so position m*ks + cid
    * addresses it. Codewords are the subvectors of vec_ids 1..ks —
    * the training-free seed; [[lloydStep]] refines it. */
  def codebookRow(emb: DataFrame, p: Params): DataFrame =
    emb.where(col("vec_id").between(1, p.ks))
      .select(col("vec_id").cast("int").as("cid"),
        explode(sequence(lit(0), lit(p.m - 1))).as("m"), col("ve"))
      .select(struct(col("m"), col("cid"),
        subvec(col("ve"), col("m"), p).as("cv")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("cbs"))

  /** PQ encode + ADC over a frame carrying its OWN per-row query
    * vector `qv` — a broadcast constant for flat PQ; the probed
    * cell's query residual for IVFADC (Jegou et al. 2011 §III scores
    * cell i against q - c_i). Emits (vec_id, code, ad2, ed2) plus
    * `extra` passthrough columns.
    *
    * The per-subspace argmin CARRIES its ADC term: `qd2` (query-to-
    * codeword distance — the m*ks-entry ADC distance table, computed
    * alongside the encode) rides in the struct after the (d2, cid)
    * sort key, and the ADC sum folds directly OVER `bests`. Folding
    * over the array evaluates the encode exactly once per row; any
    * form that element_at-indexes `bests` from inside a lambda gets
    * the whole encode inlined by projection collapse and re-run per
    * subspace (measured 4x slower). */
  def scoredQ(embQ: DataFrame, cbRow: DataFrame, p: Params,
              extra: Seq[String] = Nil): DataFrame =
    // native fused encode+ADC (graft.expressions.PqScoreExpr): one
    // JVM loop per row where the HOF form interprets m*ks struct
    // nodes — bit-identical to [[scoredQHof]] (PqExprSpec)
    embQ.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(cbRow))
      .withColumn("_ps", call_function("graft_pq_score",
        col("ve"), col("qv"), col("cbs"), lit(p.m), lit(p.ks)))
      .select((Seq(col("vec_id"), col("_ps.code").as("code"),
        col("_ps.ad2").as("ad2"), col("_ps.ed2").as("ed2")) ++ extra.map(col)): _*)

  /** The composable HOF twin of [[scoredQ]] — the cross-check
    * reference for the native kernel. */
  private[graft] def scoredQHof(embQ: DataFrame, cbRow: DataFrame, p: Params,
                                extra: Seq[String] = Nil): DataFrame = {
    val enc = embQ.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(cbRow))
      .withColumn("bests", transform(sequence(lit(0), lit(p.m - 1)), m =>
        array_min(transform(sequence(lit(1), lit(p.ks)), k =>
          struct(qround(d2(subvec(col("ve"), m, p), cw(col("cbs"), m, k, p)), 6).as("d2"),
            k.as("cid"),
            qround(d2(subvec(col("qv"), m, p), cw(col("cbs"), m, k, p)), 6).as("qd2"))))))
    enc.select((Seq(col("vec_id"),
      concat_ws(",", transform(col("bests"), b =>
        b.getField("cid").cast("string"))).as("code"),
      qround(aggregate(col("bests"), lit(0.0), (acc, b) =>
        acc + b.getField("qd2")), 6).as("ad2"),
      qround(d2(col("ve"), col("qv")), 6).as("ed2")) ++ extra.map(col)): _*)
  }

  /** Encode only — the INDEX-BUILD half of [[scoredQ]]: per-subspace
    * nearest-codeword ids as `codes array<int>` (same (d2, cid)
    * argmin, so build-time codes equal query-time codes exactly).
    * `extra` columns ride through. No vec_id filtering: the caller
    * decides what the corpus is. */
  def encoded(emb: DataFrame, cbRow: DataFrame, p: Params,
              extra: Seq[String] = Nil): DataFrame =
    // encode-only native form: NULL query → the kernel skips the
    // query-side table work; codes come back as the split code string
    // (same (d2, cid) argmin — build-time codes equal query-time
    // codes exactly)
    emb.crossJoin(broadcast(cbRow))
      .withColumn("codes",
        transform(split(call_function("graft_pq_score",
            col("ve"), lit(null).cast("array<double>"), col("cbs"),
            lit(p.m), lit(p.ks)).getField("code"), ","),
          c => c.cast("int")))
      .select((Seq(col("vec_id"), col("codes")) ++ extra.map(col)): _*)

  /** [[lloydStep]] that ALSO carries the quantization error of its
    * INPUT pair: the returned one-row frame has `cbs` (the UPDATED
    * codebook — identical to [[lloydStep]]'s, the added aggregates
    * touch separate columns) plus `qerr_q6` = Σ_rows qlong(Σ_m
    * qround(d2(sub_m, cw(codes_m)), 6), 1e6) under the INCOMING
    * (emb, cbRow) — the e_opq_rotations qerr formula, riding the
    * SAME corpus scan the assignment already pays instead of a
    * dedicated pass (the dupClusters observe-on-the-pass convention;
    * here the metric flows as data through the existing fold). The
    * per-row reconstruction error comes from the native kernel's own
    * `ad2` with the vector as its own query (qd2 == d2 then), so the
    * snap chain is bit-identical to the standalone formula. Each
    * row's rq6 is counted once — attached at its (m=0, pos=0)
    * exploded twin. */
  private[graft] def lloydStepQerr(emb: DataFrame, cbRow: DataFrame, p: Params): DataFrame = {
    // ONE corpus pass, ONE map-side-combined exchange of <= m*ks*sub
    // (m, cid, pos, s, n, qe) rows; the codeword assembly (pos-ordered
    // means, empty-cell carry-over, the (m, cid)-sorted fold) runs on
    // the DRIVER over those model-sized rows — the ivfLloydStep
    // convention (r19). The old form did the assembly as a second
    // aggregation + join + one-row fold: 3 exchanges and ~6 AQE jobs
    // per Lloyd call, all corpus-independent planning weight (r20
    // profile: e_opq_refined spent more time in inter-job gaps than in
    // jobs). c_mean keeps the exact IEEE op sequence of the aggregate
    // form (long->double casts, 1e6*n product, one divide), and qe
    // sums are exact longs — codebook and qerr bit-identical.
    import org.apache.spark.sql.Row
    val spark = emb.sparkSession
    val scored = emb.crossJoin(broadcast(cbRow))
      .withColumn("_ps", call_function("graft_pq_score",
        col("ve"), col("ve"), col("cbs"), lit(p.m), lit(p.ks)))
      .select(col("ve"),
        transform(split(col("_ps.code"), ","), c => c.cast("int")).as("codes"),
        qlong(col("_ps.ad2"), 1e6).as("rq6"))
    val meanRows = scored
      .select(col("ve"), col("rq6"), posexplode(col("codes")).as(Seq("m", "cid")))
      .select(col("m"), col("cid"),
        when(col("m") === 0, col("rq6")).otherwise(lit(0L)).as("rq6"),
        posexplode(subvec(col("ve"), col("m"), p)).as(Seq("pos", "v")))
      .groupBy(col("m"), col("cid"), col("pos"))
      .agg(sum(qlong(col("v"), 1e6)).as("s"), count(lit(1)).as("n"),
        sum(when(col("pos") === 0, col("rq6")).otherwise(lit(0L))).as("qe"))
      .collect()
    val byMC = meanRows.groupBy(r => (r.getInt(0), r.getInt(1)))
    val prevRow = cbRow.collect()(0)
    val prev = prevRow.getSeq[Row](prevRow.fieldIndex("cbs")).map { e =>
      ((e.getInt(e.fieldIndex("m")), e.getInt(e.fieldIndex("cid"))), e.getSeq[Double](e.fieldIndex("cv")))
    }
    val entries = prev.map { case ((m, cid), pcv) =>
      val cv = byMC.get((m, cid)) match {
        case Some(rows) => rows.sortBy(_.getInt(2)).toSeq
          .map(r => r.getLong(3).toDouble / (1e6 * r.getLong(4).toDouble))
        case None => pcv
      }
      ((m, cid), cv)
    }
    val qerr = meanRows.map(_.getLong(5)).sum
    // the old fold sorted by (m, cid) (sort_array over the struct);
    // keep that contract explicitly
    val arr = entries.sortBy(_._1).map { case ((m, cid), cv) => Row(m, cid, cv) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      cbRow.schema("cbs"),
      org.apache.spark.sql.types.StructField("qerr_q6",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(arr, qerr)), schema)
  }

  /** One Lloyd iteration over the PQ codebook: assign every corpus
    * subvector to its nearest codeword (the SAME quantized argmin the
    * encode uses), re-estimate each codeword as the per-dimension
    * member mean in exact integer space (1e-6-quantized BIGINT sums —
    * parallel reassociation cannot perturb it), and fold the result
    * back to a ONE-ROW codebook. Codewords that attract no members
    * keep their previous value (the standard k-means empty-cell
    * policy), so the (m, cid) -> position addressing never shifts.
    *
    * Scale shape per iteration: one corpus scan against the broadcast
    * codebook, one hash-agg with <= m*ks*sub (=1024 default) groups
    * (map-side combined — the shuffle is <= 1024 rows per partition
    * regardless of corpus size), and tiny codebook-sized folds. */
  def lloydStep(emb: DataFrame, cbRow: DataFrame, p: Params): DataFrame = {
    // assignment through the native encode kernel: all m subspace
    // argmins in ONE eval per corpus row (the exploded HOF form ran
    // an interpreted ks-codeword argmin per (row, m) pair); the
    // (q6(d2), cid) order is identical, so assignments — and the
    // means below — are bit-for-bit the same
    val means = encoded(emb, cbRow, p, extra = Seq("ve"))
      .select(col("ve"), posexplode(col("codes")).as(Seq("m", "cid")))
      .select(col("m"), col("cid"), posexplode(subvec(col("ve"), col("m"), p)).as(Seq("pos", "v")))
      .groupBy(col("m"), col("cid"), col("pos"))
      .agg((sum(qlong(col("v"), 1e6)) / (lit(1e6) * count(lit(1)))).as("c_mean"))
      .groupBy(col("m"), col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c_mean")))),
        e => e.getField("c_mean")).as("cv"))
    val prev = cbRow.select(explode(col("cbs")).as("e"))
      .select(col("e.m").as("m"), col("e.cid").as("cid"), col("e.cv").as("pcv"))
    prev.join(means, Seq("m", "cid"), "left")
      .select(struct(col("m"), col("cid"),
        coalesce(col("cv"), col("pcv")).as("cv")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("cbs"))
  }

  /** OPQ ALTERNATING REFINEMENT (the non-parametric OPQ of Ge et al.,
    * CVPR 2013 §IV): from an initial orthogonal rotation `r0` (the
    * e_opq_rotations panel winner), alternate the two exact argmin
    * sub-steps of the shared objective f(R, C, codes) =
    * Σ ||R·x − C(codes(x))||²:
    *
    *  1. codebook update in rotated space — [[lloydStep]]: codes =
    *     per-subspace argmin (exact given R, C), then codewords
    *     re-mean (exact given codes);
    *  2. rotation update — orthogonal Procrustes: R = U·Vᵀ from the
    *     SVD of M = Σ x̂·xᵀ, the exact argmin over orthogonal R
    *     given (codes, C).
    *
    * Every sub-step minimizes the SAME f exactly at its coordinate,
    * so f is monotone non-increasing across rounds (up to the 1e-6
    * snap the repo's determinism contract quantizes by — the graded
    * booleans allow one q6 unit per corpus row of slack).
    *
    * Scale shape per round: rotation + encode ride the scan stage
    * (R and the codebook broadcast); the correlation matrix M folds
    * through ONE dim-group map-side-combined aggregate of integer-
    * snapped sums (dim rows × dim cols — model-sized, corpus-
    * independent, the sanctioned bounded collect); the SVD is a
    * driver-side dim×dim one-sided Jacobi. Nothing corpus-sized ever
    * shuffles, and the per-round driver state is one dim×dim matrix.
    *
    * Returns (refined R, final folded codebook, qerr_q6 per round —
    * element 0 is the incoming (r0, seed-codebook) baseline measured
    * with the e_opq_rotations formula). */
  def opqRefine(emb: DataFrame, r0: Array[Array[Double]], p: Params,
                rounds: Int): (Array[Array[Double]], DataFrame, Seq[Long]) = {
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    require(r0.length == p.dim && r0.forall(_.length == p.dim),
      s"r0 must be ${p.dim}x${p.dim}")
    val corpus = emb.where(col("vec_id") =!= 0)
    var r = r0
    // The rotated corpus is NOT persisted: the rotation is one
    // scan-stage matvec, so recomputing it per pass is a fraction of
    // a corpus scan — where persisting a full rotated COPY of the
    // corpus is real memory pressure at scale and (measured, r19)
    // each persist+count action pays a full lineage re-plan that
    // dwarfed the matvec at bench scale. The seed codebook collects
    // FIRST (one tiny action), so every later pass broadcasts a
    // local literal and no two plan subtrees ever race to build a
    // shared cache (the race the old persist existed to serialize).
    // save/restore the thread's job description: without the restore
    // the LAST mark leaked onto every subsequent job on this thread,
    // mislabeling later queries in the UI and in ProfileQ output
    val sc = emb.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    def mark(m: String): Unit = sc.setJobDescription(s"opqRefine: $m")
    try {
    mark("cb0")
    var cb = localized(codebookRow(rotatedBy(corpus, r, p), p))
    val traj = Seq.newBuilder[Long]
    for (round <- 1 to rounds) {
      mark(s"lloyd r$round")
      // step 1: codes + codewords in the CURRENT rotated space. The
      // Lloyd pass CARRIES the incoming pair's qerr (lloydStepQerr) —
      // entry t-1 of the trajectory rides the scan round t already
      // pays, instead of a dedicated rounds+1-scan side-channel; and
      // the one-row result COLLECTS here, so every downstream
      // consumer (the correlation pass, the next round, the caller)
      // broadcasts a local literal instead of re-running the Lloyd
      // scan per reference (it ran 3x per round before).
      val stepped = lloydStepQerr(rotatedBy(corpus, r, p), cb, p).collect()(0)
      traj += stepped.getAs[Long]("qerr_q6")
      cb = localCbRow(emb.sparkSession, stepped)
      // step 2: M = Σ x̂ xᵀ (x = the ORIGINAL vector), integer-snapped
      // sums so parallel reassociation cannot perturb the SVD input
      mark(s"corr r$round")
      val mRows = encoded(rotatedBy(corpus, r, p, keepOrig = true), cb, p,
          extra = Seq("xo"))
        .crossJoin(broadcast(cb))
        .select(col("xo"), posexplode(
          flatten(transform(sequence(lit(0), lit(p.m - 1)), m =>
            cw(col("cbs"), m, element_at(col("codes"), m + 1), p))))
          .as(Seq("i", "xh")))
        .groupBy(col("i"))
        .agg(array((0 until p.dim).map(j =>
          sum(qlong(col("xh") * element_at(col("xo"), j + 1), 1e6))): _*).as("mr"))
        .collect()
      val m = Array.ofDim[Double](p.dim, p.dim)
      for (row <- mRows; i = row.getInt(0); j <- 0 until p.dim)
        m(i)(j) = row.getSeq[Long](1)(j) / 1e6
      r = procrustes(m)
    }
    // the terminal (refined R, final codebook) error — the one entry
    // with no later pass to ride; native scoredQ with the vector as
    // its own query (ad2 == the reconstruction error, same snaps)
    mark("terminal qerr")
    traj += scoredQ(rotatedBy(corpus, r, p).withColumn("qv", col("ve")), cb, p)
      .agg(sum(qlong(col("ad2"), 1e6))).head.getLong(0)
    (r, cb, traj.result())
    } finally sc.setJobDescription(prevDesc)
  }

  /** Rebuild a collected one-row codebook as a LOCAL one-row frame —
    * downstream plans broadcast the literal instead of re-running the
    * aggregation that produced it (model-sized driver state, the
    * ridge-solve convention). Values pass through untouched, so the
    * localized row is bit-identical to the plan it came from. */
  private def localCbRow(spark: org.apache.spark.sql.SparkSession,
                         stepped: org.apache.spark.sql.Row): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      Seq(stepped.schema("cbs")))
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(stepped.getAs[Any]("cbs"))),
      schema)
  }

  /** Scan-stage dense rotation y = R·x over the (vec_id, ve) frame —
    * R rides as a flattened literal (dim² doubles, broadcast with the
    * plan). `keepOrig` carries the unrotated vector along as `xo`
    * (the Procrustes step needs both sides). Native kernel
    * (graft.expressions.MatVecExpr): the HOF fold interprets dim²
    * expression nodes PER ROW per scan — ~50 of the OPQ refinement's
    * 54 s at sf0.1 before the kernel; bit-identical to
    * [[rotatedByHof]] (both accumulate j left-to-right), asserted in
    * PqExprSpec. */
  private[graft] def rotatedBy(emb: DataFrame, r: Array[Array[Double]], p: Params,
                             keepOrig: Boolean = false): DataFrame = {
    // ONE ArrayType literal, not array(lit × dim²): a 4096-child
    // CreateArray is constant-folded eventually, but every analyzer/
    // optimizer rule walks those children first — measured as pure
    // planning cost on a plan re-analyzed per action (guide §7.3)
    val rflat = typedlit(r.flatten.toIndexedSeq)
    val rotExpr = call_function("graft_matvec", rflat, col("ve"))
    if (keepOrig)
      emb.select(col("vec_id"), col("ve").as("xo"), rotExpr.as("ve"))
    else
      emb.select(col("vec_id"), rotExpr.as("ve"))
  }

  /** The composable HOF twin of [[rotatedBy]] — the cross-check
    * reference for the native matvec kernel. */
  private[graft] def rotatedByHof(emb: DataFrame, r: Array[Array[Double]], p: Params,
                                  keepOrig: Boolean = false): DataFrame = {
    val rflat = typedlit(r.flatten.toIndexedSeq)
    val rotExpr = transform(sequence(lit(0), lit(p.dim - 1)), i =>
      aggregate(sequence(lit(0), lit(p.dim - 1)), lit(0.0), (acc, j) =>
        acc + element_at(rflat, (i * p.dim + j + 1).cast("int")) *
          element_at(col("ve"), j + 1)))
    if (keepOrig)
      emb.select(col("vec_id"), col("ve").as("xo"), rotExpr.as("ve"))
    else
      emb.select(col("vec_id"), rotExpr.as("ve"))
  }

  /** Orthogonal Procrustes solution R = U·Vᵀ for M = U·Σ·Vᵀ — the
    * rotation maximizing tr(Rᵀ·M), i.e. minimizing Σ||R·x − x̂||² for
    * M = Σ x̂·xᵀ. SVD by ONE-SIDED JACOBI on the columns of M
    * (deterministic fixed sweep order; dim×dim driver work, ~ms at
    * dim 64). Zero singular directions (rank-deficient M — every
    * choice is equally optimal there) complete deterministically by
    * Gram-Schmidt over the standard basis. */
  private[graft] def procrustes(m: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var rotating = true
    var sweeps = 0
    while (rotating && sweeps < 64) {
      rotating = false
      sweeps += 1
      for (pc <- 0 until n - 1; qc <- pc + 1 until n) {
        var app = 0.0; var aqq = 0.0; var apq = 0.0
        var i = 0
        while (i < n) {
          app += a(i)(pc) * a(i)(pc); aqq += a(i)(qc) * a(i)(qc)
          apq += a(i)(pc) * a(i)(qc); i += 1
        }
        if (math.abs(apq) > 1e-14 * math.sqrt(app * aqq) + Double.MinPositiveValue) {
          rotating = true
          val tau = (aqq - app) / (2.0 * apq)
          val t = math.signum(tau) / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
          val c = 1.0 / math.sqrt(1.0 + t * t)
          val s = c * t
          i = 0
          while (i < n) {
            val x = a(i)(pc); val y = a(i)(qc)
            a(i)(pc) = c * x - s * y; a(i)(qc) = s * x + c * y
            val vx = v(i)(pc); val vy = v(i)(qc)
            v(i)(pc) = c * vx - s * vy; v(i)(qc) = s * vx + c * vy
            i += 1
          }
        }
      }
    }
    // U = column-normalized a; rank-deficient columns complete by
    // Gram-Schmidt against the already-fixed columns
    val u = Array.ofDim[Double](n, n)
    val sig = Array.tabulate(n)(j => math.sqrt((0 until n).map(i => a(i)(j) * a(i)(j)).sum))
    for (j <- 0 until n if sig(j) > 1e-12; i <- 0 until n) u(i)(j) = a(i)(j) / sig(j)
    for (j <- 0 until n if sig(j) <= 1e-12) {
      var eb = 0
      var done = false
      while (!done && eb < n) {
        val cand = Array.tabulate(n)(i => if (i == eb) 1.0 else 0.0)
        for (k <- 0 until n if k != j && (sig(k) > 1e-12 || k < j)) {
          val d = (0 until n).map(i => cand(i) * u(i)(k)).sum
          for (i <- 0 until n) cand(i) -= d * u(i)(k)
        }
        val nrm = math.sqrt(cand.map(x => x * x).sum)
        if (nrm > 1e-6) {
          for (i <- 0 until n) u(i)(j) = cand(i) / nrm
          done = true
        }
        eb += 1
      }
      require(done, "procrustes: could not complete an orthonormal basis")
    }
    // R = U Vᵀ
    Array.tabulate(n, n)((i, j) => (0 until n).map(k => u(i)(k) * v(j)(k)).sum)
  }
}
