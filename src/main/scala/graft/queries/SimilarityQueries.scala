package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.functions.vectors

/** Similarity search over the 64-dim `embeddings` table: brute-force
  * cosine top-k (the correctness baseline) and the LSH-bucketed
  * variant (the 100 TB scale path: the pairwise join is confined to
  * same-bucket candidates instead of a cross join).
  */
object SimilarityQueries {

  private val Dim = 64
  private val Bits = 8
  private val AnnBits = 4

  /** Johnson-Lindenstrauss target dimension (64 -> 16): small enough
    * to show real compression, large enough that projected rankings
    * carry signal (ApproxSpec pins the measured recall). */
  private val RpDim = 16

  /** Planted-cluster recall floor for e_rand_proj_planted (measured
    * 10/10 at sf0.01; 7 leaves headroom like PqPlantedBound). */
  private val RpPlantedBound = 7

  /** DuckDB twin of the scan-stage JL projection: [[RpDim]] ±1 plane
    * list literals (the same driver-computed md5 signs), each dotted
    * against `v` and scaled by the EXACT 1/sqrt(16) = 0.25. */
  private def projSql(v: String): String = {
    val signs = vectors.hyperplaneSigns(RpDim, Dim)
    val comps = (0 until RpDim).map { j =>
      val plane = signs(j).map(x => if (x > 0) "1e0" else "-1e0").mkString("[", ",", "]")
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $v[i] * ($plane)[i])) * 0.25e0"
    }
    comps.mkString("[", ",\n    ", "]")
  }

  /** DuckDB twin of vectors.cosine on DOUBLE[] columns `a`,`b`. */
  private def cosSql(a: String, b: String) =
    s"""(list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))
       | / nullif(sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $a[i])))
       |   * sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> $b[i] * $b[i]))), 0e0))""".stripMargin

  /** DuckDB twin of vectors.hyperplaneBucket: the ±1 planes are the
    * same driver-computed constants, emitted as list literals. */
  private def bucketSql(v: String, nBits: Int = Bits): String = {
    val signs = vectors.hyperplaneSigns(nBits, Dim)
    val bits = (0 until nBits).map { k =>
      val plane = signs(k).map(x => if (x > 0) "1e0" else "-1e0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}), i -> $v[i] * ($plane)[i])) > 0e0 THEN ${1L << k} ELSE 0 END)"
    }
    s"CAST(${bits.mkString("\n    + ")} AS BIGINT)"
  }

  /** Number of IVF cells (centroids = the embeddings of vec_ids
    * 1..K — deterministic, training-free; a real deployment would
    * k-means these but the pipeline shape is identical). */
  private[queries] val IvfK = 8

  /** SemDeDup target mean cluster size for the K ∝ N graded shape
    * (e_semdedup_kscaled): K = max(8, N / c̄). 100 keeps per-cluster
    * pair work bounded (N·c̄ cosines total) while K visibly grows
    * across the graded SFs (8 → 20) and the scale sweep (500 → 5k). */
  private val SemDedupCbar = 100L

  /** PQ constants: M subspaces x SubDim dims (= Dim), Ks codewords per
    * subspace. Declared BEFORE `all`: the oracle SQL strings
    * interpolate them eagerly while the Seq is built. */
  private val PqM = 8
  private val PqSub = 8
  private val PqKs = 16
  private val PqRecallBound = 1
  private val PqPlantedBound = 7
  // sample-train → full-encode (e_pq_train_sampled): 10x the
  // per-subspace codeword count — the bounded training-set size a
  // quantizer needs, corpus-size-independent
  private val PqSampleN = 160
  private val PqSampleSeed = "pqs"

  /** Cluster-balanced sampling: draws per cluster + the seed salt of
    * the md5 draw key (the w4/n12 seeded-determinism convention). */
  private val SamplePerCell = 3
  private val SampleSeed = 12

  /** OPQ-lite rotation panel (Ge et al. 2013's idea — rotate before
    * product-quantizing so subspaces decorrelate — with DETERMINISTIC
    * candidate rotations instead of the SVD solve, which no SQL twin
    * could replay): R_t = sign-flip ∘ stride permutation, both
    * orthogonal, signs from the md5 [[vectors.hyperplaneSigns]]
    * machinery and strides odd (coprime with 64 → bijective). Arm 0
    * is the identity — the plain-PQ baseline every lift is measured
    * against. Selection = argmin total quantization error, the OPQ
    * objective. */
  private val OpqStrides = Seq(1, 5, 9, 21)
  private[graft] def opqPerm(t: Int): Seq[Int] =
    (0 until Dim).map(i => (i * OpqStrides(t)) % Dim + 1)
  private[graft] def opqSigns(t: Int): Seq[Double] =
    if (t == 0) Seq.fill(Dim)(1.0) else vectors.hyperplaneSigns(3, Dim)(t - 1)

  /** Binary-quantization constants: 16 sign bits, Hamming shortlist
    * radius 5. On an uncorrelated corpus the pairwise code distance
    * is Binomial(16, 1/2) (mean 8), so radius 5 keeps ~1% — measured
    * 56/5000 at sf0.01; real near-dup corpora concentrate LOW hd and
    * the shortlist tightens further. */
  private val BqBits = 16
  private val BqRadius = 5

  // ---- SemDeDup shared machinery (Abbas et al. 2023) ---------------
  // Three graded confinement forms share these pieces; the multi-probe
  // family (r19) adds the recall knob: probe Hamming-adjacent residual
  // buckets so finer confinement stops costing cross-bucket near-dups.

  /** K ∝ N and the residual-bucket bit width b = ⌈log2(K/K1)⌉, from
    * the corpus's parquet FOOTER count (driver-side metadata read,
    * zero jobs — the tokenizer-broadcast footer-gate convention). */
  private def semdedupKb(s: org.apache.spark.sql.SparkSession, d: String): (Long, Int) = {
    val n = graft.ops.Bpe.parquetRowCount(s, s"$d/embeddings.parquet")
    val k = math.max(8L, n / SemDedupCbar)
    (k, math.ceil(math.log(k.toDouble / IvfK) / math.log(2)).toInt.max(0))
  }

  /** The learned-coarse + residual-LSH fine frame (cell, vec_id, ve,
    * fb) of the bucketed SemDeDup family, eager-owned (it feeds both
    * pair-join arms and the keep side), plus the bit width b. */
  private def semdedupFine(s: org.apache.spark.sql.SparkSession,
                           d: String): (org.apache.spark.sql.DataFrame, Int) = {
    val emb = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val (_, b) = semdedupKb(s, d)
    // ivfLloydStep returns a LOCAL one-row frame: downstream
    // consumers plan against it instead of re-analyzing the two-Lloyd
    // lineage per action (model-sized, values bit-identical)
    val c2 = graft.ops.Pq.ivfLloydStep(emb,
      graft.ops.Pq.ivfLloydStep(emb, graft.ops.Pq.cellsRow(emb, IvfK)))
    val fine = graft.Caches.checkpointed(
      graft.ops.Pq.ivfAssignedWith(emb, c2)
        .select(col("cell"), col("vec_id"), col("ve"),
          (vectors.hyperplaneBucket(
            zip_with(col("ve"), col("cv"), (x, c) => x - c), 16, Dim)
            % lit(1L << b)).as("fb")))
    (fine, b)
  }

  /** XOR masks of Hamming weight <= r over b bits — the multi-probe
    * set. Canonical generator lives with the serving store
    * ([[graft.ops.SemDedupStore.hammingMasks]], combinatorial —
    * never a 2^b enumeration); the query family delegates so the
    * graded confinement and the served confinement cannot drift. */
  private[queries] def hammingMasks(b: Int, r: Int): Seq[Long] =
    graft.ops.SemDedupStore.hammingMasks(b, r)

  /** Multi-probe drop set over the fine frame: side A explodes to its
    * probe buckets (fb XOR each mask — |masks| rows per vector, the
    * b+1 factor at radius 1), the equi-join stays (cell, bucket)-
    * confined, and each unordered pair within Hamming radius r meets
    * EXACTLY once (the xor of their buckets is the unique matching
    * mask; the vec_a < vec_b filter kills the mirrored ordering). */
  private def semdedupProbedDrop(fine: org.apache.spark.sql.DataFrame,
                                 masks: Seq[Long]): org.apache.spark.sql.DataFrame = {
    val a = fine.select(col("cell"),
      explode(array(masks.map(m => col("fb").bitwiseXOR(lit(m))): _*)).as("pb"),
      col("vec_id").as("vec_a"), col("ve").as("va"))
    val bb = fine.select(col("cell"), col("fb").as("pb"),
      col("vec_id").as("vec_b"), col("ve").as("vb"))
    a.join(bb, Seq("cell", "pb"))
      .where(col("vec_a") < col("vec_b") &&
        qround(vectors.cosine(col("va"), col("vb")), 6) >= 0.40)
      .select(col("vec_b").as("vec_id")).distinct()
  }

  /** The K ∝ N EXACT two-level hierarchy: (fine (cell, sub, vec_id,
    * ve), drop set) — e_semdedup_kscaled's body, shared with the
    * recall-curve query (whose ground truth it is). Both frames are
    * eager-owned (concurrent subtrees of one plan). */
  private def semdedupExact(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val emb = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val (k, _) = semdedupKb(s, d)
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = math.ceil(k.toDouble / k1).toInt
    // both quantizer levels are local one-row frames (model-sized,
    // bit-identical): the fine frame's lineage is then scan →
    // local-broadcast argmin instead of the full two-level training
    // chain re-analyzed by every downstream action
    val c2 = graft.ops.Pq.ivfLloydStep(emb,
      graft.ops.Pq.ivfLloydStep(emb, graft.ops.Pq.cellsRow(emb, k1)))
    val coarse = graft.Caches.checkpointed(graft.ops.Pq.ivfAssignedWith(emb, c2)
      .select(col("cell"), col("vec_id"), col("ve")))
    val seeds = graft.ops.Pq.subSeeds(coarse, k2)
    val m1 = graft.ops.Pq.subLloydStep(coarse, seeds)
    val fine = graft.Caches.checkpointed(graft.ops.Pq.fineAssigned(coarse, m1)
      .select(col("cell"), col("sub"), col("vec_id"), col("ve")))
    val a = fine.select(col("cell"), col("sub"),
      col("vec_id").as("vec_a"), col("ve").as("va"))
    val b = fine.select(col("cell"), col("sub"),
      col("vec_id").as("vec_b"), col("ve").as("vb"))
    val drop = a.join(b, Seq("cell", "sub"))
      .where(col("vec_a") < col("vec_b") &&
        qround(vectors.cosine(col("va"), col("vb")), 6) >= 0.40)
      .select(col("vec_b").as("vec_id")).distinct()
    (fine, drop)
  }

  /** Oracle twin of [[semdedupExact]]'s drop set: the full two-level
    * CTE chain, every name `p`-prefixed, ending in `${p}xdrop`. */
  private def semdedupExactCtes(p: String): String = {
    val kS = s"GREATEST(8, count(*) // $SemDedupCbar)"
    val k1S = s"CAST(ceil(sqrt(CAST($kS AS DOUBLE))) AS BIGINT)"
    val k2S = s"CAST(ceil(CAST($kS AS DOUBLE) / $k1S) AS BIGINT)"
    s"""${kmeansCtesK(2, s"SELECT $k1S FROM embeddings", p)},
       |${p}af AS (${kmeansAssignSql(2, p)}),
       |${p}s0 AS (SELECT cell, CAST(row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS INT) AS sub,
       |         ve AS scv
       |       FROM ${p}af QUALIFY sub <= (SELECT $k2S FROM embeddings)),
       |${p}as0 AS (SELECT vec_id, ve, cell, sub FROM (
       |    SELECT af.vec_id, af.ve, af.cell, s.sub,
       |      row_number() OVER (PARTITION BY af.vec_id ORDER BY
       |        ${qroundSql(d2S("af.ve", "s.scv", Dim), 6)} ASC, s.sub ASC) AS rn
       |    FROM ${p}af af JOIN ${p}s0 s ON s.cell = af.cell) WHERE rn = 1),
       |${p}msub AS (SELECT cell, sub, i - 1 AS pos,
       |      CAST(sum(CAST(floor(ve[i] * 1000000 + 0.5e0) AS BIGINT)) AS BIGINT)
       |        / (1e6 * count(*)) AS c_mean
       |    FROM ${p}as0, range(1, ${Dim + 1}) t(i) GROUP BY cell, sub, i - 1),
       |${p}s1 AS (SELECT s.cell, s.sub,
       |      CASE WHEN count(m.pos) = 0 THEN any_value(s.scv)
       |           ELSE list(m.c_mean ORDER BY m.pos) END AS scv
       |    FROM ${p}s0 s LEFT JOIN ${p}msub m ON m.cell = s.cell AND m.sub = s.sub
       |    GROUP BY s.cell, s.sub),
       |${p}as1 AS (SELECT vec_id, ve, cell, sub FROM (
       |    SELECT af.vec_id, af.ve, af.cell, s.sub,
       |      row_number() OVER (PARTITION BY af.vec_id ORDER BY
       |        ${qroundSql(d2S("af.ve", "s.scv", Dim), 6)} ASC, s.sub ASC) AS rn
       |    FROM ${p}af af JOIN ${p}s1 s ON s.cell = af.cell) WHERE rn = 1),
       |${p}xdrop AS (SELECT DISTINCT b.vec_id
       |             FROM ${p}as1 a JOIN ${p}as1 b
       |               ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
       |             WHERE (floor((${cosSql("a.ve", "b.ve")}) * 1000000 + 0.5e0)
       |                    / 1000000.0e0) >= 0.40)""".stripMargin
  }

  /** Oracle twin of [[semdedupFine]]: the 8-cell trained chain + the
    * residual bucket assignment, ending in `${p}fa` (vec_id, ve,
    * cell, fb) and `${p}kb` (b, mm = 2^b). */
  private def semdedupBucketedCtes(p: String): String = {
    val kS = s"CAST(GREATEST(8, count(*) // $SemDedupCbar) AS DOUBLE)"
    val bS = s"GREATEST(0, CAST(ceil(log2($kS / $IvfK)) AS INT))"
    s"""${kmeansCtes(2, p)},
       |${p}kb AS (SELECT $bS AS b, CAST(pow(2, $bS) AS BIGINT) AS mm FROM embeddings),
       |${p}af AS (${kmeansAssignSql(2, p)}),
       |${p}afr AS (SELECT af.vec_id, af.ve, af.cell,
       |          list_transform(range(1, ${Dim + 1}), i -> af.ve[i] - c.cv[i]) AS rv
       |        FROM ${p}af af JOIN ${p}c2 c ON c.cell = af.cell),
       |${p}fa AS (SELECT vec_id, ve, cell,
       |         ${bucketSql("rv", 16)} % (SELECT mm FROM ${p}kb) AS fb
       |       FROM ${p}afr)""".stripMargin
  }

  /** One-row diagnostic frame behind e_semdedup_opq and
    * e_semdedup_opq_probed (shared with the ApproxSpec pins, which
    * read the SVD-derived nd_r/ov_r the graded projections keep out
    * of the hash): trains the OPQ rotation on the within-cell
    * residuals (identity start, one round), buckets the residuals
    * through BOTH bases at the same b, probes each side at Hamming
    * `radius` (radius 0 = the plain bucketed confinement), and scores
    * each drop set against the exact hierarchy. Rotation and
    * multi-probe compose orthogonally — the probe masks XOR the
    * bucket CODE, which is basis-agnostic, so the same mask set
    * serves both frames. */
  private[graft] def semdedupOpqDiag(s: org.apache.spark.sql.SparkSession,
                                     d: String, radius: Int = 0)
      : org.apache.spark.sql.DataFrame = {
    // save/restore (the opqRefine convention): the last mark must not
    // leak onto later queries' jobs on this thread
    val prevDesc = s.sparkContext.getLocalProperty("spark.job.description")
    def mark(m: String): Unit = s.sparkContext.setJobDescription(s"opqdiag: $m")
    try {
    mark("c2+resid")
    val emb = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val (_, b) = semdedupKb(s, d)
    val c2 = graft.ops.Pq.ivfLloydStep(emb,
      graft.ops.Pq.ivfLloydStep(emb, graft.ops.Pq.cellsRow(emb, IvfK)))
    val resid = graft.Caches.checkpointed(graft.ops.Pq.ivfAssignedWith(emb, c2)
      .select(col("cell"), col("vec_id"), col("ve"),
        zip_with(col("ve"), col("cv"), (x, c) => x - c).as("rv")))
    val id0 = Array.tabulate(Dim, Dim)((i, j) => if (i == j) 1.0 else 0.0)
    mark("opqRefine")
    val (r, _, traj) = graft.ops.Pq.opqRefine(
      resid.select(col("vec_id"), col("rv").as("ve")), id0, P, rounds = 1)
    val orth = (0 until Dim).forall(i => (0 until Dim).forall { j =>
      val dot = (0 until Dim).map(t => r(i)(t) * r(j)(t)).sum
      math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
    })
    val rflat = typedlit(r.flatten.toIndexedSeq)
    def fineOf(bucket: Column) = resid.select(col("cell"), col("vec_id"),
      col("ve"), (bucket % lit(1L << b)).as("fb"))
    mark("fineU")
    val fineU = graft.Caches.checkpointed(
      fineOf(vectors.hyperplaneBucket(col("rv"), 16, Dim)))
    mark("fineR")
    val fineR = graft.Caches.checkpointed(fineOf(vectors.hyperplaneBucket(
      call_function("graft_matvec", rflat, col("rv")), 16, Dim)))
    mark("exact")
    val exact = graft.Caches.checkpointed(semdedupExact(s, d)._2)
    val masks = hammingMasks(b, radius)
    // ONE pass per drop set: left-join the (distinct-keyed) exact
    // drop list and count rows/hits together — the old shape persisted
    // `dropped` and ran two separate aggregates over it (count +
    // semi-join count), i.e. an extra cache-build action and an extra
    // aggregation per arm for the same two numbers (guide §2.4:
    // shared exchange; values identical because `exact` is DISTINCT
    // vec_ids, so the left join is row-preserving)
    def stats(fine: org.apache.spark.sql.DataFrame, nd: String, ov: String) = {
      semdedupProbedDrop(fine, masks)
        .join(exact.withColumn("_hit", lit(1)), Seq("vec_id"), "left")
        .agg(count(lit(1)).as(nd), count(col("_hit")).as(ov))
    }
    val nRows = graft.ops.Bpe.parquetRowCount(s, s"$d/embeddings.parquet") - 1
    mark("final")
    stats(fineU, "n_dropped_unrot", "overlap_unrot")
      .crossJoin(broadcast(stats(fineR, "nd_r", "ov_r")))
      .select(lit(if (radius == 0) "bucketed_opq" else s"opq_probed_r$radius")
          .as("method"),
        col("n_dropped_unrot"), col("overlap_unrot"),
        lit(traj.last <= traj.head + nRows).as("qerr_improved"),
        lit(orth).as("orthogonal"), col("nd_r"), col("ov_r"))
    } finally s.sparkContext.setJobDescription(prevDesc)
  }

  /** Multi-probe drop-set CTE over `${p}fa`: probe masks enumerate
    * SQL-side (range over 2^b is fine at oracle scale; the Spark side
    * is combinatorial) and the join mirrors [[semdedupProbedDrop]]
    * exactly. Emits `${p}pm` once per oracle via `withMasks`. */
  private def semdedupProbedDropSql(p: String, radius: Int, name: String,
                                    withMasks: Boolean): String = {
    val pm = if (!withMasks) "" else
      s"""${p}pm AS (SELECT m, bit_count(m) AS pc
         |       FROM (SELECT unnest(range(0, (SELECT mm FROM ${p}kb))) AS m)),
         |""".stripMargin
    s"""$pm$name AS (SELECT DISTINCT b.vec_id
       |          FROM ${p}fa a JOIN ${p}pm p ON p.pc <= $radius
       |          JOIN ${p}fa b ON b.cell = a.cell AND b.fb = xor(a.fb, p.m)
       |            AND a.vec_id < b.vec_id
       |          WHERE (floor((${cosSql("a.ve", "b.ve")}) * 1000000 + 0.5e0)
       |                 / 1000000.0e0) >= 0.40)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // IVF-style ANN: assign every vector to its nearest centroid cell
    // (argmin L2, deterministic tie-break), search only the query
    // vector's cell. The inverted-file structure at corpus scale: the
    // K centroids fold to ONE broadcast row and the assignment is a
    // scan-stage argmin over that 8-entry array ([[ivfAssigned]]) —
    // ZERO corpus shuffle, vs the crossJoin+groupBy form whose
    // Exchange carried vector+centroid payloads for every corpus row.
    Q("e_ivf_ann",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val assigned = ivfAssigned(emb)
          .select(col("vec_id"), col("ve"), col("cell").cast("long").as("cid"))
        val q = assigned.where(col("vec_id") === 0)
          .select(col("ve").as("qv"), col("cid").as("qcid"))
        assigned.join(broadcast(q), col("cid") === col("qcid"))
          .where(col("vec_id") =!= 0)
          .select(col("vec_id"), col("cid"),
            qround(vectors.cosine(col("ve"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(10)
      },
      Some {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           |c AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id BETWEEN 1 AND $IvfK),
           |a AS (SELECT vec_id, ve, cid FROM (
           |    SELECT e.vec_id, e.ve, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${qroundSql(d2S("e.ve", "c.cv", Dim), 6)} ASC, c.cid ASC) AS rn
           |    FROM e, c) WHERE rn = 1),
           |q AS (SELECT ve AS qv, cid AS qcid FROM a WHERE vec_id = 0)
           |SELECT vec_id, cid, (floor((${cosSql("ve", "qv")}) * 1000000 + 0.5e0) / 1000000.0e0) AS cos
           |FROM a, q WHERE cid = qcid AND vec_id <> 0
           |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
      }),

    // IVF centroid TRAINING: one Lloyd iteration in-plan — assign all
    // vectors to their nearest seed centroid (the scan-stage broadcast
    // argmin of [[ivfAssigned]] — zero corpus shuffle), then
    // re-estimate each cell's centroid as the per-dimension member
    // mean. The mean runs in exact integer space (1e-6-quantized
    // BIGINT sums) so parallel reassociation cannot perturb it.
    // Long-form output (cid, pos, n, c_mean): K x 64 rows, array-free
    // for the oracle. Iterating = re-running with these means as the
    // next seed; each iteration is one broadcast + ONE tiny shuffle
    // (K*64 map-side-combined groups) regardless of corpus size.
    Q("e_ivf_train",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        ivfAssigned(emb)
          .select(col("cell").cast("long").as("cid"),
            posexplode(col("ve")).as(Seq("pos", "v")))
          .groupBy(col("cid"), col("pos"))
          .agg(count(lit(1)).as("n"),
            (sum(qlong(col("v"), 1e6))
              / (lit(1e6) * count(lit(1)))).as("c_mean"))
          .select(col("cid"), col("pos").cast("long").as("pos"), col("n"), col("c_mean"))
      },
      Some {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           |c AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id BETWEEN 1 AND $IvfK),
           |a AS (SELECT ve, cid FROM (
           |    SELECT e.ve, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${qroundSql(d2S("e.ve", "c.cv", Dim), 6)} ASC, c.cid ASC) AS rn
           |    FROM e, c) WHERE rn = 1)
           |SELECT cid, i - 1 AS pos, count(*) AS n,
           |  CAST(sum(CAST(floor((ve[i]) * 1000000 + 0.5e0) AS BIGINT)) AS BIGINT)
           |    / (1e6 * count(*)) AS c_mean
           |FROM a, range(1, ${Dim + 1}) t(i)
           |GROUP BY cid, i - 1""".stripMargin
      }),

    // embedding-cosine near-dup dedup: the pairwise analog of
    // e_ann_bucketed — hyperplane-bucket every vector, generate pairs
    // ONLY within a bucket (one equi-join shuffle on the bucket key,
    // never an all-pairs cross join), exact cosine on the survivors,
    // rank by similarity. The test corpus plants no true embedding
    // dups, so the query emits the top-20 most-similar bucketed pairs
    // (a dedup run would add `where cos >= t`— same plan).
    Q("d_embed_neardup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            vectors.hyperplaneBucket(col("embedding"), AnnBits, Dim).as("bucket"))
        val a = emb.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("va"))
        val b = emb.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("vb"))
        a.join(b, "bucket")
          .where(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            qround(vectors.cosine(col("va"), col("vb")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_a").asc, col("vec_b").asc)
          .limit(20)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
              |            ${bucketSql("CAST(embedding AS DOUBLE[])", AnnBits)} AS bucket
              |          FROM embeddings)
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |  (floor((${cosSql("a.ve", "b.ve")}) * 1000000 + 0.5e0) / 1000000.0e0) AS cos
              |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |ORDER BY cos DESC, vec_a, vec_b LIMIT 20""".stripMargin)),

    // brute-force cosine top-k against the vec_id=0 query vector
    Q("e_cosine_topk",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
        emb.crossJoin(broadcast(q))
          .where(col("vec_id") =!= 0)
          .select(col("vec_id"),
            qround(vectors.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(20)
      },
      Some(s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id, (floor((${cosSql("ve", "qv")}) * 1000000 + 0.5e0) / 1000000.0e0) AS cos
              |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id <> 0), q
              |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin)),

    // HYBRID retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    // of the lexical and vector halves over the SAME id space
    // (embeddings are per-document here, as in a real RAG lake): BM25
    // top-20 (t_bm25_topk's scoring, ops/Retrieval) fuses with the
    // brute-force cosine top-20 (e_cosine_topk's scoring) by
    // rrf = Σ 1/(60 + rank). Rank-based fusion needs no score
    // calibration between the two systems — the production reason RRF
    // is the default hybrid combiner. Scale shape: each leg is its
    // own scalable top-k (TakeOrderedAndProject); ranking and fusion
    // then run on two 20-row frames (the bounded-window convention —
    // the unpartitioned row_number sees at most `limit` rows), so
    // fusion cost never touches the lake.
    Q("e_hybrid_rrf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val bm = graft.ops.Retrieval.bm25Scores(T(s, d, "documents"),
            col("text"), col("doc_id"), TextQueries.Bm25Terms)
          .orderBy(col("score").desc, col("id").asc).limit(20)
          .withColumn("rank", row_number()
            .over(Window.orderBy(col("score").desc, col("id").asc)).cast("long"))
        val emb = T(s, d, "embeddings")
        val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
        val ct = emb.crossJoin(broadcast(q))
          .where(col("vec_id") =!= 0)
          .select(col("vec_id").as("id"),
            qround(vectors.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("id").asc).limit(20)
          .withColumn("rank", row_number()
            .over(Window.orderBy(col("cos").desc, col("id").asc)).cast("long"))
        graft.ops.Retrieval.rrfFuse(bm, ct, 60)
          .orderBy(col("rrf").desc, col("id").asc).limit(10)
      },
      Some(s"""WITH ${TextQueries.bm25Ctes("documents")},
              |bmt AS (SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 20),
              |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank_a FROM bmt),
              |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
              |ctt AS (SELECT vec_id AS id,
              |          (floor((${cosSql("ve", "qv")}) * 1000000 + 0.5e0) / 1000000.0e0) AS cos
              |        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
              |              FROM embeddings WHERE vec_id <> 0), q
              |        ORDER BY cos DESC, id LIMIT 20),
              |ctr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rank_b FROM ctt)
              |SELECT coalesce(a.id, b.id) AS id,
              |  ${qroundSql(
                   "coalesce(1e0 / (60 + a.rank_a), 0e0) + coalesce(1e0 / (60 + b.rank_b), 0e0)",
                   6)} AS rrf,
              |  CAST(coalesce(a.rank_a, 0) AS BIGINT) AS rank_a,
              |  CAST(coalesce(b.rank_b, 0) AS BIGINT) AS rank_b
              |FROM bmr a FULL OUTER JOIN ctr b ON a.id = b.id
              |ORDER BY rrf DESC, id LIMIT 10""".stripMargin)),

    // LSH bucket histogram — validates the bucketing function itself
    Q("e_lsh_buckets",
      (s, d) => T(s, d, "embeddings")
        .select(vectors.hyperplaneBucket(col("embedding"), Bits, Dim).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n")),
      Some(s"""SELECT ${bucketSql("ve")} AS bucket, count(*) AS n
              |FROM (SELECT CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
              |GROUP BY bucket""".stripMargin)),

    // bucketed ANN: candidates = the query vector's bucket only, then
    // exact cosine top-10 within it — the scale path end-to-end.
    // 4 bits here (16 buckets) so buckets hold enough candidates at
    // test scale; at corpus scale you'd raise bits to keep buckets
    // ~constant-sized.
    Q("e_ann_bucketed",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            vectors.hyperplaneBucket(col("embedding"), AnnBits, Dim).as("bucket"))
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
        emb.join(broadcast(q), col("bucket") === col("qbucket"))
          .where(col("vec_id") =!= 0)
          .select(col("vec_id"),
            qround(vectors.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
              |            ${bucketSql("CAST(embedding AS DOUBLE[])", AnnBits)} AS bucket
              |          FROM embeddings),
              |q AS (SELECT ve AS qv, bucket AS qbucket FROM e WHERE vec_id = 0)
              |SELECT vec_id, (floor((${cosSql("ve", "qv")}) * 1000000 + 0.5e0) / 1000000.0e0) AS cos
              |FROM e, q WHERE bucket = qbucket AND vec_id <> 0
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    // GRADED approximation quality for the ANN family: recall@10 of
    // the multi-probe hyperplane-LSH search (query bucket + all
    // buckets at Hamming distance 1 — 5 of 16 buckets) AND the IVF
    // cell search against the brute-force cosine top-10 over the same
    // rows — the g_approx_distinct contract: the oracle computes the
    // identical intersection (both engines' top-10 sets are
    // deterministic: 1e-6-quantized cosines + vec_id tie-break), so
    // `hits` is hash-graded exactly, and `within_bound` (lsh >= 2,
    // ivf >= 5 of 10) is asserted literal TRUE on the oracle side — a
    // recall collapse hash-mismatches. ApproxSpec pins the numbers.
    // Honest calibration note: this corpus is isotropic (no planted
    // near-dups), where LSH theory predicts recall ~ candidate mass
    // (measured: single-bucket 0/10 at 1/16 of the corpus, multi-probe
    // 3/10 at 5/16); with real near-dup structure the same-bucket
    // probability rises with cosine and recall climbs. The bounds
    // guard collapse, not an advertised guarantee the data can't show.
    // Plan shape: each top-10 is a TakeOrdered over the shared scored
    // subplan (no global-sort window); the subplan re-executes per arm
    // at graded scale — a production run persists `scored` first.
    Q("e_ann_recall",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"),
            vectors.hyperplaneBucket(col("embedding"), AnnBits, Dim).as("bucket"))
        val assigned = ivfAssigned(emb)
          .select(col("vec_id"), col("ve"), col("bucket"), col("cell").as("cid"))
        val q = assigned.where(col("vec_id") === 0)
          .select(col("ve").as("qv"), col("bucket").as("qbucket"),
            col("cid").as("qcid"))
        val scored = assigned.crossJoin(broadcast(q))
          .where(col("vec_id") =!= 0)
          .select(col("vec_id"), col("bucket"), col("cid"), col("qbucket"), col("qcid"),
            qround(vectors.cosine(col("ve"), col("qv")), 6).as("cos"))
        def top10(df: org.apache.spark.sql.DataFrame) =
          df.orderBy(col("cos").desc, col("vec_id").asc).limit(10).select(col("vec_id"))
        val exact10 = top10(scored)
        def arm(name: String, bound: Int, cand: org.apache.spark.sql.DataFrame) =
          top10(cand).join(exact10, Seq("vec_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
            .select(lit(name).as("method"), lit(10).as("k"), col("hits"),
              (col("hits") >= bound).as("within_bound"))
        arm("lsh", 2, scored.where(
            bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= 1))
          .unionAll(arm("ivf", 5, scored.where(col("cid") === col("qcid"))))
      },
      Some {
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
           |            ${bucketSql("CAST(embedding AS DOUBLE[])", AnnBits)} AS bucket
           |          FROM embeddings),
           |c AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id BETWEEN 1 AND $IvfK),
           |a AS (SELECT vec_id, ve, bucket, cid FROM (
           |    SELECT e.vec_id, e.ve, e.bucket, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${qroundSql(d2S("e.ve", "c.cv", Dim), 6)} ASC, c.cid ASC) AS rn
           |    FROM e, c) WHERE rn = 1),
           |q AS (SELECT ve AS qv, bucket AS qbucket, cid AS qcid FROM a WHERE vec_id = 0),
           |s AS (SELECT vec_id, bucket, cid, qbucket, qcid,
           |        (floor((${cosSql("ve", "qv")}) * 1000000 + 0.5e0) / 1000000.0e0) AS cos
           |      FROM a, q WHERE vec_id <> 0),
           |ex AS (SELECT vec_id FROM s ORDER BY cos DESC, vec_id LIMIT 10),
           |lsh AS (SELECT vec_id FROM s WHERE bit_count(xor(bucket, qbucket)) <= 1
           |        ORDER BY cos DESC, vec_id LIMIT 10),
           |ivf AS (SELECT vec_id FROM s WHERE cid = qcid ORDER BY cos DESC, vec_id LIMIT 10)
           |SELECT 'lsh' AS method, 10 AS k,
           |  (SELECT count(*) FROM lsh WHERE vec_id IN (SELECT vec_id FROM ex)) AS hits,
           |  TRUE AS within_bound
           |UNION ALL
           |SELECT 'ivf', 10,
           |  (SELECT count(*) FROM ivf WHERE vec_id IN (SELECT vec_id FROM ex)),
           |  TRUE""".stripMargin
      }),

    // GRADED ANN recall under PLANTED cluster structure — the
    // anisotropic complement to e_ann_recall's isotropic calibration.
    // The corpus is synthesized IN-PLAN so both engines derive the
    // identical doubles: 16 cluster centers (the raw embeddings of
    // vec_ids 1..16, a broadcast dim), and each planted vector is
    //   center(vec_id % 16 + 1) + 0.15 * own_embedding
    // — small deterministic perturbations around shared seeds, the
    // geometry of a near-dup-rich corpus (c + 0.15e at 64-dim ~ 0.15
    // rad ~ 8.6 deg off-center; per-hyperplane split prob ~ theta/pi
    // ~ 0.05). Here LSH recall measures NEIGHBOR RECOVERY, not
    // candidate mass: same-cluster vectors agree on most hyperplane
    // signs, so the multi-probe bucket set holds nearly all true
    // top-10 (vs the isotropic floor where recall tracks 5/16
    // candidate coverage); IVF keeps whole clusters in one cell.
    // Same sketch-free exact grading as e_ann_recall: quantized
    // cosines + vec_id tie-break make both top-10 sets deterministic,
    // `hits` is hash-graded, bounds guard collapse; ApproxSpec pins
    // the measured recall well above the candidate-mass floor.
    Q("e_ann_recall_planted",
      (s, d) => {
        val C = 16
        val base = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val ctr = base.where(col("vec_id").between(1, C))
          .select(col("vec_id").as("center_id"), col("ve").as("cve"))
        val planted = base.join(broadcast(ctr),
            col("center_id") === col("vec_id") % C + 1)
          .select(col("vec_id"),
            zip_with(col("cve"), col("ve"), (c, e) => c + lit(0.15) * e).as("pv"))
        val emb = planted.select(col("vec_id"), col("pv").as("ve"),
          vectors.hyperplaneBucket(col("pv"), AnnBits, Dim).as("bucket"))
        val assigned = ivfAssigned(emb)
          .select(col("vec_id"), col("ve"), col("bucket"), col("cell").as("cid"))
        val q = assigned.where(col("vec_id") === 0)
          .select(col("ve").as("qv"), col("bucket").as("qbucket"),
            col("cid").as("qcid"))
        val scored = assigned.crossJoin(broadcast(q))
          .where(col("vec_id") =!= 0)
          .select(col("vec_id"), col("bucket"), col("cid"), col("qbucket"), col("qcid"),
            qround(vectors.cosine(col("ve"), col("qv")), 6).as("cos"))
        def top10(df: org.apache.spark.sql.DataFrame) =
          df.orderBy(col("cos").desc, col("vec_id").asc).limit(10).select(col("vec_id"))
        val exact10 = top10(scored)
        def arm(name: String, bound: Int, cand: org.apache.spark.sql.DataFrame) =
          top10(cand).join(exact10, Seq("vec_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
            .select(lit(name).as("method"), lit(10).as("k"), col("hits"),
              (col("hits") >= bound).as("within_bound"))
        arm("lsh", 7, scored.where(
            bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= 1))
          .unionAll(arm("ivf", 7, scored.where(col("cid") === col("qcid"))))
      },
      Some {
        s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           |ctr AS (SELECT vec_id AS center_id, ve AS cve FROM e0 WHERE vec_id BETWEEN 1 AND 16),
           |p AS (SELECT e0.vec_id,
           |        list_transform(range(1, ${Dim + 1}),
           |          i -> ctr.cve[i] + 0.15e0 * e0.ve[i]) AS pv
           |      FROM e0 JOIN ctr ON ctr.center_id = e0.vec_id % 16 + 1),
           |e AS (SELECT vec_id, pv AS ve, ${bucketSql("pv", AnnBits)} AS bucket FROM p),
           |c AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id BETWEEN 1 AND $IvfK),
           |a AS (SELECT vec_id, ve, bucket, cid FROM (
           |    SELECT e.vec_id, e.ve, e.bucket, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${qroundSql(d2S("e.ve", "c.cv", Dim), 6)} ASC, c.cid ASC) AS rn
           |    FROM e, c) WHERE rn = 1),
           |q AS (SELECT ve AS qv, bucket AS qbucket, cid AS qcid FROM a WHERE vec_id = 0),
           |s AS (SELECT vec_id, bucket, cid, qbucket, qcid,
           |        (floor((${cosSql("ve", "qv")}) * 1000000 + 0.5e0) / 1000000.0e0) AS cos
           |      FROM a, q WHERE vec_id <> 0),
           |ex AS (SELECT vec_id FROM s ORDER BY cos DESC, vec_id LIMIT 10),
           |lsh AS (SELECT vec_id FROM s WHERE bit_count(xor(bucket, qbucket)) <= 1
           |        ORDER BY cos DESC, vec_id LIMIT 10),
           |ivf AS (SELECT vec_id FROM s WHERE cid = qcid ORDER BY cos DESC, vec_id LIMIT 10)
           |SELECT 'lsh' AS method, 10 AS k,
           |  (SELECT count(*) FROM lsh WHERE vec_id IN (SELECT vec_id FROM ex)) AS hits,
           |  TRUE AS within_bound
           |UNION ALL
           |SELECT 'ivf', 10,
           |  (SELECT count(*) FROM ivf WHERE vec_id IN (SELECT vec_id FROM ex)),
           |  TRUE""".stripMargin
      }),

    // semantic dedup END PRODUCT: the keep-list after embedding
    // near-dup removal under the min-id policy — a vector is dropped
    // iff some SMALLER-id vector in its LSH bucket has cosine >= thr.
    // Candidates are bucket-confined (the 100 TB shape: no all-pairs),
    // the threshold compares the 6-decimal-quantized cosine so the
    // IEEE boundary can't flip between engines, and the drop-set
    // anti-join is the same one-pass derivation d_dedup_keep uses.
    // Transitive-closure semantics are available by composing the
    // already-graded dupClusters + keepList over these pairs.
    Q("e_semantic_keep",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            vectors.hyperplaneBucket(col("embedding"), AnnBits, Dim).as("bucket"))
        val a = emb.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("va"))
        val b = emb.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("vb"))
        val drop = a.join(b, "bucket")
          .where(col("vec_a") < col("vec_b") &&
            qround(vectors.cosine(col("va"), col("vb")), 6) >= 0.40)
          .select(col("vec_b").as("vec_id")).distinct()
        emb.select(col("vec_id")).join(drop, Seq("vec_id"), "left_anti")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
              |            ${bucketSql("CAST(embedding AS DOUBLE[])", AnnBits)} AS bucket
              |          FROM embeddings),
              |dropped AS (SELECT DISTINCT b.vec_id
              |            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |            WHERE (floor((${cosSql("a.ve", "b.ve")}) * 1000000 + 0.5e0)
              |                   / 1000000.0e0) >= 0.40)
              |SELECT vec_id FROM embeddings
              |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup
    // the way the paper composes it: k-means-cluster the embeddings
    // (the TRAINED two-Lloyd-iteration chain e_kmeans_train grades),
    // then compare pairs only WITHIN a cluster and keep the min-id
    // representative of every near-identical group. Differs from
    // e_semantic_keep exactly where the paper differs from plain LSH
    // dedup: candidates are semantic-cluster-confined (learned
    // partitions), not hash-bucket-confined. Scale shape: training
    // shuffles stay centroid-sized, assignment is the broadcast
    // scan-stage argmin, and the pair join shuffles on `cell` with
    // per-cluster work (N/K)^2 — the paper's knob is K ∝ N/c̄ so
    // cluster sizes stay bounded (their LAION config is K=50k).
    // THIS fixed-K=8 form is kept as the semantic fixture (smallest
    // oracle, pins train→cluster→dedup end to end); the PRODUCTION
    // deployment shape — K derived from the corpus size — is graded
    // as e_semdedup_kscaled below, which is the one whose cost story
    // survives a 100 TB lake.
    // The oracle composes the k-means chain + assignment + quantized
    // cosine verbatim, so the hash pins train→cluster→dedup end to
    // end.
    Q("e_semdedup_keep",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val c2 = graft.ops.Pq.ivfLloydStep(emb,
          graft.ops.Pq.ivfLloydStep(emb, ivfCellsRow(emb)))
        val assigned = graft.ops.Pq.ivfAssignedWith(emb, c2)
          .select(col("cell"), col("vec_id"), col("ve"))
        val a = assigned.select(col("cell"), col("vec_id").as("vec_a"), col("ve").as("va"))
        val b = assigned.select(col("cell"), col("vec_id").as("vec_b"), col("ve").as("vb"))
        val drop = a.join(b, Seq("cell"))
          .where(col("vec_a") < col("vec_b") &&
            qround(vectors.cosine(col("va"), col("vb")), 6) >= 0.40)
          .select(col("vec_b").as("vec_id")).distinct()
        assigned.select(col("vec_id")).join(drop, Seq("vec_id"), "left_anti")
      },
      Some(s"""${kmeansCtes(2)},
              |af AS (${kmeansAssignSql(2)}),
              |sdropped AS (SELECT DISTINCT b.vec_id
              |             FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
              |             WHERE (floor((${cosSql("a.ve", "b.ve")}) * 1000000 + 0.5e0)
              |                    / 1000000.0e0) >= 0.40)
              |SELECT vec_id FROM embeddings
              |WHERE vec_id NOT IN (SELECT vec_id FROM sdropped)""".stripMargin),
      // fixed K=8 while N grows: per-cluster pair work is (N/K)^2 by
      // construction — 141 s / slope 29.9 at x100 (SCALE.md r18);
      // the production forms are e_semdedup_kscaled (x100) and
      // e_semdedup_bucketed/_probed (every decade)
      scale = "fixture@x10"),

    // SemDeDup at the PRODUCTION cluster count — the paper's own
    // configuration (Abbas et al. 2023 §3: K chosen so clusters stay
    // small; their LAION run uses K=50k): K = max(8, N / c̄) with
    // c̄ = SemDedupCbar, derived on the Spark side from the corpus's
    // parquet FOOTER count (driver-side metadata read, zero jobs —
    // the tokenizer-broadcast footer-gate convention) and on the
    // oracle side from a scalar subquery over the same table, so the
    // one static SQL string self-scales with the corpus. K grows
    // with the lake (9 at the 500-row SFs, 20 at sf0.1, ~5k at the
    // 500k-vector x100 sweep), which is what collapses the
    // per-cluster (N/K)² pair term to N·c̄ — linear — where the
    // fixed-K fixture above goes quadratic by construction.
    // (Decade map, measured: this exact-hierarchy form is
    // linear-class through x100 — slope 4.95, 18.9 s at 500k — and
    // N^1.5 by the third decade (51× at 500k → 5M, SCALE.md); past
    // x100 the graded linear route is e_semdedup_bucketed below.)
    //
    // K ∝ N moves the quadratic into TRAINING if assigned naively
    // (a flat argmin is Θ(N·K·d) = Θ(N²d/c̄) — measured: 47 s at
    // x100 for the flat form vs 141 s for fixed-K), so the quantizer
    // is built the way production IVF tooling builds 50k-centroid
    // quantizers: HIERARCHICALLY (see ops/Pq.scala's two-level
    // section). K1 = ⌈√K⌉ coarse cells (two Lloyd iterations, the
    // e_kmeans_train chain), then K2 = ⌈K/K1⌉ sub-cells per coarse
    // cell (smallest-vec_id seeds, one sub-Lloyd iteration), fine
    // cluster = (cell, sub). Per-row assignment is O(√K); every
    // level is a deterministic (q6(d2), id) argmin, so the oracle
    // mirrors the whole chain as row_number CTEs with K1/K2 as
    // scalar subqueries. Pairs are fine-cluster-confined, min-id
    // keep, 1e-6-quantized cosine — the e_semdedup_keep semantics
    // at the deployment cluster count.
    Q("e_semdedup_kscaled",
      (s, d) => {
        val (fine, drop) = semdedupExact(s, d)
        fine.select(col("vec_id")).join(drop, Seq("vec_id"), "left_anti")
      },
      Some(s"""${semdedupExactCtes("")}
              |SELECT vec_id FROM embeddings
              |WHERE vec_id NOT IN (SELECT vec_id FROM xdrop)""".stripMargin),
      // exact two-level hierarchy: O(N^1.5) assignment — linear-class
      // through x100 (18.9 s), 1275 s / slope 51 at x1000 (SCALE.md
      // r18); past x100 the graded linear route is e_semdedup_bucketed
      scale = "fixture@x100"),

    // SemDeDup BEYOND the exact-hierarchy decade — the shape that
    // stays LINEAR at every measured scale. The two-level exact
    // hierarchy above is O(N·√(N/c̄)·d): fine through x100 (slope
    // 4.95) but N^1.5 by the third decade (measured 51× at
    // 500k → 5M — an exact argmin over √K sub-centroids per row
    // cannot do better, and a deeper exact tree needs data-dependent
    // CTE depth no static oracle can express). The production answer
    // past that point is APPROXIMATE fine assignment: keep the
    // learned coarse quantizer (the K1 = 8 two-Lloyd chain
    // e_kmeans_train grades — the semantic half), then refine WITHIN
    // each cell by hyperplane-bucketing the residual to
    // b = ⌈log2(K/K1)⌉ bits, K = max(8, N/c̄) from the footer count.
    // b rides as a SCALAR (a modulus over a fixed 16-bit code), so
    // the one static oracle string self-scales to ANY depth — the
    // trick the exact tree cannot pull. Assignment is
    // O(N·(K1 + 16)·d) — linear in N, zero corpus shuffle — and the
    // per-cluster pair term stays N·c̄. Fine clusters are learned-
    // coarse × locality-refined (residual LSH): coarser semantics
    // than pure k-means inside a cell, the standard trade when exact
    // sub-clustering is off the table; both graded forms keep the
    // min-id/0.40-cosine semantics, so the knob is WHERE candidates
    // are confined, never what counts as a duplicate. HONEST
    // CALIBRATION (the recall-grading convention): finer confinement
    // misses cross-bucket near-dups — at sf0.1 this form drops 109
    // of the exact hierarchy's 178 (61% of the pair mass; the
    // fixed-K=8 fixture drops 213, coarser K catching more). The
    // production recall knob is multi-probe over neighboring buckets
    // (the e_ann_recall Hamming-1 construction), paid only within
    // the cell.
    Q("e_semdedup_bucketed",
      (s, d) => {
        val (fine, _) = semdedupFine(s, d)
        val drop = semdedupProbedDrop(fine, Seq(0L))
        fine.select(col("vec_id")).join(drop, Seq("vec_id"), "left_anti")
      },
      Some(s"""${semdedupBucketedCtes("")},
              |${semdedupProbedDropSql("", 0, "sdropped", withMasks = true)}
              |SELECT vec_id FROM embeddings
              |WHERE vec_id NOT IN (SELECT vec_id FROM sdropped)""".stripMargin)),

    // SemDeDup with the RECALL KNOB ON — the production 100 TB form:
    // the linear bucketed confinement above trades recall for cost
    // (finer buckets miss cross-bucket near-dups; measured 61% of the
    // exact hierarchy's pair mass at sf0.1 with radius 0), and
    // MULTI-PROBE buys it back the way IVF serving does (the
    // e_ann_recall/e_ivfpq_probe2 construction applied to the dedup
    // pair join): side A probes every residual bucket within Hamming
    // radius 1 of its own — b+1 probe rows per vector, a log-factor
    // cost rider, the pair join still (cell, bucket)-equi-confined,
    // NEVER within-cell all-pairs. Radius is the graded knob: the
    // oracle enumerates the same mask set from the same self-scaling
    // b, so both engines confine identically; recall-vs-cost across
    // radii is graded as e_semdedup_recall_curve below and pinned in
    // ApproxSpec (sf0.1: radius 0 recovers 109/178 of the exact
    // hierarchy's drops, radius 1 recovers measurably more at ~b+1x
    // the pair-probe rows). Same min-id / 0.40-quantized-cosine
    // semantics as every other form — the knob moves WHERE candidates
    // are confined, never what counts as a duplicate.
    Q("e_semdedup_probed",
      (s, d) => {
        val (fine, b) = semdedupFine(s, d)
        val drop = semdedupProbedDrop(fine, hammingMasks(b, 1))
        fine.select(col("vec_id")).join(drop, Seq("vec_id"), "left_anti")
      },
      Some(s"""${semdedupBucketedCtes("")},
              |${semdedupProbedDropSql("", 1, "sdropped", withMasks = true)}
              |SELECT vec_id FROM embeddings
              |WHERE vec_id NOT IN (SELECT vec_id FROM sdropped)""".stripMargin)),

    // the recall-vs-cost CURVE, graded: one row per probe radius
    // r ∈ {0,1,2} — how many docs that confinement drops (n_dropped)
    // and how many of those the EXACT K ∝ N hierarchy also drops
    // (overlap_exact — recall of the linear form against the
    // N^1.5-at-x1000 ground truth it replaces), plus the exact
    // hierarchy's own row as the denominator. Every count is
    // deterministic (quantized cosines, equi-confined candidates), so
    // the whole curve is hash-graded — the b/probes trade a 100 TB
    // deployment sets its knobs by is a measured artifact, not prose.
    // The oracle splices BOTH quantizer chains (the x-prefixed exact
    // hierarchy + the bucketed assignment) into one statement; the
    // probe masks enumerate from the same self-scaling b on both
    // sides. Scale note: this query embeds the exact hierarchy as
    // ground truth, so it inherits that fixture's wall — the
    // production query is e_semdedup_probed; this one GRADES its
    // recall (the fixture-scale registry annotation marks it).
    Q("e_semdedup_recall_curve",
      (s, d) => {
        val (fine, b) = semdedupFine(s, d)
        val exact = graft.Caches.checkpointed(semdedupExact(s, d)._2)
        val exRow = exact.agg(count(lit(1)).as("n_dropped"))
          .select(lit("exact_hier").as("method"), lit(-1L).as("radius"),
            col("n_dropped"), col("n_dropped").as("overlap_exact"))
        // one pass per radius: left-join the distinct exact drop list
        // and count rows/hits in the same aggregate (no per-arm
        // persist, no second aggregation — the semdedupOpqDiag stats
        // shape; values identical, `exact` is DISTINCT vec_ids)
        val arms = Seq(0, 1, 2).map { r =>
          semdedupProbedDrop(fine, hammingMasks(b, r))
            .join(exact.withColumn("_hit", lit(1)), Seq("vec_id"), "left")
            .agg(count(lit(1)).as("n_dropped"),
              count(col("_hit")).as("overlap_exact"))
            .select(lit(s"probe$r").as("method"), lit(r.toLong).as("radius"),
              col("n_dropped"), col("overlap_exact"))
        }
        (exRow +: arms).reduce(_ unionAll _)
      },
      Some {
        val drops = Seq(0, 1, 2).map(r =>
          semdedupProbedDropSql("", r, s"dr$r", withMasks = r == 0))
          .mkString(",\n")
        s"""${semdedupExactCtes("x")},
           |${semdedupBucketedCtes("").stripPrefix("WITH ")},
           |$drops
           |SELECT 'exact_hier' AS method, CAST(-1 AS BIGINT) AS radius,
           |  (SELECT count(*) FROM xxdrop) AS n_dropped,
           |  (SELECT count(*) FROM xxdrop) AS overlap_exact
           |${Seq(0, 1, 2).map(r =>
              s"""UNION ALL SELECT 'probe$r', $r,
                 |  (SELECT count(*) FROM dr$r),
                 |  (SELECT count(*) FROM dr$r WHERE vec_id IN (SELECT vec_id FROM xxdrop))"""
                .stripMargin).mkString("\n")}""".stripMargin
      },
      // embeds the exact hierarchy as recall ground truth, so it
      // inherits its wall; the production query it calibrates
      // (e_semdedup_probed) is linear at every decade
      scale = "fixture@x100"),

    // SemDeDup with an OPQ-LEARNED residual basis — the r19 advisor
    // construction: the residual hyperplane split above is
    // data-INDEPENDENT (md5 ±1 planes), so its b bits can waste
    // discrimination on low-variance directions; rotating the
    // within-cell residuals by the OPQ refinement (Pq.opqRefine,
    // identity start, one Lloyd+Procrustes round — the e_opq_refined
    // machinery pointed at the residual frame) aligns the bits to
    // learned axes BEFORE bucketing, at the same cost class (the
    // rotation is one scan-stage graft_matvec; training is the
    // bounded dim² driver solve). Grading follows the e_opq_refined
    // sketch contract — the rotation is an SVD product with no DuckDB
    // twin, so rotation-dependent VALUES stay out of the hash: the
    // graded row carries the unrotated counts (SQL-mirrored exactly,
    // the recall-curve fragments) plus the booleans the construction
    // guarantees (qerr monotone within snap slack, R orthogonal) and
    // the measured recall floor; exact rotated numbers are pinned in
    // ApproxSpec.
    Q("e_semdedup_opq",
      (s, d) => semdedupOpqDiag(s, d)
        .select(col("method"),
          col("n_dropped_unrot"), col("overlap_unrot"),
          col("qerr_improved"), col("orthogonal"),
          // measured: sf0.1 rotated overlap 57 vs unrotated 49 at
          // the same b — the learned basis strictly dominates at
          // every graded SF (equal where b = 0, where a rotation
          // cannot move the single bucket); exact rotated counts
          // (nd_r/ov_r on the diag frame) are pinned in ApproxSpec
          // (sketch contract: SVD-derived values stay out of the hash)
          (col("ov_r") >= col("overlap_unrot")).as("recall_lift")),
      Some {
        s"""${semdedupExactCtes("x")},
           |${semdedupBucketedCtes("").stripPrefix("WITH ")},
           |${semdedupProbedDropSql("", 0, "dr0", withMasks = true)}
           |SELECT 'bucketed_opq' AS method,
           |  (SELECT count(*) FROM dr0) AS n_dropped_unrot,
           |  (SELECT count(*) FROM dr0 WHERE vec_id IN (SELECT vec_id FROM xxdrop))
           |    AS overlap_unrot,
           |  TRUE AS qerr_improved, TRUE AS orthogonal, TRUE AS recall_lift""".stripMargin
      },
      // same exact-hierarchy ground truth as e_semdedup_recall_curve
      scale = "fixture@x100"),

    // the TWO recall knobs COMPOSED — learned basis x multi-probe:
    // the r19 surface graded each independently (e_semdedup_probed
    // buys cross-bucket recall with Hamming-radius probes;
    // e_semdedup_opq aligns the b bits to learned residual axes);
    // a deployment chasing a recall target uses BOTH, and they
    // compose orthogonally — the probe masks XOR the bucket CODE,
    // which is basis-agnostic, so radius-1 probing of the rotated
    // buckets is the same (cell, bucket)-equi-confined join at the
    // same (b+1) probe-row rider. Grading follows the e_semdedup_opq
    // sketch contract: the UNROTATED radius-1 counts are
    // SQL-mirrored exactly (the e_semdedup_probed oracle fragments),
    // rotation-dependent values stay out of the hash as asserted
    // booleans (recall_lift = rotated radius-1 overlap >= unrotated
    // radius-1 overlap — equality where b = 0, where a rotation
    // cannot move the single bucket), and the exact rotated counts
    // are pinned in ApproxSpec. sf0.1 ground truth (exact drops
    // 178): unrotated r1 112, and the rotated basis lifts it — the
    // composed knob recovers more than either alone (probe-only 112,
    // rotate-only 57).
    Q("e_semdedup_opq_probed",
      (s, d) => semdedupOpqDiag(s, d, radius = 1)
        .select(col("method"),
          col("n_dropped_unrot"), col("overlap_unrot"),
          col("qerr_improved"), col("orthogonal"),
          (col("ov_r") >= col("overlap_unrot")).as("recall_lift")),
      Some {
        s"""${semdedupExactCtes("x")},
           |${semdedupBucketedCtes("").stripPrefix("WITH ")},
           |${semdedupProbedDropSql("", 1, "dr1", withMasks = true)}
           |SELECT 'opq_probed_r1' AS method,
           |  (SELECT count(*) FROM dr1) AS n_dropped_unrot,
           |  (SELECT count(*) FROM dr1 WHERE vec_id IN (SELECT vec_id FROM xxdrop))
           |    AS overlap_unrot,
           |  TRUE AS qerr_improved, TRUE AS orthogonal, TRUE AS recall_lift""".stripMargin
      },
      // same exact-hierarchy ground truth as e_semdedup_recall_curve
      scale = "fixture@x100"),

    // SemDeDup SERVED from the persisted store — the incremental
    // 100 TB shape (what d_delta_index_keep is to exact/MinHash
    // dedup, this is to semantic dedup): the lake's embeddings are
    // clustered + residual-bucketed ONCE (ops/SemDedupStore: trained
    // coarse quantizer persisted as the one folded centroid row,
    // per-vector (cell, fb, ve) codes, b frozen in meta), and each
    // crawl batch asks "which of MY vectors are near-dups of
    // something stored?" via the broadcast-the-DELTA probe — the
    // store scanned once, never shuffled, the delta side exploded to
    // its Hamming-radius-1 probe buckets (the multi-probe radius is
    // deltaKeep's first-class serving knob, priced by the graded
    // recall curve). Store built once per corpus fingerprint
    // (marker-skipped after — min-time benches measure the serving
    // probe). The oracle replays BOTH sides: the two-Lloyd chain
    // trained on the same lake slice (kmeansCtesK's src seam), the
    // same frozen b from the slice's count, the same mask set, the
    // same 0.40-quantized-cosine refine — kept = delta minus the
    // probed drop set, hash-graded end to end.
    Q("e_semdedup_served",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val base = emb.where(col("vec_id") % 10 =!= 9)
        val delta = emb.where(col("vec_id") % 10 === 9)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-semdd-${storeKey(d)}"
        graft.ops.SemDedupStore.buildIfAbsent(s, base, dir,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(
            s, s"$d/embeddings.parquet"))
        graft.ops.SemDedupStore.deltaKeep(s, delta, dir, radius = 1)
          .select(col("vec_id"))
      },
      Some {
        val baseSrc = "(SELECT * FROM embeddings WHERE vec_id % 10 <> 9)"
        val kS = s"CAST(GREATEST(8, count(*) // $SemDedupCbar) AS DOUBLE)"
        val bS = s"GREATEST(0, CAST(ceil(log2($kS / $IvfK)) AS INT))"
        s"""${kmeansCtesK(2, IvfK.toString, "v", src = baseSrc)},
           |vkb AS (SELECT $bS AS b, CAST(pow(2, $bS) AS BIGINT) AS mm FROM ve0),
           |vaf AS (${kmeansAssignSql(2, "v")}),
           |vafr AS (SELECT af.vec_id, af.ve, af.cell,
           |          list_transform(range(1, ${Dim + 1}), i -> af.ve[i] - c.cv[i]) AS rv
           |        FROM vaf af JOIN vc2 c ON c.cell = af.cell),
           |vfa AS (SELECT vec_id, ve, cell,
           |         ${bucketSql("rv", 16)} % (SELECT mm FROM vkb) AS fb
           |       FROM vafr),
           |vde AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
           |        FROM embeddings WHERE vec_id % 10 = 9),
           |vda AS (SELECT vec_id, ve, cell FROM (
           |    SELECT de.vec_id, de.ve, c.cell,
           |      row_number() OVER (PARTITION BY de.vec_id ORDER BY
           |        ${qroundSql(d2S("de.ve", "c.cv", Dim), 6)} ASC, c.cell ASC) AS rn
           |    FROM vde de, vc2 c) WHERE rn = 1),
           |vdfr AS (SELECT da.vec_id, da.ve, da.cell,
           |          list_transform(range(1, ${Dim + 1}), i -> da.ve[i] - c.cv[i]) AS rv
           |        FROM vda da JOIN vc2 c ON c.cell = da.cell),
           |vdfa AS (SELECT vec_id, ve, cell,
           |          ${bucketSql("rv", 16)} % (SELECT mm FROM vkb) AS fb
           |        FROM vdfr),
           |vpm AS (SELECT m, bit_count(m) AS pc
           |        FROM (SELECT unnest(range(0, (SELECT mm FROM vkb))) AS m)),
           |vdrop AS (SELECT DISTINCT d.vec_id
           |          FROM vdfa d JOIN vpm p ON p.pc <= 1
           |          JOIN vfa s ON s.cell = d.cell AND s.fb = xor(d.fb, p.m)
           |          WHERE (floor((${cosSql("d.ve", "s.ve")}) * 1000000 + 0.5e0)
           |                 / 1000000.0e0) >= 0.40)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id % 10 = 9
           |  AND vec_id NOT IN (SELECT vec_id FROM vdrop)""".stripMargin
      }, build = true),

    // PRODUCT QUANTIZATION + asymmetric distance (Jégou et al. 2011):
    // the embedding-COMPRESSION path of a 100 TB vector store. The
    // 64-dim vector splits into M=8 subspaces of 8 dims; each
    // subvector is replaced by the id of its nearest codeword among
    // Ks=16 per-subspace centroids (the subvectors of vec_ids 1..16 —
    // deterministic, training-free, same convention as the IVF
    // centroids), so a vector stores as 8 small codes (8 bytes at
    // 4 bits/code headroom) instead of 64 doubles — a 64x memory cut,
    // which is what makes billion-vector search RAM-resident. Search
    // is ADC: the QUERY stays exact, distances are looked up per
    // subspace against the DECODED codeword and summed. Plan shape:
    // the 128-row codebook folds to ONE sorted-array row and
    // broadcasts; encode + ADC are per-row higher-order-function work
    // in the SCAN stage (no shuffle touches the corpus — at 100 TB
    // the encode is a map over the lake); top-10 is
    // TakeOrderedAndProject, never a global sort. Everything is
    // 1e-6-quantized BEFORE every argmin/sum so both engines pick
    // identical codes and identical top-10 (vec_id tie-break).
    Q("e_pq_adc",
      (s, d) => pqScored(s, d)
        .select(col("vec_id"), col("code"), col("ad2"))
        .orderBy(col("ad2").asc, col("vec_id").asc).limit(10),
      Some(s"""${pqSqlCtes()}
              |SELECT vec_id, code, ad2 FROM ad
              |ORDER BY ad2 ASC, vec_id ASC LIMIT 10""".stripMargin)),

    // PQ quality, graded: recall@10 of the ADC ranking vs the exact
    // squared-L2 top-10 over the raw vectors. Unlike the LSH/IVF
    // recall arms there is NO candidate-mass effect — ADC ranks the
    // WHOLE corpus through its quantized codes — so `hits` measures
    // pure quantization distortion of the 16-codeword-per-subspace
    // codebook. Honest calibration: on this ISOTROPIC corpus an
    // untrained 16-codeword codebook is crude (real deployments train
    // 256/subspace with k-means — the Lloyd machinery e_ivf_train
    // grades), so measured recall is 1-2/10 across sf0.001-0.1; the
    // bound of 1 still rejects collapse decisively, since a RANDOM
    // ranking's expected hits is 100/N ~ 0.02-0.2 here (P(hits>=1)
    // <~ 0.2 at sf0.001 and falls with N). Both top-10 sets are
    // deterministic (quantized keys + vec_id tie-break); hits is
    // hash-graded exactly and ApproxSpec pins the measured value.
    Q("e_pq_recall",
      (s, d) => {
        // ONE scan computes the codes once and feeds BOTH top-10s
        // through the bounded graft_bottom_k aggregate (<=10-row
        // partial state, map-side combined, no sort anywhere) — vs
        // two orderBy+limit branches that would each re-run the
        // 128-codeword encode over the corpus
        def ids(c: Column): Column = transform(c, x => x.getField("vec_id"))
        pqScored(s, d)
          .agg(
            call_function("graft_bottom_k",
              struct(col("ad2"), col("vec_id")), lit(10)).as("ap"),
            call_function("graft_bottom_k",
              struct(col("ed2"), col("vec_id")), lit(10)).as("ex"))
          .select(lit("pq_adc").as("method"), lit(10).as("k"),
            size(array_intersect(ids(col("ap")), ids(col("ex"))))
              .cast("long").as("hits"))
          .withColumn("within_bound", col("hits") >= PqRecallBound)
      },
      Some(s"""${pqSqlCtes()},
              |ex AS (SELECT vec_id FROM ad ORDER BY ed2 ASC, vec_id ASC LIMIT 10),
              |ap AS (SELECT vec_id FROM ad ORDER BY ad2 ASC, vec_id ASC LIMIT 10)
              |SELECT 'pq_adc' AS method, 10 AS k,
              |  (SELECT count(*) FROM ap WHERE vec_id IN (SELECT vec_id FROM ex)) AS hits,
              |  TRUE AS within_bound""".stripMargin)),

    // PQ under PLANTED cluster structure — the anisotropic complement
    // to e_pq_recall, same corpus synthesis as e_ann_recall_planted
    // (center(vec_id % 16 + 1) + 0.15 * own embedding, all in-plan so
    // both engines derive identical doubles). What PQ actually
    // guarantees shows up sharply here: every same-cluster vector
    // quantizes to (nearly) the SAME codes, so ADC collapses the
    // WITHIN-cluster ranking — plain recall@10 would measure which
    // cluster members win the vec_id tie-break, i.e. noise (measured
    // 3/10, the hypergeometric overlap of "10 smallest ids" with "10
    // closest perturbations"). The meaningful graded metric is
    // CLUSTER PURITY: how many of the ADC top-10 lie in the query's
    // true cluster (ids ≡ 0 mod 16). 10/10 = inter-cluster geometry
    // survives 64x compression intact — PQ's real claim — vs the
    // 1/10 isotropic distortion floor e_pq_recall pins. ApproxSpec
    // pins both numbers side by side.
    Q("e_pq_recall_planted",
      (s, d) => {
        val C = 16
        val base = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val ctr = base.where(col("vec_id").between(1, C))
          .select(col("vec_id").as("center_id"), col("ve").as("cve"))
        val planted = base.join(broadcast(ctr),
            col("center_id") === col("vec_id") % C + 1)
          .select(col("vec_id"),
            zip_with(col("cve"), col("ve"), (c, e) => c + lit(0.15) * e).as("ve"))
        pqScoredOn(planted)
          .agg(call_function("graft_bottom_k",
            struct(col("ad2"), col("vec_id")), lit(10)).as("ap"))
          .select(lit("pq_adc_cluster").as("method"), lit(10).as("k"),
            size(filter(transform(col("ap"), x => x.getField("vec_id")),
              id => id % C === 0)).cast("long").as("hits"))
          .withColumn("within_bound", col("hits") >= PqPlantedBound)
      },
      Some {
        val plantedE =
          s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |ctr AS (SELECT vec_id AS center_id, ve AS cve FROM e0 WHERE vec_id BETWEEN 1 AND 16),
             |e AS (SELECT e0.vec_id,
             |        list_transform(range(1, ${Dim + 1}),
             |          i -> ctr.cve[i] + 0.15e0 * e0.ve[i]) AS ve
             |      FROM e0 JOIN ctr ON ctr.center_id = e0.vec_id % 16 + 1)""".stripMargin
        s"""${pqSqlCtes(plantedE)},
           |ap AS (SELECT vec_id FROM ad ORDER BY ad2 ASC, vec_id ASC LIMIT 10)
           |SELECT 'pq_adc_cluster' AS method, 10 AS k,
           |  (SELECT count(*) FROM ap WHERE vec_id % 16 = 0) AS hits,
           |  TRUE AS within_bound""".stripMargin
      }),

    // OPQ on the PLANTED corpus — the recall measurement the
    // isotropic e_opq_indexed pins cannot make: with real cluster
    // structure (the e_pq_recall_planted synthesis) the top-10 is
    // meaningful, so PQ-vs-OPQ recall actually discriminates. Two
    // arms over the SAME planted corpus: seed-codebook PQ (the
    // oracle-replayed hits_pq — identical to e_pq_recall_planted's
    // number by construction) and OPQ refined from IDENTITY (one
    // alternation round — the pure refinement effect, no panel
    // pre-rotation), scored with the refinement's own Lloyd-trained
    // codebook in the refined basis. The OPQ hit count has no SQL
    // twin (SVD), so it stays out of the hash; the graded boolean
    // asserts OPQ meets the same planted recall floor, and the exact
    // per-SF values are pinned in ApproxSpec.
    Q("e_opq_recall_planted",
      (s, d) => {
        val C = 16
        val base = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val ctr = base.where(col("vec_id").between(1, C))
          .select(col("vec_id").as("center_id"), col("ve").as("cve"))
        // feeds the identity arm, the refinement, and the rotated arm —
        // harness-owned release (graft.Caches)
        // ownedLazy: opqRefine's first Lloyd aggregate consumes
        // planted serially before the two scored arms' shared action
        val planted = graft.Caches.ownedLazy(base.join(broadcast(ctr),
            col("center_id") === col("vec_id") % C + 1)
          .select(col("vec_id"),
            zip_with(col("cve"), col("ve"), (c, e) => c + lit(0.15) * e).as("ve")))
        def clusterHits(scored: org.apache.spark.sql.DataFrame, as: String) =
          scored.agg(call_function("graft_bottom_k",
              struct(col("ad2"), col("vec_id")), lit(10)).as("ap"))
            .select(size(filter(transform(col("ap"), x => x.getField("vec_id")),
              id => id % C === 0)).cast("long").as(as))
        val hitsPq = clusterHits(pqScoredOn(planted), "hits_pq")
        val id64 = Array.tabulate(Dim, Dim)((i, j) => if (i == j) 1.0 else 0.0)
        val (r, cb, _) = graft.ops.Pq.opqRefine(planted, id64, P, rounds = 1)
        val rotAll = graft.ops.Pq.rotatedBy(planted, r, P)
        val qRot = rotAll.where(col("vec_id") === 0).select(col("ve").as("qv"))
        val hitsOpq = clusterHits(
          graft.ops.Pq.scoredQ(rotAll.crossJoin(broadcast(qRot)), cb, P), "hits_opq")
        hitsPq.crossJoin(broadcast(hitsOpq))
          .select(lit("opq_pq_cluster").as("method"), lit(10).as("k"),
            col("hits_pq"),
            (col("hits_opq") >= PqPlantedBound).as("within_bound"))
      },
      Some {
        val plantedE =
          s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |ctr AS (SELECT vec_id AS center_id, ve AS cve FROM e0 WHERE vec_id BETWEEN 1 AND 16),
             |e AS (SELECT e0.vec_id,
             |        list_transform(range(1, ${Dim + 1}),
             |          i -> ctr.cve[i] + 0.15e0 * e0.ve[i]) AS ve
             |      FROM e0 JOIN ctr ON ctr.center_id = e0.vec_id % 16 + 1)""".stripMargin
        s"""${pqSqlCtes(plantedE)},
           |ap AS (SELECT vec_id FROM ad ORDER BY ad2 ASC, vec_id ASC LIMIT 10)
           |SELECT 'opq_pq_cluster' AS method, 10 AS k,
           |  (SELECT count(*) FROM ap WHERE vec_id % 16 = 0) AS hits_pq,
           |  TRUE AS within_bound""".stripMargin
      }),

    // BINARY quantization + Hamming-shortlist + exact rerank — the
    // third compression point alongside PQ (e_pq_adc) and IVFADC:
    // each vector compresses to a 16-bit sign code (one hyperplane
    // projection per bit — 4x smaller than the 8-byte PQ codes, 256x
    // smaller than the raw 64-double vector), the
    // shortlist keeps only candidates within Hamming radius 5 of the
    // query's code (bit_count(xor), ~1% of an uncorrelated corpus —
    // the filter is scan-stage integer work over the broadcast query
    // code), and the survivors rerank by EXACT quantized cosine.
    // This is the memory/recall trade every binary-embedding store
    // (sign-ALSH, ITQ-style) makes: cheap integer prefilter, exact
    // math only on the shortlist. Top-10 is TakeOrderedAndProject.
    Q("e_bq_rerank",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            vectors.hyperplaneBucket(col("embedding"), BqBits, Dim).as("code"))
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("code").as("qcode"))
        emb.crossJoin(broadcast(q))
          .where(col("vec_id") =!= 0)
          .withColumn("hd", bit_count(col("code").bitwiseXOR(col("qcode"))))
          .where(col("hd") <= BqRadius)
          .select(col("vec_id"), col("hd").cast("long").as("hd"),
            qround(vectors.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
              |            ${bucketSql("CAST(embedding AS DOUBLE[])", BqBits)} AS code
              |          FROM embeddings),
              |q AS (SELECT ve AS qv, code AS qcode FROM e WHERE vec_id = 0)
              |SELECT vec_id, bit_count(xor(code, qcode)) AS hd,
              |  ${qroundSql(cosSql("ve", "qv"), 6)} AS cos
              |FROM e, q
              |WHERE vec_id <> 0 AND bit_count(xor(code, qcode)) <= $BqRadius
              |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin)),

    // SCALAR quantization (SQ8) + ADC — the fourth compression point
    // (faiss's SQ family, between BQ's 2 bytes and PQ's 8): each
    // dimension stores as one byte against a per-dim [min,max] range
    // trained in ONE corpus aggregate (64 mins + 64 maxs fold to a
    // single row — broadcast, same shape as the PQ codebook row), so
    // a 64-double vector becomes 64 bytes (8x) with NO codebook
    // training and distances computed against the DEQUANTIZED codes.
    // Scale shape: train = one map-side-combined agg to one row;
    // encode + ADC are scan-stage transforms over the broadcast
    // ranges; top-10 is TakeOrderedAndProject. The floor-quantized
    // codes and the left-to-right fold make both engines bit-agree.
    Q("e_sq8_adc",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val corpus = emb.where(col("vec_id") =!= 0)
        val mmRow = corpus.agg(
          array((0 until Dim).map(i => min(element_at(col("ve"), i + 1))): _*).as("mns"),
          array((0 until Dim).map(i => max(element_at(col("ve"), i + 1))): _*).as("mxs"))
        val q = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
        val dq = corpus.crossJoin(broadcast(mmRow)).crossJoin(broadcast(q))
          .withColumn("code", transform(col("ve"), (x, i) => {
            val mn = element_at(col("mns"), i + 1)
            val mx = element_at(col("mxs"), i + 1)
            least(lit(255L), floor((x - mn) * lit(255.0) / (mx - mn)))
          }))
          .withColumn("dq", transform(col("code"), (c, i) => {
            val mn = element_at(col("mns"), i + 1)
            val mx = element_at(col("mxs"), i + 1)
            mn + c.cast("double") * (mx - mn) / lit(255.0)
          }))
        dq.select(col("vec_id"),
            array_join(transform(col("code"), _.cast("string")), ",").as("codes"),
            qround(graft.ops.Pq.d2(col("dq"), col("qv")), 6).as("ad2"))
          .orderBy(col("ad2").asc, col("vec_id").asc).limit(10)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
              |mm AS (SELECT i, min(ve[i]) AS mn, max(ve[i]) AS mx
              |       FROM e, range(1, ${Dim + 1}) t(i) WHERE vec_id <> 0 GROUP BY i),
              |mr AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
              |q AS (SELECT ve AS qv FROM e WHERE vec_id = 0),
              |enc AS (SELECT vec_id, ve,
              |         list_transform(range(1, ${Dim + 1}), i ->
              |           LEAST(255, CAST(FLOOR((ve[i] - mns[i]) * 255e0 / (mxs[i] - mns[i])) AS BIGINT))) AS code
              |       FROM e, mr WHERE vec_id <> 0),
              |ad AS (SELECT vec_id, code,
              |         list_sum(list_transform(range(1, ${Dim + 1}), i ->
              |           (mns[i] + code[i] * (mxs[i] - mns[i]) / 255e0 - qv[i])
              |           * (mns[i] + code[i] * (mxs[i] - mns[i]) / 255e0 - qv[i]))) AS ad2
              |       FROM enc, mr, q)
              |SELECT vec_id, array_to_string(code, ',') AS codes,
              |  ${qroundSql("ad2", 6)} AS ad2
              |FROM ad ORDER BY ad2 ASC, vec_id ASC LIMIT 10""".stripMargin)),

    // IVF + PQ-on-RESIDUALS (IVFADC, Jégou et al. 2011 §III) — the
    // composed billion-vector search shape: a coarse IVF quantizer
    // (8 full-dim centroids, e_ivf_ann's convention) splits the
    // corpus into cells, PQ encodes each vector's RESIDUAL from its
    // cell centroid (residuals are smaller and better-centered than
    // raw vectors — the compression works harder), and search runs
    // ADC with the QUERY's residual against same-cell candidates
    // only. Composition is pure reuse: the residual frame feeds the
    // SAME pqScoredOn/pqSqlCtes machinery via the eDef seam, so the
    // encode/ADC definitions cannot fork from the flat-PQ queries.
    // Scale shape: assignment is a broadcast argmin, residuals are
    // per-row map work, the cell filter confines the final top-10 to
    // 1/K of the corpus, and everything before TakeOrderedAndProject
    // stays in the scan stage.
    Q("e_ivfpq_adc", (s, d) => ivfpqTop10(s, d, nprobe = 1),
      Some(ivfpqSql(nprobe = 1))),

    // multi-probe IVFADC — the standard recall knob: search the
    // query's TWO nearest cells instead of one (the sorted (d2, cell)
    // prefix of the folded centroid row picks the probe list
    // deterministically; same machinery, the candidate set doubles
    // to 2/K of the corpus). Faithful to Jegou et al. 2011 §III:
    // candidates in each probed cell score against the query residual
    // w.r.t. THAT cell's centroid (per-cell qv via element_at on the
    // broadcast residual array), so cross-cell ADC distances are
    // commensurable — not a single shared residual, which would skew
    // second-cell rankings by the inter-centroid offset. nprobe
    // trades scan work for recall without touching the index — at
    // 100 TB you tune it per query class, which is why it shares
    // every stage with e_ivfpq_adc through ivfpqTop10/ivfpqSql.
    Q("e_ivfpq_probe2", (s, d) => ivfpqTop10(s, d, nprobe = 2),
      Some(ivfpqSql(nprobe = 2))),

    // MATERIALIZED IVFADC index — the serving shape the in-plan
    // queries deliberately don't have: ops.AnnIndex.build encodes the
    // corpus ONCE into (vec_id, codes) parquet PARTITIONED BY cell
    // (plus a one-row meta table with centroids + codebook), and
    // search reads ONLY the probe-cell partitions (the probe list is
    // a literal IN, so pruning is static — PlanSpec pins the
    // PartitionFilters) and ranks by ADC off a precomputed distance
    // table. Same quantization as the in-plan path end to end, so the
    // oracle is ivfpqSql(1) verbatim — the graded proof that the
    // persisted index returns bit-identical (code, ad2) to
    // e_ivfpq_adc while scanning 1/K of the data at query time.
    Q("e_ivfpq_indexed",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-${storeKey(d)}"
        // Build-once/search-many: the first call over a corpus pays
        // the encode; every later call (bench repeats, repeated user
        // queries) is fingerprint-checked and pays SEARCH only — the
        // serving contract this query exists to demonstrate. The
        // fingerprint is the O(#files) table form, so the check cost
        // is independent of corpus size.
        graft.ops.AnnIndex.buildIfAbsent(s, emb.where(col("vec_id") =!= 0), dir, IvfK, P,
          fingerprint = Some(graft.ops.AnnIndex.tableFingerprint(s, s"$d/embeddings.parquet")))
        graft.ops.AnnIndex.search(s, dir,
          emb.where(col("vec_id") === 0).select(col("ve").as("qv")),
          nprobe = 1, limit = 10, p = P)
      },
      Some(ivfpqSql(nprobe = 1)), build = true),

    // the FRESH-SERVING primitive graded: AnnIndex.searchBatch is
    // what serveStream runs per micro-batch — multi-query capable,
    // store resolved AT CALL TIME (current codes version, current
    // tombstones), probe cells collected as a literal for partition
    // pruning. Hash-pinned here against the same IVFADC oracle as
    // e_ivfpq_indexed (single query row, the shared store), with the
    // serving frame's (query_id, rk) shape — so the batch-serving
    // path and the one-shot search path cannot fork arithmetically.
    // Multi-query parity (a batch == its per-query searches) and
    // freshness under takedown/append/compact are spec-pinned in
    // VersionedStoreSpec.
    Q("e_ann_serve_batch",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-${storeKey(d)}"
        graft.ops.AnnIndex.buildIfAbsent(s, emb.where(col("vec_id") =!= 0), dir, IvfK, P,
          fingerprint = Some(graft.ops.AnnIndex.tableFingerprint(s, s"$d/embeddings.parquet")))
        graft.ops.AnnIndex.searchBatch(s, dir = dir,
          queries = emb.where(col("vec_id") === 0)
            .select(lit(0L).as("query_id"), col("ve").as("qv")),
          nprobe = 1, limit = 10, p = P)
      },
      Some(s"""WITH body AS (${ivfpqSql(nprobe = 1)})
              |SELECT CAST(0 AS BIGINT) AS query_id,
              |  CAST(row_number() OVER (ORDER BY ad2 ASC, vec_id ASC) AS BIGINT) AS rk,
              |  vec_id, ad2
              |FROM body""".stripMargin), build = true),

    // INCREMENTAL index maintenance — the other half of the serving
    // story: build the persisted index over MOST of the corpus, then
    // AnnIndex.append the held-out delta (every 10th vec_id past the
    // quantizer seeds) encoded against the PERSISTED centroids +
    // codebook — nothing re-derived, one delta-sized scan. Because
    // the quantizers are frozen at build time, the appended index is
    // bit-identical to a one-shot full build, which is exactly what
    // the shared e_ivfpq_adc oracle grades. At 100 TB this is the
    // difference between absorbing a day's vectors with a delta scan
    // and re-encoding the lake.
    Q("e_ivfpq_appended",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val corpus = emb.where(col("vec_id") =!= 0)
        // delta misses the vec_id 1..K / 1..Ks quantizer seeds by
        // construction, so base derives the same centroids/codebook
        // as the full corpus would
        val isDelta = col("vec_id") % 10 === 7 && col("vec_id") > PqKs
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-app-${storeKey(d)}"
        graft.ops.AnnIndex.buildAppendIfAbsent(s,
          corpus.where(!isDelta), corpus.where(isDelta), dir, IvfK, P,
          fingerprint = Some(graft.ops.AnnIndex.tableFingerprint(s, s"$d/embeddings.parquet")))
        graft.ops.AnnIndex.search(s, dir,
          emb.where(col("vec_id") === 0).select(col("ve").as("qv")),
          nprobe = 1, limit = 10, p = P)
      },
      Some(ivfpqSql(nprobe = 1)), build = true),

    // TAKEDOWN — the index's erasure verb graded end to end: build
    // the persisted index, tombstone the vec_id % 7 == 3 slice
    // (AnnIndex.takedown — one takedown-sized append, codes
    // untouched), and search. The tombstoned vectors leave the
    // top-10 as if never indexed, with the quantizers unchanged
    // (they were trained WITH the erased vectors — the frozen-
    // quantizer semantics every append already has, so erasure costs
    // a tombstone, not a re-encode of the lake). The oracle is the
    // standard IVFADC replay with the same slice filtered before the
    // top-10; AnnSpec pins tombstone-probe == compacted-store
    // parity separately.
    Q("e_ann_takedown",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-td-${storeKey(d)}"
        graft.ops.AnnIndex.buildTakedownIfAbsent(s,
          emb.where(col("vec_id") =!= 0),
          emb.where(col("vec_id") % 7 === 3).select(col("vec_id")),
          dir, IvfK, P,
          fingerprint = graft.ops.AnnIndex.tableFingerprint(s,
            s"$d/embeddings.parquet") + "|td=mod7eq3")
        graft.ops.AnnIndex.search(s, dir,
          emb.where(col("vec_id") === 0).select(col("ve").as("qv")),
          nprobe = 1, limit = 10, p = P)
      },
      Some(ivfpqSql(nprobe = 1, excludePred = "vec_id % 7 <> 3")), build = true),

    // FILTERED search — the metadata-predicate serving shape every
    // production vector store needs ("top-k among docs matching
    // lang='en'"): an allow-list of vec_ids semi-joins onto the
    // partition-pruned candidate scan, so only matching vectors rank.
    // Post-filtering semantics (the filter shrinks the probed cells'
    // pool; a selective filter wants a higher nprobe — stated on the
    // API, not hidden); the allow-list join is planner-chosen like
    // the tombstone join, so request-sized filters broadcast. The
    // oracle is the standard IVFADC replay with the same predicate
    // before the top-10.
    Q("e_ann_filtered",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-${storeKey(d)}"
        graft.ops.AnnIndex.buildIfAbsent(s, emb.where(col("vec_id") =!= 0), dir, IvfK, P,
          fingerprint = Some(graft.ops.AnnIndex.tableFingerprint(s, s"$d/embeddings.parquet")))
        graft.ops.AnnIndex.search(s, dir,
          emb.where(col("vec_id") === 0).select(col("ve").as("qv")),
          nprobe = 1, limit = 10, p = P,
          allow = Some(emb.where(col("vec_id") % 2 === 0).select(col("vec_id"))))
      },
      Some(ivfpqSql(nprobe = 1, excludePred = "vec_id % 2 = 0")), build = true),

    // the persisted x trained matrix cell: build the MATERIALIZED
    // index over k-means-trained centroids (meta carries the trained
    // quantizer) and search it — graded against the SAME composed
    // oracle as the in-plan e_ivfpq_trained, so the persisted trained
    // path is pinned bit-identical too, not just spec-asserted.
    Q("e_ivfpq_indexed_trained",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val c2 = graft.ops.Pq.ivfLloydStep(emb,
          graft.ops.Pq.ivfLloydStep(emb, ivfCellsRow(emb)))
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-tr-${storeKey(d)}"
        graft.ops.AnnIndex.buildIfAbsent(s, emb.where(col("vec_id") =!= 0), dir, IvfK, P,
          cells = Some(c2),
          fingerprint = Some(graft.ops.AnnIndex.tableFingerprint(s, s"$d/embeddings.parquet")))
        graft.ops.AnnIndex.search(s, dir,
          emb.where(col("vec_id") === 0).select(col("ve").as("qv")),
          nprobe = 1, limit = 10, p = P)
      },
      Some(trainedIvfpqSql(2, 1)), build = true),

    // IVFADC over a TRAINED coarse quantizer — the full composition
    // every IVF query's "swap the seed for trained centroids" note
    // promises: two k-means Lloyd iterations (e_kmeans_train's exact
    // chain) produce the folded centroid row, and the SAME
    // quantizer-agnostic ivfpqTop10 machinery assigns, residual-
    // encodes, and searches against it. The oracle composes the
    // hand-unrolled k-means CTEs into the IVFADC CTEs, so the graded
    // hash pins the WHOLE train→search pipeline bit-for-bit. Scale
    // shape unchanged: training shuffles stay centroid-sized, search
    // stays scan-stage + cell-confined.
    Q("e_ivfpq_trained",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val c2 = graft.ops.Pq.ivfLloydStep(emb,
          graft.ops.Pq.ivfLloydStep(emb, ivfCellsRow(emb)))
        ivfpqTop10(s, d, nprobe = 1, cells = Some(c2))
      },
      Some(trainedIvfpqSql(2, 1))),

    // PQ codebook TRAINING: one per-subspace Lloyd iteration — assign
    // every subvector to its nearest codeword (the SAME argmin the
    // encode uses), then re-estimate each codeword as the
    // per-dimension member mean, in exact integer space
    // (1e-6-quantized BIGINT sums, e_ivf_train's convention) so
    // parallel reassociation cannot perturb the result. Long form
    // (m, cid, pos, n, c_mean): <= M*Ks*SubDim = 1024 rows. Scale
    // shape: the corpus explodes to M rows per vector in the scan
    // stage, the argmin runs against the broadcast folded codebook,
    // and the (m, cid, pos) hash-agg has 1024 groups — map-side
    // combine reduces the shuffle to <= 1024 rows per partition
    // regardless of corpus size; iterating = re-running with these
    // means as the next codebook, one broadcast + one tiny shuffle
    // per iteration. This is the trained-codebook path the
    // e_pq_recall calibration note points at.
    Q("e_pq_train",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        // assignment through the native encode kernel (all subspace
        // argmins in one eval per row — identical (q6(d2), cid)
        // order, so the grouped means are bit-for-bit unchanged)
        graft.ops.Pq.encoded(emb.where(col("vec_id") =!= 0),
            pqCodebookRow(emb), P, extra = Seq("ve"))
          .select(col("ve"), posexplode(col("codes")).as(Seq("m", "cid")))
          .select(col("m"), col("cid"),
            posexplode(pqSubvec(col("ve"), col("m"))).as(Seq("pos", "v")))
          .groupBy(col("m"), col("cid"), col("pos"))
          .agg(count(lit(1)).as("n"),
            (sum(qlong(col("v"), 1e6)) / (lit(1e6) * count(lit(1)))).as("c_mean"))
          .select(col("m").cast("long").as("m"), col("cid").cast("long").as("cid"),
            col("pos").cast("long").as("pos"), col("n"), col("c_mean"))
      },
      Some(s"""${pqEncodeCtes()}
              |SELECT c.m, c.cid, i - 1 AS pos, count(*) AS n,
              |  CAST(sum(CAST(floor(s.sv[i] * 1000000 + 0.5e0) AS BIGINT)) AS BIGINT)
              |    / (1e6 * count(*)) AS c_mean
              |FROM codes c
              |JOIN sub s ON s.vec_id = c.vec_id AND s.m = c.m,
              |     range(1, ${PqSub + 1}) t(i)
              |GROUP BY c.m, c.cid, i - 1""".stripMargin)),

    // TRAINED-codebook ADC — the composed path the e_pq_recall
    // calibration note points at: two full Lloyd iterations
    // (ops.Pq.lloydStep twice — each is one corpus scan against the
    // broadcast codebook + a <=1024-group map-side-combined shuffle,
    // the dupClusters loop pattern applied to codebook refinement),
    // then the SAME scoredQ encode/ADC with the refined codebook.
    // Graded metric is the RELATIVE recall lift: both the seed-
    // codebook and trained-codebook recall@10 ride in the output and
    // within_bound asserts trained >= untrained (and >= 1 against
    // collapse) — scale-robust where an absolute bound is not
    // (measured: 2 -> 2 at sf0.001, 1 -> 2 at sf0.01 — the graded
    // lift, pinned in ApproxSpec; 1 -> 1 at sf0.1, where the top-10
    // is a 10x smaller target and two Lloyd steps over 16 codewords
    // can't beat isotropic distortion — honest, not hidden). Codeword means run in exact integer space and empty
    // codewords keep their previous value on both engines, so the
    // oracle's hand-unrolled iteration chain derives bit-identical
    // codebooks.
    Q("e_pq_adc_trained",
      (s, d) => {
        def ids(c: Column): Column = transform(c, x => x.getField("vec_id"))
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val corpus = emb.where(col("vec_id") =!= 0)
        val cb0 = pqCodebookRow(emb)
        val cb2 = graft.ops.Pq.lloydStep(corpus,
          graft.ops.Pq.lloydStep(corpus, cb0, P), P)
        val qRow = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
        val embQ = emb.crossJoin(broadcast(qRow))
        val arm0 = pqScoredQ(embQ, cb0)
          .agg(
            call_function("graft_bottom_k",
              struct(col("ad2"), col("vec_id")), lit(10)).as("ap0"),
            call_function("graft_bottom_k",
              struct(col("ed2"), col("vec_id")), lit(10)).as("ex"))
        val arm2 = pqScoredQ(embQ, cb2)
          .agg(call_function("graft_bottom_k",
            struct(col("ad2"), col("vec_id")), lit(10)).as("ap2"))
        arm2.crossJoin(broadcast(arm0))
          .select(lit("pq_adc_trained").as("method"), lit(10).as("k"),
            size(array_intersect(ids(col("ap0")), ids(col("ex"))))
              .cast("long").as("hits_untrained"),
            size(array_intersect(ids(col("ap2")), ids(col("ex"))))
              .cast("long").as("hits_trained"))
          .withColumn("within_bound",
            col("hits_trained") >= col("hits_untrained") &&
              col("hits_trained") >= PqRecallBound)
      },
      Some(s"""${pqTrainedCtes(2)},
              |ex AS (SELECT vec_id FROM ad ORDER BY ed2 ASC, vec_id ASC LIMIT 10),
              |ap0 AS (SELECT vec_id FROM ad0 ORDER BY ad2 ASC, vec_id ASC LIMIT 10),
              |ap AS (SELECT vec_id FROM ad ORDER BY ad2 ASC, vec_id ASC LIMIT 10)
              |SELECT 'pq_adc_trained' AS method, 10 AS k,
              |  (SELECT count(*) FROM ap0 WHERE vec_id IN (SELECT vec_id FROM ex)) AS hits_untrained,
              |  (SELECT count(*) FROM ap WHERE vec_id IN (SELECT vec_id FROM ex)) AS hits_trained,
              |  TRUE AS within_bound""".stripMargin)),

    // SAMPLE-train → full-encode — the quantizer-training convention
    // a 100 TB deployment actually runs (the reference's own
    // fit-on-subset discipline: weather4cast/main.py:125-133 fits the
    // ensemble on the validation slice and applies it to everything):
    // a SEEDED deterministic sample of the corpus (bounded
    // graft_bottom_k over a md5 key — never a corpus sort) is
    // persisted once, BOTH Lloyd iterations re-estimate codewords
    // from the sample alone (training cost tracks the sample, not the
    // corpus — x-SF slope-measured), and the frozen sampled-trained
    // codebook encodes/scores the FULL corpus through the same
    // scoredQ path. Recall columns carry the untrained seed codebook
    // arm next to the sampled-trained arm; the sampled-vs-FULL-
    // trained delta is pinned per SF in ApproxSpec (full-corpus
    // training is the thing this convention exists to avoid, so it
    // stays out of the graded plan).
    Q("e_pq_train_sampled",
      (s, d) => {
        def ids(c: Column): Column = transform(c, x => x.getField("vec_id"))
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val corpus = emb.where(col("vec_id") =!= 0)
        val sids = corpus
          .agg(call_function("graft_bottom_k",
            struct(md5(concat(lit(s"$PqSampleSeed:"), col("vec_id").cast("string"))).as("h"),
              col("vec_id").as("vec_id")),
            lit(PqSampleN)).as("_top"))
          .select(explode(col("_top")).as("_t"))
          .select(col("_t.vec_id").as("vec_id"))
        // ONE corpus scan materializes the sample (Caches.owned is
        // eager — the two scoring arms' broadcast subtrees build
        // concurrently and would otherwise race on the unbuilt cache);
        // Lloyd iterations then fold the cached sample-sized frame
        val sample = graft.Caches.owned(corpus.join(broadcast(sids), Seq("vec_id")))
        val cb0 = pqCodebookRow(emb)
        val cb2s = graft.ops.Pq.lloydStep(sample,
          graft.ops.Pq.lloydStep(sample, cb0, P), P)
        val qRow = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
        val embQ = emb.crossJoin(broadcast(qRow))
        val arm0 = pqScoredQ(embQ, cb0)
          .agg(
            call_function("graft_bottom_k",
              struct(col("ad2"), col("vec_id")), lit(10)).as("ap0"),
            call_function("graft_bottom_k",
              struct(col("ed2"), col("vec_id")), lit(10)).as("ex"))
        val armS = pqScoredQ(embQ, cb2s)
          .agg(call_function("graft_bottom_k",
            struct(col("ad2"), col("vec_id")), lit(10)).as("aps"))
        armS.crossJoin(broadcast(arm0))
          .select(lit("pq_adc_train_sampled").as("method"), lit(10).as("k"),
            lit(PqSampleN.toLong).as("n_train"),
            size(array_intersect(ids(col("ap0")), ids(col("ex"))))
              .cast("long").as("hits_untrained"),
            size(array_intersect(ids(col("aps")), ids(col("ex"))))
              .cast("long").as("hits_sampled"))
          .withColumn("within_bound", col("hits_sampled") >= PqRecallBound)
      },
      Some(s"""${pqTrainedCtes(2, trainCte = Some(
                s"""ts AS (SELECT vec_id FROM (
                   |    SELECT vec_id, row_number() OVER (
                   |      ORDER BY md5(concat('$PqSampleSeed:', CAST(vec_id AS VARCHAR))), vec_id) AS rn
                   |    FROM e WHERE vec_id <> 0)
                   |  WHERE rn <= $PqSampleN)""".stripMargin))},
              |ex AS (SELECT vec_id FROM ad ORDER BY ed2 ASC, vec_id ASC LIMIT 10),
              |ap0 AS (SELECT vec_id FROM ad0 ORDER BY ad2 ASC, vec_id ASC LIMIT 10),
              |aps AS (SELECT vec_id FROM ad ORDER BY ad2 ASC, vec_id ASC LIMIT 10)
              |SELECT 'pq_adc_train_sampled' AS method, 10 AS k,
              |  CAST($PqSampleN AS BIGINT) AS n_train,
              |  (SELECT count(*) FROM ap0 WHERE vec_id IN (SELECT vec_id FROM ex)) AS hits_untrained,
              |  (SELECT count(*) FROM aps WHERE vec_id IN (SELECT vec_id FROM ex)) AS hits_sampled,
              |  TRUE AS within_bound""".stripMargin)),

    // OPQ-lite: a 4-arm ROTATION PANEL before PQ — arm 0 = identity
    // (plain PQ), arms 1-3 = deterministic orthogonal rotations
    // (md5-sign flip ∘ odd-stride permutation); each arm re-derives
    // its codebook IN ROTATED SPACE (the OPQ point), and the graded
    // output carries every arm's exact integer quantization error,
    // its ADC recall@10 vs the exact (rotation-invariant) top-10,
    // and the argmin-by-(qerr, t) selection — the full panel is
    // hash-graded, so the selection rule itself is pinned, not just
    // the winner. Plan shape per arm: rotation is a scan-stage array
    // permute (zero corpus exchange), codebook folds to one broadcast
    // row, encode/ADC ride the native kernel, errors fold map-side —
    // 4 arms = 4 corpus scans, embarrassingly parallel at 100 TB.
    Q("e_opq_rotations",
      (s, d) => {
        def ids(c: Column): Column = transform(c, x => x.getField("vec_id"))
        val e0 = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve0"))
        val arms = (0 until 4).map { t =>
          // ONE ArrayType literal each (typedlit), not array(lit x 64):
          // planning cost — the analyzer walks 1 node per literal
          val permLit = typedlit(opqPerm(t).toIndexedSeq)
          val sgnLit = typedlit(opqSigns(t).toIndexedSeq)
          val rot = e0.select(col("vec_id"),
            transform(sequence(lit(1), lit(Dim)), i =>
              element_at(col("ve0"), element_at(permLit, i)) *
                element_at(sgnLit, i)).as("ve"))
          val cb = pqCodebookRow(rot)
          val qRow = rot.where(col("vec_id") === 0).select(col("ve").as("qv"))
          val hits = pqScoredQ(rot.crossJoin(broadcast(qRow)), cb)
            .agg(
              call_function("graft_bottom_k",
                struct(col("ad2"), col("vec_id")), lit(10)).as("ap"),
              call_function("graft_bottom_k",
                struct(col("ed2"), col("vec_id")), lit(10)).as("ex"))
            .select(size(array_intersect(ids(col("ap")), ids(col("ex"))))
              .cast("long").as("hits"))
          val qerr = graft.ops.Pq.encoded(
              rot.where(col("vec_id") =!= 0), cb, P, extra = Seq("ve"))
            .crossJoin(broadcast(cb))
            .select(qlong(
              aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0), (acc, m) =>
                acc + qround(graft.ops.Pq.d2(
                  pqSubvec(col("ve"), m),
                  graft.ops.Pq.cw(col("cbs"), m,
                    element_at(col("codes"), m + 1), P)), 6)),
              1e6).as("rq6"))
            .agg(sum(col("rq6")).as("qerr_q6"))
          hits.crossJoin(broadcast(qerr))
            .select(lit(t.toLong).as("t"), col("qerr_q6"), col("hits"))
        }
        val union = arms.reduce(_ unionAll _)
        val best = union.agg(min(struct(col("qerr_q6"), col("t"))).as("b"))
        union.crossJoin(broadcast(best))
          .select(col("t"), col("qerr_q6"), col("hits"),
            (col("qerr_q6") === col("b.qerr_q6") && col("t") === col("b.t"))
              .as("is_best"))
      },
      Some(opqSql)),

    // OPQ ALTERNATING REFINEMENT over the panel winner — the full
    // non-parametric OPQ the 4-arm panel approximates: starting from
    // the argmin-by-(qerr, t) rotation above, alternate Lloyd
    // codebook updates in rotated space with orthogonal-Procrustes
    // rotation updates (Pq.opqRefine — driver-side dim×dim Jacobi
    // SVD of the integer-snapped correlation matrix; every sub-step
    // is the exact argmin of the shared objective, so quantization
    // error is monotone non-increasing round over round, within one
    // q6 unit per corpus row of snap slack). The refined-R doubles
    // are engine-specific (an SVD has no DuckDB twin), so — the
    // sketch-grading contract — the VALUES stay out of the hash and
    // the graded row carries the booleans the math guarantees:
    // per-round improvement and the orthogonality of the refined R.
    // The exact qerr trajectory and its strict decrease are pinned
    // numerically in ApproxSpec.
    Q("e_opq_refined",
      (s, d) => {
        val e0 = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val (rf, _, traj) =
          graft.ops.Pq.opqRefine(e0, opqWinnerR0("e_opq_refined", e0), P, rounds = 2)
        val orth = (0 until Dim).forall(i => (0 until Dim).forall { j =>
          val dot = (0 until Dim).map(k => rf(i)(k) * rf(j)(k)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
        })
        val nRows = e0.where(col("vec_id") =!= 0).count()
        import s.implicits._
        traj.zipWithIndex.map { case (q, r) =>
          (r.toLong, r == 0 || q <= traj(r - 1) + nRows, orth)
        }.toDF("round", "improved", "orthogonal")
      },
      Some("""SELECT * FROM (VALUES (CAST(0 AS BIGINT), TRUE, TRUE),
             |  (CAST(1 AS BIGINT), TRUE, TRUE), (CAST(2 AS BIGINT), TRUE, TRUE))
             |  t(round, improved, orthogonal)""".stripMargin)),

    // OPQ-refined SERVING: the refined rotation threaded into the
    // persisted IVFADC index end to end — rotate at build (corpus)
    // and at query (through the stored `rot` row), standard probe +
    // ADC in the rotated space. Rotation is orthogonal, so the EXACT
    // neighbor set is invariant — only the PQ approximation changes
    // (codewords in the refined basis). Build runs once per corpus
    // fingerprint (panel argmin + 1 refinement round + index build
    // under the marker); steady-state cost is searchRotated's
    // partition-pruned probe scan plus one 64-dim matvec on the
    // query. The hit count has no DuckDB twin (the rotation is an
    // SVD product), so — the sketch contract — values stay out of
    // the hash and the graded row asserts the recall floor; exact
    // hit values are pinned in ApproxSpec.
    Q("e_opq_indexed",
      (s, d) => {
        val e0 = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val corpus = e0.where(col("vec_id") =!= 0)
        val dir = s"${sys.props("java.io.tmpdir")}/graft-opqivf-${storeKey(d)}"
        graft.ops.AnnIndex.buildRotatedIfAbsent(s, corpus, dir,
          graft.ops.AnnIndex.tableFingerprint(s, s"$d/embeddings.parquet"),
          k = 8, p = P) {
          graft.ops.Pq.opqRefine(e0, opqWinnerR0("e_opq_indexed", e0), P, rounds = 1)._1
        }
        val q1 = e0.where(col("vec_id") === 0).select(col("ve").as("qv"))
        val got = graft.ops.AnnIndex.searchRotated(s, dir, q1,
          nprobe = 2, limit = 10, p = P)
          .agg(collect_list(col("vec_id")).as("ap"))
        val ex = corpus.crossJoin(broadcast(q1))
          .select(col("vec_id"), qround(graft.ops.Pq.d2(col("ve"), col("qv")), 6).as("ed2"))
          .agg(call_function("graft_bottom_k",
            struct(col("ed2"), col("vec_id")), lit(10)).as("ex"))
        got.crossJoin(broadcast(ex))
          .select(lit("opq_ivfpq").as("method"), lit(10).as("k"),
            size(array_intersect(col("ap"),
              transform(col("ex"), x => x.getField("vec_id"))))
              .cast("long").as("hits"))
          .select(col("method"), col("k"),
            (col("hits") >= PqRecallBound).as("within_bound"))
      },
      Some("SELECT 'opq_ivfpq' AS method, 10 AS k, TRUE AS within_bound"), build = true),

    // FULL-VECTOR k-means to (fixed-point) convergence — the coarse-
    // quantizer training e_ivf_train's single re-mean points at: two
    // chained Lloyd iterations ([[graft.ops.Pq.ivfLloydStep]] twice —
    // per iteration ONE corpus scan against the broadcast K-entry
    // centroid row and ONE <=K*dim-group map-side-combined shuffle,
    // never corpus-sized), then the final assignment's per-cell
    // stats. Centroid means run in exact integer space and empty
    // cells keep their previous centroid on both engines, so the
    // oracle's hand-unrolled iteration chain derives bit-identical
    // centroids and the graded output (cid, pos, n, c_mean) pins the
    // whole trajectory, not just the last hop. This is the trained-
    // centroid path every IVF query's "swap the seed convention for
    // trained centroids" note points at.
    Q("e_kmeans_train",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val c2 = graft.ops.Pq.ivfLloydStep(emb,
          graft.ops.Pq.ivfLloydStep(emb, ivfCellsRow(emb)))
        graft.ops.Pq.ivfAssignedWith(emb, c2)
          .select(col("cell").cast("long").as("cid"),
            posexplode(col("ve")).as(Seq("pos", "v")))
          .groupBy(col("cid"), col("pos"))
          .agg(count(lit(1)).as("n"),
            (sum(qlong(col("v"), 1e6))
              / (lit(1e6) * count(lit(1)))).as("c_mean"))
          .select(col("cid"), col("pos").cast("long").as("pos"),
            col("n"), col("c_mean"))
      },
      Some(s"""${kmeansCtes(2)},
              |af AS (${kmeansAssignSql(2)})
              |SELECT CAST(cell AS BIGINT) AS cid, i - 1 AS pos, count(*) AS n,
              |  CAST(sum(CAST(floor(ve[i] * 1000000 + 0.5e0) AS BIGINT)) AS BIGINT)
              |    / (1e6 * count(*)) AS c_mean
              |FROM af, range(1, ${Dim + 1}) t(i)
              |GROUP BY cell, i - 1""".stripMargin)),

    // Cluster-balanced diversity sampling — the curation step between
    // clustering and training-set assembly (the SemDeDup/DsDm-style
    // recipe: cluster the corpus semantically, then draw a BALANCED
    // seeded sample per cluster so no dense mode dominates the mix).
    // Assignment against the TRAINED centroids is the same broadcast
    // scan-stage argmin; the per-cluster draw is a BOUNDED AGGREGATE
    // (graft_bottom_k over the md5-seeded key — TopN.topNPerGroupAgg's
    // shape), so partial state is <= n rows per (cell, input
    // partition) and the shuffle carries K x partitions x n rows
    // regardless of corpus size. The window form would hash-cluster
    // 100 TB into K=8 reducers; this never sorts the corpus at all.
    Q("e_cluster_sample",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val c2 = graft.ops.Pq.ivfLloydStep(emb,
          graft.ops.Pq.ivfLloydStep(emb, ivfCellsRow(emb)))
        graft.ops.Pq.ivfAssignedWith(emb, c2)
          .groupBy(col("cell"))
          .agg(call_function("graft_bottom_k",
            struct(md5(concat(lit(s"$SampleSeed:"), col("vec_id").cast("string"))).as("h"),
              col("vec_id").as("vec_id")),
            lit(SamplePerCell)).as("_top"))
          .select(col("cell").cast("long").as("cid"),
            posexplode(col("_top")).as(Seq("_pos", "_t")))
          .select(col("cid"), (col("_pos") + 1).cast("long").as("rn"),
            col("_t.vec_id").as("vec_id"))
      },
      Some(s"""${kmeansCtes(2)},
              |af AS (${kmeansAssignSql(2)})
              |SELECT cid, rn, vec_id FROM (
              |  SELECT CAST(cell AS BIGINT) AS cid, vec_id,
              |    CAST(row_number() OVER (PARTITION BY cell
              |      ORDER BY md5(concat('$SampleSeed:', CAST(vec_id AS VARCHAR))), vec_id) AS BIGINT) AS rn
              |  FROM af)
              |WHERE rn <= $SamplePerCell""".stripMargin)),

    // Johnson-Lindenstrauss signed random projection (Achlioptas-style
    // ±1 matrix): 64 dims fold to 16 against the SAME deterministic
    // md5-derived planes the LSH bucketer uses, scaled by
    // 1/sqrt(16) = 0.25 — a power of two, so the scaling is EXACT in
    // IEEE and both engines agree bit-for-bit. The projection is
    // scan-stage work against 16 constant plane literals (zero corpus
    // shuffle — the JL transform is the "make 100 TB of embeddings 4x
    // cheaper to rank" move: project once at ingest, rank candidates
    // in the 16-dim space, rerank survivors exactly); the top-10 by
    // projected distance is a TakeOrderedAndProject. Each result row
    // carries BOTH the projected distance (the ranking key) and the
    // exact 64-dim distance (the audit column ApproxSpec pins
    // recall@10 from), so the oracle hash-grades the full trade.
    Q("e_rand_proj",
      (s, d) => {
        val emb = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val signs = vectors.hyperplaneSigns(RpDim, Dim)
        def proj(v: Column): Column = array((0 until RpDim).map { j =>
          // one ArrayType literal per plane (typedlit), not array(lit x 64)
          (vectors.dot(v, typedlit(signs(j))) * lit(0.25)).cast("double")
        }: _*)
        val p = emb.withColumn("pv", proj(col("ve")))
        val q = p.where(col("vec_id") === 0)
          .select(col("ve").as("qv"), col("pv").as("qp"))
        p.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"),
            qround(graft.ops.Pq.d2(col("pv"), col("qp")), 6).as("pd2"),
            qround(graft.ops.Pq.d2(col("ve"), col("qv")), 6).as("d2"))
          .orderBy(col("pd2").asc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
              |p AS (SELECT vec_id, ve, ${projSql("ve")} AS pv FROM e),
              |q AS (SELECT ve AS qv, pv AS qp FROM p WHERE vec_id = 0)
              |SELECT vec_id, ${qroundSql(d2S("pv", "qp", RpDim), 6)} AS pd2,
              |  ${qroundSql(d2S("ve", "qv", Dim), 6)} AS d2
              |FROM p, q WHERE vec_id <> 0
              |ORDER BY pd2 ASC, vec_id ASC LIMIT 10""".stripMargin)),

    // planted-cluster twin of e_rand_proj (same corpus synthesis as
    // e_ann_recall_planted / e_pq_recall_planted): on a corpus WITH
    // neighbor structure the 16-dim projected ranking recovers the
    // query's cluster 10/10 (pinned in ApproxSpec) — the JL contract
    // (inter-point distances survive the 4x compression) measured as
    // NEIGHBOR RECOVERY, complementing the honest isotropic floor of
    // e_rand_proj itself (~1/10: isotropic corpora have no neighbors
    // to preserve, the same calibration story as e_pq_recall). The
    // top-10 is a bounded graft_bottom_k aggregate, not a sort.
    Q("e_rand_proj_planted",
      (s, d) => {
        val C = 16
        val base = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val ctr = base.where(col("vec_id").between(1, C))
          .select(col("vec_id").as("center_id"), col("ve").as("cve"))
        val planted = base.join(broadcast(ctr),
            col("center_id") === col("vec_id") % C + 1)
          .select(col("vec_id"),
            zip_with(col("cve"), col("ve"), (c, e) => c + lit(0.15) * e).as("ve"))
        val signs = vectors.hyperplaneSigns(RpDim, Dim)
        def proj(v: Column): Column = array((0 until RpDim).map { j =>
          // one ArrayType literal per plane (typedlit), not array(lit x 64)
          (vectors.dot(v, typedlit(signs(j))) * lit(0.25)).cast("double")
        }: _*)
        val p = planted.withColumn("pv", proj(col("ve")))
        val q = p.where(col("vec_id") === 0).select(col("pv").as("qp"))
        p.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .agg(call_function("graft_bottom_k",
            struct(qround(graft.ops.Pq.d2(col("pv"), col("qp")), 6).as("pd2"),
              col("vec_id").as("vec_id")), lit(10)).as("ap"))
          .select(lit("rand_proj_cluster").as("method"), lit(10).as("k"),
            size(filter(transform(col("ap"), x => x.getField("vec_id")),
              id => id % C === 0)).cast("long").as("hits"))
          .withColumn("within_bound", col("hits") >= RpPlantedBound)
      },
      Some(s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
              |ctr AS (SELECT vec_id AS center_id, ve AS cve FROM e0 WHERE vec_id BETWEEN 1 AND 16),
              |e AS (SELECT e0.vec_id,
              |        list_transform(range(1, ${Dim + 1}),
              |          i -> ctr.cve[i] + 0.15e0 * e0.ve[i]) AS ve
              |      FROM e0 JOIN ctr ON ctr.center_id = e0.vec_id % 16 + 1),
              |p AS (SELECT vec_id, ve, ${projSql("ve")} AS pv FROM e),
              |q AS (SELECT pv AS qp FROM p WHERE vec_id = 0),
              |top AS (SELECT vec_id FROM p, q WHERE vec_id <> 0
              |  ORDER BY ${qroundSql(d2S("pv", "qp", RpDim), 6)} ASC, vec_id ASC LIMIT 10)
              |SELECT 'rand_proj_cluster' AS method, 10 AS k,
              |  (SELECT count(*) FROM top WHERE vec_id % 16 = 0) AS hits,
              |  TRUE AS within_bound""".stripMargin)),
  )

  /** The one geometry every PQ query shares, delegated to the
    * library layer ([[graft.ops.Pq]]) so [[graft.ops.AnnIndex]] and
    * the graded queries provably run the SAME encode/assign/ADC
    * definitions (the SQL side shares [[pqEncodeCtes]] for the same
    * reason). */
  private[queries] val P = graft.ops.Pq.Params(Dim, PqM, PqKs)

  /** The e_opq_rotations panel argmin as a rotation MATRIX — the
    * shared starting point of e_opq_refined and e_opq_indexed: per
    * arm, the seed-codebook quantization error in rotated space
    * (the panel's own qerr formula); winner by (qerr, t); the
    * winner's permutation+sign rotation as dim×dim. Four bounded
    * driver folds — the a4 ridge collect class. A fold still running
    * after [[OpqArmTimeout]] fails `query` loudly instead of hanging. */
  private def opqWinnerR0(query: String,
                          e0: org.apache.spark.sql.DataFrame): Array[Array[Double]] = {
    def armQerr(t: Int): Long = {
      val permLit = typedlit(opqPerm(t).toIndexedSeq)
      val sgnLit = typedlit(opqSigns(t).toIndexedSeq)
      val rot = e0.select(col("vec_id"),
        transform(sequence(lit(1), lit(Dim)), i =>
          element_at(col("ve"), element_at(permLit, i)) *
            element_at(sgnLit, i)).as("ve"))
      val cb = pqCodebookRow(rot)
      graft.ops.Pq.encoded(
          rot.where(col("vec_id") =!= 0), cb, P, extra = Seq("ve"))
        .crossJoin(broadcast(cb))
        .select(qlong(
          aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0), (acc, m) =>
            acc + qround(graft.ops.Pq.d2(
              pqSubvec(col("ve"), m),
              graft.ops.Pq.cw(col("cbs"), m,
                element_at(col("codes"), m + 1), P)), 6)),
          1e6).as("rq6"))
        .agg(sum(col("rq6"))).head.getLong(0)
    }
    // the four arms are INDEPENDENT bounded folds — overlap them
    // (guide §2.6: actions are only sequential because the driver
    // calls them sequentially); the winner is the deterministic
    // (qerr, t) min over all four collected results, so completion
    // order cannot change it
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tWin = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          (0 until 4).map(t => scala.concurrent.Future((armQerr(t), t)))),
        OpqArmTimeout).min._2
    } catch {
      case e: java.util.concurrent.TimeoutException =>
        pool.shutdownNow()
        throw new IllegalStateException(
          s"$query: the OPQ rotation-arm folds did not finish within $OpqArmTimeout", e)
    } finally pool.shutdown()
    Array.tabulate(Dim, Dim)((i, j) =>
      if (opqPerm(tWin)(i) - 1 == j) opqSigns(tWin)(i) else 0.0)
  }

  /** Bound on [[opqWinnerR0]]'s four arm folds together: each is a
    * few seconds at sf0.1, so only a hung job reaches it. */
  private val OpqArmTimeout = scala.concurrent.duration.Duration(10, "minutes")

  /** Squared L2 as the SAME left-to-right fold DuckDB's list_sum
    * runs, so quantization sees bit-identical inputs on both sides —
    * shared by every PQ query (search, recall, train). */
  private def pqD2(a: Column, b: Column): Column = graft.ops.Pq.d2(a, b)

  /** The m-th subvector of `v`. */
  private def pqSubvec(v: Column, m: Column): Column =
    graft.ops.Pq.subvec(v, m, P)

  /** The folded PQ codebook: (m, cid) -> 8-dim codeword, ONE row
    * whose array is sorted by (m, cid) so position m*Ks + cid
    * addresses it — the ONE definition search and training both
    * broadcast, so the encode and the assign cannot desynchronize. */
  private def pqCodebookRow(emb: org.apache.spark.sql.DataFrame) =
    graft.ops.Pq.codebookRow(emb, P)

  /** Shared PQ machinery: per NON-QUERY vector, its code string
    * ("c1,...,c8"), ADC distance `ad2` and exact distance `ed2` to the
    * query (vec_id 0), all 1e-6-quantized. One broadcast of the
    * single-row folded codebook + single-row query; zero corpus
    * shuffle. */
  private def pqScored(s: org.apache.spark.sql.SparkSession, d: String) =
    pqScoredOn(T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve")))

  /** The folded IVF coarse quantizer: ONE row whose `cells` array is
    * sorted by cell id — the coarse-grain twin of [[pqCodebookRow]].
    * Input frame must carry (vec_id, ve); centroids are the vectors
    * of vec_ids 1..K (deterministic, training-free convention). */
  private def ivfCellsRow(emb: org.apache.spark.sql.DataFrame) =
    graft.ops.Pq.cellsRow(emb, IvfK)

  /** ZERO-SHUFFLE coarse assignment ([[graft.ops.Pq.ivfAssigned]]):
    * broadcast the single folded centroid row and compute each
    * vector's cell as a scan-stage argmin over the K-entry array
    * (quantized squared-L2, cell-id tie-break — the same (d2, cell)
    * order as the oracle's row_number). Adds `cell` (int) and `cv`
    * (the matched centroid) to the input frame. At 100 TB this is a
    * map over the lake; the crossJoin+groupBy/min_by form it replaces
    * paid an `Exchange hashpartitioning(vec_id)` carrying every
    * corpus vector PLUS its matched centroid — ~2x corpus volume
    * shuffled for what is logically a per-row computation. */
  private def ivfAssigned(emb: org.apache.spark.sql.DataFrame) =
    graft.ops.Pq.ivfAssigned(emb, IvfK)

  /** [[pqScored]] over any (vec_id, ve) frame — the planted-corpus
    * twin feeds the synthesized vectors through the identical
    * codebook/encode/ADC path. The query vector is the frame's own
    * vec_id 0 row, attached as a broadcast constant. */
  private def pqScoredOn(emb: org.apache.spark.sql.DataFrame) = {
    val qRow = emb.where(col("vec_id") === 0).select(col("ve").as("qv"))
    pqScoredQ(emb.crossJoin(broadcast(qRow)), pqCodebookRow(emb))
  }

  /** PQ encode + ADC core over a frame carrying its OWN per-row query
    * vector `qv` — constant for flat PQ ([[pqScoredOn]]); the probed
    * cell's query residual for IVFADC, where Jegou et al. 2011 §III
    * scores candidates in cell i against q - c_i, NOT a single shared
    * residual. `cbRow` is the folded codebook to encode against;
    * `extra` columns ride through. Delegates to
    * [[graft.ops.Pq.scoredQ]] — the library definition AnnIndex
    * builds/searches with, so the graded in-plan path and the
    * persisted-index path cannot fork. */
  private def pqScoredQ(embQ: org.apache.spark.sql.DataFrame,
                        cbRow: org.apache.spark.sql.DataFrame,
                        extra: Seq[String] = Nil) =
    graft.ops.Pq.scoredQ(embQ, cbRow, P, extra)

  /** IVFADC search shared by e_ivfpq_adc (nprobe=1) and
    * e_ivfpq_probe2: scan-stage coarse assignment ([[ivfAssigned]] —
    * zero corpus shuffle), residuals as per-row map work, PQ encode +
    * ADC through [[pqScoredQ]] confined to the query's `nprobe`
    * nearest cells. Multi-probe is faithful to Jegou et al. 2011
    * §III: each probed cell scores against the query residual w.r.t.
    * THAT cell's centroid (the broadcast query row carries all K
    * per-cell residuals; `element_at(qres, cell)` picks the right one
    * per candidate in the scan stage), so cross-cell ADC distances
    * are commensurable and nprobe is a true recall knob. */
  private def ivfpqTop10(s: org.apache.spark.sql.SparkSession, d: String,
                         nprobe: Int,
                         cells: Option[org.apache.spark.sql.DataFrame] = None) = {
    val emb = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    // seed-convention coarse quantizer unless the caller passes a
    // TRAINED folded centroid row (e.g. chained Pq.ivfLloydStep) —
    // every stage downstream is quantizer-agnostic
    val cellsFrame = cells.getOrElse(ivfCellsRow(emb))
    val assigned = graft.ops.Pq.ivfAssignedWith(emb, cellsFrame)
      .select(col("vec_id"), col("cell"),
        zip_with(col("ve"), col("cv"), (x, c) => x - c).as("ve"))
    // ONE broadcast row for the query: its nprobe nearest cells
    // (sorted (d2, cell) prefix) + its residual w.r.t. EVERY cell
    // (cells array is cell-sorted, so element_at(qres, cell) works)
    val qRow = emb.where(col("vec_id") === 0)
      .crossJoin(broadcast(cellsFrame))
      .select(
        slice(array_sort(transform(col("cells"), c =>
          struct(qround(pqD2(col("ve"), c.getField("cv")), 6).as("d2"),
            c.getField("cell").as("cell")))), 1, nprobe).as("pl"),
        transform(col("cells"), c =>
          zip_with(col("ve"), c.getField("cv"), (x, cv) => x - cv)).as("qres"))
      .select(transform(col("pl"), x => x.getField("cell")).as("probe_cells"),
        col("qres"))
    // codebook trains on ALL residuals (vec_ids 1..16); the probe
    // filter confines the encode/ADC to nprobe/K of the corpus
    val cb = pqCodebookRow(assigned.select(col("vec_id"), col("ve")))
    val cand = assigned.crossJoin(broadcast(qRow))
      .where(array_contains(col("probe_cells"), col("cell")))
      .withColumn("qv", element_at(col("qres"), col("cell")))
      .select(col("vec_id"), col("ve"), col("qv"), col("cell"))
    pqScoredQ(cand, cb, extra = Seq("cell"))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("code"), col("ad2"))
      .orderBy(col("ad2").asc, col("vec_id").asc).limit(10)
  }

  /** DuckDB twin of [[ivfpqTop10]] over the SEED coarse quantizer —
    * delegates to [[ivfpqSqlOver]] with the vec_id-1..K centroid CTE. */
  /** The seed (vec_id 1..K) coarse-quantizer chain — `e0` + `c0`,
    * shared by [[ivfpqSql]] and spliced by pipe_rag_e2e's oracle. */
  private[queries] def ivfpqSeedChain: String =
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |c0 AS (SELECT vec_id AS cell, ve AS cv FROM e0 WHERE vec_id BETWEEN 1 AND $IvfK)""".stripMargin

  private def ivfpqSql(nprobe: Int, excludePred: String = ""): String =
    ivfpqSqlOver(ivfpqSeedChain, "c0", nprobe, excludePred)

  /** DuckDB twin of [[ivfpqTop10]] over the TRAINED coarse quantizer:
    * the k-means chain ([[kmeansCtes]]) runs first, then the same
    * IVFADC CTEs read its final `c{iters}` centroids. */
  private def trainedIvfpqSql(iters: Int, nprobe: Int): String =
    ivfpqSqlOver(kmeansCtes(iters).stripPrefix("WITH "), s"c$iters", nprobe)

  /** The quantizer-agnostic IVFADC oracle body: `chain` must define
    * `e0` (vec_id, ve: DOUBLE[]) and the centroid CTE `c` (cell, cv);
    * assignment, residuals, encode ([[pqEncodeCtes]]), per-probed-cell
    * query residuals (`qr`), and cell-confined ADC are identical for
    * seed and trained centroids — the same property the Spark side
    * gets from [[ivfpqTop10]]'s `cells` parameter. */
  /** `excludePred` (e.g. a takedown slice) filters candidates BEFORE
    * the top-10 — the DuckDB twin of the index tombstone anti-join. */
  private def ivfpqSqlOver(chain: String, c: String, nprobe: Int,
                           excludePred: String = ""): String =
    s"""${ivfpqCtes(chain, c, nprobe)}
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell, code, ad2 FROM ad
       |${if (excludePred.isEmpty) "" else s"WHERE $excludePred\n"}ORDER BY ad2 ASC, vec_id ASC LIMIT 10""".stripMargin

  /** The IVFADC CTE chain alone (ends in `ad` = (vec_id, cell, code,
    * ad2), WITH prefix included) — the spliceable form for oracles
    * that keep composing after the search (pipe_rag_e2e ranks and
    * fuses the `ad` top-k with a lexical leg). */
  private[queries] def ivfpqCtes(chain: String, c: String, nprobe: Int): String = {
    val residualE =
      s"""$chain,
         |asn AS (SELECT vec_id, ve, cell, cv FROM (
         |    SELECT e0.vec_id, e0.ve, cc.cell, cc.cv,
         |      row_number() OVER (PARTITION BY e0.vec_id
         |        ORDER BY ${qroundSql(d2S("e0.ve", "cc.cv", Dim), 6)} ASC, cc.cell ASC) AS rn
         |    FROM e0, $c cc) WHERE rn = 1),
         |e AS (SELECT vec_id,
         |        list_transform(range(1, ${Dim + 1}), i -> ve[i] - cv[i]) AS ve
         |      FROM asn)""".stripMargin
    s"""${pqEncodeCtes(residualE)},
       |pb AS (SELECT cell FROM (
       |    SELECT cc.cell, row_number() OVER (
       |        ORDER BY ${qroundSql(d2S("q0.ve", "cc.cv", Dim), 6)} ASC, cc.cell ASC) AS rn
       |    FROM (SELECT ve FROM e0 WHERE vec_id = 0) q0, $c cc) WHERE rn <= $nprobe),
       |qr AS (SELECT cc.cell, ms.m,
       |         list_transform(range(1, ${PqSub + 1}),
       |           i -> q0.ve[ms.m * $PqSub + i] - cc.cv[ms.m * $PqSub + i]) AS qv
       |       FROM (SELECT ve FROM e0 WHERE vec_id = 0) q0, $c cc, ms),
       |ad AS (SELECT c.vec_id, asn.cell,
       |         string_agg(CAST(c.cid AS VARCHAR), ',' ORDER BY c.m) AS code,
       |         ${qroundSql(s"sum(${qroundSql(d2S("qr.qv", "cb.cv", PqSub), 6)})", 6)} AS ad2
       |       FROM codes c
       |       JOIN cb ON cb.m = c.m AND cb.cid = c.cid
       |       JOIN asn ON asn.vec_id = c.vec_id
       |       JOIN qr ON qr.cell = asn.cell AND qr.m = c.m
       |       WHERE asn.cell IN (SELECT cell FROM pb)
       |       GROUP BY c.vec_id, asn.cell)""".stripMargin
  }

  private def d2S(a: String, b: String, n: Int) =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** Unrolled k-means iteration chain — the DuckDB twin of chained
    * [[graft.ops.Pq.ivfLloydStep]] calls: `e0` (corpus), `c0` (seed
    * cells, vec_ids 1..K), then per iteration t: `a{t-1}` assigns
    * every vector to its nearest `c{t-1}` centroid (the same
    * (qround(d2), cell) order as the scan-stage argmin), `m{t}`
    * re-means in exact integer space, `c{t}` folds back per-cell
    * lists with the empty-cell keep-previous policy. */
  private[queries] def kmeansCtes(iters: Int, p: String = ""): String =
    kmeansCtesK(iters, IvfK.toString, p)

  /** [[kmeansCtes]] with the cluster count as a SQL expression — the
    * K ∝ N oracle seam: `kSql` may be a scalar subquery over the
    * corpus itself (e.g. `GREATEST(8, count(*) // c̄)`), so the SAME
    * static oracle string self-scales with the table it grades, the
    * way the Spark side derives K from the parquet footer count.
    * `p` prefixes every CTE name, so TWO independent k-means chains
    * (different K) can splice into ONE oracle (the recall-curve
    * query compares the exact hierarchy against the bucketed form).
    * `src` swaps the training relation (default the raw table; the
    * served-store oracle trains on the lake SLICE the store was
    * built from — any table expression exposing (vec_id, embedding),
    * e.g. an inline `(SELECT ... FROM embeddings WHERE ...)`). */
  private[queries] def kmeansCtesK(iters: Int, kSql: String, p: String = "",
                                   src: String = "embeddings"): String = {
    val sb = new StringBuilder(
      s"""WITH ${p}e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM $src),
         |${p}c0 AS (SELECT vec_id AS cell, ve AS cv FROM ${p}e0 WHERE vec_id BETWEEN 1 AND ($kSql))""".stripMargin)
    for (t <- 1 to iters) sb ++=
      s""",
         |${p}a${t - 1} AS (${kmeansAssignSql(t - 1, p)}),
         |${p}m$t AS (SELECT cell, i - 1 AS pos,
         |      CAST(sum(CAST(floor(ve[i] * 1000000 + 0.5e0) AS BIGINT)) AS BIGINT)
         |        / (1e6 * count(*)) AS c_mean
         |    FROM ${p}a${t - 1}, range(1, ${Dim + 1}) t(i) GROUP BY cell, i - 1),
         |${p}c$t AS (SELECT c.cell,
         |      CASE WHEN count(m.pos) = 0 THEN any_value(c.cv)
         |           ELSE list(m.c_mean ORDER BY m.pos) END AS cv
         |    FROM ${p}c${t - 1} c LEFT JOIN ${p}m$t m ON m.cell = c.cell
         |    GROUP BY c.cell)""".stripMargin
    sb.toString
  }

  /** Nearest-`c$t`-centroid assignment of the whole corpus —
    * row_number over the same (qround(d2), cell) total order the
    * Spark argmin sorts by. */
  private[queries] def kmeansAssignSql(t: Int, p: String = ""): String =
    s"""SELECT vec_id, ve, cell FROM (
       |    SELECT e0.vec_id, e0.ve, c.cell,
       |      row_number() OVER (PARTITION BY e0.vec_id ORDER BY
       |        ${qroundSql(d2S("e0.ve", "c.cv", Dim), 6)} ASC, c.cell ASC) AS rn
       |    FROM ${p}e0 e0, ${p}c$t c) WHERE rn = 1""".stripMargin

  /** The default `e` CTE: raw embeddings as (vec_id, ve). A def, not
    * a val: the oracle strings interpolate during `all`'s eager
    * construction, before helper vals below it would initialize. */
  private def pqRawE =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)"

  /** DuckDB twin of the PQ ENCODE: WITH-clauses ending in `codes`
    * (vec_id, m, cid) over `sub` (per-vector subvectors) and `cb`
    * (the per-subspace codebook) — shared by the search and train
    * oracles so the assignment scheme cannot desynchronize. `eDef`
    * supplies the CTE chain defining `e(vec_id, ve)` (raw by default;
    * the planted twin substitutes the synthesized corpus). */
  private def pqEncodeCtes(eDef: String = pqRawE): String =
    s"""WITH $eDef,
       |ms AS (SELECT unnest(range(0, $PqM)) AS m),
       |cb AS (SELECT ms.m, e.vec_id AS cid,
       |         list_transform(range(1, ${PqSub + 1}), i -> e.ve[ms.m * $PqSub + i]) AS cv
       |       FROM e, ms WHERE e.vec_id BETWEEN 1 AND $PqKs),
       |sub AS (SELECT e.vec_id, ms.m,
       |          list_transform(range(1, ${PqSub + 1}), i -> e.ve[ms.m * $PqSub + i]) AS sv
       |        FROM e, ms WHERE e.vec_id <> 0),
       |codes AS (SELECT vec_id, m, cid FROM (
       |    SELECT sub.vec_id, sub.m, cb.cid,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |        ORDER BY ${qroundSql(d2S("sub.sv", "cb.cv", PqSub), 6)} ASC, cb.cid ASC) AS rn
       |    FROM sub JOIN cb ON sub.m = cb.m) WHERE rn = 1)""".stripMargin

  /** DuckDB twin of the ITERATED Lloyd training + trained-codebook
    * ADC: unrolls `iters` refinement steps (means in exact integer
    * space, `list(... ORDER BY pos)` reassembly, empty codewords
    * coalesce to the previous value — [[graft.ops.Pq.lloydStep]]'s
    * exact semantics), re-assigns after each step, and ends in an
    * `ad` CTE (vec_id, ad2, ed2) computed against the FINAL codebook
    * — the trained twin of [[pqSqlCtes]]. */
  private def pqTrainedCtes(iters: Int, trainCte: Option[String] = None): String = {
    val sb = new StringBuilder(pqEncodeCtes())
    trainCte.foreach(ts => sb.append(s",\n$ts"))
    // when a training CTE `ts(vec_id)` is supplied, the per-iteration
    // MEANS aggregate over training members only (the sample-train →
    // full-encode convention); assignment/encode stay corpus-wide
    val tj = if (trainCte.isDefined) " JOIN ts ON ts.vec_id = c.vec_id" else ""
    var prevCodes = "codes"
    var prevCb = "cb"
    for (it <- 1 to iters) {
      sb.append(s""",
         |mn$it AS (SELECT c.m, c.cid, i - 1 AS pos,
         |    CAST(sum(CAST(floor(s.sv[i] * 1000000 + 0.5e0) AS BIGINT)) AS BIGINT)
         |      / (1e6 * count(*)) AS c_mean
         |  FROM $prevCodes c$tj JOIN sub s ON s.vec_id = c.vec_id AND s.m = c.m,
         |       range(1, ${PqSub + 1}) t(i)
         |  GROUP BY c.m, c.cid, i - 1),
         |cbl$it AS (SELECT m, cid, list(c_mean ORDER BY pos) AS cv FROM mn$it GROUP BY m, cid),
         |cb$it AS (SELECT p.m, p.cid, coalesce(l.cv, p.cv) AS cv
         |  FROM $prevCb p LEFT JOIN cbl$it l ON l.m = p.m AND l.cid = p.cid),
         |codes$it AS (SELECT vec_id, m, cid FROM (
         |    SELECT sub.vec_id, sub.m, cb$it.cid,
         |      row_number() OVER (PARTITION BY sub.vec_id, sub.m
         |        ORDER BY ${qroundSql(d2S("sub.sv", s"cb$it.cv", PqSub), 6)} ASC, cb$it.cid ASC) AS rn
         |    FROM sub JOIN cb$it ON sub.m = cb$it.m) WHERE rn = 1)""".stripMargin)
      prevCodes = s"codes$it"
      prevCb = s"cb$it"
    }
    sb.append(s""",
       |q AS (SELECT ms.m,
       |        list_transform(range(1, ${PqSub + 1}), i -> e.ve[ms.m * $PqSub + i]) AS qv
       |      FROM e, ms WHERE e.vec_id = 0),
       |qf AS (SELECT ve AS qve FROM e WHERE vec_id = 0),
       |ad0 AS (SELECT c.vec_id,
       |         ${qroundSql(s"sum(${qroundSql(d2S("q.qv", "cb.cv", PqSub), 6)})", 6)} AS ad2
       |       FROM codes c
       |       JOIN cb ON cb.m = c.m AND cb.cid = c.cid
       |       JOIN q ON q.m = c.m
       |       GROUP BY c.vec_id),
       |ad AS (SELECT c.vec_id,
       |         ${qroundSql(s"sum(${qroundSql(d2S("q.qv", s"$prevCb.cv", PqSub), 6)})", 6)} AS ad2,
       |         any_value(${qroundSql(d2S("ev.ve", "qf.qve", Dim), 6)}) AS ed2
       |       FROM $prevCodes c
       |       JOIN $prevCb ON $prevCb.m = c.m AND $prevCb.cid = c.cid
       |       JOIN q ON q.m = c.m
       |       JOIN e ev ON ev.vec_id = c.vec_id
       |       CROSS JOIN qf
       |       GROUP BY c.vec_id)""".stripMargin)
    sb.toString
  }

  /** DuckDB twin of the [[OpqStrides]] rotation panel: per arm t, the
    * rotated corpus (list permute × sign literals), its own rotated-
    * space codebook + encode (the [[pqEncodeCtes]] shapes, suffixed),
    * the exact integer quantization error (sum of per-vector
    * 1e6-quantized reconstruction errors — the argmin's own d2q), ADC
    * and exact top-10s, and recall hits; arms union and the
    * (qerr, t)-argmin marks is_best. */
  private def opqSql: String = {
    val sb = new StringBuilder(
      "WITH e0r AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve0 FROM embeddings),\n" +
      s"ms AS (SELECT unnest(range(0, $PqM)) AS m)")
    for (t <- 0 until 4) {
      val perm = opqPerm(t).mkString("[", ",", "]")
      val sgn = opqSigns(t).map(x => if (x > 0) "1e0" else "-1e0").mkString("[", ",", "]")
      sb ++= s""",
        |e$t AS (SELECT vec_id,
        |        list_transform(range(1, ${Dim + 1}), i -> ve0[($perm)[i]] * ($sgn)[i]) AS ve
        |      FROM e0r),
        |cb$t AS (SELECT ms.m, e.vec_id AS cid,
        |         list_transform(range(1, ${PqSub + 1}), i -> e.ve[ms.m * $PqSub + i]) AS cv
        |       FROM e$t e, ms WHERE e.vec_id BETWEEN 1 AND $PqKs),
        |sub$t AS (SELECT e.vec_id, ms.m,
        |          list_transform(range(1, ${PqSub + 1}), i -> e.ve[ms.m * $PqSub + i]) AS sv
        |        FROM e$t e, ms WHERE e.vec_id <> 0),
        |codes$t AS (SELECT vec_id, m, cid, d2q FROM (
        |    SELECT sub$t.vec_id, sub$t.m, cb$t.cid,
        |      ${qroundSql(d2S(s"sub$t.sv", s"cb$t.cv", PqSub), 6)} AS d2q,
        |      row_number() OVER (PARTITION BY sub$t.vec_id, sub$t.m
        |        ORDER BY ${qroundSql(d2S(s"sub$t.sv", s"cb$t.cv", PqSub), 6)} ASC, cb$t.cid ASC) AS rn
        |    FROM sub$t JOIN cb$t ON sub$t.m = cb$t.m) WHERE rn = 1),
        |qe$t AS (SELECT CAST(sum(rq6) AS BIGINT) AS qerr FROM (
        |    SELECT CAST(floor(sum(d2q) * 1000000 + 0.5e0) AS BIGINT) AS rq6
        |    FROM codes$t GROUP BY vec_id)),
        |q$t AS (SELECT ms.m,
        |        list_transform(range(1, ${PqSub + 1}), i -> e.ve[ms.m * $PqSub + i]) AS qv
        |      FROM e$t e, ms WHERE e.vec_id = 0),
        |qf$t AS (SELECT ve AS qve FROM e$t WHERE vec_id = 0),
        |ad$t AS (SELECT c.vec_id,
        |         ${qroundSql(s"sum(${qroundSql(d2S(s"q$t.qv", s"cb$t.cv", PqSub), 6)})", 6)} AS ad2,
        |         any_value(${qroundSql(d2S("ev.ve", s"qf$t.qve", Dim), 6)}) AS ed2
        |       FROM codes$t c
        |       JOIN cb$t ON cb$t.m = c.m AND cb$t.cid = c.cid
        |       JOIN q$t ON q$t.m = c.m
        |       JOIN e$t ev ON ev.vec_id = c.vec_id
        |       CROSS JOIN qf$t
        |       GROUP BY c.vec_id),
        |ex$t AS (SELECT vec_id FROM ad$t ORDER BY ed2 ASC, vec_id ASC LIMIT 10),
        |ap$t AS (SELECT vec_id FROM ad$t ORDER BY ad2 ASC, vec_id ASC LIMIT 10),
        |h$t AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM ap$t
        |       WHERE vec_id IN (SELECT vec_id FROM ex$t))""".stripMargin
    }
    sb ++= s""",
      |arms AS (${(0 until 4).map(t =>
        s"SELECT CAST($t AS BIGINT) AS t, (SELECT qerr FROM qe$t) AS qerr_q6, (SELECT hits FROM h$t) AS hits")
        .mkString("\n  UNION ALL ")})
      |SELECT t, qerr_q6, hits,
      |  (qerr_q6 = (SELECT min(qerr_q6) FROM arms)
      |   AND t = (SELECT t FROM arms ORDER BY qerr_q6 ASC, t ASC LIMIT 1)) AS is_best
      |FROM arms""".stripMargin
    sb.toString
  }

  /** DuckDB twin of [[pqScored]] as WITH-clauses ending in `ad`
    * (vec_id, code, ad2, ed2). `eDef` substitutes the corpus (raw by
    * default, synthesized for the planted twin) — one ADC definition
    * for every PQ oracle. */
  private def pqSqlCtes(eDef: String = pqRawE): String = {
    s"""${pqEncodeCtes(eDef)},
       |q AS (SELECT ms.m,
       |        list_transform(range(1, ${PqSub + 1}), i -> e.ve[ms.m * $PqSub + i]) AS qv
       |      FROM e, ms WHERE e.vec_id = 0),
       |qf AS (SELECT ve AS qve FROM e WHERE vec_id = 0),
       |ad AS (SELECT c.vec_id,
       |         string_agg(CAST(c.cid AS VARCHAR), ',' ORDER BY c.m) AS code,
       |         ${qroundSql(s"sum(${qroundSql(d2S("q.qv", "cb.cv", PqSub), 6)})", 6)} AS ad2,
       |         any_value(${qroundSql(d2S("ev.ve", "qf.qve", Dim), 6)}) AS ed2
       |       FROM codes c
       |       JOIN cb ON cb.m = c.m AND cb.cid = c.cid
       |       JOIN q ON q.m = c.m
       |       JOIN e ev ON ev.vec_id = c.vec_id
       |       CROSS JOIN qf
       |       GROUP BY c.vec_id)""".stripMargin
  }
}
