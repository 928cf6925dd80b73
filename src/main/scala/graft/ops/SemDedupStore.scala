package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.vectors
import graft.queries.qround

/** Persisted SEMANTIC-dedup store — the serving shape of SemDeDup
  * (Abbas et al. 2023) at lake scale, with the multi-probe radius as
  * a FIRST-CLASS serving knob.
  *
  * A 100 TB corpus is semantically deduplicated once; after that the
  * question the pipeline asks per crawl batch is "which of TODAY'S
  * embeddings are near-duplicates of something already in the lake?"
  * — and answering it by re-clustering the lake would dwarf the
  * delta. This store persists the three artifacts the bucketed
  * SemDeDup confinement derives from (the e_semdedup_bucketed /
  * _probed query family, reference analog: the precomputed-catalog
  * idea of datasets.py:51-53 applied to semantic-dedup state):
  *
  *  - `centroids`: the trained coarse quantizer — ONE folded row
  *    (the [[Pq.cellsRow]] scheme: sorted array of (cell, cv)
  *    structs) out of the two-Lloyd chain, so serving assignment is
  *    the same zero-shuffle broadcast argmin the query family uses
  *  - `codes`: (cell, fb, vec_id, ve) — every lake vector's coarse
  *    cell + residual-LSH fine bucket (b = ⌈log2(K/K1)⌉ bits over
  *    the 16-bit hyperplane code of ve − centroid, K = max(K1,
  *    N/c̄) from the BUILD-time corpus count)
  *  - `meta`: (b, n) — the bit width serving must bucket with (a
  *    re-derive from a GROWN store would silently shift every
  *    bucket) and the build count, for observability
  *
  * [[deltaKeep]] answers the serving question with the
  * broadcast-the-DELTA pattern: the store is scanned once and never
  * shuffled, the delta side explodes to its Hamming-radius-`radius`
  * probe buckets (masks generated combinatorially — never 2^b), the
  * join is (cell, bucket)-equi-confined, and the cosine refine runs
  * on the STORED vectors. `radius` is the per-run recall knob the
  * graded recall curve (e_semdedup_recall_curve, SCALE.md r19)
  * prices: radius 0 = cheapest/lowest recall, radius 1 buys back
  * ~2.3x the exact-hierarchy pair mass for a (b+1)x probe-row rider.
  * Because b grows only with log N, every radius stays in the
  * linear cost class at every decade (measured: e_semdedup_probed
  * slope 12.6 at x100→x1000 vs the 12.7 linear×(b+1)-rider
  * prediction).
  *
  * Lifecycle: build → deltaKeep → append (fold kept delta vectors in
  * so the next batch dedups against them too) → takedown (tombstone
  * vec_ids out, read-side anti-join) → compact (fold tombstones into
  * the codes table via [[CompactSwap.compactVersioned]] — zero
  * read-availability window, versioned generations). Reads resolve
  * [[CompactSwap.currentTablePath]], so a serving loop survives a
  * concurrent compact.
  */
object SemDedupStore {

  /** Marker namespace version — bump on any layout/semantics change
    * so a persisted store built by older code is rebuilt, not
    * misread. */
  val BuildVersion = 1

  /** Default coarse cluster count K1 and SemDeDup target mean fine
    * cluster size c̄ — the e_semdedup_bucketed constants. */
  val DefaultK1 = 8
  val DefaultCbar = 100L

  /** Rotation-training sample size (opq = true builds): bounded and
    * corpus-size-independent — a dim×dim rotation needs on the order
    * of dim² constraints, and 64× that is plenty. */
  val OpqSampleN = 4096

  /** XOR masks of Hamming weight <= r over b bits — the multi-probe
    * set, generated COMBINATORIALLY (never a 2^b enumeration: b
    * grows with log(corpus), and 2^27 masks at the 1e11-row scale
    * would be a driver stall where (27 choose 2) is 352). Canonical
    * home of the mask generator; the query family delegates here. */
  def hammingMasks(b: Int, r: Int): Seq[Long] = {
    def combos(start: Int, left: Int): Seq[Long] =
      if (left == 0) Seq(0L)
      else (start until b).flatMap(i => combos(i + 1, left - 1).map(_ | (1L << i)))
    (0 to math.min(r, b)).flatMap(combos(0, _)).distinct.sorted
  }

  /** Residual fine-bucket column: the low-`b` bits of the 16-bit
    * hyperplane code of (ve − cv), optionally through the persisted
    * OPQ rotation (the e_semdedup_opq recall lift applied to the
    * serving path — the b bits discriminate along learned axes).
    * `cv` must be the matched coarse centroid
    * ([[Pq.ivfAssignedWith]]'s output column). */
  private def fineBucket(b: Int, dim: Int,
                         rot: Option[Seq[Double]]): org.apache.spark.sql.Column = {
    val rv = zip_with(col("ve"), col("cv"), (x, c) => x - c)
    // one ArrayType literal (not array(lit × dim²)): same folded
    // constant, but the analyzer walks ONE node instead of 4096
    // children per rule pass — planned on EVERY served probe and
    // every serveStream/ingestStream micro-batch (r19 verdict item 3)
    val rvR = rot.fold(rv)(r =>
      call_function("graft_matvec", typedlit(r.toIndexedSeq), rv))
    (vectors.hyperplaneBucket(rvR, 16, dim) % lit(1L << b)).as("fb")
  }

  /** Build & persist the store for `emb` (vec_id, ve) under `dir`.
    * One corpus count (build-time only), the two-Lloyd training
    * chain (centroid-sized shuffles), one scan-stage assignment
    * pass, zero corpus shuffles. Purges stale versioned generations
    * FIRST (the purge-last crash window left old `_v<N>` dirs
    * outranking fresh flat tables).
    *
    * `opq = true` additionally trains the OPQ residual rotation
    * ([[Pq.opqRefine]], identity start, one Lloyd+Procrustes round —
    * the e_semdedup_opq construction) and persists R beside the
    * centroids, so every served probe buckets through the learned
    * basis (sf0.1 calibration: +16% of the exact hierarchy's pair
    * mass at the same b and cost; the rotation itself is one
    * scan-stage `graft_matvec` per row). */
  def build(emb: DataFrame, dir: String, k1: Int = DefaultK1,
            cbar: Long = DefaultCbar, dim: Int = 64,
            opq: Boolean = false): Unit = {
    val spark = emb.sparkSession
    CompactSwap.purgeVersions(spark, dir, "codes")
    // a rebuild without opq must not leave a stale rotation behind —
    // serving applies R whenever the table exists
    val rotP = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    val fs = rotP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rotP)) fs.delete(rotP, true)
    val n = emb.count()
    val k = math.max(k1.toLong, n / cbar)
    val b = math.ceil(math.log(k.toDouble / k1) / math.log(2)).toInt.max(0)
    val c2 = Pq.ivfLloydStep(emb, Pq.ivfLloydStep(emb, Pq.cellsRow(emb, k1)))
    c2.write.mode("overwrite").parquet(s"$dir/centroids")
    if (opq) {
      // SAMPLE-TRAINED rotation (the e_pq_train_sampled convention —
      // training cost flat in corpus size; at 100 TB a full-lake
      // Lloyd pass inside opqRefine would dwarf the build): one
      // TakeOrdered pass draws a bounded md5-keyed sample of the
      // residuals, re-keyed to dense vec_ids so opqRefine's seed
      // convention (codewords = vec_ids 1..ks) holds for ANY lake
      // slice — the raw ids may have holes (this is also what broke
      // a naive full-frame train: a missing seed id leaves the
      // codebook short and the native PQ kernel refuses it).
      val resid = Pq.ivfAssignedWith(emb, c2)
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          zip_with(col("ve"), col("cv"), (x, c) => x - c).as("ve"))
      val sample = resid
        .orderBy(md5(concat(lit("semddR"), col("vec_id").cast("string"))))
        .limit(OpqSampleN)
        .select(row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("vec_id"))).cast("long").as("vec_id"),
          col("ve"))
      val id0 = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
      val (r, _, _) = Pq.opqRefine(sample, id0, Pq.Params(dim), rounds = 1)
      spark.range(1)
        .select(lit(dim).as("dim"),
          typedlit(r.flatten.toIndexedSeq).as("rflat"))
        .write.mode("overwrite").parquet(s"$dir/rotation")
    }
    val rot = readRotation(spark, dir)
    Pq.ivfAssignedWith(emb, c2)
      .select(col("cell"), fineBucket(b, dim, rot), col("vec_id"), col("ve"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    spark.range(1)
      .select(lit(b).as("b"), lit(n).as("n"), lit(dim).as("dim"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The persisted OPQ rotation, flat row-major, if this store was
    * built with `opq = true` (bounded driver algebra: dim² doubles). */
  private def readRotation(spark: SparkSession, dir: String): Option[Seq[Double]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(s"$dir/rotation")
      .select(col("rflat")).collect().head.getSeq[Double](0))
  }

  /** [[build]] exactly once per corpus fingerprint (the
    * [[AnnIndex.tableFingerprint]] O(#files) check) — the
    * marker-skip convention every persisted store shares. */
  def buildIfAbsent(spark: SparkSession, emb: DataFrame, dir: String,
                    fingerprint: String, k1: Int = DefaultK1,
                    cbar: Long = DefaultCbar, dim: Int = 64,
                    opq: Boolean = false): Unit =
    Stores.oncePerFingerprint(spark, dir,
      if (opq) "semdedup_opq" else "semdedup", fingerprint,
      BuildVersion) {
      build(emb, dir, k1, cbar, dim, opq)
    }

  private def requireStore(spark: SparkSession, dir: String): Unit =
    for (t <- Seq("codes"))
      require(CompactSwap.currentVersion(spark, dir, t).isDefined &&
        new org.apache.hadoop.fs.Path(s"$dir/meta")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(new org.apache.hadoop.fs.Path(s"$dir/meta")),
        s"no semdedup store table '$t'/meta under $dir — run " +
          "build/buildIfAbsent first (a half-built dir means a crashed " +
          "build: buildIfAbsent self-heals it)")

  /** (b, dim) from the persisted meta — serving MUST bucket with the
    * build-time bit width: re-deriving b from a grown store's count
    * would silently shift every bucket. */
  private def readMeta(spark: SparkSession, dir: String): (Int, Int) = {
    val m = spark.read.parquet(s"$dir/meta").select(col("b"), col("dim"))
      .collect().head
    (m.getInt(0), m.getInt(1))
  }

  /** Stored vectors currently serving: the codes table at its
    * current version, minus tombstoned vec_ids. The tombstone side
    * carries NO broadcast hint — takedown sets are request-sized and
    * the planner broadcasts them on statistics; a lake-sized
    * tombstone table degrades to a shuffle whose left side is the
    * store scan this probe was already paying. `excludeTag` skips a
    * tagged batch's own published files — the torn-batch replay
    * closure: a replayed ingest batch must probe the store AS OF its
    * start, not find its own first-attempt codes. */
  private def liveCodes(spark: SparkSession, dir: String,
                        excludeTag: Option[String] = None): DataFrame = {
    val cur = CompactSwap.currentTablePath(spark, dir, "codes")
    val codes = excludeTag match {
      case Some(tag) => CompactSwap.readExcludingTag(spark, cur, tag)
      case None => spark.read.parquet(cur)
    }
    CompactSwap.snapshotFlat(spark, s"$dir/tombstones") match {
      case (_, Some(tombs)) =>
        codes.join(tombs.select(col("vec_id")), Seq("vec_id"), "left_anti")
      case (_, None) => codes
    }
  }

  /** Which of `delta` (vec_id, ve) to KEEP — the rows with no stored
    * near-duplicate (quantized cosine >= `thr` within the probed
    * buckets). `radius` is the serving-time recall knob: the delta
    * side explodes to its Hamming-radius probe buckets and the join
    * stays (cell, bucket)-equi-confined — the store is scanned once,
    * never shuffled, when the delta fits the broadcast budget
    * (callers who know the delta's size pass `knownDeltaRows` —
    * stream batches, footer-counted tables — else ONE delta-sized
    * count() pays for the gate; over budget the hint drops away and
    * the planner picks a shuffle join whose probe side is still
    * delta×masks-bounded by construction). */
  def deltaKeep(spark: SparkSession, delta: DataFrame, dir: String,
                radius: Int = 1, thr: Double = 0.40,
                maxBroadcastRows: Long = Bpe.DefaultMaxBroadcastRows,
                knownDeltaRows: Option[Long] = None,
                excludeTag: Option[String] = None): DataFrame = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    requireStore(spark, dir)
    val (b, dim) = readMeta(spark, dir)
    val masks = hammingMasks(b, radius)
    val rot = readRotation(spark, dir)
    val assigned = Pq.ivfAssignedWith(delta, storedCentroids(spark, dir))
      .select(col("vec_id"), col("ve"), col("cell"), fineBucket(b, dim, rot))
    val deltaRows = knownDeltaRows.getOrElse(delta.count())
    val bc: DataFrame => DataFrame =
      if (deltaRows * masks.size <= maxBroadcastRows) broadcast else identity
    val probes = bc(assigned.select(col("cell"),
      explode(array(masks.map(m => col("fb").bitwiseXOR(lit(m))): _*)).as("fb"),
      col("vec_id").as("vec_d"), col("ve").as("vd")))
    val stored = liveCodes(spark, dir, excludeTag)
      .select(col("cell"), col("fb"), col("ve").as("vs"))
    val dropped = probes.join(stored, Seq("cell", "fb"))
      .where(qround(vectors.cosine(col("vd"), col("vs")), 6) >= thr)
      .select(col("vec_d").as("vec_id")).distinct()
    delta.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** The stored coarse quantizer as the one folded centroid row. */
  private def storedCentroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids")

  /** Read-side serving loop — the [[DedupIndex.serveStream]] /
    * [[LineStore.serveStream]] symmetry for the semantic store: each
    * micro-batch of (vec_id, ve) rows probes the store via
    * [[deltaKeep]] at the given radius and hands the KEPT rows to
    * `sink`. Probes are read-only (no batch markers needed — replay
    * idempotency is the sink's own keying), and every batch
    * re-resolves the store (current codes version, fresh
    * tombstones), so an append, takedown, or versioned compact
    * landing after stream start reflects in the NEXT batch's
    * answers. The radius knob is per-LOOP here: a serving deployment
    * re-tunes recall by restarting the loop, never by rebuilding the
    * store. */
  def serveStream(spark: SparkSession, vecs: DataFrame, dir: String,
                  radius: Int = 1, thr: Double = 0.40,
                  checkpoint: Option[String] = None)
                 (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w0 = vecs.writeStream.outputMode("append")
    val w = checkpoint.fold(w0)(c => w0.option("checkpointLocation", c))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(deltaKeep(spark, batch, dir, radius, thr), batchId)
    }.start()
  }

  /** Fold KEPT delta vectors into the store so the next batch dedups
    * against them too. Appends ONLY: assignment runs against the
    * STORED quantizer at the STORED bit width, so appended codes are
    * row-identical to what a one-shot build over lake ∪ kept would
    * assign THROUGH THIS quantizer (the centroids themselves are
    * never retrained by append — the standard IVF serving contract;
    * a drifted corpus warrants a rebuild). `tag` routes the write
    * ([[CompactSwap.appendTo]]). */
  def append(spark: SparkSession, kept: DataFrame, dir: String,
             tag: Option[String] = None): Unit = {
    CompactSwap.requireNotCompacting(spark, dir, "semdedup store", "append")
    requireStore(spark, dir)
    val (b, dim) = readMeta(spark, dir)
    val rot = readRotation(spark, dir)
    val rows = Pq.ivfAssignedWith(kept, storedCentroids(spark, dir))
      .select(col("cell"), fineBucket(b, dim, rot), col("vec_id"), col("ve"))
    CompactSwap.appendTo(rows, CompactSwap.currentTablePath(spark, dir, "codes"), tag)
  }

  /** Absorb loop — the [[DedupIndex.ingestStream]] symmetry: each
    * micro-batch of (vec_id, ve) rows is probed ([[deltaKeep]] at
    * `radius`), the KEPT rows go to `sink` AND are [[append]]ed so
    * the next batch dedups against them too, exactly once per batch
    * ([[Stores.oncePerBatch]]). Restart within keep compacts — the
    * excludeTag reconstruction reads the current version's files
    * (the DedupIndex §16.22 operational rule). */
  def ingestStream(spark: SparkSession, vecs: DataFrame, dir: String,
                   checkpoint: String, radius: Int = 1,
                   thr: Double = 0.40)
                  (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Stores.oncePerBatch(batch, batchId, dir, "ingested", checkpoint) { tag =>
          val kept = deltaKeep(spark, batch, dir, radius, thr,
            excludeTag = Some(tag)).persist()
          try {
            sink(kept, batchId)
            append(spark, kept, dir, tag = Some(tag))
          } finally kept.unpersist()
        }
        ()
      }
      .start()
  }

  /** Tombstone `removed` (vec_id) out of the store: read-side
    * anti-joined by every [[deltaKeep]] until a [[compact]] folds
    * them into the codes table physically. */
  def takedown(spark: SparkSession, removed: DataFrame, dir: String): Unit = {
    CompactSwap.requireNotCompacting(spark, dir, "semdedup store", "takedown")
    requireStore(spark, dir)
    removed.select(col("vec_id"))
      .write.mode("append").parquet(s"$dir/tombstones")
  }

  /** Physically drop tombstoned rows: one [[CompactSwap]] versioned
    * rewrite of the codes table (zero read-availability window — a
    * live serving loop resolves the promoted version on its next
    * batch) under the shared writer gate and tombstone handshake
    * ([[CompactSwap.compacting]]). */
  def compact(spark: SparkSession, dir: String): Unit = {
    requireStore(spark, dir)
    CompactSwap.compacting(spark, dir, "tombstones") { case Seq(tombs) =>
      CompactSwap.compactVersioned(spark, dir, "codes",
        df => tombs.fold(df)(t =>
          df.join(t.select(col("vec_id")), Seq("vec_id"), "left_anti")),
        (df, p) => df.write.mode("overwrite").parquet(p))
    }
  }
}
