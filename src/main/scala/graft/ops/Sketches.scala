package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-backed approximate analytics: count-min-sketch heavy
  * hitters, next to the HLL++ distinct-count and Greenwald-Khanna
  * quantile queries of the approx family.
  *
  * Scale shape (the 100 TB path): the sketch is ONE map-side-combined
  * aggregate producing ~100 KB regardless of corpus size, and probes
  * ride a broadcast of that scalar — no shuffle grows with the data.
  * Verifying a sketch needs exact truth for the probed candidates
  * only: a `groupBy(item)` restricted to (or semi-joined with) the
  * candidate set, never a global exact count of everything.
  */
object Sketches {

  /** Estimated count of `item` in a serialized count-min sketch (the
    * binary from Spark's `count_min_sketch` aggregate). Native
    * expression [[graft.expressions.CmsEstimate]], registered by
    * GraftExtensions via Tables.conf. */
  def cmsEstimate(sketch: Column, item: Column): Column =
    call_function("graft_cms_estimate", sketch, item)

  /** Top-`k` heavy hitters of `item` with the CMS point-query
    * guarantee checked row-by-row: `within_bound` is
    * `exact <= estimate <= exact + ceil(eps * totalCount)` — the
    * two-sided CMS contract (never under-counts; over-counts by at
    * most eps·N with probability `confidence` per probe). With a fixed
    * `seed` the sketch, and therefore the output, is deterministic.
    *
    * The exact top-k here is one `groupBy(item)` shuffle (distinct
    * items, not rows) + a bounded TakeOrdered — the verification
    * truth, not the sketch's job. Ties at the k-boundary break on
    * `item` ascending so the selected set is deterministic. */
  def heavyHitters(df: DataFrame, item: String, k: Int, eps: Double = 0.001,
                   confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val sketch = df.agg(
      expr(s"count_min_sketch($item, ${eps}d, ${confidence}d, $seed)").as("_cms"),
      count(lit(1)).as("_n"))
    val top = df.groupBy(col(item))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col(item).asc)
      .limit(k)
    val est = cmsEstimate(col("_cms"), col(item))
    top.crossJoin(broadcast(sketch))
      .select(col(item), col("exact_cnt"),
        est.between(col("exact_cnt"),
          col("exact_cnt") + ceil(col("_n") * lit(eps)).cast("long")).as("within_bound"))
  }

  /** Ingest ONE batch into a persisted HLL sketch store: the batch
    * collapses to per-`keys` sketches (one map-side-combined
    * aggregate — the batch's own volume, then ~KB per group) APPENDED
    * as new store rows. No read-modify-write: HLL union is
    * associative and commutative, so the estimate side merges all of
    * a group's rows with `hll_union_agg` at read time and a month of
    * appends needs no compaction for correctness (re-sketch into a
    * fresh dir when file counts matter — [[compact]]). */
  def ingestBatch(batch: DataFrame, dir: String, keys: Seq[String],
                  itemCol: Column, lgK: Int = 12): Unit = {
    CompactSwap.requireNotCompacting(batch.sparkSession, dir, "sketch store", "ingest")
    batch.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(itemCol, lit(lgK)).as("sk"))
      .write.mode("append")
      .parquet(CompactSwap.currentTablePath(batch.sparkSession, dir, "sketches"))
  }

  /** STREAMING sketch-store maintenance: each micro-batch
    * [[ingestBatch]]es exactly once ([[ingestBatchOnce]]). Emissions
    * equal sequential [[ingestBatch]] calls over the same batch
    * sequence — spec-pinned. */
  def ingestStream(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                   dir: String, keys: Seq[String], itemCol: Column,
                   checkpoint: String, lgK: Int = 12)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchOnce(spark, batch, dir, keys, itemCol, checkpoint, batchId, lgK)
        ()
      }
      .start()

  /** The micro-batch body of [[ingestStream]]: append the batch's
    * sketches unless this (checkpoint, batchId) already did
    * ([[Stores.oncePerBatch]]). Returns whether the append ran. The
    * append is untagged: a torn-batch replay re-appends, harmless
    * HERE because HLL rows are union-idempotent (a doubled sketch row
    * merges to the same registers). */
  def ingestBatchOnce(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                      dir: String, keys: Seq[String], itemCol: Column,
                      checkpoint: String, batchId: Long, lgK: Int = 12): Boolean =
    Stores.oncePerBatch(batch, batchId, dir, "ingested", checkpoint) { _ =>
      ingestBatch(batch, dir, keys, itemCol, lgK)
    }

  /** Store COMPACTION: every ingested batch appends a file set, and a
    * month of micro-batches turns the store scan into thousands of
    * small-file opens. Unlike the dedup store's row-preserving
    * rewrite, sketches MERGE: each group's appended rows union to ONE
    * row (`hll_union_agg` — kilobytes per group), so compaction also
    * bounds the store's ROW count at the group count. Same protocol
    * as every store ([[CompactSwap.compacting]] around
    * [[CompactSwap.compactVersioned]]): [[ingestBatch]] refuses under
    * the gate, a concurrent append's rows are never lost, and a
    * reader resolving mid-compact sees the old or the new version,
    * never neither. Estimates before == after up to HLL's
    * representation caveat (union order — spec-pinned per group).
    * Batch markers survive compaction (they live beside
    * `sketches/`), so replayed batches stay no-ops. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              keys: Seq[String]): Unit =
    CompactSwap.compacting(spark, dir) { _ =>
      CompactSwap.compactVersioned(spark, dir, "sketches",
        df => df.groupBy(keys.map(col): _*).agg(hll_union_agg(col("sk")).as("sk")),
        (df, tmp) => df.write.parquet(tmp))
    }

  /** GROUP-level takedown — the one erasure the sketch store CAN do
    * exactly, and the graded half of its erasure story
    * (g_hll_rebuilt): the store is keyed by group and groups are
    * DISJOINT, so physically deleting a group's sketch rows leaves a
    * store bit-identical to one rebuilt over the post-erasure corpus
    * — no register ever mixed the erased group with a survivor.
    * Routed through the zero-window versioned compact (readers keep
    * their pinned listings; the previous version is GC'd one compact
    * later). Row-level (sub-group) erasure is impossible: HLL
    * registers are a max-merge, so inside one group's sketch the
    * erased rows' hashes may BE the register maxima. Its erasure path
    * is a rebuild over the post-erasure corpus (drop the store dir and
    * re-ingest, which [[ingestBatch]]'s markers make safe to replay). */
  def takedownGroup(spark: org.apache.spark.sql.SparkSession, dir: String,
                    removed: Column): Unit =
    // not(coalesce(removed, false)), NOT where(!removed): under SQL
    // three-valued logic a NULL-keyed group row (legal in groupBy —
    // rollup subtotals and NULL data keys both produce them) makes
    // the predicate NULL, and NOT(NULL) = NULL silently DROPS the
    // survivor row — a takedown of one group would erase every
    // NULL-keyed group too. NULL-on-the-predicate means "not the
    // removed group", so those rows are retained.
    CompactSwap.compacting(spark, dir) { _ =>
      CompactSwap.compactVersioned(spark, dir, "sketches",
        df => df.where(not(coalesce(removed, lit(false)))),
        (df, tmp) => df.write.parquet(tmp))
    }

  /** Distinct-count estimates over an ingested store, one row per
    * rollup level of `keys`: reads ONLY the group-sized sketch rows
    * (never the corpus), merging each group's appended sketches with
    * `hll_union_agg`. `grouping_id` rides along so callers joining
    * against exact rollups can tell NULL data keys from subtotal
    * rows (the g_hll_cube contract). */
  def estimateStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                    keys: Seq[String]): DataFrame =
    spark.read.parquet(CompactSwap.currentTablePath(spark, dir, "sketches"))
      .rollup(keys.map(col): _*)
      .agg(grouping_id().as("gid"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
}
