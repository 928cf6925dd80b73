package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two "run this once" markers every persisted store shares: the
  * build-once lifecycle (the ANN and dedup indexes, line and sketch
  * stores, tokenizer and classifier artifacts, and the registry's
  * curated-corpus and cluster-label stores) and the per-micro-batch
  * marker of the stores' streaming ingest loops. */
object Stores {

  /** Run `work` exactly once per (dir, kind, version, fingerprint).
    * When the CURRENT marker is absent the dir is cleared first — that
    * removes stale data AND stale markers of prior fingerprints, so an
    * older corpus state can never be served off its leftover marker
    * after the data flip-flops. The marker is written only after
    * `work` completes: a crash restarts from an empty dir. `version`
    * rides in the marker name, so a store whose build logic changed is
    * rebuilt rather than served stale; stores with their own layout
    * pass their own (e.g. [[DedupIndex.BuildVersion]]). */
  def oncePerFingerprint(spark: SparkSession, dir: String, kind: String, fp: String,
                         version: Int = AnnIndex.BuildVersion)(work: => Unit): Unit =
    synchronized {
      val marker = new Path(s"$dir/_${kind}_v${version}_$fp")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        fs.delete(new Path(dir), true)
        work
        fs.create(marker, true).close()
      }
    }

  /** Run `body` for micro-batch `batchId` of the stream checkpointed at
    * `checkpoint` unless the batch already committed or is empty;
    * returns whether it ran. The marker
    * `$dir/_<verb>_<ckptTag>_batch_<batchId>` is written only after
    * `body` returns: a batch REPLAYED after it committed (processed in
    * full, but the checkpoint did not advance — the common failure)
    * is skipped instead of double-applied, a body that throws leaves
    * no marker so the replay runs it again, and an empty batch runs
    * nothing and writes no marker.
    *
    * Markers are namespaced by CHECKPOINT identity (`ckptTag`, the hex
    * hash of the checkpoint path), not batchId alone: a stream
    * restarted with a fresh checkpoint restarts batchIds at 0, and
    * bare-batchId markers from the old run would silently swallow the
    * new run's first batches.
    *
    * `body` receives the batch tag `<ckptTag>_b<batchId>`. Its store
    * writes pass it to [[CompactSwap.appendTo]], closing the TORN
    * window the marker alone leaves open (a crash after an append but
    * before the marker replays to the identical store state), and its
    * probes of the tables it appends pass it as `excludeTag` or an
    * as-of pin, so the replay recomputes against the store as of
    * batch start rather than its own first attempt. */
  def oncePerBatch(batch: DataFrame, batchId: Long, dir: String, verb: String,
                   checkpoint: String)(body: String => Unit): Boolean = {
    val marker = new Path(s"$dir/_${verb}_${ckptTag(checkpoint)}_batch_$batchId")
    val fs = marker.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val run = !fs.exists(marker) && !batch.isEmpty
    if (run) {
      body(batchTag(checkpoint, batchId))
      fs.create(marker, true).close()
    }
    run
  }

  private def ckptTag(checkpoint: String): String =
    java.lang.Integer.toHexString(checkpoint.hashCode)

  /** The tag [[oncePerBatch]] hands its body for this batch. */
  def batchTag(checkpoint: String, batchId: Long): String =
    s"${ckptTag(checkpoint)}_b$batchId"
}
