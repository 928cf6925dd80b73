package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The build-once lifecycle every persisted store shares (the ANN and
  * dedup indexes, line and sketch stores, tokenizer and classifier
  * artifacts, and the registry's curated-corpus and cluster-label
  * stores). */
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
}
