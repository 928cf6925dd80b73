package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The maintenance protocol every persisted store shares (DedupIndex,
  * AnnIndex, LineStore, SemDedupStore and the Sketches HLL store):
  *
  *  - [[requireNotCompacting]]: the writer gate every append/takedown
  *    verb checks first;
  *  - [[compacting]]: the `_compacting` marker held across a compact,
  *    plus the tombstone handshake (snapshot → fold → delete);
  *  - [[compactVersioned]]: the zero-window versioned rewrite the fold
  *    runs per table;
  *  - [[appendTo]]: the tag-routed append of every writer verb that
  *    takes a stream batch tag ([[appendExactlyOnce]] for stream
  *    batches, a plain append otherwise).
  *
  * The stores share this protocol, not a shape: each keeps its own
  * fold body, table layout and read-side anti-joins. The per-batch
  * stream marker that supplies the append tags lives beside the
  * build-once marker in [[Stores.oncePerBatch]].
  */
object CompactSwap {

  /** Data files under `p` RECURSIVELY as (status, path relative to
    * `p`) — partitioned tables keep their `key=value/part-…` layout
    * through the manifests and the late-append copies. Hidden
    * dirs/files (`_temporary`, markers, `.crc`) are skipped at every
    * level. */
  private def dataFiles(fs: FileSystem, p: Path): Seq[(FileStatus, String)] = {
    def walk(d: Path, prefix: String): Seq[(FileStatus, String)] =
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq.flatMap { f =>
        val n = f.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (f.isFile) Seq((f, prefix + n))
        else walk(f.getPath, prefix + n + "/")
      }
    walk(p, "")
  }

  private def readManifest(fs: FileSystem, p: Path): Set[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
    finally in.close()
  }

  // ---- writer gate and compact marker ------------------------------

  private def compactingMarker(dir: String): Path = new Path(s"$dir/_compacting")

  /** Writer gate: refuse `verb` on `store` (its kind, for the message)
    * while a [[compacting]] call holds `dir`. The check is
    * check-then-act, so it is only the FAST-FAIL side of writer
    * exclusion: a refused stream batch stays un-marked and replays
    * cleanly once the compact is done, and an append that passed the
    * check before the marker went up has its files copied into the
    * new version by [[compactVersioned]], never retired. A marker
    * left by a crashed compact keeps writers refused until the next
    * compact call clears it (the conservative side of the race). One
    * `fs.exists` per call. */
  def requireNotCompacting(spark: SparkSession, dir: String, store: String,
                           verb: String): Unit = {
    val marker = compactingMarker(dir)
    if (marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker))
      throw new IllegalStateException(
        s"$store $dir is compacting ($marker present); retry the $verb after it completes")
  }

  /** Run a store compact: raise the `_compacting` marker in `dir`,
    * snapshot each tombstone side table `tombs` (flat dirs under
    * `dir`, [[snapshotFlat]]), hand their frames (None when empty) to
    * `fold` — which anti-joins them into its [[compactVersioned]]
    * rewrites — then delete EXACTLY the snapshotted tombstone files,
    * and lower the marker whether or not `fold` throws. A stale
    * marker from a crashed compact is this call's to clear: it
    * rewrites the store the marker guarded.
    *
    * Tombstone handshake: a takedown that lands DURING the fold
    * survives for the next compact, and a crash between the fold and
    * the delete merely re-folds (anti-join deletion is idempotent; a
    * torn tombstone publish folds partially and completes on replay,
    * harmless for the same reason). Fold bodies anti-join with no
    * broadcast hint and no distinct: the fold is the one operation
    * guaranteed to meet the largest accumulated backlog (a
    * bulk-erasure wave), exactly where a forced broadcast would OOM
    * the driver — the planner broadcasts small backlogs and degrades
    * to a shuffle for huge ones, and anti-join semantics need no
    * dedup of the right side. */
  def compacting(spark: SparkSession, dir: String, tombs: String*)
                (fold: Seq[Option[DataFrame]] => Unit): Unit = {
    val marker = compactingMarker(dir)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    try {
      val snaps = tombs.map(t => snapshotFlat(spark, s"$dir/$t"))
      fold(snaps.map(_._2))
      snaps.foreach(_._1.foreach(fs.delete(_, false)))
    } finally fs.delete(marker, false)
  }

  /** The stores' one write path into table dir `cur`. Tagged (a
    * stream batch's `<ckptTag>_b<batchId>` from
    * [[Stores.oncePerBatch]]) it publishes through
    * [[appendExactlyOnce]], so a batch replayed after a crash between
    * its store appends and its batch marker lands exactly once —
    * which matters most for ADDITIVE tables (the line store's count
    * partials feed a `>= minDocs` threshold, and a doubled ANN code
    * row occupies two top-k slots); union-idempotent (HLL) and
    * row-set tables gain the same replay hygiene. Untagged it is a
    * plain parquet append. `partitionBy` applies to both. */
  def appendTo(df: DataFrame, cur: String, tag: Option[String],
               partitionBy: String*): Unit = {
    def writer(d: DataFrame) =
      if (partitionBy.isEmpty) d.write else d.write.partitionBy(partitionBy: _*)
    tag match {
      case Some(t) =>
        appendExactlyOnce(df, cur, t, (d, p) => writer(d).mode("overwrite").parquet(p))
      case None => writer(df).mode("append").parquet(cur)
    }
  }

  /** EXACTLY-ONCE batch append into table dir `cur`: the frame is
    * written to a sibling temp dir, then each part file is PUBLISHED
    * under the deterministic name `gb-<tag>-<i>.parquet` — after
    * first deleting any files already carrying exactly that tag. A
    * composite stream batch that crashed between its store appends
    * and its idempotency marker therefore REPLAYS to the identical
    * store state instead of double-appending (the torn-batch window
    * the marker protocol alone leaves open; [[appendTo]] says which
    * tables that matters for).
    *
    * A `_published_<table>_<tag>` sidecar in the STORE dir (outside
    * the table, so a compact never touches it) records that
    * the tag's files were fully published. When the sidecar exists
    * but no tagged files remain, a compaction has FOLDED the batch
    * into anonymous part files — the replay skips republishing
    * instead of re-introducing the batch. [[compactVersioned]] refuses to
    * fold a tag whose sidecar is ABSENT, so only complete publishes
    * ever fold. Publication states are otherwise self-healing: no
    * sidecar + partial tagged files (a crash mid-publish) is cleaned
    * and republished in full.
    *
    * Tagged files and sidecars of COMMITTED batches are left in place
    * — the same accumulation convention as the streams' batch marker
    * files, folded (files) or carried (sidecars, zero-byte) by
    * compaction. Deliberately no untag-on-commit step: renaming
    * published files after the marker raced the compact's late-append
    * reconcile (a finalize between snapshot and reconcile made the
    * renamed file look like a missed concurrent append and
    * double-counted the batch).
    *
    * Replay-recompute contract: callers whose batch COMPUTATION reads
    * the very tables being appended must recompute against the store
    * AS OF batch start — [[readExcludingTag]] — or the replay sees
    * its own first attempt and derives a different frame (for the
    * dedup store, an EMPTY one). The streams pass their batch tag to
    * both sides.
    *
    * OPERATIONAL RULE (recorded, not closable by markers alone):
    * between a stream crash and its restart, compacting its store can
    * fold a COMPLETE-but-unmarked batch; the restart's replay then
    * cannot reconstruct the as-of-start store (the folded files are
    * anonymous), so its recompute — and hence its sink re-emission —
    * can diverge from the first attempt even though the STORE stays
    * correct (the sidecar skip prevents any re-append). Restart
    * streams (draining their replays) before compacting their
    * stores. */
  def appendExactlyOnce(df: DataFrame, cur: String, tag: String,
                        write: (DataFrame, String) => Unit =
                          (d, p) => d.write.mode("overwrite").parquet(p)): Unit = {
    require(tag.matches(TagCharset), s"tag must match $TagCharset, got '$tag'")
    val curP = new Path(cur)
    val fs = curP.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val published = new Path(curP.getParent,
      s"_published_${baseTableName(curP.getName)}_$tag")
    val existing = taggedFiles(fs, curP, tag)
    if (fs.exists(published) && existing.isEmpty) return // folded by a compact
    val tmp = new Path(curP.getParent, s"_append_${curP.getName}_$tag")
    write(df, tmp.toString)
    // ORDER IS LOAD-BEARING: drop the sidecar BEFORE touching the
    // published files. sidecar-present + zero-tagged-files must mean
    // exactly one thing — "a compact folded a complete publish" — so
    // a crash between the deletes and the renames below (no sidecar,
    // partial files) replays as a full republish, never as a
    // misread fold-skip that would silently lose the batch.
    fs.delete(published, false)
    existing.foreach(f => fs.delete(f, false))
    fs.mkdirs(curP)
    dataFiles(fs, tmp).sortBy(_._2).zipWithIndex.foreach { case ((f, rel), i) =>
      val slash = rel.lastIndexOf('/')
      val relDir = if (slash < 0) "" else rel.substring(0, slash + 1)
      val dest = new Path(curP, s"${relDir}gb-$tag-$i.parquet")
      fs.mkdirs(dest.getParent)
      require(fs.rename(f.getPath, dest),
        s"appendExactlyOnce: rename ${f.getPath} -> $dest failed")
    }
    fs.create(published, true).close()
    fs.delete(tmp, true)
    // COMMIT-TIME RE-RESOLVE (versioned tables): this publish
    // resolved `cur` at call time; if a compact promoted past it
    // while the write job ran — after compactVersioned's second
    // reconcile pass — the batch's rows sit only in a retired
    // version, invisible to currentTablePath readers until the
    // GC-time reconcile carries them forward. The tag makes the
    // files identifiable, so close the visibility gap here: if the
    // current dir moved, copy any tagged file not already accounted
    // for (present by name, or folded per a successor's _v_folded
    // record) into the new current. Copy, not move — `cur` must stay
    // byte-complete for pinned readers. Idempotent vs the compact's
    // own copyLate (existence-checked, same relative names).
    reconcilePublished(df.sparkSession, curP, tag)
  }

  /** The re-resolve half of [[appendExactlyOnce]]'s commit: carry
    * `tag`'s files from the (possibly retired) `publishedIn` table
    * dir into the table's CURRENT dir, unless a version above
    * `publishedIn` already holds them by name or records them as
    * folded. No-op when `publishedIn` is still current. */
  private def reconcilePublished(spark: SparkSession, publishedIn: Path,
                                 tag: String): Unit = {
    val fs = publishedIn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = publishedIn.getParent.toString
    val table = baseTableName(publishedIn.getName)
    val curNow = new Path(currentTablePath(spark, dir, table))
    if (curNow == publishedIn) return
    val v0 = versionOf(publishedIn.getName)
    val above = completeVersions(fs, dir, table).filter(_ > v0)
    if (above.isEmpty) return
    // rel names of this tag's files as published
    val mine = dataFiles(fs, publishedIn).filter { case (_, rel) =>
      val m = TaggedName.matcher(rel.split('/').last)
      m.matches() && m.group(1) == tag
    }
    val handled: Set[String] = above.flatMap { v =>
      val vd = versionPath(dir, table, v)
      val rec = new Path(vd, FoldedRecord)
      val folded = if (fs.exists(rec)) readManifest(fs, rec) else Set.empty[String]
      folded ++ dataFiles(fs, vd).map(_._2)
    }.toSet
    val conf = spark.sparkContext.hadoopConfiguration
    mine.filterNot(p => handled(p._2)).foreach { case (f, rel) =>
      val dest = new Path(curNow, rel)
      if (!fs.exists(dest)) {
        fs.mkdirs(dest.getParent)
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs, dest, false, conf)
      }
    }
  }

  // ---- versioned tables: zero-window serving compaction ----------
  //
  // An in-place two-rename swap has a brief window where the table
  // dir is absent, and it MOVES the files a live reader may have
  // pinned (a stream-static join lists files at stream start; a
  // batch probe at plan time). The versioned layout closes both:
  // the table lives at
  // `<table>_v<N>`, a compact WRITES `<table>_v<N+1>` beside it and
  // promotes it by creating ONE sentinel file ([[VersionSentinel]])
  // inside — readers resolving before the create see v<N>, after it
  // v<N+1>, never neither, and v<N>'s files are left UNTOUCHED so
  // every pinned listing keeps reading. Old versions are retained
  // (`keep`, default 1) and garbage-collected one compact later, so
  // the stated contract is "a pinned reader/stream survives `keep`
  // compacts"; a version number doubles as a REPRODUCIBLE read
  // handle ([[readVersion]]: pin "the store as of compact N" for a
  // training run) until GC takes it.
  //
  // Layout: version 0 is the legacy flat `<table>` dir every build
  // writes; the first compact promotes to `<table>_v1`. The current
  // version is DERIVED (max sentineled `_v<N>`, else flat), so
  // promotion needs no atomic pointer rename — sentinel creation is
  // the commit point, and a crash before it leaves an unsentineled
  // dir the next compact purges. Late appends (in flight when the
  // `_compacting` gate went up) are COPIED, not moved, into the new
  // version before the sentinel: a crash mid-copy loses nothing
  // (originals stay in v<N>), and v<N> stays byte-complete for
  // pinned readers. Tag sidecars (`_published_<table>_<tag>`) use
  // the BASE table name ([[baseTableName]]), so a replay after a
  // promoting compact still detects its folded publish.

  /** Sentinel marking a version dir complete — its creation IS the
    * promotion, and its content is the version's data-file MANIFEST
    * (the immutable set [[readVersion]] pins; later appends land in
    * the dir but not in the manifest). Underscore-prefixed so
    * Spark's parquet reader skips it. */
  val VersionSentinel = "_v_complete"

  /** Record written beside the sentinel: the relative names of the
    * PREDECESSOR version's data files whose rows were FOLDED into
    * this version's rewrite output. GC reads it to tell a folded
    * predecessor file (rows live on under anonymous rewrite names)
    * from a STRAGGLER — an append that resolved the table path before
    * a promotion but committed its files after both reconcile passes,
    * landing rows only in the retired version. Stragglers are carried
    * forward at GC time instead of deleted (see [[compactVersioned]]'s
    * final-reconcile note). */
  val FoldedRecord = "_v_folded"

  /** `<table>_v<N>` → `<table>` (sidecars and tag bookkeeping must
    * not fork per version). Store table names must not themselves
    * end in `_v<digits>`. */
  private def baseTableName(name: String): String =
    name.replaceAll("_v\\d+$", "")

  /** Version number encoded in a table dir name (0 for the flat
    * layout). */
  private def versionOf(name: String): Int = {
    val m = java.util.regex.Pattern.compile(".*_v(\\d+)$").matcher(name)
    if (m.matches()) m.group(1).toInt else 0
  }

  /** Delete every versioned generation `<table>_v<N>` of `table`
    * under `dir` — sentineled or not. The FRESH-STORE builds call
    * this FIRST (before writing the flat tables): without the purge a
    * stale sentineled `<table>_v9` from a prior lifecycle outranks
    * the fresh flat build in [[currentTablePath]], and purging LAST
    * left a crash window where old versions resolved against
    * freshly-overwritten sibling tables — an inconsistent store
    * serving silently wrong rows. Purge-first is idempotent and can
    * only leave a missing/half-built store, which the loud
    * missing-table checks catch. */
  def purgeVersions(spark: SparkSession, dir: String, table: String): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(table) + "_v\\d+")
    if (fs.exists(d))
      fs.listStatus(d).foreach { st =>
        if (st.isDirectory && pat.matcher(st.getPath.getName).matches())
          fs.delete(st.getPath, true)
      }
  }

  private def versionDirName(table: String, v: Int): String =
    if (v == 0) table else s"${table}_v$v"

  /** Path of version `v` of `table` under store `dir` (0 = flat). */
  def versionPath(dir: String, table: String, v: Int): Path =
    new Path(dir, versionDirName(table, v))

  /** All version numbers of `table` present under `dir` that are
    * COMPLETE (sentineled, or the flat v0), ascending. */
  private def completeVersions(fs: FileSystem, dir: String, table: String): Seq[Int] = {
    val d = new Path(dir)
    if (!fs.exists(d)) return Seq.empty
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(table) + "_v(\\d+)")
    val vs = fs.listStatus(d).toSeq.flatMap { st =>
      val m = pat.matcher(st.getPath.getName)
      if (st.isDirectory && m.matches() &&
          fs.exists(new Path(st.getPath, VersionSentinel)))
        Some(m.group(1).toInt)
      else None
    }
    val flat = if (fs.exists(new Path(d, table))) Seq(0) else Seq.empty
    (flat ++ vs).sorted
  }

  /** The current (highest complete) version of `table`, or None when
    * the store was never built. */
  def currentVersion(spark: SparkSession, dir: String, table: String): Option[Int] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    completeVersions(fs, dir, table).lastOption
  }

  /** Resolve the CURRENT path of `table` — what every reader and
    * appender of a versioned store goes through. Falls back to the
    * flat path for never-compacted (and never-built) stores, so
    * build-then-read flows need no special casing. */
  def currentTablePath(spark: SparkSession, dir: String, table: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    versionPath(dir, table, completeVersions(fs, dir, table).lastOption.getOrElse(0))
      .toString
  }

  /** Read a PINNED version — the reproducible-training handle: the
    * rows of `table` exactly as compact `v` left them, byte-stable
    * under any number of later appends/compacts until GC retires the
    * version. The CURRENT version dir is mutable (appends land in
    * it), so the pin reads exactly the files the promotion's sentinel
    * MANIFESTED — files are only ever added to a version dir, never
    * rewritten, so the manifested set is immutable. v = 0 (the flat
    * pre-compact layout, which has no manifest) pins the whole dir —
    * immutable from the first promotion on, mutable before it (there
    * is no compact state to pin yet). Loud when `v` is gone (the
    * keep policy) or never completed. */
  def readVersion(spark: SparkSession, dir: String, table: String, v: Int): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(completeVersions(fs, dir, table).contains(v),
      s"version $v of $table under $dir is not available — " +
        s"present: ${completeVersions(fs, dir, table).mkString(", ")} " +
        "(older versions are garbage-collected one compact after promotion; " +
        "raise `keep` on compact for longer pinning)")
    val vp = versionPath(dir, table, v)
    if (v == 0) spark.read.parquet(vp.toString)
    else {
      val manifest = readManifest(fs, new Path(vp, VersionSentinel)).filter(_.nonEmpty)
      require(manifest.nonEmpty,
        s"version $v of $table under $dir manifested no data files — nothing to pin")
      spark.read.option("basePath", vp.toString)
        .parquet(manifest.toSeq.map(rel => new Path(vp, rel).toString): _*)
    }
  }

  /** Compact `table` under the VERSIONED protocol: purge crashed
    * (unsentineled) version dirs, fold the current version's
    * snapshot through `rewrite`/`write` into the next version dir,
    * COPY late-append files across, promote via the sentinel, then
    * GC versions older than `keep` behind the new current. Stores
    * call it from inside [[compacting]], which holds the writer gate
    * and runs the tombstone handshake around every table's rewrite.
    * Returns the promoted version number.
    *
    * Concurrent-append contract: every ordering ends with the rows
    * present EXACTLY ONCE, with bounded visibility. An append that
    * commits before/during the two reconcile passes is copied into
    * the new version (visible immediately). One that commits into an
    * already-superseded version — the path was resolved before the
    * promotion, the job finished after both passes — surfaces at
    * commit time for TAGGED appends ([[appendExactlyOnce]]'s
    * re-resolve) and at the version's GC at the latest for untagged
    * ones (the final-reconcile below; until then those rows are in a
    * retired-but-retained dir, invisible to currentTablePath
    * readers). Rows are never silently deleted. */
  def compactVersioned(spark: SparkSession, dir: String, table: String,
                       rewrite: DataFrame => DataFrame,
                       write: (DataFrame, String) => Unit,
                       keep: Int = 1): Int = {
    require(keep >= 1, s"keep must be >= 1 (the zero-window property needs " +
      s"the previous version retained), got $keep")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // purge crashed promotions: version dirs without a sentinel
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(table) + "_v(\\d+)")
    if (fs.exists(new Path(dir)))
      fs.listStatus(new Path(dir)).foreach { st =>
        if (st.isDirectory && pat.matcher(st.getPath.getName).matches() &&
            !fs.exists(new Path(st.getPath, VersionSentinel)))
          fs.delete(st.getPath, true)
      }
    val curV = completeVersions(fs, dir, table).lastOption.getOrElse(
      throw new IllegalStateException(
        s"compactVersioned: no complete version of $table under $dir — build first"))
    val cur = versionPath(dir, table, curV)
    val snapFiles = dataFiles(fs, cur)
    // refuse to fold a TORN or IN-FLIGHT tagged publish (gb- files
    // whose `_published` sidecar is absent): folding a partial batch
    // would freeze the partial state as anonymous part files, and the
    // stream's replay would then re-publish the batch IN FULL on top
    // of it (the additive double-count appendExactlyOnce exists to
    // prevent). Conservative by design: a live append that slipped
    // past the writer gate mid-publish also trips this — failing the
    // (administrative, retryable) compact is strictly safer than
    // folding a partial batch.
    val tornTags = snapFiles.map(_._2.split('/').last)
      .flatMap { n => val m = TaggedName.matcher(n)
        if (m.matches()) Some(m.group(1)) else None }
      .distinct
      .filterNot(t => fs.exists(new Path(dir, s"_published_${table}_$t")))
    require(tornTags.isEmpty,
      s"compact: table $cur holds tagged batch files with no _published sidecar " +
        s"(tags: ${tornTags.mkString(", ")}) — a tagged publish is torn or in flight. " +
        "If the ingest stream is live, retry the compact in a moment; if it crashed, " +
        "restart it so the replay completes the publish, then compact")
    val next = versionPath(dir, table, curV + 1)
    if (snapFiles.nonEmpty)
      write(rewrite(spark.read.option("basePath", cur.toString)
          .parquet(snapFiles.map(_._1.getPath.toString): _*)),
        next.toString)
    else fs.mkdirs(next)
    // late appends: in cur but not in the snapshot — COPY (not move):
    // cur must stay byte-complete for pinned readers until GC
    val snapNames = snapFiles.map(_._2).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    def copyLate(): Unit =
      dataFiles(fs, cur).filterNot(p => snapNames(p._2)).foreach { case (f, rel) =>
        val dest = new Path(next, rel)
        if (!fs.exists(dest)) { // idempotent across the two passes
          fs.mkdirs(dest.getParent)
          org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs, dest, false, conf)
        }
      }
    copyLate()
    // the folded-record (same tmp+rename hygiene as the sentinel):
    // which of cur's files this fold consumed — the GC-time
    // reconcile's ground truth for folded-vs-straggler
    val foldTmp = new Path(next, FoldedRecord + "_tmp")
    val fout = fs.create(foldTmp, true)
    try fout.write(snapNames.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally fout.close()
    require(fs.rename(foldTmp, new Path(next, FoldedRecord)),
      s"compact: could not write the folded-record in $next")
    // promotion: the sentinel create is the commit point; its CONTENT
    // is the version's file manifest — the immutable set readVersion
    // pins (later appends land in this dir but not in the manifest).
    // Written to a tmp name and RENAMED into place: a crash mid-write
    // must leave NO sentinel (the dir purges as incomplete), never a
    // truncated manifest that completeVersions would trust and
    // readVersion would silently pin a subset through.
    val sentTmp = new Path(next, VersionSentinel + "_tmp")
    val sentinel = fs.create(sentTmp, true)
    try sentinel.write(dataFiles(fs, next).map(_._2).mkString("\n").getBytes("UTF-8"))
    finally sentinel.close()
    require(fs.rename(sentTmp, new Path(next, VersionSentinel)),
      s"compact: could not promote $next (sentinel rename failed)")
    // SECOND reconcile pass, post-promotion: an in-flight append that
    // resolved the table path before the sentinel but committed after
    // the first copy listing landed its files in CUR — which the next
    // GC would retire. Re-list and copy the stragglers (idempotent:
    // existence-checked; they are absent from the manifest, exactly
    // like any post-promotion append). New appends now resolve the
    // promoted dir, so this pass terminates the handoff.
    copyLate()
    // GC with a FINAL RECONCILE: an append that resolved the table
    // path before a promotion but committed its files after both
    // copyLate passes lands rows only in the retired version — which
    // this GC would otherwise silently delete. Before deleting a
    // version, re-list it and carry forward any data file that was
    // neither FOLDED into its successor (the successor's _v_folded
    // record) nor copied across by name: the straggler copies into
    // the NEW current dir like a late append (visible to
    // currentTablePath readers from here on, folded by the next
    // compact), so every concurrent-append ordering ends with the
    // rows present exactly once — tagged appends surface immediately
    // via appendExactlyOnce's own commit-time re-resolve, untagged
    // ones at this GC at the latest. A successor promoted by code
    // predating the record skips the reconcile (folded and straggler
    // files are indistinguishable there; copying would duplicate
    // rows — the legacy delete is the lesser harm).
    val vs = completeVersions(fs, dir, table)
    vs.filter(v => v <= curV + 1 - keep - 1).foreach { v =>
      vs.find(_ > v).foreach { sv =>
        val succDir = versionPath(dir, table, sv)
        val rec = new Path(succDir, FoldedRecord)
        if (fs.exists(rec)) {
          val handled = readManifest(fs, rec) ++ dataFiles(fs, succDir).map(_._2)
          dataFiles(fs, versionPath(dir, table, v))
            .filterNot(p => handled(p._2))
            .foreach { case (f, rel) =>
              val dest = new Path(next, rel)
              if (!fs.exists(dest)) {
                fs.mkdirs(dest.getParent)
                org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs, dest, false, conf)
              }
            }
        }
      }
      fs.delete(versionPath(dir, table, v), true)
    }
    curV + 1
  }

  /** The ONE place the published-name shape lives: `gb-<tag>-<i>
    * .parquet`, with tags drawn from [[TagCharset]] (no '-', so the
    * parse is unambiguous and foreign files named `part-…`/`b…_1`
    * can never be mistaken for a tagged publish and wedge the
    * [[compactVersioned]] torn check). */
  private val TagCharset = "[A-Za-z0-9_]+"
  private val TaggedName =
    java.util.regex.Pattern.compile(s"gb-($TagCharset)-\\d+\\.parquet")

  /** The files `appendExactlyOnce(tag)` published into `cur` — exact
    * [[TaggedName]] matches for this tag only (tag `x` must never
    * claim tag `x_y`'s files), found by two GLOBS (top level + one
    * partition level) rather than a full recursive walk, so the
    * per-batch cost tracks the tag's own files, not store lifetime. */
  private def taggedFiles(fs: FileSystem, cur: Path, tag: String): Seq[Path] = {
    if (!fs.exists(cur)) return Seq.empty
    (Option(fs.globStatus(new Path(cur, s"gb-$tag-*.parquet"))).getOrElse(Array.empty) ++
      Option(fs.globStatus(new Path(cur, s"*/gb-$tag-*.parquet"))).getOrElse(Array.empty))
      .toSeq.filter { f =>
        val m = TaggedName.matcher(f.getPath.getName)
        f.isFile && m.matches() && m.group(1) == tag
      }
      .map(_.getPath)
  }

  /** Snapshot a FLAT side table's data files plus a frame reading
    * exactly them — the tombstone read of every probe, and the
    * snapshot half of [[compacting]]'s handshake. (Nil, None) when
    * the table is absent or empty.
    *
    * SEQUENCING (applies to BATCH probes, not only streams): the
    * returned frame pins this exact file list, and a concurrent
    * compact deletes exactly these files after folding — a probe
    * planned just before that compact can fail mid-query with
    * FileNotFoundException. The failure is loud and the retry reads
    * the folded store, so correctness holds, but callers wanting no
    * query-visible window must sequence probes around compact the
    * same way the stream rule on takedown says — or move to the
    * versioned-read path where the compact leaves pinned listings
    * in place. */
  def snapshotFlat(spark: SparkSession, dir: String): (Seq[Path], Option[DataFrame]) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (Seq.empty, None)
    val files = fs.listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (files.isEmpty) (Seq.empty, None)
    else (files, Some(spark.read.parquet(files.map(_.toString): _*)))
  }

  // ---- as-of pins: version-aware replay handles ------------------

  private def pinPath(dir: String, pin: String) = new Path(dir, s"_asof_$pin")

  /** Record the CURRENT state of `tables` under store `dir` as pin
    * `pin` — the VERSION-AWARE replay handle (r19, closing the
    * SURVEY §16.22 divergence rule): a stream batch pins its
    * as-of-start file listings BEFORE its first probe, and a replay
    * reads exactly the pinned files, so the recompute — and hence the
    * sink re-emission — is bit-equal to attempt 1 EVEN IF a compact
    * folded the stores in between (the versioned compact leaves
    * retired versions on disk until GC, so the pinned files survive
    * `keep` compacts; the old excludeTag reconstruction could not
    * survive even one, because a fold anonymizes the tag's files).
    *
    * Idempotent: an existing pin (the first attempt's) is left
    * untouched. Files published by `excludeTag` are omitted — the
    * batch's own first-attempt files must never count as pre-batch
    * state. Written tmp+rename so a crash mid-write leaves no
    * half-pin. Flat (unpartitioned) store tables only, like
    * [[readExcludingTag]]. Callers drop the pin after their batch
    * marker commits ([[dropPin]]). */
  def pinAsOf(spark: SparkSession, dir: String, tables: Seq[String],
              pin: String, excludeTag: String): Unit = {
    require(pin.matches(TagCharset), s"pin must match $TagCharset, got '$pin'")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = pinPath(dir, pin)
    if (fs.exists(p)) return
    val lines = tables.flatMap { t =>
      val cur = new Path(currentTablePath(spark, dir, t))
      val drop = taggedFiles(fs, cur, excludeTag).map(_.toString).toSet
      val files =
        if (!fs.exists(cur)) Seq.empty
        else fs.listStatus(cur).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".") && !drop(f.getPath.toString))
          .map(_.getPath.toString)
      require(files.nonEmpty,
        s"pinAsOf($pin): table '$t' under $dir has no data files — " +
          "the store was never built; run build/buildIfAbsent before streaming")
      files.map(f => s"$t|$f")
    }
    val tmp = new Path(dir, s"_asof_${pin}_tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, p), s"pinAsOf: could not commit pin $p")
  }

  /** Read `table` exactly as pin `pin` recorded it. Loud when a
    * pinned file is gone: more than `keep` compacts retired it —
    * the operational rule is now "restart a crashed stream within
    * `keep` compacts of its stores", mechanically checkable here
    * instead of silently divergent. */
  def readPinned(spark: SparkSession, dir: String, pin: String,
                 table: String): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = pinPath(dir, pin)
    require(fs.exists(p), s"as-of pin '$pin' missing under $dir — " +
      "pinAsOf runs before the first probe, so a missing pin means this is " +
      "not a replay (or the pin was dropped after the batch committed)")
    val files = readManifest(fs, p).toSeq
      .filter(_.startsWith(s"$table|")).map(_.substring(table.length + 1))
    require(files.nonEmpty,
      s"as-of pin '$pin' holds no files for table '$table' under $dir")
    val missing = files.filterNot(f => fs.exists(new Path(f)))
    require(missing.isEmpty,
      s"as-of pin '$pin' references retired files of '$table' under $dir " +
        s"(${missing.take(3).mkString(", ")}${if (missing.size > 3) ", …" else ""}) — " +
        "more than `keep` compacts ran since the pin; the replay cannot " +
        "reconstruct its as-of-start store (raise `keep`, or drain replays " +
        "before compacting this often)")
    spark.read.parquet(files: _*)
  }

  /** Drop pin `pin` — called after the batch's idempotency marker
    * commits (an orphaned pin is harmless: bytes of file names). */
  def dropPin(spark: SparkSession, dir: String, pin: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(pinPath(dir, pin), false)
  }

  /** Read parquet table `cur` EXCLUDING the files `tag` published —
    * the store AS OF the tagged batch's start. The replay-recompute
    * half of [[appendExactlyOnce]]: a replayed batch that probes the
    * table it appends must see the pre-batch state or its recompute
    * diverges from the first attempt. Flat (unpartitioned) tables
    * only — every probe-side store table here is flat. Throws if
    * exclusion empties the table: the store always holds its build
    * files, so that means the caller excluded on a never-built dir. */
  def readExcludingTag(spark: SparkSession, cur: String, tag: String): DataFrame = {
    require(tag.matches(TagCharset), s"tag must match $TagCharset, got '$tag'")
    val curP = new Path(cur)
    val fs = curP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val drop = taggedFiles(fs, curP, tag).map(_.getName).toSet
    val files = fs.listStatus(curP).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".") && !drop(f.getPath.getName))
      .map(_.getPath.toString)
    require(files.nonEmpty,
      s"readExcludingTag($tag): excluding the tag leaves no data files in $cur — " +
        "the store was never built (build always writes at least one part file); " +
        "run build/buildIfAbsent before streaming against it")
    spark.read.parquet(files: _*)
  }
}
