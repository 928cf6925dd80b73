package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** The maintenance protocol every persisted store shares, driven
  * through each store's public verbs from one table:
  *
  *  1. WRITER GATE ([[CompactSwap.requireNotCompacting]]): under a
  *     `_compacting` marker every writer verb — append, takedown,
  *     ingest — throws IllegalStateException naming the compact and
  *     leaves the store's files untouched.
  *  2. COMPACT MARKER ([[CompactSwap.compacting]]): every compact
  *     lowers its marker, after success and after a rewrite that
  *     throws.
  *  3. PER-BATCH MARKER ([[Stores.oncePerBatch]]), with no stream: a
  *     committed batch is skipped, an empty batch runs nothing, a
  *     fresh checkpoint gets its own markers, and a throwing body
  *     leaves none.
  */
class StoreProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def marker(dir: String) = new Path(s"$dir/_compacting")

  private lazy val docs = Seq(
    (1L, "the quick brown fox\njumps over the lazy dog\nshared footer line"),
    (2L, "spark catalyst plans\ntungsten rows and shuffles\nshared footer line"),
    (3L, "hdf5 chunks and deflate\nnetcdf headers walked\nshared footer line")
  ).toDF("doc_id", "text")

  private def vecs(dim: Int): DataFrame = {
    val rnd = new scala.util.Random(11)
    (1 to 40).map(i => (i.toLong, Seq.fill(dim)(rnd.nextDouble()))).toDF("vec_id", "ve")
  }
  private val annP = Pq.Params(dim = 8, m = 2, ks = 4)
  private lazy val sketchRows = Seq(("en", "h1"), ("de", "h2"), ("en", "h3")).toDF("lang", "h")

  /** One row of the table: how to build the store, its writer verbs,
    * its compact verbs, and the table a compact rewrites. */
  private case class Store(name: String, table: String, build: String => Unit,
                           writers: Seq[(String, String => Unit)],
                           compacts: Seq[(String, String => Unit)])

  private lazy val stores = Seq(
    Store("DedupIndex", "fp", DedupIndex.build(docs, _, $"text", $"doc_id"),
      Seq("append" -> (d => DedupIndex.append(docs, d, $"text", $"doc_id")),
        "takedown" -> (d => DedupIndex.takedown(docs, d, $"text", $"doc_id"))),
      Seq("compact" -> (d => DedupIndex.compact(spark, d)))),
    Store("AnnIndex", "codes", AnnIndex.build(vecs(8), _, 2, annP),
      Seq("append" -> (d => AnnIndex.append(spark, vecs(8), d, annP)),
        "takedown" -> (d => AnnIndex.takedown(spark, Seq(1L).toDF("vec_id"), d))),
      Seq("compact" -> (d => AnnIndex.compact(spark, d)))),
    Store("LineStore", "counts", LineStore.build(docs, _, $"text", $"doc_id"),
      Seq("append" -> (d => LineStore.append(docs, d, $"text", $"doc_id")),
        "takedown" -> (d => LineStore.takedown(docs, d, $"text", $"doc_id"))),
      Seq("compact" -> (d => LineStore.compact(spark, d)))),
    Store("SemDedupStore", "codes", SemDedupStore.build(vecs(64), _, k1 = 2, dim = 64),
      Seq("append" -> (d => SemDedupStore.append(spark, vecs(64), d)),
        "takedown" -> (d => SemDedupStore.takedown(spark, Seq(1L).toDF("vec_id"), d))),
      Seq("compact" -> (d => SemDedupStore.compact(spark, d)))),
    Store("Sketches", "sketches", Sketches.ingestBatch(sketchRows, _, Seq("lang"), $"h"),
      Seq("ingest" -> (d => Sketches.ingestBatch(sketchRows, d, Seq("lang"), $"h"))),
      Seq("compact" -> (d => Sketches.compact(spark, d, Seq("lang"))),
        "takedownGroup" -> (d => Sketches.takedownGroup(spark, d, col("lang") === "de"))))
  )

  /** Every file under `dir`, recursively, as relative names. */
  private def files(dir: String): Set[String] = {
    val root = new Path(dir).toUri.getPath
    val it = fs.listFiles(new Path(dir), true)
    val out = Set.newBuilder[String]
    while (it.hasNext) out += it.next().getPath.toUri.getPath.stripPrefix(root)
    out.result()
  }

  test("writer gate: every writer verb of every store refuses under a _compacting marker") {
    for (s <- stores) {
      val dir = tmp(s"graft-gate-${s.name}")
      s.build(dir)
      fs.create(marker(dir), true).close()
      val before = files(dir)
      for ((verb, write) <- s.writers) {
        val e = intercept[IllegalStateException](write(dir))
        assert(e.getMessage.contains("compacting"), s"${s.name}.$verb: ${e.getMessage}")
        assert(files(dir) == before, s"${s.name}.$verb wrote under the gate")
      }
      fs.delete(marker(dir), false)
    }
  }

  test("compact marker: every compact lowers it after success and after a throwing rewrite") {
    for (s <- stores; (verb, compact) <- s.compacts) {
      val dir = tmp(s"graft-compact-${s.name}-$verb")
      s.build(dir)
      compact(dir)
      assert(!fs.exists(marker(dir)), s"${s.name}.$verb left its marker after success")
      assert(CompactSwap.currentVersion(spark, dir, s.table).contains(1),
        s"${s.name}.$verb did not promote ${s.table}")
      // a non-parquet data file beside a real one (inside its
      // partition dir, if any) makes the rewrite's read job throw
      val cur = CompactSwap.currentTablePath(spark, dir, s.table)
      val it = fs.listFiles(new Path(cur), true)
      var real: Path = null
      while (real == null && it.hasNext) {
        val p = it.next().getPath
        if (!p.getName.startsWith("_") && !p.getName.startsWith(".")) real = p
      }
      val out = fs.create(new Path(real.getParent, "part-99999-corrupt.parquet"), true)
      try out.write("not a parquet file".getBytes("UTF-8")) finally out.close()
      intercept[Exception](compact(dir))
      assert(!fs.exists(marker(dir)), s"${s.name}.$verb left its marker after a throwing rewrite")
    }
  }

  // ---- Stores.oncePerBatch ------------------------------------------

  private lazy val oneRow = Seq(1L).toDF("x")
  private def batchMarker(dir: String, ckpt: String, id: Long) =
    new Path(s"$dir/_ingested_${java.lang.Integer.toHexString(ckpt.hashCode)}_batch_$id")

  test("oncePerBatch: a committed batch id is skipped without running the body") {
    val dir = tmp("graft-once-skip")
    var tags = Seq.empty[String]
    assert(Stores.oncePerBatch(oneRow, 0, dir, "ingested", "/ck/a") { t => tags :+= t })
    assert(tags == Seq(s"${java.lang.Integer.toHexString("/ck/a".hashCode)}_b0"))
    assert(fs.exists(batchMarker(dir, "/ck/a", 0)))
    assert(!Stores.oncePerBatch(oneRow, 0, dir, "ingested", "/ck/a") { t => tags :+= t })
    assert(tags.size == 1, "the replay of a committed batch ran its body")
  }

  test("oncePerBatch: an empty batch runs nothing and writes no marker") {
    val dir = tmp("graft-once-empty")
    var ran = false
    assert(!Stores.oncePerBatch(oneRow.where(lit(false)), 0, dir, "ingested", "/ck/a") { _ =>
      ran = true
    })
    assert(!ran && !fs.exists(batchMarker(dir, "/ck/a", 0)))
  }

  test("oncePerBatch: a fresh checkpoint restarting batch ids at 0 gets its own marker") {
    val dir = tmp("graft-once-fresh")
    var tags = Seq.empty[String]
    assert(Stores.oncePerBatch(oneRow, 0, dir, "ingested", "/ck/a") { t => tags :+= t })
    assert(Stores.oncePerBatch(oneRow, 0, dir, "ingested", "/ck/b") { t => tags :+= t })
    assert(tags.distinct.size == 2, s"both runs must get distinct tags: $tags")
    assert(fs.exists(batchMarker(dir, "/ck/a", 0)) && fs.exists(batchMarker(dir, "/ck/b", 0)))
  }

  test("oncePerBatch: a body that throws leaves no marker, so the replay runs it") {
    val dir = tmp("graft-once-throw")
    intercept[IllegalStateException] {
      Stores.oncePerBatch(oneRow, 3, dir, "ingested", "/ck/a") { _ =>
        throw new IllegalStateException("crash inside the batch")
      }
    }
    assert(!fs.exists(batchMarker(dir, "/ck/a", 3)))
    var ran = false
    assert(Stores.oncePerBatch(oneRow, 3, dir, "ingested", "/ck/a") { _ => ran = true })
    assert(ran && fs.exists(batchMarker(dir, "/ck/a", 3)))
  }
}
