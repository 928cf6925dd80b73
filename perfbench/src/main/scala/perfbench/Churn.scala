package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, CompactSwap, DedupIndex}
import graft.sources.Tables

/** Store churn: writes beside reads on the persisted serving stores,
  * one op per `registry` pass. Set-up builds a `DedupIndex` over the
  * lake's documents and an `AnnIndex` over its embeddings. Each op takes
  * a seeded delta batch and
  *  1. probes it with `DedupIndex.deltaKeep` (read),
  *  2. stores the kept documents with `DedupIndex.append` (write),
  *  3. adds their vectors with `AnnIndex.append` (write),
  *  4. serves one `AnnIndex.search` (read).
  * Both stores are compacted once after the timed ops, before the
  * rebuild check and the size measurement.
  * The seed sets the batches' contents and the share of exact and near
  * duplicates of stored documents in them.
  */
object Churn {
  /** The churn op's name in a registry pass. */
  val OpName = "store_churn"
  final case class Size(batch: Int)
  object Size {
    val Bench = Size(batch = 200)
    val Tiny = Size(batch = 20)
  }
  val ProbeCap = 4

  def baseDocs(spark: SparkSession, data: Path): DataFrame =
    Tables.load(spark, Registry.sfDir(data), "documents").select(col("doc_id"), col("text"))
  def baseVecs(spark: SparkSession, data: Path): DataFrame =
    Tables.load(spark, Registry.sfDir(data), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))

  /** Seeded delta batches, drawn like the lake's own documents and
    * embeddings ([[TableGen]]). `pool` holds stored documents to copy
    * from: a duplicate is an exact copy or, as in the lake, a copy with
    * the word "dup" appended. */
  final class Batches(seed: Long, size: Size, pool: IndexedSeq[String]) {
    private val rng = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    val dupShare: Double = 0.15 + 0.4 * rng.nextDouble()
    private val vocab = TableGen.Vocab

    /** Batch `i`: (doc_id, text) rows and (vec_id, ve) rows, same ids. */
    def apply(i: Int): (Seq[(Long, String)], Seq[(Long, Array[Double])]) = {
      val docs = (0 until size.batch).map { j =>
        val id = 4000000000L + (i + 1).toLong * size.batch + j
        val text =
          if (rng.nextDouble() < dupShare)
            pool(rng.nextInt(pool.size)) + (if (rng.nextBoolean()) " dup" else "")
          else Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.size))).mkString(" ")
        (id, text)
      }
      val vecs = docs.map { case (id, _) =>
        val v = Array.fill(64)(rng.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / n))
      }
      (docs, vecs)
    }
  }

  final class Stores(val root: Path) {
    val dedup: String = root.resolve("dedup").toString
    val ann: String = root.resolve("ann").toString
    def build(docs: DataFrame, vecs: DataFrame): Unit = {
      DedupIndex.build(docs, dedup, col("text"), col("doc_id"))
      AnnIndex.build(vecs, ann)
    }
    def tables(spark: SparkSession): Seq[(String, DataFrame)] =
      Seq("fp" -> dedup, "bands" -> dedup, "codes" -> ann).map { case (t, d) =>
        t -> spark.read.parquet(CompactSwap.currentTablePath(spark, d, t))
      }
    def files(spark: SparkSession): Int = Seq("fp" -> dedup, "bands" -> dedup, "codes" -> ann)
      .map { case (t, d) =>
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(CompactSwap.currentTablePath(spark, d, t)))
        try s.filter(_.toString.endsWith(".parquet")).count().toInt finally s.close()
      }.sum
  }

  /** One op's `deltaKeep` read: batch `i`, the number of kept rows
    * stored before it, the batch's documents and the ids it kept. */
  final case class Probe(i: Int, stored: Int, delta: Seq[(Long, String)], kept: Set[Long])

  /** Store content versus a full rebuild over the same rows: the fp set,
    * the band rows and the PQ codes must all agree. */
  final case class Check(problems: Seq[String], build: Double)

  def checkStores(spark: SparkSession, stores: Stores, docs: DataFrame, vecs: DataFrame,
                  ref: Stores): Check = {
    val build = Stats.timed(ref.build(docs, vecs))._2
    Check(stores.tables(spark).zip(ref.tables(spark)).flatMap { case ((t, got), (_, want)) =>
      val (g, w) = if (t == "fp") (got.distinct(), want.distinct()) else (got, want)
      val extra = g.exceptAll(w).count()
      val missing = w.exceptAll(g).count()
      if (extra + missing > 0) Seq(s"$t: $extra rows not in the rebuild, $missing rows missing")
      else Nil
    }, build)
  }
}

/** One run's churn state: the two stores, the batches, and every kept
  * row (for the rebuild check). */
final class Churn(ctx: Ctx, size: Churn.Size) {
  import Churn._
  private val spark = ctx.spark
  import spark.implicits._
  private val docs = baseDocs(spark, ctx.data)
  private val vecs = baseVecs(spark, ctx.data)
  private val batches = new Batches(ctx.seed, size,
    docs.where(col("doc_id") % 25 === 3).select(col("text")).as[String].collect().toIndexedSeq)
  val stores = new Stores(ctx.work.resolve("churn"))
  private val keptDocs = mutable.ArrayBuffer.empty[(Long, String)]
  private val keptVecs = mutable.ArrayBuffer.empty[(Long, Array[Double])]
  private var probed = 0L
  /** Every op's read of `DedupIndex.deltaKeep`: its batch, how many kept
    * rows were stored before it, and the ids it kept. */
  private[perfbench] val probes = mutable.ArrayBuffer.empty[Probe]
  /** The last op's `AnnIndex.search`: query vector and canonical rows. */
  private[perfbench] var lastSearch: Option[(Array[Double], Seq[String])] = None

  /** Build both stores from scratch over the base rows. */
  def build(): Unit = {
    Session.deleteTree(stores.root)
    keptDocs.clear(); keptVecs.clear(); probed = 0L; probes.clear(); lastSearch = None
    stores.build(docs, vecs)
  }

  private def keep(dedup: String, ds: Seq[(Long, String)]): Set[Long] =
    DedupIndex.deltaKeep(spark, ds.toDF("doc_id", "text"), dedup, col("text"),
      col("doc_id"), maxBucket = ProbeCap, knownDeltaRows = Some(ds.size.toLong))
      .select(col("doc_id")).as[Long].collect().toSet
  private def search(ann: String, qv: Array[Double]): Seq[String] =
    Registry.canonical(AnnIndex.search(spark, ann, Seq(qv).toDF("qv")))

  /** Op `i`; returns per-step seconds. */
  def op(i: Int): Map[String, Double] = {
    val (ds, vs) = batches(i)
    val t = mutable.Map.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val (r, s) = Stats.timed(ctx.tracer.span(name, i)(body))
      t(name) = s
      r
    }
    val kept = step("keep")(keep(stores.dedup, ds))
    val kd = ds.filter(d => kept(d._1))
    val kv = vs.filter(v => kept(v._1))
    step("append")(DedupIndex.append(kd.toDF("doc_id", "text"), stores.dedup, col("text"), col("doc_id")))
    step("ann_append")(AnnIndex.append(spark, kv.toDF("vec_id", "ve"), stores.ann))
    val qv = vs(i.abs % vs.size)._2
    val hits = step("search")(search(stores.ann, qv))
    probes += Probe(i, keptDocs.size, ds, kept)
    lastSearch = Some((qv, hits))
    keptDocs ++= kd; keptVecs ++= kv; probed += ds.size
    t.toMap
  }

  /** Compact both stores; returns seconds. */
  def compact(): Double = Stats.timed(ctx.tracer.span("compact", -1) {
    DedupIndex.compact(spark, stores.dedup)
    AnnIndex.compact(spark, stores.ann)
  })._2

  def liveRows: Long = docs.count() + vecs.count() + keptDocs.size + keptVecs.size
  def bytesPerRow: Double = Session.dirBytes(stores.root).toDouble / liveRows
  def keptRatio: Double = keptDocs.size.toDouble / math.max(probed, 1L)
  def filesPerTable: Double = stores.files(spark) / 3.0

  /** The stores and their reads versus full rebuilds: the stores' tables
    * versus a rebuild over the base plus every kept row, the last search
    * versus the same search on that rebuild, and each op's kept set
    * versus `deltaKeep` on a dedup store rebuilt from the rows stored
    * before that op (timed ops only). Returns the problems found and the seconds of the
    * one full rebuild. */
  def check(): (Seq[String], Double) = {
    val ref = new Stores(ctx.work.resolve("churn-rebuild"))
    val c = checkStores(spark, stores,
      docs.unionByName(keptDocs.toSeq.toDF("doc_id", "text")),
      vecs.unionByName(keptVecs.toSeq.toDF("vec_id", "ve")), ref)
    val searchBad = lastSearch.toSeq.flatMap { case (qv, got) =>
      val want = search(ref.ann, qv)
      if (got == want) Nil
      else Seq(s"search: ${got.diff(want).size} rows not in the rebuild's result, " +
        s"${want.diff(got).size} rows missing")
    }
    val keepRef = ctx.work.resolve("churn-keep-rebuild").toString
    // op 0 is the untimed warm-up op of set-up: its read is not checked
    val (keepBad, keepS) = Stats.timed(probes.toSeq.filter(_.i > 0).flatMap { p =>
      Session.deleteTree(java.nio.file.Paths.get(keepRef))
      DedupIndex.build(docs.unionByName(keptDocs.take(p.stored).toSeq.toDF("doc_id", "text")),
        keepRef, col("text"), col("doc_id"))
      val want = keep(keepRef, p.delta)
      if (want == p.kept) Nil
      else Seq(s"keep batch ${p.i}: ${p.kept.diff(want).size} rows kept that the rebuild drops, " +
        s"${want.diff(p.kept).size} rows dropped that it keeps")
    })
    System.err.println(f"[churn] read checks: ${probes.count(_.i > 0)} deltaKeep rebuilds $keepS%.3f s")
    (c.problems ++ searchBad ++ keepBad, c.build)
  }
}
