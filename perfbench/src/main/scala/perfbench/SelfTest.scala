package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.CompactSwap
import graft.sources.Hdf5

/** The benchmark's own tests: each output checker passes on a correct
  * output and rejects a deliberately corrupted one, and every workload
  * completes a tiny-size smoke run with correct outputs. */
object SelfTest {
  def run(spark: SparkSession, work: Path, data: Path): Boolean = {
    var ok = true
    def expect(name: String)(cond: => Boolean): Unit = {
      val pass = try cond catch { case e: Exception => System.err.println(s"  $e"); false }
      println(s"${if (pass) "PASS" else "FAIL"} $name")
      ok &&= pass
    }
    def ctx(sub: String, trace: Boolean = false) = {
      Files.createDirectories(work.resolve(sub))
      Ctx(spark, seed = 7, seconds = 1, trace = trace, work.resolve(sub), data)
    }

    // weather_nc: one flipped HDF5 cell
    val size = Weather.Size.Tiny
    val cat = Weather.generate(work.resolve("w-cat"), size, seed = 3)
    val exp = Weather.expected(cat)
    val out = work.resolve("w-out")
    Weather.pass(spark, cat, Weather.staticRaster(spark, cat), out)
    Session.release(spark)
    expect("weather checker accepts the pipeline's submission")(
      exp.nonEmpty && Weather.checkSubmission(out, exp, size).isEmpty)
    expect("weather catalog check accepts the generated catalog")(
      Weather.checkCatalog(spark, cat).isEmpty &&
        Weather.decodedChecksum(spark, cat) == cat.decodedChecksum)
    val victim = Files.list(out).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".h5")).min
    val g = Hdf5.readUint16(Files.readAllBytes(victim))
    g.data(5) = (g.data(5) ^ 0x0100).toShort
    val os = Files.newOutputStream(victim)
    try Hdf5.writeUint16(os, g.name, g.t, g.h, g.w, g.data) finally os.close()
    expect("weather checker rejects one flipped HDF5 cell")(
      Weather.checkSubmission(out, exp, size).exists(_.contains("1 cells differ")))

    // weather_nc: the replay runs its own frozen kernels, so a changed
    // ConvGRU activation or ridge solve in the pipeline shows as a
    // mismatch (here the replay side is perturbed instead)
    val pade = (o: Double) => o * (15.0 + o * o) / (15.0 + 6.0 * o * o)
    val out2 = work.resolve("w-out2")
    Weather.pass(spark, cat, Weather.staticRaster(spark, cat), out2)
    Session.release(spark)
    expect("weather checker rejects a fold with a cheaper tanh")(Weather.checkSubmission(out2,
      Weather.expected(cat, step = Reference.convGridStepWith(_, _, _, pade)), size).nonEmpty)
    expect("weather checker rejects a ridge solve with another penalty")(Weather.checkSubmission(
      out2, Weather.expected(cat, solve = Reference.ridgeSolve(_, _, lam = 0.12)), size).nonEmpty)

    // registry: one perturbed fingerprint
    val names = Registry.Subset.take(2)
    val want = Registry.recorded()
    expect("registry checker accepts the recorded fingerprints")(
      Registry.check(spark, data, names, want).isEmpty)
    val (h, n) = want(names.head)
    val flipped = (if (h.head == '0') "1" else "0") + h.tail
    expect("registry checker rejects one perturbed fingerprint")(
      Registry.check(spark, data, names, want.updated(names.head, (flipped, n))).map(_._1) ==
        Seq(names.head))
    expect("registry fingerprint ignores column order and the sign of zero") {
      val z = spark.range(3).select(col("id"), (lit(0.0) * (col("id") - 1)).as("z"))
      Registry.fingerprint(z) == Registry.fingerprint(z.select(lit(0.0).as("z"), col("id")))
    }
    val df = graft.SparkEntry.queries(names.head)(spark, Registry.sfDir(data))
    expect("registry fingerprint changes when a result row is dropped")(
      Registry.fingerprint(df.limit((n - 1).toInt)) != (h, n))
    Session.release(spark)

    // store churn: one dropped store row
    val stores = new Churn.Stores(work.resolve("c-stores"))
    val docs = Churn.baseDocs(spark, data).where(col("doc_id") < 300)
    val vecs = Churn.baseVecs(spark, data).where(col("vec_id") < 300)
    stores.build(docs, vecs)
    expect("store checker accepts an intact store")(
      Churn.checkStores(spark, stores, docs, vecs, new Churn.Stores(work.resolve("c-ref1")))
        .problems.isEmpty)
    val bands = CompactSwap.currentTablePath(spark, stores.dedup, "bands")
    val all = spark.read.parquet(bands)
    val dropped = all.exceptAll(all.orderBy(all.columns.map(col): _*).limit(1)).localCheckpoint()
    dropped.write.mode("overwrite").parquet(bands)
    expect("store checker rejects one dropped store row")(
      Churn.checkStores(spark, stores, docs, vecs, new Churn.Stores(work.resolve("c-ref2")))
        .problems.exists(_.startsWith("bands: 0 rows not in the rebuild, 1 rows missing")))
    Session.release(spark)

    // store churn reads: a deltaKeep that drops one row too many, and a
    // search that returns one row too few
    val churn = new Churn(ctx("c-reads"), Churn.Size.Tiny)
    churn.build()
    churn.op(1)
    expect("store checker accepts the churn op's reads")(churn.check()._1.isEmpty)
    val p = churn.probes.head
    churn.probes(0) = p.copy(kept = p.kept - p.kept.min)
    expect("store checker rejects a deltaKeep read that dropped one row")(
      churn.check()._1.exists(_.startsWith("keep batch 1: 0 rows kept that the rebuild drops, 1 rows")))
    churn.probes(0) = p
    val (qv, hits) = churn.lastSearch.get
    churn.lastSearch = Some((qv, hits.dropRight(1)))
    expect("store checker rejects a search that lost one row")(
      churn.check()._1.exists(_.startsWith("search: 0 rows not in the rebuild's result, 1 rows missing")))
    Session.release(spark)

    // tiny smoke run of every workload, untraced and traced
    for (trace <- Seq(false, true)) {
      val t = if (trace) "traced" else "untraced"
      val w = Weather.run(ctx(s"smoke-w-$t", trace), Weather.Size.Tiny)
      expect(s"weather_nc smoke run ($t)")(w.checksPassed && w.failed == 0)
      val r = Registry.run(ctx(s"smoke-r-$t", trace), Registry.Subset.take(3), Churn.Size.Tiny)
      expect(s"registry smoke run ($t)")(r.checksPassed && r.failed == 0)
      val want = if (trace) Layers.Names.map(_._1).toSet
        else Set("setup_s", "heap_live_mb", "pass_cpu_s", "disk_bytes_per_item")
      expect(s"every workload reports every metric ($t)")(
        Seq(w, r).forall(_.metrics.map(_.name).toSet == want))
    }
    ok
  }
}
