package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.scalars
import graft.ops.{Ensemble, Fold, Sequences}
import graft.sources.{Hdf5, Netcdf, Sinks}

/** The `weather_nc` workload: the paper's pipeline from a `.nc` frame
  * catalog to uint16 HDF5 submission files.
  *
  * Inputs are generated from the seed: a catalog laid out as the
  * reference's `REGION/SUBSET/YYYYDDD/PRODUCT/S_NWC_{PRODUCT}_MSG4_Europe-VISIR_{ts}.nc`,
  * two products per slot, each file classic CDF-1 or NetCDF-4 by a
  * seeded coin, seeded missing slots and fill cells, and a static
  * lat/lon/elevation raster per region. Frames are cropped from the
  * reference's 256x256 to `Size.h` x `Size.w` so that one pass fits the
  * benchmark's run time.
  *
  * One pass: scan both products through `spark.read.format("netcdf")`,
  * decode (fill to NULL, min-max), find valid starts and assemble
  * windows of `SeqLen` slots, broadcast-join the static raster, apply
  * the log-clip / normlogit / blend transforms, run the typed ConvGRU
  * fold per `Size.tile`-pixel tile over the input slots, fit the ridge
  * ensemble on the Gram aggregate, and write one HDF5 file per
  * (region, start, product).
  */
object Weather {
  /** `starts` is the number of valid starts per region: the seed picks
    * which slots are missing, but always among the layouts that leave
    * this many, so every seed asks for the same amount of work. */
  final case class Size(regions: Int, slots: Int, starts: Int, h: Int, w: Int, tile: Int)
  object Size {
    val Bench = Size(regions = 1, slots = 14, starts = 5, h = 64, w = 64, tile = 8)
    val Tiny = Size(regions = 1, slots = 10, starts = 3, h = 16, w = 16, tile = 4)
  }

  /** Window length: four input slots plus the target slot. */
  val SeqLen = 5
  final case class Product(dir: String, variable: String, lo: Double, hi: Double)
  val Products = Seq(Product("CTTH", "temperature", 0.0, 22000.0),
    Product("CRR", "crr_intensity", 0.0, 500.0))
  val Fill = -1.0
  val ElevMax = 3000.0
  val LnEps: Double = math.log(2e-4)
  /** The fold's input is the tile mean in percent, so that the ConvGRU
    * (input scale 100) runs in the non-linear range of its tanh and its
    * state carries weight in the ensemble. */
  val FoldInput = 100.0
  private val Day = java.time.LocalDate.of(2019, 4, 10)
  private val BaseEpochS = Day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  val BaseBucket: Long = BaseEpochS / 900

  // ---- generator ----------------------------------------------------

  /** The generated catalog plus the plain-Scala expectations the
    * checker compares against. `raw(region, slot, product)` is the
    * frame (row-major y, x) or absent for a missing slot. */
  final case class Catalog(root: Path, size: Size, raw: Map[(Int, Int, Int), Array[Short]],
                           elev: Map[Int, Array[Double]], files: Int, ncBytes: Long) {
    def present(r: Int, s: Int): Boolean = raw.contains((r, s, 0))
    val validStarts: Seq[(Int, Int)] = for {
      r <- 1 to size.regions
      s <- 0 to size.slots - SeqLen
      if (s until s + SeqLen).forall(present(r, _))
    } yield (r, s)
    def glob(p: Product): String = s"$root/catalog/*/*/*/${p.dir}/*.nc"
    def staticGlob(v: String): String = s"$root/static/*/$v.nc"
    /** Sum of decoded input values, quantized per cell (fill cells skipped). */
    def decodedChecksum: Long = raw.iterator.map { case ((_, _, p), a) =>
      val pr = Products(p)
      a.iterator.filter(_ != Fill.toShort)
        .map(v => math.floor((v - pr.lo) * (1.0 / (pr.hi - pr.lo)) * 1e6 + 0.5).toLong).sum
    }.sum
  }

  def generate(root: Path, size: Size, seed: Long): Catalog = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
    val dayKey = f"${Day.getYear}%04d${Day.getDayOfYear}%03d"
    val raw = mutable.Map.empty[(Int, Int, Int), Array[Short]]
    val elev = mutable.Map.empty[Int, Array[Double]]
    var files = 0; var bytes = 0L
    val (h, w) = (size.h, size.w)
    def write(dir: Path, name: String)(body: java.io.OutputStream => Unit): Unit = {
      Files.createDirectories(dir)
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(dir.resolve(name)))
      try body(out) finally out.close()
      bytes += Files.size(dir.resolve(name))
    }
    for (r <- 1 to size.regions) {
      val sdir = root.resolve(s"static/R$r")
      val lat = Array.tabulate(h * w)(i => 30.0 + 5 * r + (i / w) * 0.05)
      val lon = Array.tabulate(h * w)(i => -10.0 + 3 * r + (i % w) * 0.05)
      val ph = rng.nextDouble() * 6.28
      // terrain with some below-sea-level cells (clamped by the transform)
      val el = Array.tabulate(h * w)(i => math.rint(
        1200 * math.sin(ph + (i / w) * 0.11) * math.cos((i % w) * 0.07) + 300 + rng.nextInt(200)))
      elev(r) = el
      Seq("latitude" -> lat, "longitude" -> lon, "elevation" -> el).foreach { case (v, a) =>
        write(sdir, s"$v.nc")(Netcdf.writeGrid3(_, v, 1, h, w, a, ncType = Netcdf.NcDouble))
      }
      val phase = rng.nextDouble() * 6.28
      // each slot after the first is missing with probability 0.08,
      // redrawn until the layout leaves `size.starts` valid starts
      def draw(): Set[Int] = (1 until size.slots).filter(_ => rng.nextDouble() < 0.08).toSet
      val gaps = Iterator.continually(draw()).find(m =>
        (0 to size.slots - SeqLen).count(s => (s until s + SeqLen).forall(!m(_))) == size.starts).get
      for (s <- 0 until size.slots) {
        if (!gaps(s)) {
          val ts = java.time.LocalDateTime.of(Day, java.time.LocalTime.MIDNIGHT).plusMinutes(15L * s)
          for ((p, pi) <- Products.zipWithIndex) {
            val frame = Array.tabulate(h * w) { i =>
              val (y, x) = (i / w, i % w)
              if (rng.nextDouble() < 0.01) Fill
              else {
                val u = 0.5 + 0.35 * math.sin(phase + 0.13 * s + 0.09 * y + pi) *
                  math.cos(0.07 * x - 0.05 * s) + 0.1 * (rng.nextDouble() - 0.5)
                math.rint(math.max(0.0, math.min(1.0, u)) * (p.hi - p.lo) + p.lo)
              }
            }
            raw((r, s, pi)) = frame.map(_.toShort)
            val dir = root.resolve(s"catalog/R$r/training/$dayKey/${p.dir}")
            val name = s"S_NWC_${p.dir}_MSG4_Europe-VISIR_${ts.format(fmt)}.nc"
            val netcdf4 = rng.nextBoolean()
            write(dir, name) { out =>
              if (netcdf4) Hdf5.writeGridNc(out, p.variable, 1, h, w, frame,
                validRange = Some((p.lo, p.hi)), fillValue = Some(Fill))
              else Netcdf.writeGrid3(out, p.variable, 1, h, w, frame,
                validRange = Some((p.lo, p.hi)), fillValue = Some(Fill))
            }
            files += 1
          }
        }
      }
    }
    Catalog(root, size, raw.toMap, elev.toMap, files, bytes)
  }

  // ---- the pipeline, one stage at a time ----------------------------

  private def regionOf(path: Column): Column = regexp_extract(path, "/R(\\d+)/", 1).cast("int")
  private def bucketOf(path: Column): Column = Sequences.tsBucket(
    to_timestamp(regexp_extract(path, "_(\\d{8}T\\d{6})Z\\.nc$", 1), "yyyyMMdd'T'HHmmss"), 900)

  /** Static raster (region, y, x, lat, lon, elev), one NetCDF file per
    * variable and region. */
  def staticRaster(spark: SparkSession, cat: Catalog): DataFrame = {
    val df = Seq("latitude", "longitude", "elevation").map { v =>
      spark.read.format("netcdf").option("var", v).load(cat.staticGlob(v))
        .select(regionOf(col("path")).as("region"), col("y").cast("int").as("y"),
          col("x").cast("int").as("x"), col("raw").as(v.take(4)))
    }.reduce(_.join(_, Seq("region", "y", "x")))
      .select(col("region"), col("y"), col("x"), col("lati").as("lat"),
        col("long").as("lon"), col("elev"))
    // small enough to hold on the driver: the joins below broadcast it
    // from a local relation, so no cache has to survive a release
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  /** Stage 1, sources: both products decoded to (region, bkt, var, y, x, dv). */
  def decoded(spark: SparkSession, cat: Catalog): DataFrame =
    Products.map { p =>
      spark.read.format("netcdf").option("var", p.variable).load(cat.glob(p))
        .select(regionOf(col("path")).as("region"), bucketOf(col("path")).as("bkt"),
          col("var"), col("y").cast("int").as("y"), col("x").cast("int").as("x"),
          scalars.minmaxDecode(scalars.fillToNull(col("raw"), col("fill_value")), p.lo, p.hi)
            .as("dv"))
    }.reduce(_ unionByName _)

  /** Stage 2, ops.Sequences: valid starts and the assembled windows. */
  def starts(frames: DataFrame): DataFrame =
    Sequences.validStarts(frames.select(col("region"), col("bkt")), "region", "bkt", SeqLen)
  def windows(frames: DataFrame): DataFrame =
    Sequences.assemble(starts(frames), frames, "region", "bkt", SeqLen)

  /** Stage 3: broadcast join of the static raster. */
  def joined(win: DataFrame, static: DataFrame): DataFrame =
    win.join(broadcast(static), Seq("region", "y", "x"))

  /** Stage 4, functions.scalars: per-product transform blended with the
    * normalized elevation. */
  def transformed(j: DataFrame): DataFrame = {
    val x = coalesce(col("dv"), lit(0.0))
    val xv = when(col("var") === "crr_intensity",
        (scalars.logClip(x) - lit(LnEps)) / lit(-LnEps))
      .otherwise(scalars.normlogit(x))
    val e = scalars.clampMin(col("elev")) / lit(ElevMax)
    j.select(col("region"), col("t0"), col("step"), col("var"), col("y"), col("x"),
      scalars.blend(Seq((xv, 0.9), (e, 0.1))).as("b"), e.as("e"))
  }

  /** Stage 5, ops.Fold: tile-pooled ConvGRU over the input slots, joined
    * back to per-pixel features (p1 fold state, p2 last input, p3
    * elevation, yv target). */
  def folded(spark: SparkSession, t: DataFrame, size: Size): DataFrame = {
    val tile = size.tile
    def key(ty: Column, tx: Column): Column =
      (col("region").cast("long") * lit(1L << 40)) + ((col("t0") - lit(BaseBucket)) * lit(1L << 20)) +
        (when(col("var") === "crr_intensity", 1L).otherwise(0L) * lit(1L << 16)) + ty * lit(256L) + tx
    val pooled = t.where(col("step") < SeqLen - 1)
      .groupBy(col("region"), col("t0"), col("var"), (col("y") / tile).cast("long").as("ty"),
        (col("x") / tile).cast("long").as("tx"), col("step"))
      .agg((avg(col("b")) * lit(FoldInput)).as("m"))
      .select(key(col("ty"), col("tx")).as("key"), col("step").as("ts"), col("step").as("ord"),
        col("m"))
    val state = Fold.foldTypedConvGrid(spark, pooled, "key", "ts", "ord", "m", tile)
    val pix = t.groupBy(col("region"), col("t0"), col("var"), col("y"), col("x"))
      .agg(max(when(col("step") === SeqLen - 2, col("b"))).as("p2"),
        max(when(col("step") === SeqLen - 1, col("b"))).as("yv"), max(col("e")).as("p3"))
      .withColumn("key", key((col("y") / tile).cast("long"), (col("x") / tile).cast("long")))
    pix.join(state, Seq("key"))
      .select(col("region"), col("t0"), col("var"), col("y"), col("x"),
        element_at(col("h_grid"), ((col("y") % tile) * tile + col("x") % tile + 1).cast("int"))
          .as("p1"), col("p2"), col("p3"), col("yv"))
  }

  val Preds: Seq[Column] = Seq(col("p1"), col("p2"), col("p3"))

  /** Stage 6, ops.Ensemble: Gram aggregate and ridge weights. */
  def ensemble(f: DataFrame): Array[Double] = {
    val g = Ensemble.gramAgg(f, Preds, col("yv")).collect()(0)
    val p = Preds.size
    val ata = Array.tabulate(p, p)((i, j) => g.getAs[Double](s"g_${math.min(i, j)}_${math.max(i, j)}"))
    val aty = Array.tabulate(p)(i => g.getAs[Double](s"b_$i"))
    Ensemble.ridgeSolve(ata, aty)
  }

  /** Stage 7, sources.Sinks: the uint16 submission, one file per
    * (region, start, product). */
  def submit(f: DataFrame, weights: Array[Double], out: Path, size: Size): Unit = {
    val v = scalars.minmaxEncode(
      scalars.clip(scalars.blend(Preds.zip(weights)), 0.0, 1.0), 0.0, 65535.0)
    Sinks.writeHdf5Frames(
      f.select(concat_ws("_", concat(lit("R"), col("region")), col("t0"), col("var")).as("fkey"),
        lit(0).as("t"), col("y"), col("x"), v.as("v")),
      out.toString, "fkey", "t", "y", "x", "v", size.h, size.w)
  }

  /** One untraced pass: the fold output is cached once (it feeds both
    * the Gram aggregate and the sink). */
  def pass(spark: SparkSession, cat: Catalog, static: DataFrame, out: Path): Unit = {
    val f = graft.Caches.owned(
      folded(spark, transformed(joined(windows(decoded(spark, cat)), static)), cat.size))
    submit(f, ensemble(f), out, cat.size)
  }

  // ---- checks ---------------------------------------------------------

  /** Plain-Scala replay of the whole pipeline from the generator's
    * arrays, on the [[Reference]] kernels (`step` and `solve` are
    * replaced only by the checker's own tests): expected uint16 cells
    * per submission file. */
  def expected(cat: Catalog,
               step: (Array[Double], Double, Int) => Array[Double] = Reference.convGridStep,
               solve: (Array[Array[Double]], Array[Double]) => Array[Double] = Reference.ridgeSolve(_, _))
      : Map[String, Array[Int]] = {
    val Size(_, _, _, h, w, tile) = cat.size
    final case class Row(file: String, cell: Int, p1: Double, p2: Double, p3: Double, yv: Double)
    val lM = Reference.LM
    def blended(r: Int, s: Int, pi: Int, i: Int): Double = {
      val v = cat.raw((r, s, pi))(i)
      val pr = Products(pi)
      val x = if (v == Fill.toShort) 0.0 else (v - pr.lo) * (1.0 / (pr.hi - pr.lo))
      val xv =
        if (pr.variable == "crr_intensity") (StrictMath.log(math.max(x, 2e-4)) - LnEps) / -LnEps
        else {
          val c = math.min(math.max(x, Reference.M), 1.0 - Reference.M)
          (StrictMath.log(c / (1.0 - c)) + lM) / (2.0 * lM)
        }
      xv * 0.9 + elevTerm(r, i) * 0.1
    }
    def elevTerm(r: Int, i: Int): Double = math.max(cat.elev(r)(i), 0.0) / ElevMax
    val rows = mutable.ArrayBuffer.empty[Row]
    for ((r, s) <- cat.validStarts; pi <- Products.indices) {
      val file = s"R${r}_${BaseBucket + s}_${Products(pi).variable}"
      val hs = Array.ofDim[Array[Double]](h / tile, w / tile)
      for (ty <- 0 until h / tile; tx <- 0 until w / tile) {
        var st = new Array[Double](tile * tile)
        for (k <- 0 until SeqLen - 1) {
          var sum = 0.0
          for (y <- ty * tile until (ty + 1) * tile; x <- tx * tile until (tx + 1) * tile)
            sum += blended(r, s + k, pi, y * w + x)
          st = step(st, sum / (tile * tile) * FoldInput, tile)
        }
        hs(ty)(tx) = st
      }
      for (i <- 0 until h * w) {
        val (y, x) = (i / w, i % w)
        rows += Row(file, i, hs(y / tile)(x / tile)((y % tile) * tile + x % tile),
          blended(r, s + SeqLen - 2, pi, i), elevTerm(r, i), blended(r, s + SeqLen - 1, pi, i))
      }
    }
    def q(v: Double): Long = math.floor(v * Reference.Scale + 0.5).toLong
    val n = rows.length.toDouble
    val s2 = Reference.Scale * Reference.Scale
    val feats = (r: Row) => Array(r.p1, r.p2, r.p3)
    val ata = Array.tabulate(3, 3)((i, j) => rows.iterator.map(r => q(feats(r)(i)) * q(feats(r)(j))).sum / (n * s2))
    val aty = Array.tabulate(3)(i => rows.iterator.map(r => q(feats(r)(i)) * q(r.yv)).sum / (n * s2))
    val wts = solve(ata, aty)
    rows.groupBy(_.file).map { case (f, rs) =>
      val a = new Array[Int](h * w)
      rs.foreach { r =>
        val v = math.min(math.max(r.p1 * wts(0) + r.p2 * wts(1) + r.p3 * wts(2), 0.0), 1.0)
        a(r.cell) = math.floor(v * 65535.0 + 0.0 + 0.5).toInt
      }
      f -> a
    }
  }

  /** Compare a submission directory against [[expected]]: every file
    * present with dims (1, h, w) and every cell within one count.
    * Returns the problems found (empty when correct). */
  def checkSubmission(dir: Path, exp: Map[String, Array[Int]], size: Size): Seq[String] = {
    val found = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".h5"))
      .map(p => p.getFileName.toString.stripSuffix(".h5") -> p).toMap
    val missing = exp.keySet.diff(found.keySet).toSeq.sorted.map(k => s"missing $k.h5")
    val extra = found.keySet.diff(exp.keySet).toSeq.sorted.map(k => s"unexpected $k.h5")
    val bad = exp.toSeq.sortBy(_._1).flatMap { case (k, want) =>
      found.get(k).toSeq.flatMap { p =>
        val g = Hdf5.readUint16(Files.readAllBytes(p))
        if (g.t != 1 || g.h != size.h || g.w != size.w) Seq(s"$k dims (${g.t},${g.h},${g.w})")
        else {
          val diff = want.indices.count(i => math.abs((g.data(i) & 0xFFFF) - want(i)) > 1)
          if (diff > 0) Seq(s"$k: $diff cells differ") else Nil
        }
      }
    }
    missing ++ extra ++ bad
  }

  /** Header-only catalog scan (column pruning keeps the payload
    * undecoded): per-file cell counts must equal the generated dims. */
  def checkCatalog(spark: SparkSession, cat: Catalog): Seq[String] = {
    val per = Products.flatMap { p =>
      spark.read.format("netcdf").option("var", p.variable).load(cat.glob(p))
        .groupBy(col("path")).agg(count(lit(1)).as("n"), max(col("t")).as("t"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    val wrongDims = per.filter { case (_, n, t) => n != cat.size.h * cat.size.w || t != 0 }
      .map { case (p, n, _) => s"$p has $n cells" }
    (if (per.size != cat.files) Seq(s"catalog lists ${per.size} files, generated ${cat.files}")
     else Nil) ++ wrongDims
  }

  def decodedChecksum(spark: SparkSession, cat: Catalog): Long =
    decoded(spark, cat).where(col("dv").isNotNull)
      .agg(sum(floor(col("dv") * lit(1e6) + lit(0.5)).cast("long"))).collect()(0).getLong(0)

  // ---- the workload ---------------------------------------------------

  def run(ctx: Ctx, size: Size): Result = {
    val spark = ctx.spark
    val cat = generate(ctx.work.resolve("weather"), size, ctx.seed)
    val exp = expected(cat)
    val outRoot = ctx.work.resolve("submission")
    var problems = Vector.empty[String]
    var static: DataFrame = null
    // set-up: static raster load and header-only catalog check, repeated
    // (median), plus two warm passes (codegen, JIT); setup_s is their sum
    val setups = (1 to 3).map { i =>
      val (bad, s) = Stats.timed {
        static = staticRaster(spark, cat)
        checkCatalog(spark, cat)
      }
      if (i == 1) problems ++= bad
      s
    }
    val warm = (1 to 2).map { _ =>
      Session.deleteTree(outRoot)
      val s = Stats.timed(pass(spark, cat, static, outRoot))._2
      Session.release(spark)
      s
    }.sum
    System.err.println(f"[weather_nc] set-up ${setups.mkString(", ")} s, warm passes $warm%.3f s")
    problems ++= checkSubmission(outRoot, exp, size)
    val outBytes = Session.dirBytes(outRoot).toDouble
    val outFiles = exp.size

    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    Session.liveHeapMb.clear()
    var attempted = 0; var failed = 0
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    if (ctx.trace) ctx.layers.attach()
    val deadline = ctx.deadlineNs
    var op = 0L
    // at least two passes, so that the median has two samples even when
    // a pass outlasts the deadline
    while (System.nanoTime() < deadline || attempted < 2) {
      Session.deleteTree(outRoot)
      attempted += 1
      val t0 = Clock.nowMs()
      var row = Option.empty[Map[String, Double]]
      val ok = try {
        if (ctx.trace) row = Some(tracedPass(ctx, cat, static, outRoot, op))
        else {
          val c0 = Stats.cpuS()
          passTimes += Stats.timed(pass(spark, cat, static, outRoot))._2
          passCpu += Stats.cpuS() - c0
        }
        true
      } catch { case e: Exception =>
        System.err.println(s"[weather_nc] pass $op failed: $e"); false
      }
      val t1 = Clock.nowMs()
      if (ctx.trace) passTimes += (t1 - t0) / 1000.0
      System.err.println(f"[weather_nc] pass $op: ${(t1 - t0) / 1000}%.3f s" +
        passCpu.lastOption.filter(_ => !ctx.trace).fold("")(c => f", $c%.3f s CPU"))
      val releaseS = Session.release(spark, measure = true)
      row.foreach(r => layerRows += r ++ Map("caches.release_s" -> releaseS,
        "caches.persisted_rdds" -> Session.persistedRdds(spark).toDouble))
      val bad = if (ok) checkSubmission(outRoot, exp, size) else Seq("pass threw")
      if (bad.nonEmpty) { failed += 1; problems ++= bad.take(3) }
      op += 1
    }
    val wantSum = cat.decodedChecksum
    val gotSum = decodedChecksum(spark, cat)
    if (gotSum != wantSum) problems :+= s"decoded-input checksum $gotSum != expected $wantSum"
    problems.take(10).foreach(p => System.err.println(s"[weather_nc] check: $p"))
    val checksOk = problems.isEmpty
    if (!checksOk) failed = attempted

    val metrics =
      if (!ctx.trace) {
        Seq(Metric("setup_s", Stats.median(setups) + warm, "s"),
          Metric("heap_live_mb", Stats.median(Session.liveHeapMb.toSeq), "MB"),
          Metric("pass_cpu_s", Stats.median(passCpu.toSeq), "s"),
          Metric("disk_bytes_per_item", outBytes / outFiles, "B"))
      } else {
        val untraced = Stats.timed(pass(spark, cat, static, outRoot))._2
        Session.release(spark)
        Layers.fromRows(layerRows.toSeq, Map(
          "sources.h5_files" -> outFiles.toDouble,
          "sources.submit_bytes" -> outBytes,
          "ops.valid_starts" -> cat.validStarts.size.toDouble,
          "trace.overhead_ratio" -> Stats.median(passTimes.toSeq) / untraced))
      }
    Result(attempted, failed, checksOk, metrics)
  }

  /** A traced pass: stages 1-5 by prefix differences (each prefix
    * materialized from scratch through the `noop` sink, then the
    * previous prefix's time subtracted), stages 6-7 timed directly on
    * the cached fold output. */
  def tracedPass(ctx: Ctx, cat: Catalog, static: DataFrame, out: Path, op: Long): Map[String, Double] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    tr.span("pass", op) {
      val t0 = Clock.nowMs()
      val d = tr.span("prefix.decode", op)(Stats.timed(noop(decoded(spark, cat)))._2)
      val s = tr.span("prefix.windows", op)(Stats.timed(noop(windows(decoded(spark, cat))))._2)
      val j = tr.span("prefix.static_join", op)(
        Stats.timed(noop(joined(windows(decoded(spark, cat)), static)))._2)
      val x = tr.span("prefix.transforms", op)(
        Stats.timed(noop(transformed(joined(windows(decoded(spark, cat)), static))))._2)
      val (f, fs) = tr.span("prefix.fold", op)(Stats.timed(graft.Caches.owned(
        folded(spark, transformed(joined(windows(decoded(spark, cat)), static)), cat.size))))
      val (wts, es) = tr.span("ensemble", op)(Stats.timed(ensemble(f)))
      val hs = tr.span("sink", op)(Stats.timed(submit(f, wts, out, cat.size))._2)
      val t1 = Clock.nowMs()
      ctx.layers.settle()
      val win = ctx.layers.window(t0, t1)
      val mb = cat.ncBytes / 1e6
      Layers.spark(win) ++ Map(
        "sources.nc_decode_s" -> d, "sources.nc_mb_per_s" -> mb / d,
        "ops.sequences_s" -> (s - d), "ops.static_join_s" -> (j - s),
        "functions.transforms_s" -> (x - j), "ops.fold_s" -> (fs - x),
        "ops.ensemble_s" -> es, "sources.h5_write_s" -> hs)
    }
  }
}
