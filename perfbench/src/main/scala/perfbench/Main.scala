package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything one run of a workload needs. `work` is this run's private
  * scratch directory; `data` holds inputs shared by every run of one
  * checkout (generated once, never seed-dependent). */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
                     work: Path, data: Path) {
  val tracer = new Tracer(trace)
  val layers = new SparkLayers(spark)
  def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L
}

/** One metric of the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports. `attempted` counts timed operations;
  * `failed` counts those that threw or whose output failed its check. */
final case class Result(attempted: Int, failed: Int, checksPassed: Boolean, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${checksPassed && failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** CPU seconds used so far by the live Java threads of this process
    * (executor tasks, driver, listeners); JIT compiler and GC threads are
    * not Java threads, so warm-up compilation does not count. Unlike wall
    * time it leaves out time the host withholds the CPU, so it stays
    * steady on a shared host. */
  def cpuS(): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    mx.getThreadCpuTime(mx.getAllThreadIds).iterator.filter(_ > 0).sum / 1e9
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val data = Paths.get(opts("data")).toAbsolutePath
    Files.createDirectories(work)
    def withSession[T](body: SparkSession => T): T = {
      val spark = Session.start(work)
      try body(spark) finally spark.stop()
    }
    if (opts.contains("prepare"))
      // one-time, seed-independent inputs shared by every run
      withSession(TableGen.prepare(_, data))
    else if (opts.contains("lake-stats"))
      withSession(LakeStats.run(_, opts("lake-stats")))
    else if (opts.contains("record"))
      withSession(Registry.record(_, data, Registry.Subset, Paths.get(opts("record"))))
    else if (opts.contains("selftest")) {
      if (!withSession(SelfTest.run(_, work, data))) sys.exit(1)
    } else {
      val workload = opts("workload")
      val spark = Session.start(work)
      val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
        opts("trace") == "1", work, data)
      val result = try workload match {
        case "weather_nc" => Weather.run(ctx, Weather.Size.Bench)
        case "registry" => Registry.run(ctx, Registry.Subset, Churn.Size.Bench)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } finally {
        ctx.tracer.write(work.resolve("spans.jsonl"))
        spark.stop()
      }
      println(result.json)
    }
  }
}

/** The one session every workload runs in: a single client on
  * `local[4]`, the library's own table settings, and the generated-code
  * cache sized for a long-running service. */
object Session {
  val Cpus = 4

  def start(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config(graft.sources.Tables.conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Seq("org.apache.spark.sql.execution.window.WindowExec", "org.apache.spark.rdd.MapPartitionsRDD")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    spark
  }

  /** Heap still in use after each timed query or op, once settled:
    * what the program retains between operations. */
  val liveHeapMb = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Blocking release of everything a query or op left cached, then a
    * full GC — always outside the timers. Returns its own duration. With
    * `measure`, the settled live heap is then recorded. */
  def release(spark: SparkSession, measure: Boolean = false): Double = {
    val s = Stats.timed {
      graft.Caches.releaseAll(blocking = true)
      spark.catalog.clearCache()
      System.gc()
    }._2
    if (measure) liveHeapMb += settledHeapMb()
    s
  }

  /** Heap in use once Spark's `ContextCleaner` has dropped the
    * broadcasts and shuffles the last GC found unreachable: wait 200 ms
    * and GC again, at least twice and until the figure stops falling
    * (at most five rounds). */
  private def settledHeapMb(): Double = {
    def used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var (prev, cur, rounds) = (Double.MaxValue, used, 0)
    while (rounds < 2 || (prev - cur > 2.0 && rounds < 5)) {
      Thread.sleep(200)
      System.gc()
      prev = cur; cur = used; rounds += 1
    }
    cur
  }

  def persistedRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
