package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The `registry` workload: an interactive analyst issuing graded
  * queries from `SparkEntry.queries` one after another against the
  * sf0.1-shaped lake, each materialized through the `noop` sink, while
  * the persisted serving stores take writes beside reads ([[Churn]]).
  *
  * A pass runs every query of [[Subset]] once plus one store-churn op,
  * in an order shuffled by the seed. Set-up builds the stores and runs
  * one warm pass (codegen, JIT), so the timed passes see the steady
  * state of a long-running service.
  */
object Registry {
  val Families = Seq("t", "e", "d", "pipe")
  def family(q: String): String = {
    val f = q.takeWhile(_ != '_')
    if (Families.contains(f)) f else "other"
  }

  /** The fixed, family-stratified query set (never drawn from the seed).
    * A full pass over all 229 graded queries takes about 180 s on a
    * 4-core host, far beyond one benchmark run; this set takes about 4 s.
    * README.md records how it was chosen and what it leaves out. */
  val Subset: Seq[String] = Seq(
    "t_redact_pii",
    "e_ann_bucketed", "e_ann_serve_batch",
    "d_simhash", "d_delta_index_keep",
    "pipe_submit_e2e",
    "x2_convgru")

  def sfDir(data: Path): String = data.resolve("sf").toString

  /** Canonical result rows: columns sorted by name, -0.0 folded into
    * 0.0, doubles to 9 significant digits, rows sorted. */
  def canonical(df: DataFrame): Seq[String] = {
    val names = df.columns.toSeq
    val order = names.indices.sortBy(names(_))
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
      case f: Float =>
        if (f.isNaN) "NaN" else if (f == 0.0f) "0" else "%.6g".format(f.toDouble)
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
      case r: Row => (0 until r.length).map(i => norm(r.get(i))).mkString("(", ",", ")")
      case other => other.toString
    }
    order.map(names(_)).mkString(",") +:
      df.collect().map(r => order.map(i => norm(r.get(i))).mkString("|")).sorted.toSeq
  }

  /** Canonical result fingerprint: the MD5 of [[canonical]] (column
    * names, then rows) and the row count. */
  def fingerprint(df: DataFrame): (String, Long) = {
    val lines = canonical(df)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(lines.head.getBytes("UTF-8"))
    lines.tail.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (md.digest().map("%02x".format(_)).mkString, lines.length - 1L)
  }

  /** Recorded fingerprints, `name<TAB>md5<TAB>rows` per line. */
  def recorded(): Map[String, (String, Long)] = {
    val in = getClass.getResourceAsStream("/registry_fingerprints.tsv")
    require(in != null, "registry_fingerprints.tsv missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1), a(2).toLong)).toMap
    finally in.close()
  }

  /** Query fingerprints as a TSV, for recording the reference file. */
  def record(spark: SparkSession, data: Path, names: Seq[String], out: Path): Unit = {
    val fns = SparkEntry.queries
    val lines = names.map { q =>
      val (h, n) = fingerprint(fns(q)(spark, sfDir(data)))
      Session.release(spark)
      s"$q\t$h\t$n"
    }
    Files.write(out, scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  /** Compare each query's fingerprint with `want`; returns the
    * mismatching queries with a description. */
  def check(spark: SparkSession, data: Path, names: Seq[String],
            want: Map[String, (String, Long)]): Seq[(String, String)] = names.flatMap { q =>
    val bad = try {
      val got = fingerprint(SparkEntry.queries(q)(spark, sfDir(data)))
      want.get(q) match {
        case Some(w) if w == got => None
        case Some(w) => Some(s"$q fingerprint ${got._1}/${got._2} rows, recorded ${w._1}/${w._2} rows")
        case None => Some(s"$q has no recorded fingerprint")
      }
    } catch { case e: Exception => Some(s"$q check threw $e") }
    Session.release(spark)
    bad.map(q -> _)
  }

  /** This benchmark's own store directories: every `graft-*` directory
    * under the run's private temp dir (never a shared one). */
  def ownStores(): Seq[Path] = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    if (!Files.isDirectory(tmp)) Nil
    else Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("graft-")).toSeq
  }

  final case class Timing(q: String, construct: Double, total: Double, t0: Double, t1: Double, t3: Double)

  /** Run one query: construct (the query-function call, including its
    * eager inner actions), then materialize through `noop`. */
  def runQuery(spark: SparkSession, data: Path, q: String): Timing = {
    val fn = SparkEntry.queries(q)
    val t0 = Clock.nowMs()
    val df = fn(spark, sfDir(data))
    val t1 = Clock.nowMs()
    df.write.format("noop").mode("overwrite").save()
    val t3 = Clock.nowMs()
    Timing(q, (t1 - t0) / 1000, (t3 - t0) / 1000, t0, t1, t3)
  }

  def run(ctx: Ctx, names: Seq[String], churnSize: Churn.Size): Result = {
    val spark = ctx.spark
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(", ")}")
    var attempted = 0; var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    val churn = new Churn(ctx, churnSize)

    // set-up: build the churn stores, plus one warm pass: every query
    // once (store-backed ones build their stores here; codegen, JIT) with
    // its result checked, and one churn op. The store check at the end
    // builds the churn stores again, so setup_s is the median of the two
    // builds plus the warm pass
    val firstBuild = Stats.timed(churn.build())._2
    Session.release(spark)
    ownStores().foreach(Session.deleteTree)
    val (wrong, warm) = Stats.timed {
      val w = check(spark, ctx.data, names, recorded())
      churn.op(0)
      w
    }
    Session.release(spark)
    System.err.println(f"[registry] set-up build $firstBuild%.3f s, warm pass $warm%.3f s")

    val rnd = new scala.util.Random(ctx.seed)
    val timings = mutable.ArrayBuffer.empty[(String, Double)]
    val cpu = mutable.ArrayBuffer.empty[(String, Double)]
    Session.liveHeapMb.clear()
    val passRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var splitErr = 0.0
    if (ctx.trace) ctx.layers.attach()
    val deadline = ctx.deadlineNs
    var pass = 0
    while (System.nanoTime() < deadline || pass == 0) {
      val row = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val queryTimes = mutable.ArrayBuffer.empty[Timing]
      var releaseS = 0.0
      var wall = 0.0
      // the first pass always completes; later ones stop at the deadline
      val order = rnd.shuffle(names :+ Churn.OpName)
      var done = 0
      val first = pass == 0
      ctx.tracer.span("pass", pass)(order.iterator
          .takeWhile(_ => first || System.nanoTime() < deadline).foreach { q =>
        attempted += 1; done += 1
        val w0 = Clock.nowMs()
        val c0 = Stats.cpuS()
        try {
          if (q == Churn.OpName) {
            val steps = ctx.tracer.span(q, pass)(churn.op(pass + 1))
            timings += q -> steps.values.sum
            steps.foreach { case (k, v) => row(s"churn.$k") += v }
            if (ctx.trace) {
              ctx.layers.settle()
              Layers.spark(ctx.layers.window(w0, Clock.nowMs())).foreach { case (k, v) => row(k) += v }
            }
          } else {
            val t = ctx.tracer.span(q, pass)(runQuery(spark, ctx.data, q))
            timings += q -> t.total
            queryTimes += t
          }
        } catch { case e: Exception =>
          failed += 1; problems += s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        wall += (Clock.nowMs() - w0) / 1000
        cpu += q -> (Stats.cpuS() - c0)
        releaseS += Session.release(spark, measure = true)
      })
      val full = done == order.size
      if (full) passWalls += wall
      if (ctx.trace && full) {
        ctx.layers.settle()
        queryTimes.foreach { t =>
          val w = ctx.layers.window(t.t1, t.t3)
          val gap = w.idleS - w.planS
          val parts = t.construct + w.planS + w.busyS + math.max(gap, 0.0)
          splitErr = math.max(splitErr, math.abs(parts - t.total) / t.total)
          val f = family(t.q)
          row(s"registry.$f.construct_s") += t.construct
          row(s"registry.$f.busy_s") += w.busyS
          row(s"registry.$f.gap_s") += gap
          row("queries.construct_s") += t.construct
          Layers.spark(ctx.layers.window(t.t0, t.t3)).foreach { case (k, v) => row(k) += v }
        }
        row("spark.tasks_per_job") = if (row("spark.jobs") > 0) row("spark.tasks") / row("spark.jobs") else 0.0
        row("caches.release_s") = releaseS
        row("caches.persisted_rdds") = Session.persistedRdds(spark).toDouble
        passRows += row.toMap
      }
      System.err.println(f"[registry] pass $pass: $wall%.3f s " +
        timings.takeRight(done).map { case (q, t) => f"$q=$t%.2f" }.mkString(" "))
      pass += 1
    }
    if (ctx.trace) ctx.layers.detach()

    // a wrong result in the warm pass fails every timed execution of
    // that query; a store that differs from its rebuild fails every op
    wrong.foreach { case (q, bad) =>
      problems += bad
      failed += timings.count(_._1 == q)
    }
    val compactS = churn.compact()
    val (churnBad, rebuild) = churn.check()
    val setups = Seq(firstBuild, rebuild)
    System.err.println(f"[registry] compact $compactS%.3f s, check rebuild $rebuild%.3f s")
    problems ++= churnBad
    if (churnBad.nonEmpty) failed = attempted
    problems.take(10).foreach(p => System.err.println(s"[registry] $p"))

    val metrics = if (!ctx.trace) {
      val byOp = cpu.groupBy(_._1).map { case (q, cs) => q -> Stats.median(cs.map(_._2).toSeq) }
      Seq(Metric("setup_s", Stats.median(setups) + warm, "s"),
        Metric("heap_live_mb", Stats.median(Session.liveHeapMb.toSeq), "MB"),
        Metric("pass_cpu_s", byOp.values.sum, "s"),
        Metric("disk_bytes_per_item", churn.bytesPerRow, "B"))
    } else {
      val untraced = Stats.timed(rnd.shuffle(names).foreach { q =>
        runQuery(spark, ctx.data, q); Session.release(spark)
      })._2 + Stats.timed(churn.op(pass + 1))._2
      Layers.fromRows(passRows.toSeq.map(r => r ++ Map(
        "ops.dedup_index.keep_s" -> r.getOrElse("churn.keep", 0.0),
        "ops.dedup_index.append_s" -> r.getOrElse("churn.append", 0.0),
        "ops.ann_index.append_s" -> r.getOrElse("churn.ann_append", 0.0),
        "ops.ann_index.search_s" -> r.getOrElse("churn.search", 0.0))), Map(
        "ops.store.compact_s" -> compactS,
        "store.files_per_table" -> churn.filesPerTable,
        "store.kept_ratio" -> churn.keptRatio,
        "store.bytes_per_row" -> churn.bytesPerRow,
        "registry.split_err_max" -> splitErr,
        "trace.overhead_ratio" -> Stats.median(passWalls.toSeq) / untraced))
    }
    Result(attempted, failed, problems.isEmpty, metrics)
  }
}
