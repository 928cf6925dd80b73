package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Warc

/** WARC (ISO 28500) codec + source on crafted fixtures: round-trips,
  * both on-disk framings (.warc plain, .warc.gz record-at-time
  * members), the HTTP payload split, and the loud-error contract for
  * every framing violation. Real-file reads (Warc.recordsStream) are
  * verified here because DuckDB has no WARC reader — the .nc/.h5
  * container convention. */
class WarcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Plain WARC bytes through the scan path's incremental reader. */
  private def parse(bytes: Array[Byte]): Seq[Warc.Record] =
    Warc.recordIterator(new java.io.ByteArrayInputStream(bytes)).toVector

  /** Drain the scan path's member-walking gunzip stream. */
  private def drain(bytes: Array[Byte]): Array[Byte] = Warc.gunzipStream(bytes).readAllBytes()

  private def rec(i: Int, typ: String, payload: Array[Byte],
                  extra: Seq[(String, String)] = Seq.empty) =
    (Seq("WARC-Type" -> typ, "WARC-Record-ID" -> s"<urn:uuid:$i>",
      "WARC-Date" -> "2026-01-01T00:00:00Z") ++ extra, payload)

  test("pack/parse round-trip preserves order, headers, and exact payload bytes") {
    val payloads = Seq(
      Array[Byte](),                                  // empty payload is legal
      "plain text".getBytes("UTF-8"),
      Array.tabulate(257)(i => (i % 256).toByte))     // binary incl. CR/LF bytes
    val bytes = Warc.pack(payloads.zipWithIndex.map { case (p, i) =>
      rec(i, if (i == 1) "response" else "metadata", p,
        if (i == 1) Seq("WARC-Target-URI" -> "http://x/y") else Seq.empty)
    })
    val rs = parse(bytes)
    assert(rs.length == 3)
    assert(rs.map(_.recordType) == Seq("metadata", "response", "metadata"))
    assert(rs(1).targetUri == "http://x/y")
    assert(rs(1).header("warc-record-id").contains("<urn:uuid:1>"), "case-insensitive lookup")
    payloads.zip(rs).foreach { case (p, r) => assert(java.util.Arrays.equals(p, r.payload)) }
    // Content-Length was computed by pack
    assert(rs(2).header("Content-Length").contains("257"))
  }

  test("record-at-time gzip members concatenate and parseAuto handles both framings") {
    val recs = (0 until 4).map(i => rec(i, "metadata", s"payload $i".getBytes("UTF-8")))
    val plain = Warc.pack(recs)
    val gz = recs.toArray.flatMap(r => Warc.gzipMember(Warc.pack(Seq(r))))
    assert(Warc.parseAuto(plain).map(r => new String(r.payload, "UTF-8")) ==
      Warc.parseAuto(gz).map(r => new String(r.payload, "UTF-8")))
    // whole-file single-member gzip (the other framing in the wild)
    assert(Warc.parseAuto(Warc.gzipMember(plain)).length == 4)
  }

  test("httpBody splits the HTTP message and parses the status; wrap is its inverse") {
    val body = "<html>hi &amp; bye</html>".getBytes("UTF-8")
    val (status, b) = Warc.httpBody(Warc.httpWrap(404, "text/html", body))
    assert(status == 404 && java.util.Arrays.equals(b, body))
    // a body containing CRLF CRLF still splits at the FIRST one
    val tricky = "a\r\n\r\nb".getBytes("ISO-8859-1")
    val (_, b2) = Warc.httpBody(Warc.httpWrap(200, "text/plain", tricky))
    assert(java.util.Arrays.equals(b2, tricky))
  }

  test("loud contract: every framing violation names itself") {
    val good = Warc.pack(Seq(rec(0, "metadata", "xyz".getBytes("UTF-8"))))
    def boom(bytes: Array[Byte]) = intercept[IllegalArgumentException](parse(bytes))

    // truncated mid-header
    assert(boom(good.take(20)).getMessage.contains("WARC:"))
    // version line is not WARC/
    assert(boom("HTTP/1.1 200\r\n\r\n".getBytes("ISO-8859-1"))
      .getMessage.contains("version line"))
    // Content-Length disagrees with the payload (terminator check)
    val lied = new String(good, "ISO-8859-1").replace("Content-Length: 3", "Content-Length: 2")
    assert(boom(lied.getBytes("ISO-8859-1")).getMessage.contains("terminator"))
    // payload runs off the buffer
    assert(boom(good.dropRight(4)).getMessage.contains("runs off"))
    // header without colon
    val noColon = new String(good, "ISO-8859-1").replace("WARC-Type: metadata", "WARCTypemetadata")
    assert(boom(noColon.getBytes("ISO-8859-1")).getMessage.contains("no colon"))

    // pack-side contract
    assert(intercept[IllegalArgumentException](
      Warc.pack(Seq((Seq("WARC-Type" -> "metadata"), Array[Byte]()))))
      .getMessage.contains("mandatory"))
    assert(intercept[IllegalArgumentException](
      Warc.pack(Seq((rec(0, "x", Array[Byte]())._1 :+ ("Content-Length" -> "9"), Array[Byte]()))))
      .getMessage.contains("Content-Length"))
    assert(intercept[IllegalArgumentException](
      Warc.pack(Seq((rec(0, "x", Array[Byte]())._1 :+ ("Bad" -> "a\r\nb"), Array[Byte]()))))
      .getMessage.contains("CR/LF"))

    // http payload violations
    assert(intercept[IllegalArgumentException](
      Warc.httpBody("no split here".getBytes("ISO-8859-1")))
      .getMessage.contains("no header/body split"))
    assert(intercept[IllegalArgumentException](
      Warc.httpBody("FTP/1.1 200\r\n\r\nx".getBytes("ISO-8859-1")))
      .getMessage.contains("not HTTP"))
    // gunzip on non-gzip
    assert(intercept[IllegalArgumentException](drain("WARC/1.1".getBytes()))
      .getMessage.contains("gzip"))
  }

  test("loud contract: Content-Length overflow, corrupt gzip members, charset") {
    val good = Warc.pack(Seq(rec(0, "metadata", "xyzw".getBytes("UTF-8"))))
    // a 2^32+4 Content-Length must fail loudly, not truncate to 4 and
    // re-frame the tail as fake records (record smuggling)
    val smuggle = new String(good, "ISO-8859-1")
      .replace("Content-Length: 4", "Content-Length: 4294967300")
    val e = intercept[IllegalArgumentException](parse(smuggle.getBytes("ISO-8859-1")))
    assert(e.getMessage.contains("runs off"), e.getMessage)

    // member 2's magic corrupted: the whole file must fail, never
    // silently shrink to member 1 (the GZIPInputStream EOF trap)
    val recs = (0 until 2).map(i => rec(i, "metadata", s"payload $i".getBytes("UTF-8")))
    val gz = recs.toArray.flatMap(r => Warc.gzipMember(Warc.pack(Seq(r))))
    val m2 = Warc.gzipMember(Warc.pack(Seq(recs(0)))).length
    val bad = gz.clone(); bad(m2) = 0x00 // member 2 magic byte 1
    val e2 = intercept[IllegalArgumentException](drain(bad))
    assert(e2.getMessage.contains("bad magic") && e2.getMessage.contains("member 1"), e2.getMessage)
    // CRC flip inside member 2's trailer: loud, names the member
    val bad2 = gz.clone(); bad2(gz.length - 6) = (bad2(gz.length - 6) ^ 0x01).toByte
    val e3 = intercept[IllegalArgumentException](drain(bad2))
    assert(e3.getMessage.contains("CRC-32") || e3.getMessage.contains("ISIZE"), e3.getMessage)
    // intact members still concatenate
    assert(Warc.parseAuto(gz).length == 2)

    // charset: declared ISO-8859-1 bodies decode correctly…
    val latin1Body = "café".getBytes("ISO-8859-1")
    val r = Warc.httpResponse(Warc.httpWrap(200, "text/html; charset=ISO-8859-1", latin1Body))
    assert(r.bodyText == "café" && r.status == 200)
    // …absent charset defaults to UTF-8, unsupported is loud
    assert(Warc.httpResponse(Warc.httpWrap(200, "text/plain", "hi".getBytes("UTF-8")))
      .bodyText == "hi")
    val e4 = intercept[IllegalArgumentException](
      Warc.httpResponse(Warc.httpWrap(200, "text/html; charset=klingon-8", latin1Body)).bodyText)
    assert(e4.getMessage.contains("charset"), e4.getMessage)
  }

  test("CrawlStream.ingestWarc: container stream == sequential per-file composition") {
    import graft.ops.{CrawlStream, DedupIndex, LineStore}
    import org.apache.spark.sql.functions.{col, length, regexp_replace}
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = sys.props("java.io.tmpdir")
    val dirs = Seq("in", "lineS", "dedupS", "lineB", "dedupB", "ckpt")
      .map(n => n -> s"$tmp/graft-warcstream-$n").toMap
    dirs.values.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs("in")))
    def wrap(t: String) = s"<b>$t</b>"
    val toText: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => regexp_replace(c, "</?b>", "")
    val corpus = Seq(
      ("c/1", "nav bar line\ncorpus story one"),
      ("c/2", "nav bar line\ncorpus story two")).toDF("doc_id", "text")
    for (k <- Seq("lineS", "lineB")) LineStore.build(corpus, dirs(k), $"text", $"doc_id")
    for (k <- Seq("dedupS", "dedupB")) DedupIndex.build(corpus, dirs(k), $"text", $"doc_id")

    def warcFile(docs: Seq[(String, String)]): Array[Byte] =
      Warc.pack(docs.zipWithIndex.map { case ((uri, markup), i) =>
        rec(i, "response", Warc.httpWrap(200, "text/html", markup.getBytes("UTF-8")),
          Seq("WARC-Target-URI" -> uri))
      })
    // the standard post-scrub quality floor: a re-crawl shares every
    // line with its stored original, so the line stage guts it to ""
    // and the GATE drops it (the documented gutted-doc shape — the
    // dedup store handles near-dups whose unique lines survive)
    val gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.where(length(col("text")) > 0)
    val fileA = warcFile(Seq(
      ("u/101", wrap("nav bar line\nfresh day one")), // boilerplate cut, then kept
      ("u/102", wrap("corpus story one")),            // re-crawl: gutted -> gated out
      ("u/103", wrap("day one banner\nalpha"))))
    val fileB = warcFile(Seq(
      ("u/201", wrap("day one banner\nbeta")),        // banner seen in file A -> cut
      ("u/202", wrap("fresh day one"))))              // re-crawl of 101's text: gated out

    // sequential twin over the *B stores, straight from the bytes
    def seqFile(bytes: Array[Byte]): Set[(String, String)] = {
      val docs = Warc.parseAuto(bytes).filter(_.recordType == "response")
        .map(r => (r.targetUri, new String(Warc.httpBody(r.payload)._2, "UTF-8")))
        .toDF("doc_id", "markup")
        .select(col("doc_id"), toText(col("markup")).as("text"))
        .transform(graft.Caches.checkpointed)
      val scrubbed = gate(LineStore.scrubDelta(spark, docs, dirs("lineB"), $"text", $"doc_id")
        .select($"doc_id", $"clean_text".as("text")))
      val kept = Caches.checkpointed(
        DedupIndex.deltaKeep(spark, scrubbed, dirs("dedupB"), $"text", $"doc_id"))
      val out = kept.collect().map(r => (r.getString(0), r.getString(1))).toSet
      LineStore.append(docs, dirs("lineB"), $"text", $"doc_id")
      DedupIndex.append(kept, dirs("dedupB"), $"text", $"doc_id")
      docs.unpersist(); kept.unpersist()
      out
    }
    val seqA = seqFile(fileA)
    val seqB = seqFile(fileB)
    assert(seqA == Set(("u/101", "fresh day one"), ("u/103", "day one banner\nalpha")),
      s"fixture drifted: $seqA")
    assert(seqB == Set(("u/201", "beta")), s"fixture drifted: $seqB")

    // streaming form: files land one at a time in the watched dir
    val got = scala.collection.mutable.Map[Long, Set[(String, String)]]()
    java.nio.file.Files.write(java.nio.file.Paths.get(dirs("in"), "a.warc"), fileA)
    val q = CrawlStream.ingestWarc(spark, dirs("in"), dirs("lineS"), dirs("dedupS"),
      dirs("ckpt"), toText = toText, gate = gate) { (kept, id) =>
      got(id) = kept.collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    try {
      q.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(dirs("in"), "b.warc.gz"),
        Warc.gzipMember(fileB))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.values.toSet == Set(seqA, seqB),
      s"stream emitted ${got.toMap}, sequential said A=$seqA B=$seqB")
  }

  test("streaming decode: records spanning gzip member boundaries, one record in memory") {
    // members concatenate to ONE logical WARC stream (spec annex C),
    // so a writer that splits at arbitrary byte boundaries — records
    // STRADDLING members — must still decode; this is what the
    // incremental recordIterator-over-gunzipStream composition buys
    // over per-member flat parses
    val recs = (0 until 5).map(i =>
      rec(i, "metadata", Array.tabulate(300 + i)(j => ((i * 31 + j) % 256).toByte)))
    val plain = Warc.pack(recs)
    val chopped = plain.grouped(97).toSeq.flatMap(ch => Warc.gzipMember(ch)).toArray
    val rs = Warc.parseAuto(chopped)
    assert(rs.length == 5)
    recs.map(_._2).zip(rs).foreach { case (p, r) =>
      assert(java.util.Arrays.equals(p, r.payload)) }
    // the iterator is incremental: the first record is available
    // without consuming the rest of the stream (a corrupt LATER
    // member fails only when reached — loud, but lazily)
    val tail = Warc.gzipMember(plain)
    val corrupt = tail.clone(); corrupt(tail.length - 6) = (corrupt(tail.length - 6) ^ 0x7).toByte
    val it = Warc.recordIteratorAuto(Warc.gzipMember(Warc.pack(Seq(recs.head))) ++ corrupt)
    assert(java.util.Arrays.equals(it.next().payload, recs.head._2))
    assert(intercept[IllegalArgumentException] { while (it.hasNext) it.next() }
      .getMessage.contains("WARC:"))
  }

  test("ingestWarc doc identity: URI-less response falls back to WARC-Record-ID") {
    import graft.ops.{CrawlStream, DedupIndex, LineStore}
    import org.apache.spark.sql.functions.regexp_replace
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = sys.props("java.io.tmpdir")
    val dirs = Seq("in", "line", "dedup", "ckpt")
      .map(n => n -> s"$tmp/graft-warcid-$n").toMap
    dirs.values.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs("in")))
    val corpus = Seq(("c/1", "corpus text")).toDF("doc_id", "text")
    LineStore.build(corpus, dirs("line"), $"text", $"doc_id")
    DedupIndex.build(corpus, dirs("dedup"), $"text", $"doc_id")
    // response with NO WARC-Target-URI: without the fallback every
    // such record would collapse onto doc_id "" — a silent identity
    // merge in both stores; the mandatory WARC-Record-ID is the
    // fetch-unique identity a real crawl always carries
    val bytes = Warc.pack(Seq(
      rec(7, "response", Warc.httpWrap(200, "text/html", "<b>unique seven</b>".getBytes("UTF-8")))))
    java.nio.file.Files.write(java.nio.file.Paths.get(dirs("in"), "x.warc"), bytes)
    val got = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = CrawlStream.ingestWarc(spark, dirs("in"), dirs("line"), dirs("dedup"),
      dirs("ckpt"), toText = c => regexp_replace(c, "</?b>", "")) { (kept, _) =>
      got ++= kept.collect().map(r => (r.getString(0), r.getString(1)))
    }
    try q.processAllAvailable() finally q.stop()
    assert(got.toSet == Set(("<urn:uuid:7>", "unique seven")), got.toString)
  }

  test("Warc.recordsStream: binaryFile source explodes real .warc and .warc.gz files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-src")
    val a = Warc.pack(Seq(
      rec(0, "warcinfo", "software: graft\r\n".getBytes("UTF-8")),
      rec(1, "response", Warc.httpWrap(200, "text/html", "<p>one</p>".getBytes("UTF-8")),
        Seq("WARC-Target-URI" -> "http://a/1"))))
    val b = (0 until 2).toArray.flatMap(i => Warc.gzipMember(Warc.pack(Seq(
      rec(10 + i, "response", Warc.httpWrap(200, "text/html", s"<p>b$i</p>".getBytes("UTF-8")),
        Seq("WARC-Target-URI" -> s"http://b/$i"))))))
    java.nio.file.Files.write(dir.resolve("a.warc"), a)
    java.nio.file.Files.write(dir.resolve("b.warc.gz"), b)

    val q = Warc.recordsStream(spark, s"$dir/*")
      .writeStream.format("memory").queryName("warc_records_src")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val rows = spark.table("warc_records_src").orderBy("file", "record_idx").collect()
    assert(rows.length == 4)
    val typesByFile = rows.groupBy(_.getAs[String]("file").split('/').last)
      .view.mapValues(_.map(_.getAs[String]("warc_type")).toSeq).toMap
    assert(typesByFile("a.warc") == Seq("warcinfo", "response"))
    assert(typesByFile("b.warc.gz") == Seq("response", "response"))
    // payload bytes survive the source intact; the downstream chain
    // (httpBody -> html extract) gets exactly what was crawled
    val resp = rows.filter(_.getAs[String]("warc_type") == "response")
    val bodies = resp.map(r => new String(
      Warc.httpBody(r.getAs[Array[Byte]]("payload"))._2, "UTF-8")).sorted.toSeq
    assert(bodies == Seq("<p>b0</p>", "<p>b1</p>", "<p>one</p>"))
    assert(resp.map(_.getAs[String]("target_uri")).sorted.toSeq ==
      Seq("http://a/1", "http://b/0", "http://b/1"))
  }
}
