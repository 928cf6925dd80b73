package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-JVM WARC (Web ARChive, ISO 28500 / WARC/1.1) record codec —
  * the crawl lake's FRONT-DOOR format: what Common-Crawl-shaped
  * corpora actually arrive as, one step upstream of the HTML
  * extraction the scrub flagships already grade. Spec-walk of the
  * public IIPC WARC/1.1 specification (the same from-the-spec
  * convention as ops/Flac, ops/Mp3, ops/Multimodal):
  *
  *   record   = version CRLF *(header CRLF) CRLF payload CRLF CRLF
  *   version  = "WARC/1.1" (we accept any WARC/0.x-1.x on read)
  *   header   = field-name ":" SP field-value (Content-Length REQUIRED;
  *              WARC-Type / WARC-Record-ID / WARC-Date are mandatory
  *              per spec §5 and enforced on [[pack]], tolerated-if-
  *              absent on [[recordIterator]] — real crawls contain sloppy
  *              writers, but framing errors are never tolerated)
  *   a WARC FILE is records back to back; the .warc.gz form is one
  *   gzip MEMBER per record (spec annex C recommends record-at-time
  *   compression so readers can split on member boundaries); members
  *   concatenate, so decompress-then-parse handles both framings.
  *
  * Everything fails LOUDLY with a contextual "WARC: ..." message
  * (truncated header block, missing/garbled Content-Length, payload
  * running off the buffer, missing record terminator) — the codec
  * convention: a corrupt crawl file must name itself, not surface as
  * an index error three operators downstream.
  *
  * Scale shape: a WARC file is the parallelism unit (the archive
  * convention caps files at ~1 GB), so [[recordsStream]] reads via
  * binaryFile and explodes records per file in the SCAN stage
  * (mapPartitions, zero shuffles). Decode is STREAMING
  * ([[recordIteratorAuto]]: member-by-member inflate feeding an
  * incremental record parser), so per-task memory is the COMPRESSED
  * file plus one record — a conventional ~1 GB .warc.gz routinely
  * expands to 3-5 GB, past any flat byte[] — and 100 TB of crawl =
  * ~100k files scanning in parallel.
  */
object Warc {

  private val Crlf = "\r\n".getBytes("ISO-8859-1")

  /** One parsed record: raw header pairs in file order (names
    * case-preserved; [[header]] looks up case-insensitively per spec
    * §4) plus the exact payload bytes. */
  final case class Record(headers: Seq[(String, String)], payload: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    def recordType: String = header("WARC-Type").getOrElse("")
    def targetUri: String = header("WARC-Target-URI").getOrElse("")
  }

  /** Serialize records to one WARC/1.1 file's bytes. Each record's
    * headers must already carry the spec-mandatory fields except
    * Content-Length, which is computed here (the one header a caller
    * cannot get wrong). Deterministic by construction — no clocks,
    * no randomness — so packed bytes are hash-gradable. */
  def pack(records: Seq[(Seq[(String, String)], Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { case (hdrs, payload) =>
      for (m <- Seq("WARC-Type", "WARC-Record-ID", "WARC-Date"))
        require(hdrs.exists(_._1.equalsIgnoreCase(m)),
          s"WARC: pack requires the mandatory $m header (spec §5)")
      require(!hdrs.exists(_._1.equalsIgnoreCase("Content-Length")),
        "WARC: pack computes Content-Length itself; do not pass it")
      out.write("WARC/1.1".getBytes("ISO-8859-1")); out.write(Crlf)
      hdrs.foreach { case (k, v) =>
        require(!k.exists(c => c == '\r' || c == '\n' || c == ':') &&
            !v.exists(c => c == '\r' || c == '\n'),
          s"WARC: header '$k' contains CR/LF/colon — unencodable")
        out.write(s"$k: $v".getBytes("UTF-8")); out.write(Crlf)
      }
      out.write(s"Content-Length: ${payload.length}".getBytes("ISO-8859-1"))
      out.write(Crlf); out.write(Crlf)
      out.write(payload)
      out.write(Crlf); out.write(Crlf)
    }
    out.toByteArray
  }

  /** INCREMENTAL record reader over a plain WARC byte stream — the
    * production decode shape: per-record memory is that record's
    * Content-Length, never the file's. Composed with [[memberGunzip]]
    * this is what lets a conventional ~1 GB .warc.gz that expands to
    * 3-5 GB decode inside a task without ever allocating the
    * decompressed file (a flat gunzip-then-parse pair caps at
    * a 2 GiB byte[] and OOMs long before that). All framing errors
    * stay loud with stream offsets (offsets are decompressed-stream
    * positions, which for a plain .warc equal buffer offsets). */
  def recordIterator(in: java.io.InputStream): Iterator[Record] = new Iterator[Record] {
    private var offset = 0L
    // Internal read buffer: through MemberGunzip every read() is an
    // Inflater call (single-byte read() also allocates a 1-element
    // array per byte), so byte-at-a-time header/payload walks cost
    // ~one JNI inflate PER BYTE — billions on a ~GB .warc.gz. All
    // consumption goes through this buffer: header lines take the
    // cheap in-buffer path, payloads bulk-copy from it and bulk-read
    // the remainder directly ([[readN]]). `offset` counts CONSUMED
    // bytes only, so buffering ahead never perturbs record positions.
    private val buf = new Array[Byte](8192)
    private var bufPos = 0
    private var bufLen = 0
    private var eof = false

    /** Ensure at least one buffered byte; false at EOF. */
    private def fill(): Boolean = {
      if (bufPos < bufLen) return true
      if (eof) return false
      bufPos = 0
      bufLen = 0
      while (bufLen == 0) {
        val n = in.read(buf)
        if (n < 0) { eof = true; return false }
        bufLen = n
      }
      true
    }

    private def read1(): Int = {
      if (!fill()) return -1
      val b = buf(bufPos) & 0xff
      bufPos += 1
      offset += 1
      b
    }

    private def readLine(context: String): String = {
      val start = offset
      val buf = new java.io.ByteArrayOutputStream(64)
      var prev = -1
      while (true) {
        val b = read1()
        if (b < 0)
          throw new IllegalArgumentException(
            s"WARC: $context line at offset $start runs off the stream (truncated file?)")
        if (prev == '\r' && b == '\n') {
          val arr = buf.toByteArray
          return new String(arr, 0, arr.length - 1, "UTF-8")
        }
        buf.write(b)
        prev = b
      }
      throw new IllegalStateException("unreachable")
    }

    private def readN(n: Long, what: String): Array[Byte] = {
      if (n > Int.MaxValue - 8)
        throw new IllegalArgumentException(
          s"WARC: payload of $n bytes at offset $offset runs off the JVM array bound " +
            "(2 GiB) — record smuggling or corrupt Content-Length")
      val out = new Array[Byte](n.toInt)
      var got = 0
      // drain the read buffer first, then BULK-read the remainder
      // straight off the stream (one inflate call per chunk, not per
      // byte — the r18-advice hot path for ~GB .warc.gz payloads)
      val buffered = math.min(bufLen - bufPos, n.toInt - got)
      if (buffered > 0) {
        System.arraycopy(buf, bufPos, out, got, buffered)
        bufPos += buffered
        got += buffered
        offset += buffered
      }
      while (got < n) {
        val r = in.read(out, got, n.toInt - got)
        if (r < 0)
          throw new IllegalArgumentException(
            s"WARC: $what of $n bytes at offset ${offset - got} runs off the stream")
        got += r
        offset += r
      }
      out
    }

    override def hasNext: Boolean = fill()

    override def next(): Record = {
      if (!hasNext) throw new NoSuchElementException("WARC: no more records")
      val recStart = offset
      val version = readLine("header")
      if (!version.startsWith("WARC/"))
        throw new IllegalArgumentException(
          s"WARC: expected a WARC/x.y version line at offset $recStart, got '${version.take(32)}'")
      val hdrs = Seq.newBuilder[(String, String)]
      var open = true
      while (open) {
        val l = readLine("header")
        if (l.isEmpty) open = false
        else {
          val c = l.indexOf(':')
          if (c < 1)
            throw new IllegalArgumentException(
              s"WARC: malformed header line '${l.take(64)}' (no colon)")
          hdrs += ((l.substring(0, c).trim, l.substring(c + 1).trim))
        }
      }
      val rec = hdrs.result()
      val clen = rec.collectFirst {
        case (k, v) if k.equalsIgnoreCase("Content-Length") => v
      }.getOrElse(throw new IllegalArgumentException(
        "WARC: record has no Content-Length header — unframeable"))
      // bounds-check the LONG before narrowing: a 2^32+4 length must
      // fail loudly (here: by running off the stream / the array
      // bound), never truncate and silently re-frame what follows
      val nL = try clen.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"WARC: garbled Content-Length '$clen'")
      }
      if (nL < 0)
        throw new IllegalArgumentException(
          s"WARC: negative Content-Length $nL at offset $offset")
      val payload = readN(nL, "payload")
      val termAt = offset
      val term = new Array[Int](4)
      var i = 0
      while (i < 4) {
        term(i) = read1()
        if (term(i) < 0)
          throw new IllegalArgumentException(
            s"WARC: payload of $nL bytes at offset $termAt runs off the stream " +
              "(no room for the record terminator)")
        i += 1
      }
      if (!(term(0) == '\r' && term(1) == '\n' && term(2) == '\r' && term(3) == '\n'))
        throw new IllegalArgumentException(
          s"WARC: record terminator (CRLF CRLF) missing after payload at offset $termAt " +
            "— Content-Length disagrees with the actual payload")
      Record(rec, payload)
    }
  }

  /** Gzip `bytes` as ONE member — callers gzip record-at-a-time and
    * concatenate for the spec-recommended .warc.gz framing. */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(bytes); gz.close()
    bo.toByteArray
  }

  /** Streaming multi-member gunzip: an InputStream yielding the
    * concatenated decompressed bytes of every gzip member of a
    * .warc.gz, validating as it goes. Spec-walked member loop
    * (RFC 1952) rather than GZIPInputStream: the JDK stream treats an
    * unreadable NEXT-member header as clean end-of-stream, so a bit
    * flip in member 2's magic would silently drop every record after
    * member 1 — here every member's header, deflate body, CRC-32 and
    * ISIZE trailer must parse or the read fails loudly, and trailing
    * garbage is an error, never an implicit EOF. Pull-based so the
    * decompressed file is NEVER materialized: composed with
    * [[recordIterator]], a conventional ~1 GB crawl .warc.gz that
    * expands to 3-5 GB decodes with per-record memory (a flat
    * gunzip into one byte[] would need >2 GiB and die first). */
  private final class MemberGunzip(bytes: Array[Byte]) extends java.io.InputStream {
    private var pos = 0
    private var member = 0
    private var memberStart = 0
    private var inf: java.util.zip.Inflater = null
    private val crc = new java.util.zip.CRC32()
    private var isize = 0L

    private def u8(i: Int): Int = {
      if (i >= bytes.length) throw new IllegalArgumentException(
        s"WARC: gzip member truncated at offset $i")
      bytes(i) & 0xFF
    }
    private def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    private def u32le(i: Int): Long =
      (u16le(i).toLong | (u16le(i + 2).toLong << 16)) & 0xFFFFFFFFL

    private def startMember(): Unit = {
      memberStart = pos
      if (u8(pos) != 0x1F || u8(pos + 1) != 0x8B)
        throw new IllegalArgumentException(
          s"WARC: gzip member $member at offset $pos has bad magic " +
            f"${u8(pos)}%02x${u8(pos + 1)}%02x — corrupt member boundary, refusing to drop the tail")
      if (u8(pos + 2) != 8)
        throw new IllegalArgumentException(
          s"WARC: gzip member $member uses compression method ${u8(pos + 2)} (only 8 = deflate exists)")
      val flg = u8(pos + 3)
      if ((flg & 0xE0) != 0)
        throw new IllegalArgumentException(
          s"WARC: gzip member $member sets reserved FLG bits ($flg)")
      pos += 10 // magic, CM, FLG, MTIME(4), XFL, OS
      if ((flg & 4) != 0) pos += 2 + u16le(pos)            // FEXTRA
      for (bit <- Seq(8, 16) if (flg & bit) != 0) {        // FNAME, FCOMMENT
        while (u8(pos) != 0) pos += 1
        pos += 1
      }
      if ((flg & 2) != 0) pos += 2                         // FHCRC
      if (pos >= bytes.length) throw new IllegalArgumentException(
        s"WARC: gzip member $member header runs off the buffer")
      inf = new java.util.zip.Inflater(true)
      inf.setInput(bytes, pos, bytes.length - pos)
      crc.reset()
      isize = 0L
    }

    private def finishMember(): Unit = {
      pos += inf.getBytesRead.toInt
      inf.end()
      inf = null
      if (u32le(pos) != crc.getValue)
        throw new IllegalArgumentException(
          s"WARC: gzip member $member (offset $memberStart) CRC-32 mismatch — corrupt payload")
      if (u32le(pos + 4) != (isize & 0xFFFFFFFFL))
        throw new IllegalArgumentException(
          s"WARC: gzip member $member ISIZE ${u32le(pos + 4)} != decompressed length $isize")
      pos += 8
      member += 1
    }

    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xFF
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (true) {
        if (inf == null) {
          if (pos >= bytes.length) return -1
          startMember()
        }
        val n =
          try inf.inflate(b, off, len)
          catch { case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"WARC: gzip member $member deflate stream is corrupt at input offset " +
                s"${pos + inf.getBytesRead.toInt}: ${e.getMessage}") }
        if (n > 0) {
          crc.update(b, off, n); isize += n
          if (inf.finished()) finishMember() // validate eagerly: fail before the tail is consumed
          return n
        }
        if (inf.finished()) finishMember()
        else if (inf.needsInput())
          throw new IllegalArgumentException(
            s"WARC: gzip member $member deflate stream truncated")
      }
      -1 // unreachable
    }

    override def close(): Unit = if (inf != null) { inf.end(); inf = null }
  }

  /** The member-walking gunzip stream over `bytes` — loud framing
    * checks, constant memory. Fails fast on a non-gzip prefix. */
  def gunzipStream(bytes: Array[Byte]): java.io.InputStream = {
    if (bytes.length < 2 || (bytes(0) & 0xFF) != 0x1F || (bytes(1) & 0xFF) != 0x8B)
      throw new IllegalArgumentException(
        "WARC: not a gzip stream (bad magic) — read .warc files with parse directly")
    new MemberGunzip(bytes)
  }

  /** Parse a file that may be plain .warc or record-gzipped .warc.gz
    * — the two on-disk framings one crawl lake mixes freely.
    * Materializes the record list; the scan path uses
    * [[recordIteratorAuto]]. */
  def parseAuto(bytes: Array[Byte]): Seq[Record] =
    recordIteratorAuto(bytes).toVector

  /** Streaming twin of [[parseAuto]]: records one at a time, with the
    * gzip framing decompressed member-by-member — per-task memory is
    * the COMPRESSED file (the binaryFile row) plus one record, never
    * the decompressed file. */
  def recordIteratorAuto(bytes: Array[Byte]): Iterator[Record] =
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0x1F && (bytes(1) & 0xFF) == 0x8B)
      recordIterator(gunzipStream(bytes))
    else recordIterator(new java.io.ByteArrayInputStream(bytes))

  /** One parsed HTTP response message: status, raw header pairs
    * (names case-preserved), entity body bytes. [[charset]] reads the
    * Content-Type `charset=` parameter — absent means the HTTP
    * default; an unsupported name fails loudly rather than mojibake
    * the corpus. */
  final case class HttpResponse(status: Int, headers: Seq[(String, String)],
                                body: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    def charset: java.nio.charset.Charset =
      header("Content-Type")
        .flatMap(_.split(';').map(_.trim).collectFirst {
          case p if p.toLowerCase.startsWith("charset=") =>
            p.substring(8).trim.stripPrefix("\"").stripSuffix("\"")
        })
        .map { name =>
          try java.nio.charset.Charset.forName(name)
          catch { case _: Exception => throw new IllegalArgumentException(
            s"WARC: unsupported HTTP charset '$name' — decode would corrupt the text") }
        }
        .getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    def bodyText: String = new String(body, charset)
  }

  /** Parse an application/http payload — the extraction step between
    * the WARC frame and the text: a response record's payload is the
    * full HTTP message (spec §6.3), so the crawl pipeline needs the
    * status (error pages are not corpus documents), the charset (a
    * large fraction of real crawls is not UTF-8), and the entity
    * body. Loud when no header/body split exists or the status line
    * is not HTTP-shaped. */
  def httpResponse(payload: Array[Byte]): HttpResponse = {
    var i = 0
    while (i + 3 < payload.length &&
        !(payload(i) == '\r' && payload(i + 1) == '\n' &&
          payload(i + 2) == '\r' && payload(i + 3) == '\n')) i += 1
    if (i + 3 >= payload.length)
      throw new IllegalArgumentException(
        "WARC: HTTP payload has no header/body split (CRLF CRLF) — not an HTTP message?")
    val head = new String(payload, 0, i, "ISO-8859-1")
    val lines = head.split("\r\n")
    val statusLine = lines.head
    val parts = statusLine.split(" ", 3)
    if (parts.length < 2 || !parts(0).startsWith("HTTP/"))
      throw new IllegalArgumentException(
        s"WARC: payload status line '${statusLine.take(64)}' is not HTTP")
    val status = try parts(1).toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"WARC: garbled HTTP status '${parts(1)}'")
    }
    val hdrs = lines.tail.toSeq.map { l =>
      val c = l.indexOf(':')
      if (c < 1) throw new IllegalArgumentException(
        s"WARC: malformed HTTP header line '${l.take(64)}' (no colon)")
      (l.substring(0, c).trim, l.substring(c + 1).trim)
    }
    HttpResponse(status, hdrs, java.util.Arrays.copyOfRange(payload, i + 4, payload.length))
  }

  /** The (status, body) slice of [[httpResponse]] — kept for callers
    * that frame their own decode. */
  def httpBody(payload: Array[Byte]): (Int, Array[Byte]) = {
    val r = httpResponse(payload)
    (r.status, r.body)
  }

  /** Wrap an entity body as a minimal deterministic HTTP/1.1 response
    * message — the inverse of [[httpBody]] for fixture/round-trip
    * use. */
  def httpWrap(status: Int, contentType: String, body: Array[Byte]): Array[Byte] = {
    val head = s"HTTP/1.1 $status OK\r\nContent-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    val h = head.getBytes("ISO-8859-1")
    val out = new Array[Byte](h.length + body.length)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(body, 0, out, h.length, body.length)
    out
  }

  /** Crawl-lake SOURCE: watch `pathGlob` for newly arriving
    * .warc/.warc.gz files and explode every record of each file in
    * the scan stage as it lands, as rows (file, record_idx,
    * warc_type, record_id, target_uri, content_length, payload) —
    * one task per file, the archive parallelism unit. The crawl
    * lake's continuous front door, consumed by
    * [[CrawlStream.ingestWarc]]; `httpBody` + `graft_html_extract`
    * turn response rows into the scrub flagships' input. */
  def recordsStream(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    // binaryFile's schema is FIXED by the format, but the streaming
    // source API still demands it spelled out (no stream-time inference)
    spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (path, bytes) =>
          // streaming decode: one record in memory at a time, gzip
          // members inflated on demand — a 1 GB .warc.gz expanding to
          // 3-5 GB never allocates the decompressed file in the task
          recordIteratorAuto(bytes).zipWithIndex.map { case (r, i) =>
            (path, i.toLong, r.recordType,
              r.header("WARC-Record-ID").getOrElse(""),
              r.targetUri,
              r.payload.length.toLong, r.payload)
          }
        }
      }
      .toDF("file", "record_idx", "warc_type", "record_id", "target_uri",
        "content_length", "payload")
  }
}
