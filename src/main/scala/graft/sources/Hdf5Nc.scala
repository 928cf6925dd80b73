package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Generic pure-JVM HDF5 container reader — the NetCDF-4 ingest path.
  *
  * The reference opens its files with `netCDF4.Dataset(None, 'r',
  * memory=raw_data)` (weather4cast/datasets.py:86-94) and its actual
  * on-disk `.nc` files are NetCDF-4, i.e. HDF5 containers —
  * [[Netcdf]]'s classic CDF-1/2 walk cannot open them. This object
  * walks the public HDF5 File Format Specification generically enough
  * for real NetCDF-4 data files:
  *
  *  - superblock v0 and v2/v3 (8-byte offsets/lengths);
  *  - v1 object headers (with continuation blocks) and v2 `OHDR`
  *    headers (with `OCHK` continuations);
  *  - old-style groups (B-tree v1 + SNOD + local heap, any depth,
  *    nested groups) and compact v2 link messages; dense
  *    (fractal-heap) link/attribute storage is rejected loudly,
  *    never misread;
  *  - dataset layouts (v3): contiguous, compact, and chunked with
  *    B-tree v1 chunk indexes at any level, edge chunks clipped to
  *    the dataspace, deflate, shuffle and fletcher32 (checksum
  *    verified, mismatch is loud) filters in any pipeline order;
  *  - datatypes: fixed-point 1/2/4/8-byte signed/unsigned and IEEE
  *    float32/64, both endiannesses; fixed-length strings in attrs;
  *  - attribute messages v1/v2/v3 (`valid_range`, `_FillValue`, ...);
  *    netCDF-4's reference-typed bookkeeping attrs (DIMENSION_LIST,
  *    REFERENCE_LIST) are recorded without values, not errors.
  *
  * Split exactly like [[Netcdf]]: this layer only walks the container
  * and DECODES — raw numeric payloads plus the attrs. The long-grid
  * layout and attr checks are [[Netcdf.grid]]'s, which sniffs the
  * magic and routes here, so classic and HDF5-container `.nc` files
  * decode through one function; the numeric preprocessing stays in
  * the column operators ([[graft.functions.scalars.fillToNull]],
  * [[graft.functions.scalars.minmaxDecode]]).
  * Fixture-tested in SourcesSpec against hand-built from-the-spec
  * bytes, the same doctrine as the CDF fixtures — a reader bug cannot
  * self-agree with its own writer.
  */
object Hdf5Nc {

  private val UNDEF = -1L // 0xFFFF... the spec's undefined address
  private val MAGIC = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')

  def isHdf5(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && java.util.Arrays.equals(bytes, 0, 8, MAGIC, 0, 8)

  /** class 0 = fixed-point, 1 = float, 3 = string; others recorded
    * (attrs) or rejected (dataset payloads). */
  final case class Dtype(clazz: Int, size: Int, signed: Boolean, littleEndian: Boolean)
  final case class Attr(name: String, values: Array[Double], text: String)
  /** `layoutClass`: 0 compact (dataAddr = in-file offset of the inline
    * payload), 1 contiguous (dataAddr/dataSize = the slab), 2 chunked
    * (dataAddr = chunk B-tree root; chunkDims per dataspace rank).
    * `filters` are HDF5 filter ids in write order (1 deflate,
    * 2 shuffle). */
  final case class Dataset(path: String, dims: Seq[Long], dtype: Dtype, layoutClass: Int,
                           dataAddr: Long, dataSize: Long, chunkDims: Seq[Int],
                           filters: Seq[Int], attrs: Map[String, Attr])

  /** All datasets in the file, depth-first, path like `grp/var`. */
  def parse(bytes: Array[Byte]): Seq[Dataset] = new Parser(bytes).parseFile()

  /** Decode a dataset to doubles in row-major dim order. Cells no
    * chunk covers take the `_FillValue` attr (netCDF-4's fill
    * contract) or 0.0 when absent. */
  def readData(bytes: Array[Byte], ds: Dataset): Array[Double] =
    new Parser(bytes).readData(ds)

  // ---- the spec walk ------------------------------------------------

  private final class Parser(bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    private def u8(a: Long): Int = bytes(a.toInt) & 0xFF
    private def u16(a: Long): Int = bb.getShort(a.toInt) & 0xFFFF
    private def u32(a: Long): Long = bb.getInt(a.toInt) & 0xFFFFFFFFL
    private def u64(a: Long): Long = bb.getLong(a.toInt)
    private def ascii(a: Long, n: Int): String = new String(bytes, a.toInt, n, "US-ASCII")
    private def cstr(a: Long): String = {
      var q = a; val sb = new StringBuilder
      while (q < bytes.length && u8(q) != 0) { sb.append(u8(q).toChar); q += 1 }
      if (q >= bytes.length)
        fail(s"unterminated name at offset $a (heap offset out of bounds?)")
      sb.toString
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"HDF5 container: $msg")

    def parseFile(): Seq[Dataset] = {
      if (!isHdf5(bytes)) fail("bad signature")
      val rootOh = u8(8) match {
        case 0 =>
          if (u8(13) != 8 || u8(14) != 8) fail("need 8-byte offsets/lengths")
          u64(56 + 8) // root symbol-table entry's object header address
        case 2 | 3 =>
          if (u8(9) != 8 || u8(10) != 8) fail("need 8-byte offsets/lengths")
          u64(36) // root group object header address
        case v => fail(s"superblock v$v unsupported (v0/v2/v3 only)")
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Dataset]
      walkObject(rootOh, name = "", prefix = "", out, depth = 0)
      out.toSeq
    }

    /** (type, bodyAddr, size) for every message of a v1 or v2 object
      * header, continuations followed. */
    private def messages(oh: Long): Seq[(Int, Long, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
      if (u8(oh) == 1) { // v1: 12-byte prefix + 4 pad; count governs
        val nMsgs = u16(oh + 2)
        var regions = List((oh + 16, oh + 16 + u32(oh + 8)))
        var read = 0
        while (read < nMsgs && regions.nonEmpty) {
          var p = regions.head._1; val end = regions.head._2
          regions = regions.tail
          while (read < nMsgs && p + 8 <= end) {
            val typ = u16(p); val sz = u16(p + 2); val body = p + 8
            if (typ == 0x0010) regions = regions :+ ((u64(body), u64(body) + u64(body + 8)))
            else out += ((typ, body, sz))
            read += 1
            p = body + sz
          }
        }
        if (read < nMsgs) fail(s"object header at $oh: $read of $nMsgs messages found")
      } else if (ascii(oh, 4) == "OHDR" && u8(oh + 4) == 2) {
        val flags = u8(oh + 5)
        var p = oh + 6
        if ((flags & 0x20) != 0) p += 16 // 4 stored times
        if ((flags & 0x10) != 0) p += 4 // attr storage phase-change
        val chunk0 = (flags & 3) match {
          case 0 => u8(p).toLong; case 1 => u16(p).toLong
          case 2 => u32(p); case 3 => u64(p)
        }
        p += 1 << (flags & 3)
        val hdrExtra = if ((flags & 0x04) != 0) 6 else 4 // + creation order
        var regions = List((p, p + chunk0)) // chunk0 = messages + gap; checksum after
        while (regions.nonEmpty) {
          var q = regions.head._1; val end = regions.head._2
          regions = regions.tail
          while (q + hdrExtra <= end) {
            val typ = u8(q); val sz = u16(q + 1); val body = q + hdrExtra
            if (typ == 0x10) { // continuation: OCHK block, sig + msgs + checksum
              val off = u64(body); val len = u64(body + 8)
              if (ascii(off, 4) != "OCHK") fail("continuation block missing OCHK")
              regions = regions :+ ((off + 4, off + len - 4))
            } else if (typ != 0) out += ((typ, body, sz))
            q = body + sz
          }
        }
      } else fail(s"unrecognized object header at $oh")
      out.toSeq
    }

    private def walkObject(oh: Long, name: String, prefix: String,
                           out: scala.collection.mutable.ArrayBuffer[Dataset],
                           depth: Int): Unit = {
      if (depth > 32) fail("group nesting deeper than 32 (cycle?)")
      val msgs = messages(oh)
      if (msgs.exists(_._1 == 0x0008)) { // has a layout message: dataset
        out += parseDataset(prefix + name, msgs)
        return
      }
      val childPrefix = if (name.isEmpty) prefix else s"$prefix$name/"
      msgs.find(_._1 == 0x0011) match {
        case Some((_, body, _)) => // old-style group: B-tree + local heap
          val bt = u64(body); val heap = u64(body + 8)
          if (ascii(heap, 4) != "HEAP") fail("local heap signature")
          walkGroupBtree(bt, u64(heap + 24), childPrefix, out, depth)
        case None =>
          // v2 group: compact link messages; dense storage rejected
          msgs.find(_._1 == 0x0002).foreach { case (_, body, _) =>
            val f = u8(body + 1)
            val fheap = u64(body + 2 + (if ((f & 1) != 0) 8 else 0))
            if (fheap != UNDEF) fail("dense (fractal-heap) link storage unimplemented")
          }
          msgs.filter(_._1 == 0x0006).foreach { case (_, body, _) =>
            if (u8(body) != 1) fail(s"link message v${u8(body)}")
            val lf = u8(body + 1)
            var q = body + 2
            val ltype = if ((lf & 0x08) != 0) { val t = u8(q); q += 1; t } else 0
            if ((lf & 0x04) != 0) q += 8 // creation order
            if ((lf & 0x10) != 0) q += 1 // charset
            val nlen = ((lf & 3): @unchecked) match {
              case 0 => u8(q).toLong; case 1 => u16(q).toLong
              case 2 => u32(q); case 3 => u64(q)
            }
            q += 1 << (lf & 3)
            val nm = new String(bytes, q.toInt, nlen.toInt, "UTF-8")
            q += nlen
            if (ltype == 0) walkObject(u64(q), nm, childPrefix, out, depth + 1)
            // soft/external links carry no data: skipped
          }
      }
    }

    private def walkGroupBtree(node: Long, heapData: Long, prefix: String,
                               out: scala.collection.mutable.ArrayBuffer[Dataset],
                               depth: Int): Unit = {
      if (ascii(node, 4) != "TREE" || u8(node + 4) != 0) fail("group B-tree node")
      val level = u8(node + 5); val n = u16(node + 6)
      var c = 0
      while (c < n) {
        val child = u64(node + 24 + 8 + c.toLong * 16) // key,child interleaved
        if (level > 0) walkGroupBtree(child, heapData, prefix, out, depth)
        else {
          if (ascii(child, 4) != "SNOD") fail("symbol table node")
          val ns = u16(child + 6)
          var s = 0
          while (s < ns) {
            val e = child + 8 + s.toLong * 40
            walkObject(u64(e + 8), cstr(heapData + u64(e)), prefix, out, depth + 1)
            s += 1
          }
        }
        c += 1
      }
    }

    private def dataspaceDims(body: Long): Seq[Long] = {
      val rank = u8(body + 1)
      val at = u8(body) match {
        case 1 => body + 8
        case 2 => body + 4
        case v => fail(s"dataspace v$v")
      }
      (0 until rank).map(i => u64(at + 8L * i))
    }

    private def datatype(body: Long): Dtype = {
      val clazz = u8(body) & 0x0F
      val b0 = u8(body + 1)
      val size = u32(body + 4).toInt
      clazz match {
        case 0 => Dtype(0, size, signed = (b0 & 0x08) != 0, littleEndian = (b0 & 1) == 0)
        case 1 =>
          if (size != 4 && size != 8) fail(s"float size $size (IEEE 32/64 only)")
          Dtype(1, size, signed = true, littleEndian = (b0 & 1) == 0)
        case c => Dtype(c, size, signed = false, littleEndian = true)
      }
    }

    private def parseAttr(body: Long): Attr = {
      val ver = u8(body)
      val nameSz = u16(body + 2); val dtSz = u16(body + 4); val dsSz = u16(body + 6)
      def pad8(n: Int): Int = (n + 7) / 8 * 8
      var q = body + 8
      if (ver == 3) q += 1 // name character-set encoding
      else if (ver == 2) ()
      else if (ver != 1) fail(s"attribute message v$ver")
      if (ver >= 2 && (u8(body + 1) & 3) != 0) fail("shared attr datatype/dataspace unimplemented")
      val nm = cstr(q)
      q += (if (ver == 1) pad8(nameSz) else nameSz)
      val dt = datatype(q)
      val dtAt = q
      q += (if (ver == 1) pad8(dtSz) else dtSz)
      val dims = dataspaceDims(q)
      q += (if (ver == 1) pad8(dsSz) else dsSz)
      val n = dims.product.toInt max 1 // rank 0 = scalar
      dt.clazz match {
        case 0 | 1 => Attr(nm, decode(bytes, q.toInt, n, dt), "")
        case 3 => // fixed-length string: strip trailing nuls
          val raw = new String(bytes, q.toInt, n * dt.size, "UTF-8")
          Attr(nm, Array.empty, raw.takeWhile(_ != '\u0000'))
        case _ => Attr(nm, Array.empty, "") // reference/vlen bookkeeping attrs
      }
    }

    private def parseDataset(path: String, msgs: Seq[(Int, Long, Int)]): Dataset = {
      var dims: Seq[Long] = null
      var dt: Dtype = null
      var layoutClass = -1
      var dataAddr = UNDEF; var dataSize = 0L
      var chunkDims: Seq[Int] = Nil
      var filters: Seq[Int] = Nil
      val attrs = Map.newBuilder[String, Attr]
      msgs.foreach { case (typ, body, _) =>
        typ match {
          case 0x0001 => dims = dataspaceDims(body)
          case 0x0003 => dt = datatype(body)
          case 0x0008 =>
            if (u8(body) != 3) fail(s"data layout v${u8(body)} (v3 only)")
            layoutClass = u8(body + 1)
            layoutClass match {
              case 0 => dataSize = u16(body + 2).toLong; dataAddr = body + 4
              case 1 => dataAddr = u64(body + 2); dataSize = u64(body + 10)
              case 2 =>
                val dimensionality = u8(body + 2) // rank + element dim
                dataAddr = u64(body + 3)
                chunkDims = (0 until dimensionality - 1)
                  .map(i => u32(body + 11 + 4L * i).toInt)
              case c => fail(s"layout class $c")
            }
          case 0x000B =>
            val ver = u8(body); val nf = u8(body + 1)
            var q = body + (if (ver == 1) 8 else 2)
            filters = (0 until nf).map { _ =>
              val id = u16(q)
              val nameLen = if (ver == 1 || id >= 256) u16(q + 2) else 0
              val hdr = if (ver == 1 || id >= 256) 8 else 6
              val nclient = u16(q + hdr - 2)
              val namePad = if (ver == 1) (nameLen + 7) / 8 * 8 else nameLen
              q += hdr + namePad + 4L * nclient
              if (ver == 1 && nclient % 2 == 1) q += 4
              id
            }
          case 0x000C => val a = parseAttr(body); attrs += a.name -> a
          case 0x0015 => // attribute info: dense attr storage?
            val f = u8(body + 1)
            val fheap = u64(body + 2 + (if ((f & 1) != 0) 2 else 0))
            if (fheap != UNDEF) fail("dense (fractal-heap) attribute storage unimplemented")
          case _ => // fill value, mod time, bt-k, ... not needed
        }
      }
      if (dims == null || dt == null || layoutClass < 0)
        fail(s"dataset $path missing dataspace/datatype/layout message")
      filters.foreach(id => if (id != 1 && id != 2 && id != 3)
        fail(s"dataset $path: filter id $id unsupported " +
          "(deflate=1, shuffle=2, fletcher32=3 only)"))
      Dataset(path, dims, dt, layoutClass, dataAddr, dataSize, chunkDims, filters, attrs.result())
    }

    // ---- payload decode ---------------------------------------------

    private def decode(src: Array[Byte], off: Int, n: Int, dt: Dtype): Array[Double] = {
      if (dt.clazz != 0 && dt.clazz != 1) fail(s"dtype class ${dt.clazz} is not numeric")
      val b = ByteBuffer.wrap(src, off, n * dt.size)
        .order(if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      val out = new Array[Double](n)
      var i = 0
      (dt.clazz, dt.size) match {
        case (0, 1) => while (i < n) { val v = b.get(); out(i) = if (dt.signed) v else v & 0xFF; i += 1 }
        case (0, 2) => while (i < n) { val v = b.getShort(); out(i) = if (dt.signed) v else v & 0xFFFF; i += 1 }
        case (0, 4) => while (i < n) { val v = b.getInt(); out(i) = if (dt.signed) v.toDouble else (v & 0xFFFFFFFFL).toDouble; i += 1 }
        case (0, 8) => while (i < n) { out(i) = b.getLong().toDouble; i += 1 }
        case (1, 4) => while (i < n) { out(i) = b.getFloat(); i += 1 }
        case (1, 8) => while (i < n) { out(i) = b.getDouble(); i += 1 }
        case (c, s) => fail(s"dtype class $c size $s undecodable")
      }
      out
    }

    private def unshuffle(in: Array[Byte], elemSize: Int): Array[Byte] = {
      val n = in.length / elemSize
      val out = new Array[Byte](in.length)
      var j = 0; var idx = 0
      while (j < elemSize) {
        var i = 0
        while (i < n) { out(i * elemSize + j) = in(idx); idx += 1; i += 1 }
        j += 1
      }
      // HDF5's shuffle leaves a non-multiple tail untouched
      while (idx < in.length) { out(idx) = in(idx); idx += 1 }
      out
    }

    /** HDF5's Fletcher-32 (`H5_checksum_fletcher32`): 16-bit words
      * packed BIG-endian (hi byte first — the opposite of the textbook
      * little-endian Fletcher-32, so standard test vectors do NOT
      * apply), accumulated in 360-word blocks with shift-folds — 360
      * is the largest block for which the C library's uint32 sums
      * cannot overflow, so plain long accumulation reproduces it
      * bit-for-bit. An odd trailing byte contributes `byte << 8`. */
    private def fletcher32(b: Array[Byte], len: Int): Long = {
      var sum1 = 0L; var sum2 = 0L
      var i = 0
      var words = len / 2
      while (words > 0) {
        var t = math.min(words, 360).toInt
        words -= t
        while (t > 0) {
          sum1 += ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
          sum2 += sum1
          i += 2; t -= 1
        }
        sum1 = (sum1 & 0xffff) + (sum1 >> 16)
        sum2 = (sum2 & 0xffff) + (sum2 >> 16)
      }
      if ((len & 1) != 0) {
        sum1 += (b(i) & 0xff) << 8
        sum2 += sum1
        sum1 = (sum1 & 0xffff) + (sum1 >> 16)
        sum2 = (sum2 & 0xffff) + (sum2 >> 16)
      }
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
      ((sum2 & 0xffffL) << 16) | (sum1 & 0xffffL)
    }

    def readData(ds: Dataset): Array[Double] = {
      val total = ds.dims.product
      require(total <= Int.MaxValue, s"${ds.path}: ${ds.dims.mkString("x")} too large for one array")
      val n = total.toInt
      ds.layoutClass match {
        case 0 =>
          require(ds.dataSize == n.toLong * ds.dtype.size,
            s"${ds.path}: compact payload ${ds.dataSize} != $n x ${ds.dtype.size}")
          decode(bytes, ds.dataAddr.toInt, n, ds.dtype)
        case 1 =>
          if (ds.dataAddr == UNDEF) fail(s"${ds.path}: contiguous data never allocated")
          if (ds.filters.nonEmpty) fail(s"${ds.path}: filters on contiguous layout")
          decode(bytes, ds.dataAddr.toInt, n, ds.dtype)
        case 2 =>
          val out = new Array[Double](n)
          val fill = ds.attrs.get("_FillValue").flatMap(_.values.headOption).getOrElse(0.0)
          if (fill != 0.0) java.util.Arrays.fill(out, fill)
          if (ds.dataAddr != UNDEF) readChunked(ds, out)
          out
        case c => fail(s"layout class $c")
      }
    }

    private def readChunked(ds: Dataset, out: Array[Double]): Unit = {
      val rank = ds.dims.length
      require(ds.chunkDims.length == rank,
        s"${ds.path}: ${ds.chunkDims.length} chunk dims for rank $rank")
      val cdims = ds.chunkDims.toArray
      val chunkElems = cdims.product
      val rawSize = chunkElems * ds.dtype.size
      val keySize = 8 + 8 * (rank + 1)

      def walk(node: Long): Unit = {
        if (ascii(node, 4) != "TREE" || u8(node + 4) != 1) fail("chunk B-tree node")
        val level = u8(node + 5); val nEnt = u16(node + 6)
        var c = 0
        while (c < nEnt) {
          val kp = node + 24 + c.toLong * (keySize + 8)
          val child = u64(kp + keySize)
          if (level > 0) walk(child)
          else {
            val csize = u32(kp).toInt
            if (u32(kp + 4) != 0) fail("partially-applied filter mask unsupported")
            val offs = Array.tabulate(rank)(d => u64(kp + 8 + 8L * d))
            var buf = java.util.Arrays.copyOfRange(bytes, child.toInt, child.toInt + csize)
            // the pipeline message lists filters in WRITE order; undo
            // them in reverse so an unusual-but-legal order (e.g.
            // shuffle applied after deflate) decodes correctly too
            ds.filters.zipWithIndex.reverseIterator.foreach { case (fid, wi) => fid match {
              case 1 => // inflate — an inner fletcher32 (earlier in
                // write order) rides UNDER the compression, so the
                // expected plaintext carries its 4-byte trailer still
                val expect = rawSize + 4 * ds.filters.take(wi).count(_ == 3)
                val inf = new java.util.zip.Inflater()
                try {
                  inf.setInput(buf)
                  val o = new Array[Byte](expect)
                  val got =
                    try inf.inflate(o)
                    catch { case e: java.util.zip.DataFormatException =>
                      fail(s"chunk at $child is not a zlib stream (${e.getMessage}): corrupt chunk")
                    }
                  if (got != expect || !inf.finished())
                    fail(s"chunk at $child inflated to $got of $expect bytes")
                  buf = o
                } finally inf.end() // native memory — freed even on the fail path
              case 2 => buf = unshuffle(buf, ds.dtype.size)
              case 3 => // fletcher32: verify the appended checksum, strip it
                if (buf.length < 4) fail(s"chunk at $child too short for a fletcher32 trailer")
                val dataLen = buf.length - 4
                val stored = (buf(dataLen) & 0xffL) | ((buf(dataLen + 1) & 0xffL) << 8) |
                  ((buf(dataLen + 2) & 0xffL) << 16) | ((buf(dataLen + 3) & 0xffL) << 24)
                val computed = fletcher32(buf, dataLen)
                if (computed != stored)
                  fail(f"chunk at $child fletcher32 mismatch: " +
                    f"stored 0x$stored%08x computed 0x$computed%08x (corrupt chunk)")
                buf = java.util.Arrays.copyOf(buf, dataLen)
              case id => fail(s"filter id $id unsupported") // unreachable: parse rejects
            } }
            if (buf.length != rawSize)
              fail(s"chunk at $child is ${buf.length} bytes, expected $rawSize")
            val vals = decode(buf, 0, chunkElems, ds.dtype)
            // scatter, clipping edge chunks to the dataspace
            val lc = new Array[Long](rank)
            var l = 0
            while (l < chunkElems) {
              var flat = 0L; var ok = true; var d = 0
              while (d < rank) {
                val tgt = offs(d) + lc(d)
                if (tgt >= ds.dims(d)) ok = false
                flat = flat * ds.dims(d) + tgt
                d += 1
              }
              if (ok) out(flat.toInt) = vals(l)
              var k = rank - 1 // row-major odometer, last dim fastest
              var carry = true
              while (carry && k >= 0) {
                lc(k) += 1
                if (lc(k) < cdims(k)) carry = false else { lc(k) = 0; k -= 1 }
              }
              l += 1
            }
          }
          c += 1
        }
      }
      walk(ds.dataAddr)
    }
  }
}
