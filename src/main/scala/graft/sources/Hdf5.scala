package graft.sources

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Deflater

/** Minimal pure-JVM HDF5 writer + reader for the reference's submission format:
  * ONE 3-d uint16 little-endian dataset, chunked one t-slice per
  * chunk, each chunk deflate-compressed (gzip level 9) — the exact
  * shape of weather4cast-bigdata's HDF5 output
  * (weather4cast/datasets.py:455-459: `create_dataset(..,
  * dtype='u2', compression='gzip', compression_opts=9)`).
  *
  * Emits the earliest (most compatible) on-disk structures from the
  * public HDF5 File Format Specification (superblock version 0,
  * version-1 object headers / B-trees / local heap / symbol table
  * node), so every libhdf5-lineage reader (h5py, jHDF, netCDF) can
  * open the file. This container has no independent HDF5 stack to
  * test against, so `Hdf5Spec` validates with a from-the-spec parser
  * written separately from this writer (signatures, addresses, message
  * walk, chunk inflate) plus golden byte assertions on the fixed
  * header fields.
  *
  * Deliberate minimalism (all limits thrown, never silent):
  *  - one dataset per file, root group only — the reference writes
  *    exactly that;
  *  - chunk B-tree depth ≤ 2: one leaf (≤64 chunks — a reference day
  *    is 32 slices, byte-layout unchanged) or a root over
  *    sibling-linked leaves (≤4096 chunks). Deeper trees thrown.
  */
object Hdf5 {

  private val UNDEF = -1L // 0xFFFFFFFFFFFFFFFF, the spec's undefined address
  private val GROUP_LEAF_K = 4
  private val ISTORE_K = 32

  /** Write `data` (row-major t,y,x; each value 0..65535) as dataset
    * `name` of dims (t, h, w). Returns nothing; closes nothing — the
    * caller owns `out`. */
  def writeUint16(out: OutputStream, name: String, t: Int, h: Int, w: Int,
                  data: Array[Short], gzipLevel: Int = 9): Unit =
    writeChunked3d(out, name, t, h, w, data, gzipLevel, signed = false, attrs = Nil)

  /** NetCDF-4 write-side twin of the [[Hdf5Nc]] read path: one rank-3
    * int16 variable as an HDF5-container `.nc` — same chunked+deflate
    * container this object already writes, plus the netCDF attr layout
    * ([[Hdf5Nc]] reads it back): v1 attribute messages `valid_range`
    * (2 float64) and `_FillValue` (1 float64) on the dataset header,
    * SIGNED 16-bit datatype (the classic twin stores NC_SHORT), so
    * `spark.read.format("netcdf")` decodes a file from this writer
    * cell-for-cell and attr-for-attr equal to its [[Netcdf.writeGrid3]]
    * CDF-1 twin — asserted in SourcesSpec. */
  def writeGridNc(out: OutputStream, varName: String, t: Int, h: Int, w: Int,
                  data: Array[Double],
                  validRange: Option[(Double, Double)] = None,
                  fillValue: Option[Double] = None,
                  gzipLevel: Int = 9): Unit = {
    data.foreach(v =>
      require(v >= Short.MinValue && v <= Short.MaxValue && v == v.toShort.toDouble,
        s"value $v not representable as int16"))
    // attr values must survive the CDF-1 twin's NC_SHORT storage too,
    // or the two generations would DECODE differently (classic
    // truncates 0.5 -> 0; this container would keep it) — refuse
    // loudly instead of silently diverging from writeGrid3
    (validRange.toSeq.flatMap(vr => Seq(vr._1, vr._2)) ++ fillValue).foreach(v =>
      require(v >= Short.MinValue && v <= Short.MaxValue && v == v.toShort.toDouble,
        s"attr value $v not representable as int16 — the CDF-1 twin stores " +
          "NC_SHORT attrs, so non-integral attrs would decode differently " +
          "across generations"))
    val shorts = new Array[Short](data.length)
    var i = 0
    while (i < data.length) { shorts(i) = data(i).toShort; i += 1 }
    val attrs = validRange.map(vr => "valid_range" -> Array(vr._1, vr._2)).toSeq ++
      fillValue.map(f => "_FillValue" -> Array(f)).toSeq
    writeChunked3d(out, varName, t, h, w, shorts, gzipLevel, signed = true, attrs = attrs)
  }

  /** One v1 attribute message body (the layout [[Hdf5Nc.parse]]
    * walks): 8-byte header (version, name/datatype/dataspace sizes),
    * nul-terminated name, float64 datatype, rank-1 dataspace — each
    * 8-padded — then the values. */
  private def attrMessageBody(name: String, values: Array[Double]): Array[Byte] = {
    def pad8(n: Int): Int = (n + 7) / 8 * 8
    val nameZ = name.length + 1
    val dtSz = 20 // fixed header 8 + float properties 12
    val dsSz = 16 // v1 header 8 + one dim
    val body = ByteBuffer.allocate(8 + pad8(nameZ) + pad8(dtSz) + dsSz + 8 * values.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    body.put(1.toByte).put(0.toByte) // version 1, reserved
    body.putShort(nameZ.toShort).putShort(dtSz.toShort).putShort(dsSz.toShort)
    body.put(name.getBytes("US-ASCII"))
    body.position(8 + pad8(nameZ))
    // datatype: IEEE float64 little-endian (v1, class 1)
    body.put(0x11.toByte) // version 1 << 4 | class 1
    // bit field 0: LE, no pad, mantissa normalization IMPLIED (bits
    // 4-5 = 2) — the libhdf5 encoding of IEEE F64LE; declaring
    // H5T_NORM_NONE (0x00) would make spec-honoring readers (h5py,
    // jHDF) reinterpret the mantissa without the implied bit
    body.put(0x20.toByte).put(0x3F.toByte).put(0.toByte) // sign bit 63
    body.putInt(8)
    body.putShort(0.toShort).putShort(64.toShort) // bit offset, precision
    body.put(52.toByte).put(11.toByte) // exponent location, size
    body.put(0.toByte).put(52.toByte) // mantissa location, size
    body.putInt(1023) // exponent bias
    body.position(8 + pad8(nameZ) + pad8(dtSz))
    // dataspace: v1, rank 1, no max dims
    body.put(1.toByte).put(1.toByte).put(0.toByte)
    body.position(body.position() + 5) // reserved
    body.putLong(values.length.toLong)
    values.foreach(body.putDouble)
    body.array()
  }

  private def writeChunked3d(out: OutputStream, name: String, t: Int, h: Int, w: Int,
                             data: Array[Short], gzipLevel: Int, signed: Boolean,
                             attrs: Seq[(String, Array[Double])]): Unit = {
    require(t > 0 && h > 0 && w > 0, s"dims must be positive, got ($t,$h,$w)")
    require(data.length == t.toLong * h * w,
      s"data length ${data.length} != t*h*w = ${t.toLong * h * w}")
    require(t <= 2 * ISTORE_K * 2 * ISTORE_K,
      s"$t chunks exceed a 2-level chunk B-tree (${2 * ISTORE_K * 2 * ISTORE_K}); deeper trees unimplemented")
    require(name.nonEmpty && name.length <= 255, "dataset name must be 1..255 chars")

    // -- compress one chunk per t-slice -------------------------------
    val sliceBytes = h * w * 2
    val chunks = new Array[Array[Byte]](t)
    val deflater = new Deflater(gzipLevel) // zlib stream, = the HDF5 deflate filter payload
    val slice = new Array[Byte](sliceBytes)
    var ti = 0
    while (ti < t) {
      val bb = ByteBuffer.wrap(slice).order(ByteOrder.LITTLE_ENDIAN)
      var i = ti * h * w
      val end = (ti + 1) * h * w
      while (i < end) { bb.putShort(data(i)); i += 1 }
      deflater.reset()
      deflater.setInput(slice)
      deflater.finish()
      val buf = new ByteArrayOutputStream(sliceBytes / 4 + 64)
      val tmp = new Array[Byte](8192)
      while (!deflater.finished()) buf.write(tmp, 0, deflater.deflate(tmp))
      chunks(ti) = buf.toByteArray
      ti += 1
    }
    deflater.`end`()

    // -- fixed-size structures and their addresses --------------------
    val nameZ = name.length + 1 // nul-terminated in the heap
    val namePad = (nameZ + 7) / 8 * 8
    val heapDataSize = 8L + namePad + 16 // empty-string slot + name + one free block
    val sbSize = 96
    val rootOhSize = 16 + 24 // prefix+pad, symbol-table message (8 hdr + 16 body)
    val groupBtSize = 24 + 2 * GROUP_LEAF_K * 16 + 8 // full leaf allocation
    val heapHdrSize = 32
    val snodSize = 8 + 2 * GROUP_LEAF_K * 40
    val attrBodies = attrs.map { case (an, av) => attrMessageBody(an, av) }
    // dataspace, datatype, fill, filter, layout (+ v1 attribute messages)
    val dsMsgsSize = 64 + 24 + 16 + 32 + 40 + attrBodies.map(8 + _.length).sum
    val dsOhSize = 16 + dsMsgsSize
    val chunkKeySize = 8 + 8 * 4 // size + mask + 4 offsets (t,y,x,elem)
    val chunkBtSize = 24 + 2 * ISTORE_K * (chunkKeySize + 8) + chunkKeySize
    // ≤64 chunks: ONE leaf node (the reference's 32-slice files stay
    // byte-identical). More: a 2-level tree — a root (level 1) whose
    // entries point at sibling-linked leaves of ≤64 chunks each.
    val leafCap = 2 * ISTORE_K
    val nLeaves = (t + leafCap - 1) / leafCap
    val chunkTreeSize = (if (nLeaves == 1) 1 else 1 + nLeaves).toLong * chunkBtSize

    val rootOhAddr = sbSize.toLong
    val groupBtAddr = rootOhAddr + rootOhSize
    val heapHdrAddr = groupBtAddr + groupBtSize
    val heapDataAddr = heapHdrAddr + heapHdrSize
    val snodAddr = heapDataAddr + heapDataSize
    val dsOhAddr = snodAddr + snodSize
    val chunkBtAddr = dsOhAddr + dsOhSize
    // leaf i sits after the root (or IS the tree when there is one)
    def leafAddr(i: Int): Long =
      if (nLeaves == 1) chunkBtAddr else chunkBtAddr + (1L + i) * chunkBtSize
    val chunkAddrs = new Array[Long](t)
    var nextAddr = chunkBtAddr + chunkTreeSize
    ti = 0
    while (ti < t) { chunkAddrs(ti) = nextAddr; nextAddr += chunks(ti).length; ti += 1 }
    val eof = nextAddr

    val fixed = ByteBuffer.allocate((chunkBtAddr + chunkTreeSize).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)

    // -- superblock v0 (96 bytes) --------------------------------------
    fixed.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    fixed.put(0.toByte) // superblock version
    fixed.put(0.toByte) // free-space storage version
    fixed.put(0.toByte) // root group symbol table version
    fixed.put(0.toByte) // reserved
    fixed.put(0.toByte) // shared header message version
    fixed.put(8.toByte) // size of offsets
    fixed.put(8.toByte) // size of lengths
    fixed.put(0.toByte) // reserved
    fixed.putShort(GROUP_LEAF_K.toShort)
    fixed.putShort(16.toShort) // group internal node K
    fixed.putInt(0) // file consistency flags
    fixed.putLong(0L) // base address
    fixed.putLong(UNDEF) // free-space info address
    fixed.putLong(eof) // end-of-file address
    fixed.putLong(UNDEF) // driver info block address
    // root group symbol table entry (cached b-tree + heap addresses)
    fixed.putLong(0L) // link name offset
    fixed.putLong(rootOhAddr)
    fixed.putInt(1) // cache type 1: group metadata cached
    fixed.putInt(0)
    fixed.putLong(groupBtAddr)
    fixed.putLong(heapHdrAddr)

    // -- root group object header (v1): one symbol-table message ------
    fixed.put(1.toByte); fixed.put(0.toByte)
    fixed.putShort(1.toShort) // messages
    fixed.putInt(1) // reference count
    fixed.putInt(24) // size of message block
    fixed.putInt(0) // pad to 8-byte message alignment
    fixed.putShort(0x0011.toShort); fixed.putShort(16.toShort)
    fixed.put(0.toByte); fixed.put(0.toByte); fixed.put(0.toByte); fixed.put(0.toByte)
    fixed.putLong(groupBtAddr)
    fixed.putLong(heapHdrAddr)

    // -- group b-tree v1 leaf: one SNOD child --------------------------
    val btStart = fixed.position()
    fixed.put('T'.toByte); fixed.put('R'.toByte); fixed.put('E'.toByte); fixed.put('E'.toByte)
    fixed.put(0.toByte) // node type 0: group
    fixed.put(0.toByte) // leaf level
    fixed.putShort(1.toShort) // entries used
    fixed.putLong(UNDEF); fixed.putLong(UNDEF) // siblings
    fixed.putLong(0L) // key 0: heap offset of "" (lower bound)
    fixed.putLong(snodAddr) // child 0
    fixed.putLong(8L) // key 1: heap offset of the (single, greatest) name
    fixed.position(btStart + groupBtSize) // rest of the leaf allocation stays zero

    // -- local heap: "" at 0, dataset name at 8, free block after -----
    fixed.put('H'.toByte); fixed.put('E'.toByte); fixed.put('A'.toByte); fixed.put('P'.toByte)
    fixed.put(0.toByte); fixed.put(0.toByte); fixed.put(0.toByte); fixed.put(0.toByte)
    fixed.putLong(heapDataSize)
    fixed.putLong(8L + namePad) // free list head offset (within data segment)
    fixed.putLong(heapDataAddr)
    val heapStart = fixed.position()
    fixed.position(heapStart + 8) // offset 0: empty string (zeros)
    fixed.put(name.getBytes("US-ASCII"))
    fixed.position(heapStart + 8 + namePad)
    fixed.putLong(1L) // free block: no next
    fixed.putLong(16L) // free block size
    // -- SNOD with the one dataset entry -------------------------------
    val snodStart = fixed.position()
    fixed.put('S'.toByte); fixed.put('N'.toByte); fixed.put('O'.toByte); fixed.put('D'.toByte)
    fixed.put(1.toByte); fixed.put(0.toByte)
    fixed.putShort(1.toShort) // symbols
    fixed.putLong(8L) // link name offset in heap
    fixed.putLong(dsOhAddr)
    fixed.putInt(0); fixed.putInt(0) // cache type 0 + reserved
    fixed.position(snodStart + snodSize) // scratch + unused entries stay zero

    // -- dataset object header (v1), 5 messages (+ attributes) ---------
    fixed.put(1.toByte); fixed.put(0.toByte)
    fixed.putShort((5 + attrBodies.size).toShort)
    fixed.putInt(1)
    fixed.putInt(dsMsgsSize)
    fixed.putInt(0)
    // dataspace: version 1, rank 3, max dims present
    fixed.putShort(0x0001.toShort); fixed.putShort(56.toShort)
    fixed.putInt(0)
    fixed.put(1.toByte); fixed.put(3.toByte); fixed.put(1.toByte)
    fixed.put(0.toByte); fixed.putInt(0) // 5 reserved bytes
    fixed.putLong(t.toLong); fixed.putLong(h.toLong); fixed.putLong(w.toLong)
    fixed.putLong(t.toLong); fixed.putLong(h.toLong); fixed.putLong(w.toLong)
    // datatype: fixed-point v1, little-endian, 2 bytes, 16-bit precision
    fixed.putShort(0x0003.toShort); fixed.putShort(16.toShort)
    fixed.putInt(0)
    fixed.put(0x10.toByte) // class 0 | version 1
    // bit field 0: LE, no pad; bit 3 = two's-complement signed
    fixed.put((if (signed) 0x08 else 0x00).toByte)
    fixed.put(0.toByte); fixed.put(0.toByte)
    fixed.putInt(2) // size
    fixed.putShort(0.toShort) // bit offset
    fixed.putShort(16.toShort) // bit precision
    fixed.putInt(0) // message padding
    // fill value: v2, incremental allocation, write-at-alloc, undefined
    fixed.putShort(0x0005.toShort); fixed.putShort(8.toShort)
    fixed.putInt(0)
    fixed.put(2.toByte); fixed.put(3.toByte); fixed.put(0.toByte); fixed.put(0.toByte)
    fixed.putInt(0)
    // filter pipeline: v1, one filter: deflate(level)
    fixed.putShort(0x000B.toShort); fixed.putShort(24.toShort)
    fixed.putInt(0)
    fixed.put(1.toByte); fixed.put(1.toByte)
    fixed.putShort(0.toShort); fixed.putInt(0) // 6 reserved bytes
    fixed.putShort(1.toShort) // filter id 1 = deflate
    fixed.putShort(0.toShort) // name length (optional for ids < 256)
    fixed.putShort(0.toShort) // flags: mandatory
    fixed.putShort(1.toShort) // one client data value
    fixed.putInt(gzipLevel)
    fixed.putInt(0) // pad for odd client-value count
    // layout: v3 chunked, chunk = one t-slice
    fixed.putShort(0x0008.toShort); fixed.putShort(32.toShort)
    fixed.putInt(0)
    fixed.put(3.toByte) // layout version
    fixed.put(2.toByte) // class: chunked
    fixed.put(4.toByte) // dimensionality + element-size dim
    fixed.putLong(chunkBtAddr)
    fixed.putInt(1); fixed.putInt(h); fixed.putInt(w); fixed.putInt(2)
    fixed.put(0.toByte); fixed.put(0.toByte); fixed.put(0.toByte);
    fixed.put(0.toByte); fixed.put(0.toByte) // message padding to 32
    // attribute messages (netCDF-4 decode attrs), after the layout
    attrBodies.foreach { body =>
      fixed.putShort(0x000C.toShort); fixed.putShort(body.length.toShort)
      fixed.putInt(0)
      fixed.put(body)
    }

    // -- chunk b-tree v1 -----------------------------------------------
    // key of chunk c (the upper-bound key uses size 0, offset t)
    def putChunkKey(c: Int): Unit = {
      if (c < t) {
        fixed.putInt(chunks(c).length) // chunk size after filters
        fixed.putInt(0) // filter mask: all applied
        fixed.putLong(c.toLong)
      } else {
        fixed.putInt(0); fixed.putInt(0)
        fixed.putLong(t.toLong) // strict upper bound on every offset
      }
      fixed.putLong(0L); fixed.putLong(0L); fixed.putLong(0L)
    }
    if (nLeaves > 1) { // root node, level 1: one entry per leaf
      val rootStart = fixed.position()
      fixed.put('T'.toByte); fixed.put('R'.toByte); fixed.put('E'.toByte); fixed.put('E'.toByte)
      fixed.put(1.toByte) // node type 1: raw data chunks
      fixed.put(1.toByte) // level 1: children are leaves
      fixed.putShort(nLeaves.toShort)
      fixed.putLong(UNDEF); fixed.putLong(UNDEF)
      var li = 0
      while (li < nLeaves) {
        putChunkKey(li * leafCap) // child's first chunk key
        fixed.putLong(leafAddr(li))
        li += 1
      }
      putChunkKey(t) // final key: upper bound
      fixed.position(rootStart + chunkBtSize)
    }
    var li = 0
    while (li < nLeaves) {
      val cbtStart = fixed.position()
      val lo = li * leafCap
      val hi = math.min(t, lo + leafCap)
      fixed.put('T'.toByte); fixed.put('R'.toByte); fixed.put('E'.toByte); fixed.put('E'.toByte)
      fixed.put(1.toByte) // node type 1: raw data chunks
      fixed.put(0.toByte) // leaf level
      fixed.putShort((hi - lo).toShort)
      fixed.putLong(if (li == 0) UNDEF else leafAddr(li - 1)) // left sibling
      fixed.putLong(if (li == nLeaves - 1) UNDEF else leafAddr(li + 1)) // right sibling
      ti = lo
      while (ti < hi) {
        putChunkKey(ti)
        fixed.putLong(chunkAddrs(ti))
        ti += 1
      }
      putChunkKey(hi) // final key: next leaf's first chunk, or the upper bound
      fixed.position(cbtStart + chunkBtSize)
      li += 1
    }

    out.write(fixed.array())
    ti = 0
    while (ti < t) { out.write(chunks(ti)); ti += 1 }
    out.flush()
  }

  // ---- reader: the writer's format, walked from the spec ------------

  /** One decoded single-dataset uint16 file (row-major t,y,x). */
  final case class Uint16Grid(name: String, t: Int, h: Int, w: Int, data: Array[Short])

  /** Read a single-3d-uint16-dataset HDF5 file of the shape this
    * object writes (one chunked + deflate dataset) — the read-back
    * path for the reference's submission files, so a pipeline can
    * audit/score its own sink output without libhdf5 (Spark reads
    * the same files as a long grid through
    * `spark.read.format("netcdf").option("var", "array")`). The container
    * walk is [[Hdf5Nc]]'s (every structure signature-checked,
    * violations throw — never a silent zero); this layer only checks
    * the submission shape: exactly one dataset, rank 3, little-endian
    * unsigned 16-bit, deflate-filtered. `Hdf5Spec` cross-checks it
    * against the independently written spec parser on identical
    * bytes. */
  def readUint16(bytes: Array[Byte]): Uint16Grid = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"not a graft HDF5 file: $msg")
    if (!Hdf5Nc.isHdf5(bytes)) fail("bad signature")
    val ds = Hdf5Nc.parse(bytes) match {
      case Seq(d) => d
      case dss => fail(s"${dss.size} datasets, need exactly 1")
    }
    if (ds.dims.length != 3) fail(s"rank-${ds.dims.length} dataspace, need rank 3")
    if (ds.dtype != Hdf5Nc.Dtype(0, 2, signed = false, littleEndian = true))
      fail("need LE unsigned 2-byte fixed-point datatype")
    if (ds.layoutClass != 2 || !ds.filters.contains(1)) fail("missing deflate filter pipeline")
    val Seq(t, h, w) = ds.dims
    Uint16Grid(ds.path, t.toInt, h.toInt, w.toInt,
      Hdf5Nc.readData(bytes, ds).map(_.toInt.toShort))
  }
}
