package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Hdf5

/** Validates [[graft.sources.Hdf5]] with a parser written FROM THE
  * PUBLIC SPEC (HDF5 File Format Specification v1.0, superblock v0 /
  * version-1 structures), deliberately independent of the writer's
  * layout arithmetic: it navigates only via addresses read out of the
  * file (superblock → root symbol-table entry → group B-tree → SNOD →
  * local heap name → dataset object header → layout message → chunk
  * B-tree → inflate), so a writer bug in any address or message is a
  * parse failure here, not a silently-agreeing constant. Plus golden
  * byte assertions on the fixed header fields.
  */
class Hdf5Spec extends AnyFunSuite {

  /** Minimal independent reader: returns (datasetName, dims, chunkDims,
    * gzipLevel, data) for a single-uint16-dataset file. Every
    * structure it touches is signature-checked. */
  private def parse(bytes: Array[Byte]): (String, Seq[Long], Seq[Int], Int, Array[Short]) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def u8(a: Long): Int = bytes(a.toInt) & 0xFF
    def u16(a: Long): Int = bb.getShort(a.toInt) & 0xFFFF
    def u32(a: Long): Long = bb.getInt(a.toInt) & 0xFFFFFFFFL
    def u64(a: Long): Long = bb.getLong(a.toInt)
    def ascii(a: Long, n: Int): String = new String(bytes, a.toInt, n, "US-ASCII")

    // superblock v0
    assert(bytes.take(8).sameElements(
      Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')), "HDF5 signature")
    assert(u8(8) == 0, "superblock version 0")
    assert(u8(13) == 8 && u8(14) == 8, "8-byte offsets and lengths")
    // sig(8) versions/sizes(8) Ks(4) flags(4) base(8) freespace(8) → EOF at 40
    val eof = u64(40)
    assert(eof == bytes.length, s"superblock EOF $eof == file length ${bytes.length}")
    // root group symbol table entry begins at offset 56 in a v0 superblock:
    // link name offset(8), OH address(8), cache type(4), reserved(4), scratch(16)
    val rootOh = u64(56 + 8)
    assert(u32(56 + 16) == 1, "root entry cache type 1 (group metadata)")
    val cachedBt = u64(56 + 24)
    val cachedHeap = u64(56 + 32)

    // root object header (v1): find the symbol table message (type 0x0011)
    assert(u8(rootOh) == 1, "root OH version 1")
    val rootMsgs = u16(rootOh + 2)
    var p = rootOh + 16 // v1 OH prefix is 12 bytes padded to 8-byte alignment
    var btAddr = -1L; var heapAddr = -1L
    var m = 0
    while (m < rootMsgs) {
      val typ = u16(p); val sz = u16(p + 2)
      if (typ == 0x0011) { btAddr = u64(p + 8); heapAddr = u64(p + 16) }
      p += 8 + sz; m += 1
    }
    assert(btAddr == cachedBt && heapAddr == cachedHeap,
      "symbol-table message agrees with the superblock's cached entry")

    // group B-tree v1 leaf → SNOD
    assert(ascii(btAddr, 4) == "TREE", "group B-tree signature")
    assert(u8(btAddr + 4) == 0 && u8(btAddr + 5) == 0, "group node, leaf level")
    assert(u16(btAddr + 6) == 1, "one SNOD child")
    val snod = u64(btAddr + 24 + 8) // after sibling pointers + key 0
    assert(ascii(snod, 4) == "SNOD", "symbol node signature")
    assert(u16(snod + 6) == 1, "one symbol")
    val nameOff = u64(snod + 8)
    val dsOh = u64(snod + 16)

    // local heap → dataset name (nul-terminated at nameOff in the data segment)
    assert(ascii(heapAddr, 4) == "HEAP", "local heap signature")
    val heapData = u64(heapAddr + 24)
    var q = heapData + nameOff
    val sb = new StringBuilder
    while (u8(q) != 0) { sb.append(u8(q).toChar); q += 1 }
    val dsName = sb.toString

    // dataset object header: dataspace 0x0001, datatype 0x0003,
    // filter 0x000B, layout 0x0008
    assert(u8(dsOh) == 1, "dataset OH version 1")
    val nMsgs = u16(dsOh + 2)
    var dims: Seq[Long] = null
    var chunkDims: Seq[Int] = null
    var chunkBt = -1L
    var gzip = -1
    p = dsOh + 16
    m = 0
    while (m < nMsgs) {
      val typ = u16(p); val sz = u16(p + 2); val body = p + 8
      typ match {
        case 0x0001 => // dataspace v1: version, rank, flags, 5 reserved, dims
          assert(u8(body) == 1 && u8(body + 1) == 3, "dataspace v1 rank 3")
          dims = Seq(u64(body + 8), u64(body + 16), u64(body + 24))
        case 0x0003 => // datatype: fixed-point v1, LE unsigned, 2 bytes, 16 bits
          assert(u8(body) == 0x10, "datatype class 0 (fixed-point) v1")
          assert(u8(body + 1) == 0, "little-endian, unsigned")
          assert(u32(body + 4) == 2 && u16(body + 10) == 16, "uint16")
        case 0x000B => // filter pipeline v1: one filter, id 1 (deflate)
          assert(u8(body) == 1 && u8(body + 1) == 1, "one pipeline filter")
          assert(u16(body + 8) == 1, "filter id 1 = deflate")
          gzip = u32(body + 16).toInt
        case 0x0008 => // layout v3 chunked: dimensionality, btree addr, chunk dims
          assert(u8(body) == 3 && u8(body + 1) == 2, "layout v3, chunked")
          val rank1 = u8(body + 2) // rank + 1 (element-size dimension)
          chunkBt = u64(body + 3)
          chunkDims = (0 until rank1).map(i => u32(body + 11 + 4 * i).toInt)
        case _ =>
      }
      p += 8 + sz; m += 1
    }
    assert(dims != null && chunkDims != null && chunkBt >= 0 && gzip >= 0,
      "all four dataset messages present")

    // chunk B-tree v1: recursive descent (level>0 nodes carry child
    // node addresses; leaves carry chunk addresses), inflating each
    // chunk into the t-slice its key names
    val Seq(t, h, w) = dims
    val out = new Array[Short]((t * h * w).toInt)
    val keySize = 8 + 8 * chunkDims.length
    def walk(node: Long): Unit = {
      assert(ascii(node, 4) == "TREE", "chunk B-tree signature")
      assert(u8(node + 4) == 1, "raw-data node type")
      val level = u8(node + 5)
      val n = u16(node + 6)
      var c = 0
      while (c < n) {
        val kp = node + 24 + c * (keySize + 8)
        val child = u64(kp + keySize)
        if (level > 0) walk(child)
        else {
          val csize = u32(kp).toInt
          assert(u32(kp + 4) == 0, "filter mask: all filters applied")
          val tOff = u64(kp + 8)
          val inf = new Inflater()
          inf.setInput(bytes, child.toInt, csize)
          val raw = new Array[Byte]((h * w * 2).toInt)
          val got = inf.inflate(raw)
          assert(got == raw.length && inf.finished(), s"chunk at $child inflates to one slice")
          inf.end()
          val sb2 = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
          var i = 0
          while (i < h * w) { out((tOff * h * w).toInt + i) = sb2.getShort(); i += 1 }
        }
        c += 1
      }
    }
    walk(chunkBt)
    (dsName, dims, chunkDims, gzip, out)
  }

  private def write(name: String, t: Int, h: Int, w: Int, data: Array[Short],
                    level: Int = 9): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    Hdf5.writeUint16(bos, name, t, h, w, data, level)
    bos.toByteArray
  }

  test("round trip: independent spec parser recovers name, dims, chunking, and every value") {
    val t = 5; val h = 7; val w = 11
    val data = Array.tabulate(t * h * w)(i => ((i * 2654435761L) % 65536).toShort)
    val (name, dims, chunkDims, gzip, back) = parse(write("array", t, h, w, data))
    assert(name == "array")
    assert(dims == Seq(t, h, w))
    assert(chunkDims == Seq(1, h, w, 2), "one t-slice per chunk, 2-byte elements")
    assert(gzip == 9)
    assert(back.sameElements(data))
  }

  test("golden bytes: signature, superblock v0 fields, filter id at fixed offsets") {
    val bytes = write("x", 1, 2, 2, Array[Short](1, 2, 3, 4))
    assert(bytes.take(8).sameElements(
      Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')))
    // superblock v0: versions 0, offsets/lengths 8 bytes, leaf K=4, internal K=16
    assert(bytes(8) == 0 && bytes(9) == 0 && bytes(10) == 0)
    assert(bytes(13) == 8 && bytes(14) == 8)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    assert(bb.getShort(16) == 4 && bb.getShort(18) == 16)
    assert(bb.getLong(24) == 0L, "base address 0")
    assert(bb.getLong(40) == bytes.length.toLong, "EOF == length")
  }

  test("uint16 extremes survive: 0, 65535, and the sign-bit boundary") {
    val data = Array[Short](0, -1 /* 0xFFFF = 65535 */, 0x7FFF, 0x8000.toShort)
    val (_, _, _, _, back) = parse(write("edge", 1, 2, 2, data))
    assert(back.sameElements(data))
    assert((back(1) & 0xFFFF) == 65535)
  }

  test("multi-chunk file: each slice lands in its own chunk, order-independent reassembly") {
    val t = 32; val h = 4; val w = 4 // the reference's per-day slice count
    val data = Array.tabulate(t * h * w)(i => (i % 65536).toShort)
    val (_, dims, _, _, back) = parse(write("array", t, h, w, data))
    assert(dims.head == 32)
    assert(back.sameElements(data))
  }

  test("writeHdf5Frames sink: one parseable file per key, absent cells 0, no temp litter") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("h5sink").toFile
    try {
      // two keys; key "b" omits cell (0,1,1) and the whole t=1 slice
      // except one cell — absences must read back as fill 0
      val df = Seq(
        ("a", 0, 0, 0, 7), ("a", 0, 0, 1, 8), ("a", 0, 1, 0, 9), ("a", 0, 1, 1, 10),
        ("b", 0, 0, 0, 1), ("b", 0, 1, 0, 2), ("b", 1, 0, 0, 65535)
      ).toDF("k", "t", "y", "x", "v")
      graft.sources.Sinks.writeHdf5Frames(df, dir.getAbsolutePath,
        "k", "t", "y", "x", "v", h = 2, w = 2)
      // ignore Hadoop local-FS .crc sidecars; the visible set must be
      // exactly the destination files — no _tmp- attempt litter
      val files = dir.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted
      assert(files.toSeq == Seq("a.h5", "b.h5"), s"got ${files.toSeq}")
      val (nameA, dimsA, _, _, dataA) =
        parse(java.nio.file.Files.readAllBytes(new java.io.File(dir, "a.h5").toPath))
      assert(nameA == "array", "default dataset name matches the reference writer")
      assert(dimsA == Seq(1, 2, 2) && dataA.sameElements(Array[Short](7, 8, 9, 10)))
      val (_, dimsB, _, _, dataB) =
        parse(java.nio.file.Files.readAllBytes(new java.io.File(dir, "b.h5").toPath))
      assert(dimsB == Seq(2, 2, 2))
      assert(dataB.sameElements(Array[Short](1, 0, 2, 0, -1 /* 65535 */, 0, 0, 0)))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("2-level chunk tree: >64 chunks split into sibling-linked leaves under a root") {
    val t = 150; val h = 3; val w = 5 // 3 leaves: 64 + 64 + 22
    val data = Array.tabulate(t * h * w)(i => ((i * 31) % 65536).toShort)
    val bytes = write("array", t, h, w, data)
    val (_, dims, _, _, back) = parse(bytes)
    assert(dims == Seq(t, h, w))
    assert(back.sameElements(data), "all 150 slices recovered through the 2-level tree")
    // structural: the tree's first node must be level 1 with 3 entries
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val layoutRootOk = (0 until bytes.length - 8).exists { p =>
      bytes(p) == 'T' && bytes(p + 1) == 'R' && bytes(p + 2) == 'E' && bytes(p + 3) == 'E' &&
        bytes(p + 4) == 1 && bytes(p + 5) == 1 && bb.getShort(p + 6) == 3
    }
    assert(layoutRootOk, "a level-1 raw-data node with 3 entries exists")
  }

  test("limits are loud: >4096 chunks, bad dims, bad length all throw") {
    val ok = new Array[Short](4)
    intercept[IllegalArgumentException](write("x", 4097, 1, 1, new Array[Short](4097)))
    intercept[IllegalArgumentException](write("x", 0, 2, 2, ok))
    intercept[IllegalArgumentException](write("x", 1, 2, 2, new Array[Short](5)))
    intercept[IllegalArgumentException](write("", 1, 2, 2, ok))
  }

  test("production reader agrees with the independent parser on 1- and 2-level files") {
    for ((t, h, w) <- Seq((5, 7, 11), (150, 3, 5))) {
      val data = Array.tabulate(t * h * w)(i => ((i * 2654435761L) % 65536).toShort)
      val bytes = write("array", t, h, w, data)
      val g = Hdf5.readUint16(bytes)
      val (name, dims, _, _, back) = parse(bytes)
      assert(g.name == name && Seq(g.t.toLong, g.h.toLong, g.w.toLong) == dims)
      assert(g.data.sameElements(back) && g.data.sameElements(data))
    }
    // reader is loud on garbage, not silently zero
    intercept[IllegalArgumentException](Hdf5.readUint16(Array.fill[Byte](128)(0x41)))
  }

  test("sink output round-trips through the Spark read path") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("h5read").toFile
    try {
      val df = Seq(
        ("a", 0, 0, 0, 7), ("a", 0, 0, 1, 8), ("a", 0, 1, 0, 9), ("a", 0, 1, 1, 65535),
        ("b", 0, 0, 0, 1), ("b", 1, 1, 1, 2)
      ).toDF("k", "t", "y", "x", "v")
      graft.sources.Sinks.writeHdf5Frames(df, dir.getAbsolutePath,
        "k", "t", "y", "x", "v", h = 2, w = 2)
      val back = spark.read.format("netcdf").option("var", "array")
        .load(dir.getAbsolutePath + "/*.h5")
        .select("path", "t", "y", "x", "raw")
        .collect()
        .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
      // every written cell comes back with its uint16 value; absences are 0
      val m = back.map(x => (x._1, x._2, x._3, x._4) -> x._5).toMap
      assert(m(("a.h5", 0L, 1L, 1L)) == 65535.0, "uint16 max survives the read path")
      assert(m(("a.h5", 0L, 0L, 0L)) == 7.0 && m(("b.h5", 1L, 1L, 1L)) == 2.0)
      assert(m(("b.h5", 0L, 1L, 1L)) == 0.0, "absent cell reads as fill 0")
      assert(back.length == 4 + 8, "a: 1x2x2, b: 2x2x2 dense grids")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
