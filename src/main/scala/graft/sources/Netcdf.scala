package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM classic NetCDF (CDF-1 / CDF-2) reader — the ingest twin of
  * the reference's on-disk input path (weather4cast/datasets.py:86-94:
  * `netCDF4.Dataset(..., memory=raw_data)` with `set_auto_scale(False)`
  * then per-variable `valid_range` / `_FillValue` preprocessing).
  * Written from the public NetCDF Classic Format Specification
  * (magic `CDF\x01`/`CDF\x02`, big-endian, 4-byte-aligned tagged
  * lists); NetCDF-4 `.nc` files are HDF5 containers and route to
  * [[Hdf5Nc]]'s generic spec-walk — [[grid]] sniffs the magic, so ONE
  * per-file decode serves both on-disk generations, and Spark reads
  * them through `spark.read.format("netcdf")` ([[NetcdfSource]]).
  *
  * Split exactly like the reference: this layer only DECODES — raw
  * integer/float payloads plus the `valid_range`/`_FillValue` attrs —
  * and the numeric preprocessing (min-max scale N1, fill-to-NULL P3,
  * conditional mean-impute A1) stays in the existing column operators,
  * so one codepath serves parquet-packed and NetCDF inputs alike.
  */
object Netcdf {

  /** nc_type codes from the spec (public: [[writeGrid3]] takes one). */
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6

  private def typeSize(t: Int): Int = t match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
    case other => throw new IllegalArgumentException(s"unsupported nc_type $other")
  }

  final case class Dim(name: String, length: Int) { def isRecord: Boolean = length == 0 }
  final case class Attr(name: String, ncType: Int, values: Array[Double], text: String)
  final case class Var(name: String, ncType: Int, dims: Seq[Dim], attrs: Map[String, Attr],
                       vsize: Long, begin: Long) {
    def isRecord: Boolean = dims.headOption.exists(_.isRecord)
    /** Per-record (record var) or total (fixed var) element count. */
    def sliceElems: Long = dims.drop(if (isRecord) 1 else 0)
      .foldLeft(1L)((a, d) => a * d.length)
  }
  final case class Header(version: Int, numRecs: Int, dims: Seq[Dim], vars: Seq[Var],
                          recSize: Long)

  /** Parse the header of a classic NetCDF byte image. */
  def parseHeader(bytes: Array[Byte]): Header = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(bytes.length >= 8 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F',
      "not a classic NetCDF file (missing CDF magic); for NetCDF-4/HDF5 containers use Hdf5Nc or format(\"netcdf\"), which routes by magic")
    val version = bytes(3).toInt
    require(version == 1 || version == 2, s"unsupported CDF version $version")
    bb.position(4)
    val numRecs = bb.getInt()
    // 0xFFFFFFFF is the spec's STREAMING sentinel, not a count — a
    // reader that treats it as one surfaces an opaque
    // NegativeArraySizeException deep in readVar. Reject loudly here.
    require(numRecs >= 0,
      s"numrecs $numRecs: STREAMING (0xFFFFFFFF) / negative record counts " +
        "are not supported — the file was written by an interrupted or " +
        "streaming writer; re-write it with a fixed record count")

    def name(): String = {
      val n = bb.getInt()
      val s = new String(bytes, bb.position(), n, "UTF-8")
      bb.position(bb.position() + ((n + 3) / 4) * 4) // names pad to 4
      s
    }
    def taggedCount(expectTag: Int): Int = {
      val tag = bb.getInt(); val n = bb.getInt()
      require(tag == expectTag || (tag == 0 && n == 0),
        s"malformed list: tag $tag count $n (expected tag $expectTag)")
      n
    }
    def attrList(): Map[String, Attr] = {
      (0 until taggedCount(0x0C)).map { _ =>
        val nm = name(); val t = bb.getInt(); val n = bb.getInt()
        val start = bb.position()
        val raw = new Array[Double](if (t == NcChar) 0 else n)
        var i = 0
        while (i < raw.length) {
          raw(i) = t match {
            case NcByte => bb.get().toDouble
            case NcShort => bb.getShort().toDouble
            case NcInt => bb.getInt().toDouble
            case NcFloat => bb.getFloat().toDouble
            case NcDouble => bb.getDouble()
          }
          i += 1
        }
        val text = if (t == NcChar) new String(bytes, start, n, "UTF-8") else ""
        bb.position(start + ((n * typeSize(t) + 3) / 4) * 4) // values pad to 4
        nm -> Attr(nm, t, raw, text)
      }.toMap
    }

    val dims = (0 until taggedCount(0x0A)).map(_ => Dim(name(), bb.getInt()))
    attrList() // global attrs: parsed for cursor correctness, not used
    val vars = (0 until taggedCount(0x0B)).map { _ =>
      val nm = name()
      val vdims = (0 until bb.getInt()).map(_ => dims(bb.getInt()))
      val attrs = attrList()
      val t = bb.getInt()
      val vsize = bb.getInt().toLong & 0xFFFFFFFFL
      val begin = if (version == 2) bb.getLong() else bb.getInt().toLong & 0xFFFFFFFFL
      Var(nm, t, vdims, attrs, vsize, begin)
    }
    // spec: record slab stride = sum of record vars' vsize, EXCEPT a
    // lone record variable, whose slices pack without padding
    val recVars = vars.filter(_.isRecord)
    val recSize =
      if (recVars.length == 1) recVars.head.sliceElems * typeSize(recVars.head.ncType)
      else recVars.map(_.vsize).sum
    Header(version, numRecs, dims, vars, recSize)
  }

  /** Decode one variable to doubles in row-major dim order (record dim
    * outermost, `numRecs` slabs). No scaling, no fill substitution —
    * the reference's `set_auto_scale(False)` contract. */
  def readVar(bytes: Array[Byte], hdr: Header, v: Var): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val slice = v.sliceElems
    val nSlices = if (v.isRecord) hdr.numRecs else 1
    require(slice * nSlices <= Int.MaxValue, s"variable ${v.name} too large for one array")
    val end = if (nSlices == 0) 0L
              else v.begin + (nSlices - 1) * hdr.recSize + slice * typeSize(v.ncType)
    require(end <= bytes.length,
      s"variable ${v.name}: data ends at byte $end, past the ${bytes.length}-byte file (truncated?)")
    val out = new Array[Double]((slice * nSlices).toInt)
    var s = 0
    while (s < nSlices) {
      bb.position((v.begin + (if (v.isRecord) s * hdr.recSize else 0L)).toInt)
      var i = 0
      while (i < slice) {
        out(s * slice.toInt + i) = v.ncType match {
          case NcByte => bb.get().toDouble
          case NcShort => bb.getShort().toDouble
          case NcInt => bb.getInt().toDouble
          case NcFloat => bb.getFloat().toDouble
          case NcDouble => bb.getDouble()
          case NcChar => (bb.get() & 0xFF).toDouble
        }
        i += 1
      }
      s += 1
    }
    out
  }

  /** One variable of one `.nc` file, either generation, as the long
    * grid lays it out: the shape padded to (t, h, w) — trailing two
    * dims → (y, x), third-from-last (or the record dim) → t — the
    * decode attrs (NaN when absent), and `values()`, the row-major
    * payload decode, which runs only when called: a projection
    * without `raw` answers from the header alone. */
  private[sources] final case class Grid(t: Long, h: Long, w: Long,
                                         lo: Double, hi: Double, fill: Double,
                                         values: () => Array[Double])

  /** Sniff the magic once — NetCDF-4 files are HDF5 containers and
    * walk through [[Hdf5Nc]], classic CDF-1/2 decode here — then check
    * the shape and the `valid_range`/`_FillValue` attrs once for both
    * generations. A payload decode that fails names the file. */
  private[sources] def grid(path: String, bytes: Array[Byte], varName: String): Grid = {
    // (name, shape, attr values by name, payload decode)
    val (name, shape, attr, decode) =
      if (Hdf5Nc.isHdf5(bytes)) {
        val dss = Hdf5Nc.parse(bytes)
        val ds = dss.find(d => d.path == varName || d.path.endsWith("/" + varName))
          .getOrElse(throw new IllegalArgumentException(
            s"$path has no variable '$varName'; has ${dss.map(_.path).mkString(", ")}"))
        (ds.path, ds.dims, (k: String) => ds.attrs.get(k).map(_.values),
          () => Hdf5Nc.readData(bytes, ds))
      } else {
        val hdr = parseHeader(bytes)
        val v = hdr.vars.find(_.name == varName).getOrElse(
          throw new IllegalArgumentException(
            s"$path has no variable '$varName'; has ${hdr.vars.map(_.name).mkString(", ")}"))
        (v.name, (if (v.isRecord) hdr.numRecs +: v.dims.tail.map(_.length)
                  else v.dims.map(_.length)).map(_.toLong),
          (k: String) => v.attrs.get(k).map(_.values), () => readVar(bytes, hdr, v))
      }
    val (t, h, w) = shape.reverse.padTo(3, 1L).take(3) match {
      case Seq(wd, ht, tm) => (tm, ht, wd)
    }
    require(shape.product == t * h * w,
      s"$path $name: rank-${shape.length} shape ${shape.mkString("x")} needs >3-d flattening")
    val vr = attr("valid_range").map { vs =>
      require(vs.length >= 2,
        s"$path $name: valid_range attr must carry >=2 numeric values, got ${vs.length}")
      vs
    }
    val fill = attr("_FillValue").map { vs =>
      require(vs.nonEmpty, s"$path $name: _FillValue attr must carry a numeric value, got none")
      vs(0)
    }
    Grid(t, h, w, vr.fold(Double.NaN)(_(0)), vr.fold(Double.NaN)(_(1)),
      fill.getOrElse(Double.NaN), () =>
        try decode()
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"$path $name: ${e.getMessage}", e)
        })
  }

  // ---- writer: the read path's exact inverse ------------------------

  /** Write one rank-3 variable as a classic CDF-1 file (CDF-2 only
    * buys >2 GiB offsets — a per-key frame file never needs them):
    * fixed dims (t, y, x), optional `valid_range`/`_FillValue` attrs
    * (NC_SHORT attr values for an NC_SHORT variable, as the reference
    * files carry), big-endian, 4-byte aligned. `ncType` 3 (short) or
    * 6 (double); values are truncated to the target type unchecked
    * for doubles, range-checked for shorts. The layout decisions
    * (attr order, name padding, vsize) match SourcesSpec's
    * hand-built from-the-spec fixture byte-for-byte — asserted there,
    * so writer and reader cannot drift together. */
  def writeGrid3(out: java.io.OutputStream, varName: String, t: Int, h: Int, w: Int,
                 data: Array[Double], ncType: Int = NcShort,
                 validRange: Option[(Double, Double)] = None,
                 fillValue: Option[Double] = None,
                 dimNames: (String, String, String) = ("t", "y", "x")): Unit = {
    require(t > 0 && h > 0 && w > 0, s"dims must be positive, got ($t,$h,$w)")
    require(data.length == t * h * w, s"data length ${data.length} != t*h*w = ${t * h * w}")
    require(ncType == NcShort || ncType == NcDouble,
      s"writer supports NC_SHORT (3) and NC_DOUBLE (6), got $ncType")
    if (ncType == NcShort) data.foreach(v =>
      require(v >= Short.MinValue && v <= Short.MaxValue && v == v.toShort.toDouble,
        s"value $v not representable as NC_SHORT"))

    def headerBytes(begin: Long): java.io.ByteArrayOutputStream = {
      val b = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(b)
      def name(s: String): Unit = {
        o.writeInt(s.length); o.write(s.getBytes("US-ASCII"))
        (0 until ((4 - s.length % 4) % 4)).foreach(_ => o.writeByte(0))
      }
      def shortAttr(nm: String, vs: Seq[Double]): Unit = {
        name(nm); o.writeInt(NcShort); o.writeInt(vs.length)
        vs.foreach(v => o.writeShort(v.toInt))
        if (vs.length % 2 == 1) o.writeShort(0) // pad values to 4
      }
      def doubleAttr(nm: String, vs: Seq[Double]): Unit = {
        name(nm); o.writeInt(NcDouble); o.writeInt(vs.length)
        vs.foreach(o.writeDouble) // 8-byte values are always aligned
      }
      o.write(Array[Byte]('C', 'D', 'F', 1))
      o.writeInt(0) // numrecs: fixed dims only
      o.writeInt(0x0A); o.writeInt(3)
      name(dimNames._1); o.writeInt(t)
      name(dimNames._2); o.writeInt(h)
      name(dimNames._3); o.writeInt(w)
      o.writeInt(0); o.writeInt(0) // no global attrs
      o.writeInt(0x0B); o.writeInt(1)
      name(varName)
      o.writeInt(3); o.writeInt(0); o.writeInt(1); o.writeInt(2)
      val nAttrs = validRange.size + fillValue.size
      if (nAttrs == 0) { o.writeInt(0); o.writeInt(0) }
      else {
        o.writeInt(0x0C); o.writeInt(nAttrs)
        val attr: (String, Seq[Double]) => Unit =
          if (ncType == NcShort) shortAttr else doubleAttr
        validRange.foreach { case (lo, hi) => attr("valid_range", Seq(lo, hi)) }
        fillValue.foreach(f => attr("_FillValue", Seq(f)))
      }
      o.writeInt(ncType)
      val width = typeSize(ncType)
      o.writeInt(((data.length * width + 3) / 4) * 4) // vsize, padded
      o.writeInt(begin.toInt)
      b
    }
    val hdrLen = headerBytes(0L).size().toLong
    val b = headerBytes(hdrLen)
    val o = new java.io.DataOutputStream(b)
    if (ncType == NcShort) {
      data.foreach(v => o.writeShort(v.toInt))
      if (data.length % 2 == 1) o.writeShort(0) // data padded to 4
    } else data.foreach(o.writeDouble)
    b.writeTo(out)
  }
}
