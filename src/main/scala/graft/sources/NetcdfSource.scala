package graft.sources

import java.util.{Map => JMap}

import scala.annotation.switch
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, PrettyAttribute}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for `.nc` files (both generations — classic
  * CDF and NetCDF-4/HDF5, routed by magic in [[Netcdf.grid]]) and the
  * uint16 `.h5` submission files (`option("var", "array")`):
  *
  * {{{
  * spark.read.format("netcdf")
  *   .option("vars", "temperature,crr_intensity")   // or option("var", ...)
  *   .load("/data/region=EU/&#42;.nc")   // globs and directories both work
  * }}}
  *
  * One long-grid row per cell and variable (`path`, `var`, `t`, `y`,
  * `x`, `raw`, `valid_lo`, `valid_hi`, `fill_value`). Files are
  * packed into input splits the way Spark sizes file scans (each file
  * costs its length plus `spark.sql.files.openCostInBytes`, a split
  * holds about the total's share per core, at most
  * `spark.sql.files.maxPartitionBytes`), so a catalog of small frames
  * runs in a few tasks; a reader walks its split's files one at a
  * time, with no driver-side decode. Column pruning is
  * pushed into the decoder: a projection that never touches `raw`
  * (e.g. catalogs over `path`/`var`/`t` or attr audits) skips the
  * payload decode (chunk walk + inflate) entirely and answers from
  * the file HEADER — the S1-catalog-over-S2-files pattern costs
  * header reads, not data reads. Expressions over `path` alone (a
  * frame's region or timestamp) become columns of the scan
  * ([[HoistPathExprs]]), evaluated once per file on its first row.
  * Scans compare by value, so a frame read twice in one plan is
  * scanned once (exchange reuse), and files are opened with the
  * session's Hadoop conf. `explain()` shows the file and split counts
  * and the hoisted expressions.
  */
class NetcdfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = NetcdfSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new NetcdfTable(properties.asScala.toMap)
}

object NetcdfSource {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("var", StringType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("y", LongType, nullable = false),
    StructField("x", LongType, nullable = false),
    StructField("raw", DoubleType, nullable = false),
    StructField("valid_lo", DoubleType, nullable = false),
    StructField("valid_hi", DoubleType, nullable = false),
    StructField("fill_value", DoubleType, nullable = false)))

  private[sources] def varsOf(options: Map[String, String]): Seq[String] = {
    val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val spec = opts.get("vars").orElse(opts.get("var")).getOrElse(
      throw new IllegalArgumentException(
        """the netcdf source needs .option("vars", "a,b,...") (or "var")"""))
    val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"no variable names in vars='$spec'")
    names
  }

  /** Column name of the table's `k`-th path expression ([[HoistPathExprs]]). */
  private[sources] def pathExprName(k: Int): String = s"__path_expr_$k"
  private[sources] def pathExprIndex(name: String): Int = name.stripPrefix("__path_expr_").toInt

  /** A path expression as `explain()` shows it: over `path`, not its slot. */
  private[sources] def show(e: Expression): String =
    e.transform { case _: BoundReference => PrettyAttribute("path", StringType) }.toString

  private[sources] def pathsOf(options: Map[String, String]): Seq[String] = {
    val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    // DSv2 passes .load(p) as "path"; .load(p1, p2) as a JSON array
    // "paths" (Jackson-written, so a comma or quote in a name is escaped)
    val single = opts.get("path").toSeq
    val multi = opts.get("paths").toSeq.flatMap(js =>
      new com.fasterxml.jackson.databind.ObjectMapper().readValue(js, classOf[Array[String]]))
    val all = (single ++ multi).filter(_.nonEmpty)
    require(all.nonEmpty, "the netcdf source needs a load path")
    all
  }
}

private class NetcdfTable(options: Map[String, String], val pathExprs: Seq[Expression] = Nil)
    extends Table with SupportsRead {
  override def name(): String = s"netcdf(${NetcdfSource.pathsOf(options).mkString(",")})"
  override def schema(): StructType = StructType(NetcdfSource.Schema ++
    pathExprs.zipWithIndex.map { case (e, k) =>
      StructField(NetcdfSource.pathExprName(k), e.dataType, e.nullable) })
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new NetcdfScanBuilder(options ++ caseInsensitive.asScala, pathExprs)
  /** This table plus the columns of `more` path expressions (bound to `path`). */
  def withPathExprs(more: Seq[Expression]): NetcdfTable =
    new NetcdfTable(options, pathExprs ++ more)
}

private class NetcdfScanBuilder(options: Map[String, String], pathExprs: Seq[Expression])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = NetcdfSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new NetcdfScan(options, required, pathExprs)
}

private class NetcdfScan(options: Map[String, String], required: StructType,
                         pathExprs: Seq[Expression])
    extends Scan with Batch {
  // the path expressions this scan evaluates: one per read column
  // beyond the source schema, in read order
  private val exprs: Seq[Expression] = required.fieldNames.toSeq
    .filterNot(NetcdfSource.Schema.fieldNames.contains)
    .map(n => pathExprs(NetcdfSource.pathExprIndex(n)))

  // value identity: a DataFrame used twice in one plan (a self-join,
  // two aggregates of one frame) yields two scans of one catalog.
  // BatchScanExec compares its Batch — this scan — so only value
  // equality lets ReuseExchange and AQE stage reuse run the scan
  // stage once. Same options (paths, vars), same pruned schema and
  // same path expressions mean same rows; a header-only and a `raw`
  // scan stay distinct.
  private val identity =
    (options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }, required,
      exprs.map(_.canonicalized))
  override def equals(other: Any): Boolean = other match {
    case o: NetcdfScan => identity == o.identity
    case _ => false
  }
  override def hashCode(): Int = identity.hashCode

  // the session's conf: lists the files on the driver and, broadcast
  // once per scan, opens them on the executors
  @transient private lazy val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
  @transient private lazy val hadoopConfB =
    SparkSession.active.sparkContext.broadcast(new SerializableHadoopConf(hadoopConf))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"netcdf vars=${NetcdfSource.varsOf(options).mkString(",")} " +
      s"files=${files.size} splits=${splits.length} " +
      (if (exprs.isEmpty) "" else s"PathExprs: ${exprs.map(NetcdfSource.show).mkString("[", ", ", "]")} ") +
      s"ReadSchema: ${required.simpleString}"

  // driver side: glob + expand directories
  @transient private lazy val files: Seq[FileStatus] = NetcdfSource.pathsOf(options).flatMap { p =>
    val hp = new Path(p)
    val fs = hp.getFileSystem(hadoopConf)
    val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty[FileStatus])
    require(matched.nonEmpty, s"netcdf source: no files match '$p'")
    matched.flatMap {
      case d if d.isDirectory => fs.listStatus(d.getPath).toSeq.filter(_.isFile)
      case f => Seq(f)
    }
  }

  // small files share a split, sized as Spark's FilePartition sizes
  // file scans: every file costs its length plus the open cost, a
  // split holds at most the session's share per core (within
  // [openCost, maxPartitionBytes]), filled next-fit by decreasing
  // length
  @transient private lazy val splits: Array[InputPartition] = {
    val spark = SparkSession.active
    val open = spark.sessionState.conf.filesOpenCostInBytes
    val perCore = files.map(_.getLen + open).sum / spark.sparkContext.defaultParallelism
    val maxSplit = math.min(spark.sessionState.conf.filesMaxPartitionBytes, math.max(open, perCore))
    val out = Seq.newBuilder[InputPartition]
    var split = Vector.empty[String]
    var size = 0L
    files.sortBy(f => (-f.getLen, f.getPath.toString)).foreach { f =>
      if (split.nonEmpty && size + f.getLen > maxSplit) {
        out += NetcdfInputPartition(split); split = Vector.empty; size = 0L
      }
      split :+= f.getPath.toString
      size += f.getLen + open
    }
    if (split.nonEmpty) out += NetcdfInputPartition(split)
    out.result().toArray
  }

  override def planInputPartitions(): Array[InputPartition] = splits

  override def createReaderFactory(): PartitionReaderFactory =
    new NetcdfReaderFactory(NetcdfSource.varsOf(options), required.fieldNames, exprs, hadoopConfB)
}

private[graft] case class NetcdfInputPartition(files: Seq[String]) extends InputPartition

private class NetcdfReaderFactory(vars: Seq[String], fieldNames: Array[String],
                                  exprs: Seq[Expression], conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NetcdfPartitionReader(partition.asInstanceOf[NetcdfInputPartition].files, vars,
      fieldNames, exprs, conf.value.value)
}

/** Walks its split's files in turn; each file's bytes are dropped
  * before the next file is read. */
private class NetcdfPartitionReader(files: Seq[String], vars: Seq[String],
                                    fieldNames: Array[String], exprs: Seq[Expression],
                                    conf: Configuration)
    extends PartitionReader[InternalRow] {
  private def read(file: String): Array[Byte] = {
    val hp = new Path(file)
    val fs = hp.getFileSystem(conf)
    val in = fs.open(hp)
    try {
      val len = fs.getFileStatus(hp).getLen
      require(len <= Int.MaxValue, s"$file: ${len}B exceeds one-buffer decode")
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }
  // pruning reaches the DECODER: no `raw` in the projection -> answer
  // from the header walk alone (no chunk decode / inflate)
  private val needData = fieldNames.contains("raw")
  // the projection, resolved once: output slot i holds Schema field
  // cols(i), or path expression cols(i) - Schema.length
  private val cols: Array[Int] = {
    var k = NetcdfSource.Schema.length - 1
    val names = NetcdfSource.Schema.fieldNames
    fieldNames.map(n => if (names.contains(n)) names.indexOf(n) else { k += 1; k })
  }

  // cursor: file `files(f)`, its variable `vars(v)` decoded as `grid`
  // (+ `data` when `raw` is projected), cell `i` of its `n` next
  private var f = -1
  private var file: String = _
  private var bytes: Array[Byte] = _
  private var pathU: UTF8String = _
  // the path expressions' values, evaluated on the file's first row
  private var fileVals: Array[Any] = _
  private var v = vars.length
  private var vnU: UTF8String = _
  private var grid: Netcdf.Grid = _
  private var data: Array[Double] = _
  private var i, n = 0L
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (i == n) {
      if (v + 1 < vars.length) {
        v += 1
        vnU = UTF8String.fromString(vars(v))
        grid = Netcdf.grid(file, bytes, vars(v))
        data = if (needData) grid.values() else null
        i = 0L; n = grid.t * grid.h * grid.w
      } else if (f + 1 < files.length) {
        f += 1
        file = files(f)
        bytes = null; grid = null; data = null
        bytes = read(file)
        pathU = UTF8String.fromString(file)
        fileVals = null
        v = -1
      } else return false
    }
    if (fileVals == null) {
      val pathRow = new GenericInternalRow(Array[Any](pathU))
      fileVals = exprs.map(_.eval(pathRow)).toArray
    }
    val hw = grid.h * grid.w
    val vals = new Array[Any](cols.length)
    var c = 0
    while (c < cols.length) {
      vals(c) = (cols(c): @switch) match {
        case 0 => pathU
        case 1 => vnU
        case 2 => i / hw
        case 3 => i % hw / grid.w
        case 4 => i % grid.w
        case 5 => data(i.toInt)
        case 6 => grid.lo
        case 7 => grid.hi
        case 8 => grid.fill
        case k => fileVals(k - NetcdfSource.Schema.length)
      }
      c += 1
    }
    current = new GenericInternalRow(vals)
    i += 1
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
