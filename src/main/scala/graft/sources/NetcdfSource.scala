package graft.sources

import java.util.{Map => JMap}

import scala.annotation.switch
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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
  * `x`, `raw`, `valid_lo`, `valid_hi`, `fill_value`). One input
  * partition per file — at fleet scale the scan parallelizes over
  * files, with no driver-side decode. Column pruning is
  * pushed into the decoder: a projection that never touches `raw`
  * (e.g. catalogs over `path`/`var`/`t` or attr audits) skips the
  * payload decode (chunk walk + inflate) entirely and answers from
  * the file HEADER — the S1-catalog-over-S2-files pattern costs
  * header reads, not data reads. Scans compare by value, so a frame
  * read twice in one plan is scanned once (exchange reuse), and files
  * are opened with the session's Hadoop conf.
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

private class NetcdfTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"netcdf(${NetcdfSource.pathsOf(options).mkString(",")})"
  override def schema(): StructType = NetcdfSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new NetcdfScanBuilder(options ++ caseInsensitive.asScala)
}

private class NetcdfScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = NetcdfSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new NetcdfScan(options, required)
}

private class NetcdfScan(options: Map[String, String], required: StructType)
    extends Scan with Batch {
  // value identity: a DataFrame used twice in one plan (a self-join,
  // two aggregates of one frame) yields two scans of one catalog.
  // BatchScanExec compares its Batch — this scan — so only value
  // equality lets ReuseExchange and AQE stage reuse run the scan
  // stage once. Same options (paths, vars) and same pruned schema
  // means same rows; a header-only and a `raw` scan stay distinct.
  private val identity =
    (options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }, required)
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
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    // driver side: glob + expand directories, one partition per file
    val files = NetcdfSource.pathsOf(options).flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(hadoopConf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty[FileStatus])
      require(matched.nonEmpty, s"netcdf source: no files match '$p'")
      matched.flatMap {
        case d if d.isDirectory => fs.listStatus(d.getPath).toSeq.filter(_.isFile)
        case f => Seq(f)
      }
    }
    files.map(f => NetcdfInputPartition(f.getPath.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NetcdfReaderFactory(NetcdfSource.varsOf(options), required.fieldNames, hadoopConfB)
}

private case class NetcdfInputPartition(file: String) extends InputPartition

private class NetcdfReaderFactory(vars: Seq[String], fieldNames: Array[String],
                                  conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NetcdfPartitionReader(partition.asInstanceOf[NetcdfInputPartition].file, vars,
      fieldNames, conf.value.value)
}

private class NetcdfPartitionReader(file: String, vars: Seq[String], fieldNames: Array[String],
                                    conf: Configuration)
    extends PartitionReader[InternalRow] {
  private lazy val bytes: Array[Byte] = {
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
  private val pathU = UTF8String.fromString(file)
  // the projection, resolved once: output slot i holds Schema field cols(i)
  private val cols: Array[Int] = fieldNames.map(NetcdfSource.Schema.fieldIndex)

  // cursor: variable `vars(v)` decoded as `grid` (+ `data` when `raw`
  // is projected), cell `i` of its `n` next
  private var v = -1
  private var vnU: UTF8String = _
  private var grid: Netcdf.Grid = _
  private var data: Array[Double] = _
  private var i, n = 0L
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (i == n && v + 1 < vars.length) {
      v += 1
      vnU = UTF8String.fromString(vars(v))
      grid = Netcdf.grid(file, bytes, vars(v))
      data = if (needData) grid.values() else null
      i = 0L; n = grid.t * grid.h * grid.w
    }
    if (i == n) false
    else {
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
        }
        c += 1
      }
      current = new GenericInternalRow(vals)
      i += 1
      true
    }
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
