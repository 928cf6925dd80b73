package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S8: the Spark form of the reference's per-(region, day) uint16
  * gzip HDF5 submission writer (weather4cast/datasets.py:455-459,
  * scaling table 379-384).
  */
object Sinks {

  /** HDF5-format compatibility sink: one `.h5` file per `fileKey`
    * value, each holding dataset `datasetName` = the key's frames as a
    * (T, h, w) uint16 array, chunked per t-slice by [[Hdf5]],
    * deflate-compressed. Readers of the reference's submission files
    * (weather4cast/datasets.py:455-459, dataset name `array`) open
    * these interchangeably — reader-level compatibility; exact bytes
    * differ from h5py, which picks its own chunking.
    *
    * Distribution shape: ONE hash repartition on the file key
    * co-locates each file's rows, a within-partition sort orders them,
    * and each task streams its keys one file at a time — peak executor
    * memory is a single file's array (T·h·w·2 bytes, the same
    * per-file working set the reference holds), regardless of how many
    * files or rows the job writes. Files go through the Hadoop
    * FileSystem API with the DRIVER's configuration (so `outDir` may
    * be any scheme the session is configured for: file://, hdfs://,
    * s3a://), and each file is written to a task-attempt temp path
    * then renamed into place — a retried or speculative task can never
    * leave a half-written `.h5` at the destination (the losing
    * attempt's rename merely overwrites with identical content).
    *
    * T = max(`tCol`)+1 per key; cells (or whole slices) absent from
    * `df` become 0, the dataset's fill. Values outside 0..65535 or
    * coordinates outside (h, w) throw rather than write a
    * silently-wrong file.
    */
  def writeHdf5Frames(df: DataFrame, outDir: String, fileKey: String,
                      tCol: String, yCol: String, xCol: String, valueCol: String,
                      h: Int, w: Int, datasetName: String = "array",
                      gzipLevel: Int = 9): Unit = {
    import org.apache.hadoop.fs.Path
    val confSer = new SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.select(col(fileKey).cast("string").as("_k"), col(tCol).cast("int").as("_t"),
        col(yCol).cast("int").as("_y"), col(xCol).cast("int").as("_x"),
        col(valueCol).cast("double").as("_v"))
      .repartition(col("_k"))
      .sortWithinPartitions("_k", "_t", "_y", "_x")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val conf = confSer.value
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(tc => s"${tc.stageId()}-${tc.taskAttemptId()}").getOrElse("local")
        // one file's cells, buffered column-wise in primitive arrays
        // (grown by doubling) until the key changes
        var key: String = null
        var n = 0
        var ts, ys, xs = new Array[Int](1024)
        var vs = new Array[Double](1024)
        def flush(): Unit = if (key != null && n > 0) {
          val tDim = ts.view.take(n).max + 1
          require(ts.view.take(n).forall(_ >= 0), s"negative t index for key $key")
          val dest = new Path(outDir, s"$key.h5")
          val tmp = new Path(outDir, s"_tmp-$attempt-$key.h5")
          val fs = dest.getFileSystem(conf)
          val out = fs.create(tmp, true)
          var ok = false
          try {
            val arr = new Array[Short](tDim * h * w)
            var c = 0
            while (c < n) {
              val t = ts(c); val y = ys(c); val x = xs(c); val v = vs(c)
              require(y >= 0 && y < h && x >= 0 && x < w,
                s"coordinate ($t,$y,$x) outside (*, $h, $w)")
              require(v >= 0 && v <= 0xFFFF && v == v.toInt.toDouble,
                s"value $v outside uint16")
              arr(t * h * w + y * w + x) = v.toInt.toShort
              c += 1
            }
            Hdf5.writeUint16(out, datasetName, tDim, h, w, arr, gzipLevel)
            ok = true
          } finally {
            out.close()
            if (ok) {
              fs.delete(dest, false)
              if (!fs.rename(tmp, dest))
                throw new java.io.IOException(s"rename $tmp -> $dest failed")
            } else fs.delete(tmp, false)
          }
          n = 0
        }
        rows.foreach { r =>
          val k = r.getString(0)
          require(k != null,
            s"null $fileKey value: every row must carry a non-null file key " +
              "(a null key has no destination file; filter or fill upstream)")
          if (k != key) { flush(); key = k }
          if (n == ts.length) {
            ts = java.util.Arrays.copyOf(ts, 2 * n); ys = java.util.Arrays.copyOf(ys, 2 * n)
            xs = java.util.Arrays.copyOf(xs, 2 * n); vs = java.util.Arrays.copyOf(vs, 2 * n)
          }
          ts(n) = r.getInt(1); ys(n) = r.getInt(2); xs(n) = r.getInt(3); vs(n) = r.getDouble(4)
          n += 1
        }
        flush()
      }
  }
}
