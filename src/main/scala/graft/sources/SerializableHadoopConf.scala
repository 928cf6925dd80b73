package graft.sources

import org.apache.hadoop.conf.Configuration

/** Hadoop `Configuration` is not `Serializable`; this wrapper ships
  * the DRIVER's session configuration (including `spark.hadoop.*`
  * overrides — s3a credentials, endpoints) into executor code via
  * Hadoop's own wire format. A conf built fresh on the executor
  * would see only classpath XML and silently drop those session
  * settings. Shared by the HDF5 sink ([[Sinks.writeHdf5Frames]]) and
  * the `netcdf` DSv2 reader. */
private[sources] final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
