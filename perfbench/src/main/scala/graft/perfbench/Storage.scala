package graft.perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Storage measurements, all through the Hadoop `FileSystem` API so they
  * hold for any scheme the staging root lives on.
  */
object Storage {

  /** Bytes written so far by this JVM through every Hadoop file system —
    * by Spark tasks (local mode runs them in this JVM) and by code outside
    * tasks alike.
    */
  def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Bytes stored under `path` (0 when it does not exist). */
  def bytesUnder(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (f.exists(p)) f.getContentSummary(p).getLength else 0L
  }

  def delete(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new Path(path), true); ()
  }

  def writeString(spark: SparkSession, path: String, s: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  def readLines(spark: SparkSession, path: String): Seq[String] = {
    val in = fs(spark, path).open(new Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** The process's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble * 1024 / 1e6
    }.getOrElse(0.0)
    finally src.close()
  }
}
