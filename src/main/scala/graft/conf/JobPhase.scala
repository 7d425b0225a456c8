package graft.conf

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs a block submits: `spark.job.description` is set to
  * `operator.phase` for the block and restored afterwards (or removed when
  * none was set), so the label cannot leak to the thread's later jobs. The
  * property is thread-local, like every Spark local property.
  */
object JobPhase {
  private val Key = "spark.job.description"

  def apply[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try body finally sc.setLocalProperty(Key, prev)
  }
}
