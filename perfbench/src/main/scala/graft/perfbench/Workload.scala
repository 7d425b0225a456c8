package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload gives the run loop in [[Main]]. A workload owns one
  * staging directory and never reads or writes outside it.
  */
abstract class Workload(val spark: SparkSession, val dir: String,
    val seed: Long, val tracer: Tracer) {

  /** Input sizes and shape parameters, for the artifact. */
  def sizes: Seq[(String, Any)]

  /** Build the starting state. */
  def setup(): Unit

  /** Ops per cycle: a timed phase runs whole cycles, so every run measures
    * the same ops and background work, however fast the machine is.
    */
  def cycle: Int

  /** Warm-up after set-up, counted in `setup_s`: early ops run 2-3x slower
    * than warm ones.
    */
  def warmup(): Unit

  /** Untimed preparation of the next op's inputs. */
  def prepare(): Unit = ()

  /** Run one op; returns the items it completed. */
  def op(): Int

  /** Timed work between ops that is not an op itself (folds and
    * compactions on a fixed cadence); it counts in the phase's wall time.
    */
  def background(): Unit = ()

  /** Generated input bytes ingested so far, and bytes of generated input in
    * total (ingested or staged).
    */
  def ingestedBytes: Long
  def generatedBytes: Long

  /** Directories holding the state the workload maintains. */
  def stateDirs: Seq[String]

  /** Untimed correctness check: the mismatches found (empty when correct). */
  def check(): Seq[String]

  protected def docsFrame(docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  protected def docBytes(docs: Seq[Gen.Doc]): Long =
    docs.map(d => 8L + d.text.getBytes("UTF-8").length).sum
}

object Workload {
  val names: Seq[String] = Seq("etl_sync", "ingest_serve")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
      tracer: Tracer): Workload = name match {
    case "etl_sync" => new EtlSync(spark, dir, seed, tracer)
    case "ingest_serve" => new IngestServe(spark, dir, seed, tracer)
  }

  /** Every span the benchmark records, in report order. */
  val spanNames: Seq[String] = Seq(
    "sources.Reader.open", "sources.Reader.get",
    "operators.Snapshot.snapshotRecords",
    "operators.Export.toExport.singer", "operators.Export.toExport.parquet",
    "ext.Decontaminate.flagContaminated",
    "ext.DedupIndex.fold", "ext.DedupIndex.compact",
    "ext.ClusterIndex.fold", "ext.ClusterIndex.compact",
    "ext.SearchIndex.topK", "ext.SearchIndex.fold", "ext.SearchIndex.compact")
}
