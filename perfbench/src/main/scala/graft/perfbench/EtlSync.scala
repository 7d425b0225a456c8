package graft.perfbench

import graft.conf.GluestickConf
import graft.operators.{Export, ExportOptions, Snapshot, SnapshotOptions}
import graft.sources.{Reader, ReaderOptions}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.sql.Timestamp
import scala.collection.mutable

/** `etl_sync`: one tenant's incremental Singer syncs. Each op reads a fresh
  * `sync-output/` through [[Reader]] with catalog typing, upserts every
  * stream into its snapshot and exports the sync as Singer and as parquet.
  */
final class EtlSync(spark: SparkSession, dir: String, seed: Long,
    tracer: Tracer) extends Workload(spark, dir, seed, tracer) {

  val params: Gen.EtlParams =
    Gen.etlParams(seed, baseRows = EtlSync.BaseRows, syncRows = EtlSync.SyncRows)
  private val tenant = new Gen.EtlTenant(seed, params)
  private val snapshotDir = s"$dir/state/snapshots"
  private def syncRoot(i: Int) = s"$dir/syncs/s$i"
  private def exportDir(i: Int) = s"$dir/state/exports/s$i"

  /** Keep-last-by-PK over every processed sync: stream → id → row. */
  private val expected =
    EtlSync.Columns.keys.map(_ -> mutable.Map.empty[Long, Seq[Any]]).toMap
  private var pending: Option[(Gen.Sync, Long)] = None
  private val processed = mutable.ArrayBuffer.empty[Gen.Sync]
  private var ingested = 0L
  private var generated = 0L

  def sizes: Seq[(String, Any)] = Seq(
    "streams" -> EtlSync.Columns.size, "base_rows_per_stream" -> params.baseRows,
    "sync_rows_per_stream" -> params.syncRows,
    "update_share" -> params.updateShare)

  /** Sync 0: the full load that creates the snapshots. */
  def setup(): Unit = { prepare(); op(); () }

  def cycle: Int = 2

  /** Sync 1, the first merge into existing snapshots. */
  def warmup(): Unit = { prepare(); op(); () }

  override def prepare(): Unit = {
    val s = tenant.next()
    val root = syncRoot(s.index)
    val out = s"$root/sync-output"
    Storage.writeString(spark, s"$root/catalog.json", EtlSync.Catalog)
    Storage.writeString(spark, s"$out/customers.csv",
      EtlSync.customersCsv(s.customers))
    Storage.writeString(spark, f"$out/orders-2024${s.index % 12 + 1}%02d01.csv",
      EtlSync.ordersCsv(s.orders))
    import spark.implicits._
    s.events.map(e => (e.id, EtlSync.sqlTime(e.ts), e.kind, e.score, e.source,
        e.n)).toDF("id", "ts", "kind", "score", "source", "n")
      .selectExpr("id", "ts", "named_struct('kind', kind, 'score', score, " +
        "'meta', named_struct('source', source, 'n', n)) AS payload")
      .coalesce(1).write.parquet(s"$out/events.parquet")
    val bytes = Storage.bytesUnder(spark, out)
    generated += bytes
    pending = Some((s, bytes))
  }

  def op(): Int = {
    val (s, bytes) = pending.get
    pending = None
    val conf = GluestickConf(Map("ROOT_DIR" -> syncRoot(s.index)))
    val reader = tracer.span("sources.Reader.open") {
      Reader(spark, conf = conf)
    }
    reader.keys.foreach { stream =>
      val (df, pk) = tracer.span("sources.Reader.get") {
        (reader.get(stream, EtlSync.ReadOptions).get, reader.getPk(stream))
      }
      tracer.span("operators.Snapshot.snapshotRecords") {
        tracer.materialize(Snapshot.snapshotRecords(spark, Some(df), stream,
          snapshotDir, SnapshotOptions(pk = pk)).get)
      }
      tracer.span("operators.Export.toExport.singer") {
        Export.toExport(df, stream, exportDir(s.index),
          ExportOptions(keys = pk, exportFormat = Some("singer")), conf)
      }
      tracer.span("operators.Export.toExport.parquet") {
        Export.toExport(df, stream, exportDir(s.index),
          ExportOptions(exportFormat = Some("parquet")), conf)
      }
    }
    EtlSync.rows(s).foreach { case (stream, rows) =>
      rows.foreach(r => expected(stream)(r.head.asInstanceOf[Long]) = r)
    }
    processed += s
    ingested += bytes
    s.records
  }

  def ingestedBytes: Long = ingested
  def generatedBytes: Long = generated
  def stateDirs: Seq[String] = Seq(s"$dir/state")

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    EtlSync.Columns.foreach { case (stream, cols) =>
      val rows = spark.read.parquet(s"$snapshotDir/$stream.snapshot.parquet")
        .select(cols.map(col): _*).collect().toSeq
      val got = rows.map((r: Row) => r.getLong(0) -> r.toSeq).toMap
      val want = expected(stream)
      if (got.size != rows.size)
        errs += s"$stream snapshot: ${rows.size - got.size} duplicate keys"
      val wrong = want.count { case (k, v) => !got.get(k).contains(v) }
      if (wrong > 0 || got.size != want.size)
        errs += s"$stream snapshot: ${got.size} keys, want ${want.size}; " +
          s"$wrong expected rows missing or different"
    }
    processed.foreach { s =>
      val lines = Storage.readLines(spark, s"${exportDir(s.index)}/data.singer")
      def n(t: String) = lines.count(_.startsWith(s"""{"type":"$t""""))
      val want = (EtlSync.Columns.size, s.records, EtlSync.Columns.size)
      val got = (n("SCHEMA"), n("RECORD"), n("STATE"))
      if (got != want || lines.size != want._1 + want._2 + want._3)
        errs += s"sync ${s.index} singer (SCHEMA, RECORD, STATE) = $got, " +
          s"want $want of ${lines.size} lines"
    }
    processed.lastOption.foreach { s =>
      EtlSync.rows(s).foreach { case (stream, rows) =>
        val n = spark.read
          .parquet(s"${exportDir(s.index)}/$stream.parquet").collect().length
        if (n != rows.size)
          errs += s"sync ${s.index} $stream parquet export: $n rows, want ${rows.size}"
      }
    }
    errs.toSeq
  }
}

object EtlSync {
  val BaseRows = 5000
  val SyncRows = 500

  /** RFC 4180 files: a doubled quote escapes a quote. */
  val ReadOptions: ReaderOptions =
    ReaderOptions(catalogTypes = true, csvOptions = Map("escape" -> "\""))

  /** Snapshot columns per stream, in file order. */
  val Columns: Map[String, Seq[String]] = Map(
    "customers" ->
      Seq("id", "name", "balance", "active", "updated_at", "address", "code"),
    "orders" -> Seq("id", "customer_id", "total", "created_at"),
    "events" -> Seq("id", "ts", "payload"))

  /** Full catalog type mix: date-time, an object carried as JSON in a CSV
    * string, a non-collapsing union (read as string) and, on the parquet
    * stream, a nested struct.
    */
  val Catalog: String =
    """{"streams": [
      |{"stream": "customers", "tap_stream_id": "customers", "schema": {"properties": {
      |  "id": {"type": ["integer"]}, "name": {"type": ["string", "null"]},
      |  "balance": {"type": ["number", "null"]}, "active": {"type": ["boolean", "null"]},
      |  "updated_at": {"anyOf": [{"type": "string", "format": "date-time"}, {"type": "null"}]},
      |  "address": {"type": ["object", "null"], "properties": {
      |    "city": {"type": ["string", "null"]}, "zip": {"type": ["integer", "null"]}}},
      |  "code": {"type": ["integer", "string", "null"]}}},
      | "metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["id"]}}]},
      |{"stream": "orders", "tap_stream_id": "orders", "schema": {"properties": {
      |  "id": {"type": ["integer"]}, "customer_id": {"type": ["integer", "null"]},
      |  "total": {"type": ["number", "null"]},
      |  "created_at": {"type": ["string", "null"], "format": "date-time"}}},
      | "metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["id"]}}]},
      |{"stream": "events", "tap_stream_id": "events", "schema": {"properties": {
      |  "id": {"type": ["integer"]},
      |  "ts": {"type": ["string", "null"], "format": "date-time"},
      |  "payload": {"type": ["object", "null"], "properties": {
      |    "kind": {"type": ["string", "null"]}, "score": {"type": ["number", "null"]},
      |    "meta": {"type": ["object", "null"], "properties": {
      |      "source": {"type": ["string", "null"]}, "n": {"type": ["integer", "null"]}}}}}}},
      | "metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["id"]}}]}
      |]}""".stripMargin

  private def isoTime(epochS: Long): String =
    java.time.Instant.ofEpochSecond(epochS).toString

  def sqlTime(epochS: Long): String =
    isoTime(epochS).replace('T', ' ').stripSuffix("Z")

  private def addressJson(c: Gen.Customer): String =
    s"""{"city":"${c.city}","zip":${c.zip}}"""

  private def quoted(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  def customersCsv(cs: Seq[Gen.Customer]): String =
    cs.map(c => Seq(c.id, c.name, c.balance, c.active, isoTime(c.updatedAt),
        quoted(addressJson(c)), c.code).mkString(","))
      .mkString(Columns("customers").mkString(",") + "\n", "\n", "\n")

  def ordersCsv(os: Seq[Gen.Order]): String =
    os.map(o => Seq(o.id, o.customerId, o.total, isoTime(o.createdAt))
        .mkString(","))
      .mkString(Columns("orders").mkString(",") + "\n", "\n", "\n")

  /** A sync's records as the catalog-typed reader yields them: timestamps
    * as instants, the JSON object and the union as strings, and the
    * parquet struct cast to string.
    */
  def rows(s: Gen.Sync): Map[String, Seq[Seq[Any]]] = {
    def ts(epochS: Long) = new Timestamp(epochS * 1000L)
    Map(
      "customers" -> s.customers.map(c => Seq[Any](c.id, c.name, c.balance,
        c.active, ts(c.updatedAt), addressJson(c), c.code)),
      "orders" -> s.orders.map(o =>
        Seq[Any](o.id, o.customerId, o.total, ts(o.createdAt))),
      "events" -> s.events.map(e => Seq[Any](e.id, ts(e.ts),
        s"{${e.kind}, ${e.score}, {${e.source}, ${e.n}}}")))
  }
}
