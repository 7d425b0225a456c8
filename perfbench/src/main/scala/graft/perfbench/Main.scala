package graft.perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's entry point:
  * {{{
  *   Main --workload <etl_sync|ingest_serve> --seed <n>
  *        --seconds <s> --trace <0|1> [--root <dir>]
  * }}}
  * One client, closed loop, one `local[N]` session (N = min(4, cores)).
  * The workload is set up and warmed up; `setup_s` is the time from JVM
  * start to here. Then whole cycles of ops run until
  * `--seconds` of measured time, then an untimed check compares the
  * outputs with one-shot operators. `--train 1` only sets up, warms up and
  * runs one cycle of every workload: the build runs it to record the
  * classes a run loads.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` traces every
  * timed op and prints the per-layer table, the traced throughput and the
  * tracing overhead (span bookkeeping time over the rest of the phase). Either way one metric per line on stdout, then one
  * JSON object as the last line; the full record (metrics, per-layer
  * table, raw spans, op latencies) goes to `<root>/results/`. Everything
  * is staged under `--root` (default `target/perfbench`); the run's state
  * directory is deleted at the end. Exits 1 when the check fails.
  */
object Main {
  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val train = opts.getOrElse("train", "0") == "1"
    val workload = opts.getOrElse("workload", "")
    require(train || Workload.names.contains(workload),
      s"--workload must be one of ${Workload.names.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = opts.getOrElse("root", "target/perfbench")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val runDir = s"$root/run-$workload-s$seed-t${if (trace) 1 else 0}-" +
      ProcessHandle.current().pid()
    val code =
      try {
        if (train) {
          Workload.names.foreach { name =>
            val w = Workload(name, spark, s"$runDir/$name", seed,
              new Tracer(spark, cores, listen = false))
            w.setup()
            w.warmup()
            (1 to w.cycle).foreach { _ => w.prepare(); w.op(); w.background() }
          }
          0
        } else {
          val r = run(spark, workload, seed, seconds, trace, cores, runDir,
            jvmStartMs)
          report(spark, r, root)
          if (r.errors.isEmpty) 0 else 1
        }
      } finally {
        Storage.delete(spark, runDir)
        spark.stop()
      }
    sys.exit(code)
  }

  final case class Result(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, sizes: Seq[(String, Any)],
      checkS: Double, attempted: Int, failed: Int,
      items: Long, latenciesS: Seq[Double], metrics: Seq[Metric],
      spans: Seq[Span], errors: Seq[String])

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, runDir: String,
      jvmStartMs: Long): Result = {
    val tracer = new Tracer(spark, cores, listen = trace)

    val w = Workload(name, spark, s"$runDir/state", seed, tracer)
    w.setup()
    w.warmup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // closed loop, one client: input preparation is outside the clock
    val lat = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    var items, written = 0L
    var measured = 0.0
    val ingested0 = w.ingestedBytes
    tracer.enabled = trace
    while (measured < seconds || attempted % w.cycle != 0) {
      w.prepare()
      tracer.op = attempted
      val b0 = Storage.bytesWritten()
      val t0 = System.nanoTime()
      try items += tracer.span("op")(w.op())
      catch { case NonFatal(e) => failed += 1; e.printStackTrace() }
      val t1 = System.nanoTime()
      try w.background()
      catch { case NonFatal(e) => failed += 1; e.printStackTrace() }
      val t2 = System.nanoTime()
      written += Storage.bytesWritten() - b0
      lat += (t1 - t0) / 1e9
      measured += (t2 - t0) / 1e9
      attempted += 1
    }
    tracer.enabled = false
    val peakRssMb = Storage.peakRssMb()
    // what the run retains: cached blocks and leaked state survive a full
    // collection, garbage does not; events still queued on the listener bus
    // would count too, and their number follows the machine's speed
    Bus.drain(spark.sparkContext)
    System.gc()
    val liveHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val ingested = w.ingestedBytes - ingested0
    val stored = w.stateDirs.map(Storage.bytesUnder(spark, _)).sum
    val sorted = lat.sorted.toSeq

    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("items_per_s", items / measured, "1/s"),
      Metric("op_s_p50", quantile(sorted, 0.5), "s"),
      Metric("write_amp", written.toDouble / ingested, "x"),
      Metric("space_amp", stored.toDouble / w.generatedBytes, "x"),
      Metric("peak_rss_mb", peakRssMb, "MB"),
      Metric("live_heap_mb", liveHeapMb, "MB"))
    val extra = Seq(Metric("failed_frac", failed.toDouble / attempted, "frac"),
      Metric("op_wall_frac", lat.sum / measured, "frac")) ++
      (if (sorted.size >= 100) Seq(Metric("op_s_p90", quantile(sorted, 0.9), "s"))
      else Nil)
    val perLayer = tracer.table(Workload.spanNames).flatMap { case (span, ms) =>
      ms.filter { case (m, _) => m != "rows_out" || RowsOut(span) }
        .map { case (m, v) => Metric(s"$span.$m", v, PerLayerUnits(m)) }
    } ++ Seq(
      Metric("trace.items_per_s", items / measured, "1/s"),
      Metric("trace.overhead_frac", tracer.ownS / (measured - tracer.ownS),
        "frac"))
    val check0 = System.nanoTime()
    val errors = w.check()
    val checkS = (System.nanoTime() - check0) / 1e9
    Result(name, seed, seconds, trace, cores, w.sizes, checkS, attempted,
      failed, items, lat.toSeq,
      (if (trace) perLayer else endToEnd) ++ extra, tracer.spans, errors)
  }

  /** Spans whose call returns a frame the benchmark materializes. */
  val RowsOut: Set[String] = Set("operators.Snapshot.snapshotRecords",
    "ext.Decontaminate.flagContaminated", "ext.ClusterIndex.fold",
    "ext.SearchIndex.topK")

  val PerLayerUnits: Map[String, String] = Map("calls" -> "count",
    "self_s" -> "s", "jobs" -> "count", "task_busy_frac" -> "frac",
    "no_task_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "bytes_written_mb" -> "MB", "rows_out" -> "count",
    "leftover_rdds" -> "count")

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def report(spark: SparkSession, r: Result, root: String): Unit = {
    val reported = r.metrics.filterNot(m => Extra(m.name))
    r.metrics.foreach(m => println(f"${m.name} ${m.value}%.6g ${m.unit}"))
    r.errors.foreach(e => println(s"MISMATCH $e"))
    val artifact = s"$root/results/${r.workload}-seed${r.seed}-trace" +
      s"${if (r.trace) 1 else 0}-${ProcessHandle.current().pid()}.json"
    Storage.writeString(spark, artifact, Json(Map(
      "workload" -> r.workload, "seed" -> r.seed, "seconds" -> r.seconds,
      "trace" -> r.trace, "clients" -> 1, "loop" -> "closed",
      "master" -> s"local[${r.cores}]", "sizes" -> r.sizes.toMap,
      "check_s" -> r.checkS,
      "attempted" -> r.attempted, "failed" -> r.failed, "items" -> r.items,
      "op_latency_s" -> r.latenciesS,
      "metrics" -> r.metrics.map(m =>
        m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "spans" -> r.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs,
        "wall_s" -> s.wallS, "self_s" -> s.selfS, "jobs" -> s.jobs,
        "task_run_s" -> s.taskRunS, "no_task_s" -> s.noTaskS,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "bytes_written" -> s.bytesWritten,
        "rows_out" -> s.rowsOut, "leftover_rdds" -> s.leftoverRdds,
        "job_descriptions" -> s.jobDescriptions)),
      "mismatches" -> r.errors)))
    println(s"artifact $artifact")
    println(Json(Map("correct" -> r.errors.isEmpty, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> reported.map(m =>
        m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
  }

  /** Printed and recorded, but not part of the result line's metrics. */
  val Extra: Set[String] = Set("failed_frac", "op_wall_frac", "op_s_p90")
}

/** Minimal JSON rendering for the result line and the artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .sortBy(identity).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
