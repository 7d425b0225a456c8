package graft.perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Cumulative job and task counters, fed by Spark's listener bus. */
final class Counters extends SparkListener {
  private var jobs = 0L
  private var taskRunMs = 0L
  private var shuffleWriteBytes = 0L
  private var spillBytes = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val descriptions = mutable.ArrayBuffer.empty[String]

  /** `properties` is nullable for jobs submitted without local properties. */
  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    descriptions += Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))
        .orElse(Option(p.getProperty("callSite.short"))))
      .getOrElse("")
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    Option(t.taskInfo).foreach(i => intervals += ((i.launchTime, i.finishTime)))
    Option(t.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  def snapshot(): Counters.Snap = synchronized {
    Counters.Snap(jobs, taskRunMs, shuffleWriteBytes, spillBytes,
      intervals.size, descriptions.size)
  }

  /** Task intervals and job descriptions recorded since `from`. */
  def since(from: Counters.Snap): (Seq[(Long, Long)], Seq[String]) =
    synchronized {
      (intervals.drop(from.tasks).toSeq, descriptions.drop(from.descs).toSeq)
    }
}

object Counters {
  final case class Snap(jobs: Long, taskRunMs: Long, shuffleWriteBytes: Long,
      spillBytes: Long, tasks: Int, descs: Int)

  /** Milliseconds of `[t0, t1]` covered by none of `intervals`. */
  def uncovered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0) - covered
  }
}

/** One finished span: a call into a layer, with what Spark did during it. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startMs: Long, wallS: Double, selfS: Double, jobs: Long, taskRunS: Double,
    noTaskS: Double, shuffleWriteBytes: Long, spillBytes: Long,
    bytesWritten: Long, rowsOut: Long, leftoverRdds: Int,
    jobDescriptions: Seq[String])

/** Records spans around calls into graft's layers. Spans nest: a span's
  * self time excludes its children. Spark counters are read at the span's
  * edges after draining the listener bus; the benchmark is single
  * threaded, so the deltas belong to the span. Disabled, `span` only runs
  * its body; without `listen` the listener is never registered. `ownS` is
  * the time spans took outside their bodies: the tracing overhead.
  */
final class Tracer(spark: SparkSession, cores: Int, listen: Boolean) {
  private val counters = new Counters
  if (listen) spark.sparkContext.addSparkListener(counters)

  var enabled = false
  var ownS = 0.0
  var op = -1
  private val done = mutable.ArrayBuffer.empty[Span]
  private final class Open(val id: Int, val parent: Int) {
    var childS = 0.0
    var rows = 0L
  }
  private var stack = List.empty[Open]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val e0 = System.nanoTime()
      Bus.drain(sc)
      val c0 = counters.snapshot()
      val rdd0 = sc.getPersistentRDDs.size
      val w0 = Storage.bytesWritten()
      val open = new Open(nextId, stack.headOption.fold(-1)(_.id))
      nextId += 1
      stack = open :: stack
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val wall = (t1 - t0) / 1e9
        val ms1 = math.max(System.currentTimeMillis(), ms0 + 1)
        Bus.drain(sc)
        val c1 = counters.snapshot()
        val (tasks, descs) = counters.since(c0)
        stack = stack.tail
        stack.headOption.foreach(_.childS += wall)
        done += Span(open.id, open.parent, name, op, ms0, wall,
          wall - open.childS, c1.jobs - c0.jobs,
          (c1.taskRunMs - c0.taskRunMs) / 1e3,
          Counters.uncovered(ms0, ms1, tasks) / 1e3,
          c1.shuffleWriteBytes - c0.shuffleWriteBytes,
          c1.spillBytes - c0.spillBytes, Storage.bytesWritten() - w0,
          open.rows, sc.getPersistentRDDs.size - rdd0, descs)
        ownS += ((t0 - e0) + (System.nanoTime() - t1)) / 1e9
      }
    }

  /** Materialize `df` in full through a `noop` write — never `count()`,
    * which lets Catalyst prune the plan — and return its row count and an
    * order-independent fingerprint, observed on that same action.
    */
  def materialize(df: DataFrame): Fingerprint = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val fp = Fingerprint(m("n").asInstanceOf[Long],
      BigInt(m("h").asInstanceOf[java.math.BigDecimal].toBigInteger))
    stack.headOption.foreach(_.rows += fp.rows)
    fp
  }

  /** Per-layer table: one row per span name, over all traced calls. */
  def table(names: Seq[String]): Seq[(String, Seq[(String, Double)])] =
    names.map { n =>
      val ss = done.filter(_.name == n).toSeq
      val calls = ss.size.toDouble
      def mean(f: Span => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / calls
      val wall = ss.map(_.wallS).sum
      n -> Seq(
        "calls" -> calls,
        "self_s" -> mean(_.selfS),
        "jobs" -> mean(_.jobs.toDouble),
        "task_busy_frac" ->
          (if (wall > 0) ss.map(_.taskRunS).sum / (wall * cores) else 0.0),
        "no_task_s" -> mean(_.noTaskS),
        "shuffle_write_mb" -> mean(_.shuffleWriteBytes / 1e6),
        "spill_mb" -> mean(_.spillBytes / 1e6),
        "bytes_written_mb" -> mean(_.bytesWritten / 1e6),
        "rows_out" -> mean(_.rowsOut.toDouble),
        "leftover_rdds" -> ss.map(_.leftoverRdds.toDouble).sum)
    }
}

/** Row count plus the sum of per-row 64-bit hashes: equal multisets of
  * rows give equal fingerprints, and fingerprints of disjoint row sets add.
  */
final case class Fingerprint(rows: Long, hash: BigInt) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
}

object Fingerprint {
  val Zero: Fingerprint = Fingerprint(0L, BigInt(0))
}
