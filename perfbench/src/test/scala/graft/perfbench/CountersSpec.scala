package graft.perfbench

import org.apache.spark.scheduler.SparkListenerJobStart
import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties

class CountersSpec extends AnyFunSuite {

  private val zero = Counters.Snap(0L, 0L, 0L, 0L, 0, 0)

  test("a job start without properties is counted, not thrown on") {
    val c = new Counters
    c.onJobStart(SparkListenerJobStart(7, 0L, Seq.empty, null))
    val p = new Properties()
    p.setProperty("spark.job.description", "dedup.fold")
    c.onJobStart(SparkListenerJobStart(8, 0L, Seq.empty, p))
    assert(c.snapshot().jobs == 2)
    assert(c.since(zero)._2 == Seq("", "dedup.fold"))
  }

  test("uncovered time is the span's wall time with no task running") {
    assert(Counters.uncovered(0, 100, Nil) == 100)
    assert(Counters.uncovered(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
    assert(Counters.uncovered(0, 100, Seq((-50L, 10L), (90L, 150L))) == 80)
    assert(Counters.uncovered(0, 100, Seq((60L, 70L), (0L, 50L))) == 40)
  }
}
