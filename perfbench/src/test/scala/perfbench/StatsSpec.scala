package perfbench

import java.util.Properties

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("covered: union of job intervals, overlaps once, clipped to the span") {
    assert(Stats.covered(Nil, 0, 100) == 0)
    assert(Stats.covered(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    // overlapping and nested intervals count once
    assert(Stats.covered(Seq((10L, 30L), (20L, 40L), (25L, 28L)), 0, 100) == 30)
    // unsorted input, touching intervals
    assert(Stats.covered(Seq((50L, 60L), (10L, 20L), (20L, 30L)), 0, 100) == 30)
    // clipped to the span on both sides
    assert(Stats.covered(Seq((-10L, 10L), (90L, 120L)), 0, 100) == 20)
    assert(Stats.covered(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("driver_s plus job-covered time equals wall_s per call") {
    val t = new Tracer
    def props(group: String) = { val p = new Properties; p.setProperty("spark.jobGroup.id", group); p }
    // two overlapping jobs of call g1, one job of another call inside
    // g1's span that must not count, and a job running past the span
    t.onJobStart(SparkListenerJobStart(1, 1100L, Nil, props("g1")))
    t.onJobEnd(SparkListenerJobEnd(1, 1400L, JobSucceeded))
    t.onJobStart(SparkListenerJobStart(2, 1300L, Nil, props("g1")))
    t.onJobEnd(SparkListenerJobEnd(2, 1600L, JobSucceeded))
    t.onJobStart(SparkListenerJobStart(3, 1700L, Nil, props("other")))
    t.onJobEnd(SparkListenerJobEnd(3, 1800L, JobSucceeded))
    t.onJobStart(SparkListenerJobStart(4, 1900L, Nil, props("g1")))
    t.onJobEnd(SparkListenerJobEnd(4, 2500L, JobSucceeded))
    t.calls += CallSpan(Span(1, 0, "layer.a op", 1, 1000L, 2000L), "layer.a", "g1", 1200L)
    val s = t.layerStats()((1, "layer.a"))
    assert(s.jobs == 3)
    assert(s.wallS == 1.0)
    assert(s.buildS == 0.2)
    // covered: [1100, 1600] + [1900, 2000] = 600 ms
    assert(math.abs(s.driverS - 0.4) < 1e-9)
    assert(math.abs(s.driverS + 0.6 - s.wallS) < 1e-9)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((9, 1.0)))
    // 40 samples: the 30th smallest, p75, has exactly 10 above it
    val xs = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    val Some((pct, v)) = Stats.tail(xs)
    assert(pct == 75 && v == 30.0)
    assert(xs.count(_ > v) == 10)
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains((90, 90.0)))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
