package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val oneToHundred = (1 to 100).map(_.toDouble)

  test("percentiles interpolate linearly between closest ranks") {
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(math.abs(Stats.percentile(oneToHundred, 95) - 95.05) < 1e-9)
    assert(Stats.percentile(oneToHundred, 0) == 1.0)
    assert(Stats.percentile(oneToHundred, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
  }

  test("percentiles do not depend on input order") {
    val shuffled = new scala.util.Random(3).shuffle(oneToHundred)
    Seq(5.0, 50.0, 95.0, 99.0).foreach(p =>
      assert(Stats.percentile(shuffled, p) == Stats.percentile(oneToHundred, p)))
  }

  test("samples beyond a percentile are counted strictly above it") {
    assert(Stats.beyond(oneToHundred, 95) == 5)
    assert(Stats.beyond(oneToHundred, 50) == 50)
    assert(Stats.beyond(Seq.fill(10)(1.0), 95) == 0)
  }

  test("geomean of a constant is the constant, and of 1 and 100 is 10") {
    assert(math.abs(Stats.geomean(Seq.fill(5)(3.0)) - 3.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
  }

  test("an empty sample is an error, never a silent 0") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.geomean(Nil))
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}

class OutcomesSpec extends AnyFunSuite {
  test("fail_ratio is failed over attempted, and failures stay in the sample") {
    val o = new Outcomes
    o.attempt(8)
    o.fail("missing", 1)
    o.fail("wrong value")
    o.attempt()
    assert(o.attempted == 9)
    assert(o.failed == 2)
    assert(o.failRatio == 2.0 / 9)
    assert(o.failureReasons == Map("missing" -> 1L, "wrong value" -> 1L))
  }

  test("a zero-count failure is not recorded") {
    val o = new Outcomes
    o.attempt(3)
    o.fail("duplicate", 0)
    assert(o.failed == 0 && o.failRatio == 0.0 && o.failureReasons.isEmpty)
  }

  test("a run with no attempts has no fail_ratio") {
    assertThrows[IllegalArgumentException](new Outcomes().failRatio)
  }
}

class ArrivalsSpec extends AnyFunSuite {
  private def msg(s: String) = s.getBytes("UTF-8")

  test("first arrival wins; repeats count as duplicates, junk as malformed") {
    val a = new Arrivals(10)
    a.onMessage(100L, msg("3,view,7.5"))
    a.onMessage(200L, msg("3,view,7.5"))
    a.onMessage(300L, msg("not-a-row"))
    a.onMessage(400L, msg("42,view,1.0")) // id outside the published range
    assert(a.firstNs(3) == 100L)
    assert(a.payload(3) == "3,view,7.5")
    assert(a.arrivedCount == 1 && a.duplicateCount == 1 && a.malformedCount == 2)
  }
}

class OpenLoopSpec extends AnyFunSuite {
  test("latency from the due time counts a stalled sender") {
    val rows = 200
    val intervalNs = 1000000L // 1 ms
    val stallAt = 50
    val stallMs = 150L
    val loop = new OpenLoop(rows, intervalNs)
    val arrivalNs = new Array[Long](rows)
    // Fake sink: delivers instantly, except for one deliberate pause.
    loop.run(System.nanoTime()) { i =>
      if (i == stallAt) Thread.sleep(stallMs)
      arrivalNs(i) = System.nanoTime()
    }

    // The schedule never slid: due times stay evenly spaced.
    (1 until rows).foreach(i => assert(loop.dueNs(i) - loop.dueNs(i - 1) == intervalNs))

    val fromDue = Latency.fromDue(0 until rows, loop.dueNs(_), arrivalNs(_))
    val fromSend = (0 until rows).map(i => (arrivalNs(i) - loop.sentNs(i)) / 1e6)
    // The stalled row waited the whole pause, and the rows due during
    // the pause queued behind it: their latency grows from the due time.
    assert(fromDue(stallAt) >= stallMs)
    assert(fromDue(stallAt + 50) >= stallMs - 50 - 1)
    assert(fromDue.count(_ >= 50.0) >= 90)
    assert(Stats.percentile(fromDue, 95) >= 50.0)
    // Timed from the send instead, the same run hides the stall for
    // every row but the stalled one (coordinated omission).
    assert(fromSend.count(_ >= 50.0) <= 1)
  }

  test("rows that never arrived are left out of the latency sample (check counts them as failed)") {
    val lat = Latency.fromDue(0 until 3, _ => 0L, i => if (i == 1) -1L else 2000000L)
    assert(lat == Seq(2.0, 2.0))
  }
}
