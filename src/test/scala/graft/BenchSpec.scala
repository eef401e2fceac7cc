package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fork parent's failure contract: every cell of a chunk that crashed,
  * hung or wrote nothing comes back as a failure, never as an omission.
  */
class BenchSpec extends AnyFunSuite {

  test("parseChunk: a name the child never reported is -1 and listed in failed") {
    val raw =
      """{"metric":"total","value":1.500,"unit":"sec","queries":{"a":1.000,"b":0.500},""" +
        """"calibration":{"pinned":"q02_tpch_q1@sf0.01","median":0.420,"max":0.420,"n":1,"calib_waits":2},""" +
        """"loadavg":[],"sf":"x","n_queries":2,"failed":[]}"""
    val c = Bench.parseChunk(raw, Seq("a", "b", "c"))
    assert(c.results == Seq("a" -> 1.0, "b" -> 0.5, "c" -> -1.0))
    assert(c.failed == Seq("c"))
    assert(c.calib.contains(0.42))
    assert(c.calibWaits == 2)
  }

  test("parseChunk: a child that wrote nothing fails every name") {
    val c = Bench.parseChunk("", Seq("a", "b"))
    assert(c.results == Seq("a" -> -1.0, "b" -> -1.0))
    assert(c.failed == Seq("a", "b"))
    assert(c.calib.isEmpty && c.calibWaits == 0)
  }

  test("awaitOrKill: a child past its bound is killed and reported as a failure") {
    val p  = new ProcessBuilder("sleep", "30").start()
    val t0 = System.nanoTime()
    assert(!Bench.awaitOrKill(p, 1000L))
    assert(!p.isAlive)
    assert((System.nanoTime() - t0) / 1e9 < 15)
  }

  test("awaitOrKill: a child that exits in time is a success") {
    assert(Bench.awaitOrKill(new ProcessBuilder("true").start(), 10000L))
  }
}
