package graft.trck

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

import graft.parser.TrParser
import Fsm.{Bindings, FsmState, TrailEvent}
import LocalRunner.ForeachTuple

/** The per-trail foreach loop allocates (almost) nothing per event: its
  * class steps run in place on per-task scratch, and its per-tuple results
  * come from a pool. Read from the JVM's per-thread allocation counter
  * over `processTrail` + `finalizeTrail` on perftest1-shaped trails (as
  * MatchCallBoundSpec builds them, decoded beforehand), after a warm-up.
  */
class AllocationBoundSpec extends AnyFunSuite {

  private val prog = Compiled.compile(TrParser.parse(
    """foreach %aeid
      |    start ->
      |        receive
      |            advertisable_eid = %aeid -> yield $r, repeat
      |            * -> repeat
      |""".stripMargin))

  private def seg(cookie: Int): Int = (cookie + 1) % 100 + 1

  private val trails: Array[Array[TrailEvent]] = Array.tabulate(300) { c =>
    val slot = prog.slot("advertisable_eid")
    (for (db <- 0 until 2; j <- 0 until 100) yield {
      val fs = Array.fill(prog.fields.length)("")
      fs(slot) = (j % seg(c)).toString
      new TrailEvent(1000000L + db * 100000L + j, fs)
    }).toArray
  }

  private val values = "" +: (0 until 100).map(_.toString).sorted
  private val tuples = values.map(v => ForeachTuple(Vector(Left(v)))).toVector

  test("processTrail + finalizeTrail allocate at most 450 bytes per event on perftest1-shaped trails") {
    val mx = ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean if t.isThreadAllocatedMemorySupported => t
      case _ => cancel("this JVM does not count allocated bytes per thread")
    }
    if (!mx.isThreadAllocatedMemoryEnabled) mx.setThreadAllocatedMemoryEnabled(true)
    val got = new Array[Long](tuples.length)
    val onResult = (j: Int, r: Results) => got(j) += r.counters.getOrElse("r", 0L)
    val params = Bindings()
    val init = FsmState.initial(prog)
    val saved = Array.fill(tuples.length)(init)
    def pass(): Long = {
      var events = 0L
      var i = 0
      while (i < trails.length) {
        val out = TrailMatcher.processTrail(prog, tuples, saved, trails(i), i.toString, 0L, 0L, params, Map.empty, onResult)
        TrailMatcher.finalizeTrail(prog, tuples, out, i.toString, params, Map.empty, onResult)
        events += trails(i).length
        i += 1
      }
      events
    }
    for (_ <- 0 until 50) pass() // until the JIT has compiled the loop
    java.util.Arrays.fill(got, 0L)
    val thread = Thread.currentThread.getId
    val before = mx.getThreadAllocatedBytes(thread)
    val t0 = System.nanoTime()
    var events = 0L
    for (_ <- 0 until 20) events += pass()
    val secs = (System.nanoTime() - t0) / 1e9
    val perEvent = (mx.getThreadAllocatedBytes(thread) - before).toDouble / events
    info(f"$perEvent%.1f bytes and ${events / secs / 1e6}%.2fM events/s on one thread")
    // the counters are still exact: value v counts its events in every trail
    val want = values.map { v =>
      if (v.isEmpty) 0L else 20L * trails.indices.map(c => 2L * (0 until 100).count(j => j % seg(c) == v.toInt)).sum
    }
    assert(got.toVector == want)
    assert(perEvent <= 450, f"$perEvent%.1f bytes allocated per event")
  }
}
