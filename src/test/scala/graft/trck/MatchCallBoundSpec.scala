package graft.trck

import org.scalatest.funsuite.AnyFunSuite

import graft.parser.TrParser
import Fsm.{Bindings, FsmState, TrailEvent}
import LocalRunner.ForeachTuple

/** The per-trail foreach loop's work bound, read as the difference of
  * `TrailMatcher.threadSteps` (FSM event-steps made on this thread) across
  * one trail. The reference makes at most
  * N+1 whole-trail match calls for N distinct foreach values present in a
  * trail (src/match_traildb.c:596-608), i.e. (N+1)·L event-steps for a
  * trail of L events; the class loop must stay within that for any trail,
  * and within 2L on perftest1's program, which takes one generic and one
  * special step per event.
  *
  * Fixture: perftest1-shaped trails (the reference perf fixture, as
  * trckperf's `perftest1` workload generates it) — implicit `foreach %aeid` over the
  * "" tuple plus the lexicon, two DBs of 100 events each, cookie c's
  * events cycling through `(c + 1) % 100 + 1` distinct values.
  */
class MatchCallBoundSpec extends AnyFunSuite {

  private val prog = Compiled.compile(TrParser.parse(
    """foreach %aeid
      |    start ->
      |        receive
      |            advertisable_eid = %aeid -> yield $r, repeat
      |            * -> repeat
      |""".stripMargin))

  private def seg(cookie: Int): Int = (cookie + 1) % 100 + 1

  private def trail(cookie: Int): Array[TrailEvent] = {
    val slot = prog.slot("advertisable_eid")
    (for (db <- 0 until 2; j <- 0 until 100) yield {
      val fs = Array.fill(prog.fields.length)("")
      fs(slot) = (j % seg(cookie)).toString
      new TrailEvent(1000000L + db * 100000L + j, fs)
    }).toArray
  }

  test("perftest1-shaped trails take <= 2L event-steps, exact counters") {
    // seg 2, 3, 5, 100 (every lexicon value present) and 1
    val cookies = Seq(1, 2, 4, 98, 99)
    val lexicon = (0 until 100).map(_.toString)
    // the 101 lexicon tuples, then 10k tuples whose 9.9k extra values are
    // absent from every trail: steps must not grow with |@arr|
    val stepsByInput = for (extra <- Seq(Nil, (0 until 9899).map(i => s"absent$i"))) yield {
      val values = "" +: (lexicon ++ extra).sorted
      val tuples = values.map(v => ForeachTuple(Vector(Left(v)))).toVector
      for (c <- cookies) yield {
        val got = new Array[Long](tuples.length)
        val saved = Array.fill(tuples.length)(FsmState.initial(prog))
        val events = trail(c)
        val steps0 = TrailMatcher.threadSteps
        TrailMatcher.processTrail(prog, tuples, saved, events, c.toString, 0L, 0L, Bindings(), Map.empty,
          (j, r) => got(j) += r.counters.getOrElse("r", 0L))
        val steps = TrailMatcher.threadSteps - steps0
        val want = values.map { v =>
          if (lexicon.contains(v) && v.toInt < seg(c)) 2L * (0 until 100).count(_ % seg(c) == v.toInt)
          else 0L
        }
        assert(got.toVector == want, s"cookie $c counters, ${tuples.length} tuples")
        val n = math.min(seg(c), 100) // distinct values present
        assert(steps <= (n + 1L) * events.length, s"cookie $c: $steps steps > (N+1)L")
        assert(steps <= 2L * events.length, s"cookie $c: $steps steps > 2L")
        steps
      }
    }
    assert(stepsByInput(0) == stepsByInput(1), "10k tuples must cost the 101-tuple input's steps")
  }
}
