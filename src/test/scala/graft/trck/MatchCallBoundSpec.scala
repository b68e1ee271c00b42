package graft.trck

import org.scalatest.funsuite.AnyFunSuite

import graft.parser.TrParser
import Fsm.{Bindings, FsmState, TrailEvent}
import LocalRunner.ForeachTuple

/** The reference's match-call bound: for N distinct foreach values present
  * in a trail, the per-trail foreach loop makes at most N+1 FSM runs — one
  * per present value plus one memoized run that covers every absent value
  * (reference: src/match_traildb.c:596-608).
  *
  * Fixture: perftest1-shaped trails (the reference perf fixture, as
  * `graft.PerfFixture` generates it) — implicit `foreach %aeid` over the
  * "" tuple plus the lexicon, two DBs of 100 events each, cookie c's
  * events cycling through `(c + 1) % 100 + 1` distinct values. The ""
  * tuple sorts first, so the group representative's own value is absent:
  * that run must seed the absent-value memo, not be repeated.
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

  test("perftest1-shaped trails make exactly N+1 match calls each, with exact counters") {
    // seg 2, 3, 5, 100 (every lexicon value present) and 1
    val cookies = Seq(1, 2, 4, 98, 99)
    val lexicon = (0 until 100).map(_.toString)
    // the 101 lexicon tuples, then 10k tuples whose 9.9k extra values are
    // absent from every trail: calls must not scale with |@arr|
    for (extra <- Seq(Nil, (0 until 9899).map(i => s"absent$i"))) {
      val values = "" +: (lexicon ++ extra).sorted
      val tuples = values.map(v => ForeachTuple(Vector(Left(v)))).toVector
      TrailMatcher.matchCalls.reset()
      for (c <- cookies) {
        val got = new Array[Long](tuples.length)
        val saved = Array.fill(tuples.length)(FsmState.initial(prog))
        TrailMatcher.processTrail(prog, tuples, saved, trail(c), c.toString, 0L, 0L, Bindings(), Map.empty,
          (j, r) => got(j) += r.counters.getOrElse("r", 0L))
        val want = values.map { v =>
          if (lexicon.contains(v) && v.toInt < seg(c)) 2L * (0 until 100).count(_ % seg(c) == v.toInt)
          else 0L
        }
        assert(got.toVector == want, s"cookie $c counters, ${tuples.length} tuples")
      }
      val bound = cookies.map(c => math.min(seg(c), 100) + 1).sum
      assert(TrailMatcher.matchCalls.sum() == bound, s"${tuples.length} tuples")
    }
  }
}
