package graft.trck

import org.scalatest.funsuite.AnyFunSuite

/** `Hll.sparse` visits only the registers that became nonzero; its bytes
  * must equal the full-scan encoding over all 16,384 registers for every
  * way a sketch can be built.
  */
class HllSparseScanSpec extends AnyFunSuite {

  /** The full-scan encoding: every nonzero register in index order as an
    * (index hi, index lo, rank) triple.
    */
  private def fullScan(regs: Array[Byte]): Array[Byte] =
    regs.indices.filter(regs(_) != 0).flatMap(i => Seq((i >>> 8).toByte, i.toByte, regs(i))).toArray

  private def sketch(rnd: scala.util.Random, n: Int): Hll = {
    val h = Hll()
    for (_ <- 0 until n) h.add(rnd.nextString(1 + rnd.nextInt(12)).getBytes("UTF-8"))
    h
  }

  private def assertScan(h: Hll, clue: String): Unit =
    assert(h.sparse.sameElements(fullScan(h.registers)), clue)

  test("random adds, repeats and merges encode as the full scan does") {
    val rnd = new scala.util.Random(20261019L)
    for (round <- 0 until 200) {
      // 0 items up to far past one per register (dense sketches)
      val n = Seq(0, 1, 2, 17, 300, 5000, 40000)(round % 7) + rnd.nextInt(50)
      val h = sketch(rnd, n)
      assertScan(h, s"round $round, $n items")
      // every item added twice: each register is recorded once
      val twice = Hll()
      for (_ <- 0 until 2) {
        val items = new scala.util.Random(round)
        for (_ <- 0 until n % 500) twice.add(items.nextString(1 + items.nextInt(12)).getBytes("UTF-8"))
      }
      assertScan(twice, s"round $round, repeat")
      val other = sketch(rnd, rnd.nextInt(3000))
      assertScan(h.merge(other), s"round $round, merged")
      // an item added after a merge
      h.add(s"late-$round".getBytes("UTF-8"))
      assertScan(h, s"round $round, add after merge")
    }
  }

  test("sketches over foreign registers encode as the full scan does") {
    val rnd = new scala.util.Random(7L)
    for (n <- Seq(0, 1, 100, 20000)) {
      val src = sketch(rnd, n)
      val decoded = Hll.fromHexString(src.toHexString)
      assertScan(decoded, s"fromHexString, $n items")
      decoded.add("x".getBytes("UTF-8"))
      assertScan(decoded, s"fromHexString + add, $n items")
      val wrapped = Hll.wrap(src.registers.clone())
      wrapped.add("y".getBytes("UTF-8"))
      assertScan(wrapped, s"wrap + add, $n items")
      assertScan(Hll().merge(decoded), s"fresh merged with decoded, $n items")
    }
  }
}
