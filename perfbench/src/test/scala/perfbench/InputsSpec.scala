package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.model.DictEntry
import graft.search.QueryParser

class InputsSpec extends AnyFunSuite {
  private val dict = Array.tabulate(400) { i =>
    val term = s"w${(i / 26 + 'a').toChar}${(i % 26 + 'a').toChar}x"
    DictEntry(i, term, df = 1000L - i, cf = 2000L - i)
  }
  private val docs = Array.tabulate(20)(d => (0 until 30).map(j => dict((d * 7 + j) % 400).term).mkString(" "))

  test("one cycle of the mix parses to the committed query set's kind counts") {
    val qs = Inputs.queries(1, Inputs.Shapes.length, dict, docs)
    val kinds = qs.map(q => QueryParser.parse(q.text)._1).groupBy(identity).map { case (k, v) => k -> v.length }
    assert(kinds == Map("FREE" -> 14, "AND" -> 7, "OR" -> 5, "PHRASE" -> 5, "BOOL" -> 15))
    assert(qs.count(_.k == 100) == 1 && qs.count(_.k == 10) == 45)
  }

  test("the same seed gives the same queries, another seed other terms") {
    val a = Inputs.queries(3, 200, dict, docs).toSeq
    assert(a == Inputs.queries(3, 200, dict, docs).toSeq)
    assert(a != Inputs.queries(4, 200, dict, docs).toSeq)
  }

  test("bands take 6, 8 and 6 of every 20 queries and meet every shape") {
    val bands = (0 until 20).map(i => Inputs.shape(i)._3).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(bands == Map("hot" -> 6, "mid" -> 8, "rare" -> 6))
    val perShape = (0 until Inputs.Shapes.length * 20).groupBy(_ % Inputs.Shapes.length)
      .map { case (_, is) => is.map(i => Inputs.shape(i)._3).toSet }
    assert(perShape.forall(_ == Set("hot", "mid", "rare")))
  }
}
