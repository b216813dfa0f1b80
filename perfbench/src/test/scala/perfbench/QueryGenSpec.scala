package perfbench

import graft.corpus.CorpusGen
import org.scalatest.funsuite.AnyFunSuite

class QueryGenSpec extends AnyFunSuite {

  private def reference(seed: Long): Reference = {
    val vocab = new CorpusGen.Vocab(seed, 4000)
    new Reference((0 until 2000).map(i => CorpusGen.genDoc(i.toLong, seed, 50, vocab)))
  }

  test("the same seed gives the same queries and request sequence") {
    Seq(false, true).foreach { dist =>
      val a = QueryGen.queries(reference(5), 5, dist)
      val b = QueryGen.queries(reference(5), 5, dist)
      assert(a == b)
      assert(QueryGen.schedule(a, 5).take(500).toList == QueryGen.schedule(b, 5).take(500).toList)
      assert(QueryGen.hydrated(a, 5, 30) == QueryGen.hydrated(b, 5, 30))
    }
  }

  test("another seed gives other queries and another order") {
    val a = QueryGen.queries(reference(5), 5, distributedOnly = false)
    val b = QueryGen.queries(reference(6), 6, distributedOnly = false)
    assert(a.map(_.text) != b.map(_.text))
    assert(a.map(_.shape) == b.map(_.shape), "the mix of shapes is fixed")
    assert(QueryGen.schedule(a, 5).take(100).toList != QueryGen.schedule(a, 6).take(100).toList)
  }

  test("the schedule times every query equally and hydrates only hydratable queries") {
    val qs = QueryGen.queries(reference(5), 5, distributedOnly = false)
    val counts = QueryGen.schedule(qs, 5).take(qs.size * 7 + 3).toList.groupBy(identity).values.map(_.size)
    assert(counts.size == qs.size && counts.max - counts.min <= 1)
    val hyd = QueryGen.hydrated(qs, 5, 25)
    assert(hyd.size == 25 && hyd.forall(i => qs(i).hydratable))
    assert(QueryGen.hydrated(qs, 5, 0).isEmpty)
  }

  test("the distributed mix keeps only multi-term and prefix shapes") {
    val qs = QueryGen.queries(reference(5), 5, distributedOnly = true)
    assert(qs.forall(q => q.prefix || q.text.split(' ').length >= 2))
    assert(qs.map(_.text).distinct.size == qs.size)
  }
}
