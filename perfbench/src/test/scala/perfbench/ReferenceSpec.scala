package perfbench

import graft.core.{CorpusDoc, Hit}
import graft.corpus.CorpusGen
import graft.search.OracleScorer
import org.scalatest.funsuite.AnyFunSuite

class ReferenceSpec extends AnyFunSuite {

  private val docs: Seq[CorpusDoc] = {
    val vocab = new CorpusGen.Vocab(3, 60)
    (0 until 80).map(i => CorpusGen.genDoc(i.toLong, 3, 5, vocab))
  }
  private val ref = new Reference(docs)

  test("agrees with OracleScorer on a tiny corpus") {
    val hot = ref.termDfs("content").sortBy(-_._2).map(_._1)
    val queries = Seq(hot.head, s"${hot(1)} ${hot(5)}", s"${hot(2)} ${hot(9)} ${hot(20)}", hot(30).take(2), "absentterm")
    for (q <- queries; fields <- Seq(CorpusDoc.Fields, Seq("content")); and <- Seq(false, true);
         prefix <- Seq(false, true) if !(and && prefix)) {
      val want = OracleScorer.search(docs, q, fields, beginsWith = prefix, k = 10, andSemantics = and)
      val got = Reference.topK(ref.search(q, fields, prefix, and), 10)
      assert(got == want, s"query '$q' fields=$fields and=$and prefix=$prefix")
    }
  }

  test("fuzzy keys expand to terms with the key's first letter and all its letters") {
    val exp = ref.expandFuzzy("imp", CorpusDoc.Fields)
    assert(exp.nonEmpty)
    assert(exp.forall { case (_, t) => t.startsWith("i") && "imp".forall(c => t.contains(c)) })
    assert(exp == exp.sortBy { case (f, t) => (t, f) })
  }

  test("a response must be rank-identical up to exact ties") {
    val all = Map(1L -> 3.0, 2L -> 2.0, 3L -> 2.0, 4L -> 1.0)
    assert(Reference.mismatch(Seq(Hit(1, 3.0), Hit(2, 2.0), Hit(3, 2.0)), all, 3).isEmpty)
    assert(Reference.mismatch(Seq(Hit(1, 3.0), Hit(3, 2.0), Hit(2, 2.0)), all, 3).isEmpty, "a tie may swap")
    assert(Reference.mismatch(Seq(Hit(1, 3.0), Hit(2, 2.0), Hit(4, 1.0)), all, 3).nonEmpty)
    assert(Reference.mismatch(Seq(Hit(1, 3.0 + 1e-4), Hit(2, 2.0), Hit(3, 2.0)), all, 3).nonEmpty)
    assert(Reference.mismatch(Seq(Hit(9, 3.0), Hit(2, 2.0), Hit(3, 2.0)), all, 3).nonEmpty, "unknown doc")
    assert(Reference.mismatch(Seq(Hit(1, 3.0)), all, 3).nonEmpty, "too few hits")
  }
}
