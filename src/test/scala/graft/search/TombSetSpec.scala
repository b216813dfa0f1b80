package graft.search

import graft.PropCheck
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** [[TombSet.byShard]] and [[TombSet.kills]] against the tombstone rule of
  * `IndexStore.tombstoneAgg`: a posting of doc `d` in segment `seg` is dead
  * iff `seg ≤` the highest `max_seg` of any row of `d`. */
class TombSetSpec extends AnyFunSuite {

  /** Raw `(doc_id, max_seg)` rows: ids clustered at shard edges (`span·s − 1`
    * and `span·s`) and in shards of one id, with duplicates at other
    * segments; sometimes no rows at all. */
  private def rowsGen(span: Long): Gen[Seq[(Long, Int)]] = {
    val id = Gen.frequency(
      2 -> Gen.chooseNum(0L, 4L).flatMap(s => Gen.oneOf(span * s - 1, span * s)).map(math.max(_, 0L)),
      2 -> Gen.chooseNum(0L, 5 * span),
      1 -> Gen.chooseNum(10L, 20L).map(s => span * s + span / 2)) // alone in its shard
    val row = Gen.zip(id, Gen.chooseNum(0, 6))
    Gen.frequency(1 -> Gen.const(Nil), 6 -> Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, row)).flatMap { rs =>
      // each id again, at another segment
      Gen.listOfN(rs.size, Gen.chooseNum(0, 6)).map(segs => rs ++ rs.zip(segs).map { case ((d, _), s) => (d, s) }
        .take(rs.size / 2))
    })
  }

  test("kills(d, seg) is seg ≤ max max_seg of d, for every doc and segment, read through d's shard") {
    Seq(1L, 2L, 7L, 64L).foreach { span =>
      PropCheck.forAllG(rowsGen(span), n = 100) { rows =>
        val sets = TombSet.byShard(rows, span)
        val newest = rows.groupMapReduce(_._1)(_._2)(math.max)
        val docs = (0L to 21 * span) ++ newest.keys.flatMap(d => Seq(d - 1, d, d + 1))
        for (d <- docs.distinct; seg <- -1 to 7) {
          val got = sets.getOrElse(Math.floorDiv(d, span), TombSet.Empty).kills(d, seg)
          assert(got == newest.get(d).exists(seg <= _), s"span=$span d=$d seg=$seg rows=$rows")
        }
        assert(sets.keySet == newest.keySet.map(Math.floorDiv(_, span)), s"span=$span rows=$rows")
      }
    }
    assert(TombSet.byShard(Nil, 8).isEmpty && !TombSet.Empty.kills(0L, 0))
  }
}
