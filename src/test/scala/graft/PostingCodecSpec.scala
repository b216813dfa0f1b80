package graft

import graft.analysis.Analyzer
import graft.index.{IndexBuilder, PostingCodec}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class PostingCodecSpec extends AnyFunSuite {

  private val postingsGen: Gen[Array[(Long, Int, Int)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 1L << 40),
      Gen.chooseNum(1, 500), Gen.chooseNum(1, 5000)))
      .map(_.groupBy(_._1).map(_._2.head).toArray.sortBy(_._1))

  test("decode(encode(xs)) == xs (property)") {
    PropCheck.forAllG(postingsGen) { ps =>
      val (blocks, blob) = PostingCodec.encode(ps)
      assert(PostingCodec.decodeAll(blob).toSeq == ps.toSeq)
      val metas = PostingCodec.decodeBlocks(blocks)
      assert(metas.map(_.count).sum == ps.length)
      if (ps.nonEmpty) {
        assert(metas.head.firstDocId == ps.head._1)
        assert(metas.last.lastDocId == ps.last._1)
        // block invariants: maxTf / minDl dominate members
        var idx = 0
        metas.foreach { m =>
          val members = ps.slice(idx, idx + m.count)
          assert(members.forall(_._2 <= m.maxTf))
          assert(members.forall(_._3 >= m.minDl))
          idx += m.count
        }
      }
    }
  }

  test("cursor full iteration equals decodeAll") {
    PropCheck.forAllG(postingsGen) { ps =>
      val (blocks, blob) = PostingCodec.encode(ps)
      val cur = new PostingCodec.Cursor(blob, PostingCodec.decodeBlocks(blocks))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
      while (cur.next()) out += ((cur.docId, cur.tf, cur.dl))
      assert(out.toSeq == ps.toSeq)
    }
  }

  test("cursor advanceTo lands on first docId >= target") {
    PropCheck.forAllG2(postingsGen.suchThat(_.length > 2), Gen.chooseNum(0L, 1L << 40)) {
      (ps, target) =>
        val (blocks, blob) = PostingCodec.encode(ps)
        val cur = new PostingCodec.Cursor(blob, PostingCodec.decodeBlocks(blocks))
        cur.next()
        val expected = ps.find(_._1 >= target)
        val ok = cur.advanceTo(target)
        expected match {
          case Some((d, tf, dl)) =>
            assert(ok && cur.docId == d && cur.tf == tf && cur.dl == dl)
          case None => assert(!ok && cur.isExhausted)
        }
    }
  }

  test("blockFor finds containing block or proves absence") {
    val ps = (0 until 1000).map(i => (i * 3L, 1 + i % 7, 100 + i % 50)).toArray
    val (blocks, blob) = PostingCodec.encode(ps)
    val metas = PostingCodec.decodeBlocks(blocks)
    val cur = new PostingCodec.Cursor(blob, metas)
    cur.next()
    assert(cur.blockFor(300L).exists(m => m.firstDocId <= 300 && m.lastDocId >= 300))
    assert(cur.blockFor(3L * 999).isDefined)
    assert(cur.blockFor(3L * 1000 + 5).isEmpty) // beyond last
  }

  test("encodeShardsNarrow: every (field, term, shard) row equals a driver-side PostingCodec.encode") {
    val spark = TestSpark.spark
    val fields = Seq("path", "content", "repo") // out of sorted order: exercises fidx -> name
    val span = 16L
    val corpus = graft.corpus.CorpusGen.generate(spark, 60, seed = 41)
    def key(r: (String, String, Long, Long, Long, Int, Seq[Byte], Seq[Byte])) = (r._1, r._2, r._3)
    val got = IndexBuilder.encodeShardsNarrow(IndexBuilder.postingsNarrow(corpus, fields), span,
        fields.sorted.toArray)
      .collect().map(r => (r.getAs[String]("field"), r.getAs[String]("term"),
        r.getAs[Long]("shard"), r.getAs[Long]("count"), r.getAs[Long]("sum_tf"),
        r.getAs[Int]("max_tf"), r.getAs[Array[Byte]]("blocks").toSeq,
        r.getAs[Array[Byte]]("blob").toSeq)).sortBy(key).toSeq
    val expected = (for {
      d <- corpus.collect().toSeq
      f <- fields
      text = graft.core.CorpusDoc.fieldValue(d, f)
      dl = Analyzer.tokenize(text).length
      (t, tf) <- Analyzer.termFrequencies(text)
    } yield ((f, t, d.doc_id / span), (d.doc_id, tf, dl)))
      .groupMap(_._1)(_._2).toSeq.map { case ((f, t, shard), ps) =>
        val sorted = ps.sortBy(_._1).toArray
        val (blocks, blob) = PostingCodec.encode(sorted)
        (f, t, shard, sorted.length.toLong, sorted.map(_._2.toLong).sum, sorted.map(_._2).max,
          blocks.toSeq, blob.toSeq)
      }.sortBy(key)
    assert(got.map(_._1).distinct.sorted == fields.sorted)
    assert(got.size == expected.size)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"shard row ${key(g)}") }
  }

  test("varint round-trips boundary values") {
    val vals = Seq(0L, 1L, 127L, 128L, 300L, 16383L, 16384L, Long.MaxValue)
    val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    vals.foreach(v => PostingCodec.writeVarint(buf, v))
    val arr = buf.toArray
    val pos = Array(0)
    vals.foreach(v => assert(PostingCodec.readVarint(arr, pos) == v))
    assert(pos(0) == arr.length)
  }
}
