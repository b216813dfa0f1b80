package graft

import graft.core._
import graft.corpus.CorpusGen
import graft.index.{IndexStore, PostingCodec}
import graft.search.{OracleScorer, SearchEngine, SearchMode}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** The packed posting format end to end: the codec over list sizes and
  * value widths at their bounds, the format marker that refuses older
  * stores, and `Cli stats`. */
class PostingFormatSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Span = 512L
  private val Sizes = Seq(0, 1, 2, 127, 128, 129, 1000)

  /** `n` docId-sorted postings with gaps in [1, Span], tf in [1, Int.MaxValue]
    * and dl in [0, Int.MaxValue], often at their bounds; `flat` lists keep
    * gap 1, tf 1 and one dl throughout, so every block packs at width 0. */
  private def listGen(n: Int, flat: Boolean): Gen[Array[(Long, Int, Int)]] = {
    def edge[T](lo: T, hi: T, mid: Gen[T], small: Gen[T]): Gen[T] =
      Gen.frequency(1 -> Gen.const(lo), 1 -> Gen.const(hi), 2 -> mid, 1 -> small)
    val gap = if (flat) Gen.const(1L) else edge(1L, Span, Gen.chooseNum(1L, Span), Gen.chooseNum(1L, 3L))
    val tf = if (flat) Gen.const(1) else edge(1, Int.MaxValue, Gen.chooseNum(1, Int.MaxValue), Gen.chooseNum(1, 8))
    for {
      start <- Gen.chooseNum(0L, 1L << 40)
      flatDl <- edge(0, Int.MaxValue, Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(0, 300))
      dl = if (flat) Gen.const(flatDl) else edge(0, Int.MaxValue, Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(0, 300))
      gaps <- Gen.listOfN(n, gap)
      tfs <- Gen.listOfN(n, tf)
      dls <- Gen.listOfN(n, dl)
    } yield gaps.scanLeft(start)(_ + _).tail.lazyZip(tfs).lazyZip(dls).map((d, t, l) => (d, t, l)).toArray
  }

  /** Every reader of the encoded `ps` returns `ps`, and every block's
    * metadata bounds its postings. */
  private def checkCodec(ps: Array[(Long, Int, Int)]): Unit = {
    val want = ps.toSeq
    val (blocks, blob) = PostingCodec.encode(ps)
    val metas = PostingCodec.decodeBlocks(blocks)
    assert(PostingCodec.decodeAll(blob).toSeq == want)
    Seq(new PostingCodec.Cursor(blob), new PostingCodec.Cursor(blob, metas)).foreach { c =>
      val out = ArrayBuffer.empty[(Long, Int, Int)]
      while (c.next()) out += ((c.docId, c.tf, c.dl))
      assert(out.toSeq == want)
      assert(!c.next() && c.isExhausted)
    }
    assert(PostingCodec.postingCount(blocks) == ps.length)
    var at = 0
    metas.foreach { m =>
      val members = ps.slice(at, at + m.count)
      assert(m.count == math.min(PostingCodec.BlockSize, ps.length - at))
      assert(m.firstDocId == members.head._1 && m.lastDocId == members.last._1)
      assert(m.maxTf == members.map(_._2).max && m.minDl == members.map(_._3).min)
      at += m.count
    }
    assert(at == ps.length)
    // advanceTo at every target: each docId and both neighbours, from a
    // fresh cursor and along one cursor
    val docs = ps.map(_._1)
    val targets = (docs.flatMap(d => Seq(d - 1, d, d + 1)) ++ Seq(0L, Long.MaxValue))
      .filter(_ >= 0).distinct.sorted
    val along = new PostingCodec.Cursor(blob, metas)
    targets.foreach { t =>
      val i = java.util.Arrays.binarySearch(docs, t) match { case j if j >= 0 => j; case j => -j - 1 }
      Seq(new PostingCodec.Cursor(blob, metas), along).foreach { c =>
        val ok = c.advanceTo(t)
        if (i < ps.length) {
          val (d, tf, dl) = ps(i)
          assert(ok && c.docId == d && c.tf == tf && c.dl == dl, s"advanceTo($t)")
        } else assert(!ok && c.isExhausted, s"advanceTo($t) past the end")
      }
    }
  }

  test("codec: every reader returns the input at list sizes 0-1000 and widths 0-62, and block meta bounds it") {
    val lists = ArrayBuffer.empty[Array[(Long, Int, Int)]]
    for (n <- Sizes; flat <- Seq(false, true))
      PropCheck.forAllG(listGen(n, flat), n = if (flat) 2 else 4) { ps => checkCodec(ps); lists += ps }
    // gaps past 56 bits take the wide unpacking path
    val wide = Array((0L, 1, 0), (1L << 62, 2, 5), ((1L << 62) + 1, 3, 7), (Long.MaxValue - 1, Int.MaxValue, Int.MaxValue))
    checkCodec(wide)
    lists += wide
    // posting_explode, as a Column function and in SQL
    val blobs = lists.zipWithIndex.map { case (ps, i) => (i, PostingCodec.encode(ps)._2) }.toSeq.toDF("id", "blob")
    def byId(rows: Array[org.apache.spark.sql.Row]): Map[Int, Seq[(Long, Int, Int)]] =
      rows.toSeq.groupMap(_.getInt(0))(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    val viaCol = byId(blobs.select($"id", graft.functions.GraftFunctions.posting_explode($"blob")).collect())
    graft.functions.GraftFunctions.register(spark)
    blobs.createOrReplaceTempView("format_blobs")
    val viaSql = byId(spark.sql("SELECT id, posting_explode(blob) AS (doc_id, tf, dl) FROM format_blobs").collect())
    lists.zipWithIndex.foreach { case (ps, i) =>
      assert(viaCol.getOrElse(i, Nil) == ps.toSeq, s"posting_explode column, list $i")
      assert(viaSql.getOrElse(i, Nil) == ps.toSeq, s"posting_explode SQL, list $i")
    }
  }

  /** The delta+varint blobs and blocks that stores held before the posting
    * format was recorded. */
  private def legacyEncode(ps: Array[(Long, Int, Int)]): (Array[Byte], Array[Byte]) = {
    val blob = ArrayBuffer.empty[Byte]
    val blocks = ArrayBuffer.empty[Byte]
    var prev = 0L
    var prevFirst = 0L
    var prevOffset = 0
    ps.grouped(PostingCodec.BlockSize).foreach { b =>
      val offset = blob.length
      b.foreach { case (d, tf, dl) =>
        Seq(d - prev, tf.toLong, dl.toLong).foreach(PostingCodec.writeVarint(blob, _))
        prev = d
      }
      Seq(b.head._1 - prevFirst, b.last._1 - b.head._1, b.map(_._2).max.toLong, b.map(_._3).min.toLong,
        (offset - prevOffset).toLong, b.length.toLong).foreach(PostingCodec.writeVarint(blocks, _))
      prevFirst = b.head._1
      prevOffset = offset
    }
    (blocks.toArray, blob.toArray)
  }

  private def rewrite(path: String)(edit: String => String): Unit = {
    val f = java.nio.file.Paths.get(path)
    java.nio.file.Files.writeString(f, edit(java.nio.file.Files.readString(f)))
    java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    ()
  }

  private def unmarkFormat(text: String): String =
    text.replace(s""","postingFormat":"${PostingCodec.Format}"""", "")
      .replace(s""""format":"${PostingCodec.Format}",""", "")

  test("a store of the older varint blobs is refused, naming compact(), and is oracle-exact after compact()") {
    val cfg = IndexConfig(shardSpan = 32)
    val docs = CorpusGen.generate(spark, 90, seed = 53).collect().toSeq
    val dir = TestSpark.tempDir("old-format")
    new IndexStore(spark, dir, cfg).createSegment(spark.createDataset(docs.take(70)))
    // turn it into a store as the varint codec wrote it
    val postingsDir = s"$dir/seg-0/postings"
    val legacy = spark.read.parquet(postingsDir).as[PostingShard].collect().map { r =>
      val (blocks, blob) = legacyEncode(PostingCodec.decodeAll(r.blob))
      r.copy(blocks = blocks, blob = blob)
    }
    spark.createDataset(legacy.toSeq).write.mode("overwrite").parquet(postingsDir)
    rewrite(s"$dir/manifest.json")(unmarkFormat)
    rewrite(s"$dir/seg-0/_checkpoints/postings.json")(unmarkFormat)

    val old = IndexStore.open(spark, dir)
    assert(old.postingFormat().isEmpty)
    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("compact()"), s"$what: ${e.getMessage}")
    }
    refused("read")(new SearchEngine(old).search("import class", k = 10))
    refused("add")(old.add(spark.createDataset(docs.drop(70))))
    old.delete(docs.take(3).map(_.doc_id)) // deletes touch no postings
    old.compact()

    val live = docs.take(70).drop(3)
    val store = IndexStore.open(spark, dir)
    assert(store.postingFormat().contains(PostingCodec.Format))
    val engine = new SearchEngine(store)
    Seq(SearchMode.Or, SearchMode.Wand).foreach { mode =>
      val got = engine.search("import class", k = 10, mode = mode).collect()
        .map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
      assert(got == OracleScorer.search(live, "import class", k = 10), s"$mode after compact()")
    }
    store.add(spark.createDataset(docs.drop(70)))
    val all = engine.search("import class", k = 10).collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(all == OracleScorer.search(live ++ docs.drop(70), "import class", k = 10))
  }

  test("a resumable postings stage of the older format is refused, naming compact()") {
    val cfg = IndexConfig(shardSpan = 32)
    val docs = CorpusGen.generate(spark, 40, seed = 59)
    val dir = TestSpark.tempDir("old-stage")
    new IndexStore(spark, dir, cfg).createSegment(docs)
    // an uncommitted segment whose postings stage the varint codec wrote
    assert(new java.io.File(s"$dir/manifest.json").delete())
    rewrite(s"$dir/seg-0/_checkpoints/postings.json")(unmarkFormat)
    val e = intercept[IllegalStateException](new IndexStore(spark, dir, cfg).createSegment(docs, resume = true))
    assert(e.getMessage.contains("compact()"), e.getMessage)
  }

  test("Cli stats: each segment's stages, index bytes per corpus byte and posting format, with no Spark job") {
    val dir = TestSpark.tempDir("cli-stats")
    val store = new IndexStore(spark, dir, IndexConfig(shardSpan = 32))
    store.createSegment(CorpusGen.generate(spark, 60, seed = 61))
    store.add(CorpusGen.generate(spark, 30, seed = 67).map(d => d.copy(doc_id = d.doc_id + 1000)))
    store.delete(Seq(3L, 1004L))
    val out = new java.io.ByteArrayOutputStream()
    val (_, jobs) = JobCounter.appWide(spark)(Console.withOut(out)(Cli.run(spark, Array("stats", dir))))
    assert(jobs == 0, s"Cli stats ran $jobs Spark jobs")
    val lines = out.toString("UTF-8").linesIterator.toSeq
    for (seg <- Seq(0, 1)) {
      for (stage <- Seq("corpus", "docstats", "postings", "df", "fieldstats")) {
        val line = lines.find(_.startsWith(s"seg-$seg $stage ")).getOrElse(fail(s"no seg-$seg $stage line in $lines"))
        val rows = spark.read.parquet(s"$dir/seg-$seg/$stage").count()
        assert(line.contains(s"rows=$rows ") && line.matches(".* bytes=[1-9]\\d* files=[1-9]\\d*"), line)
      }
      assert(lines.exists(_.matches(
        s"seg-$seg index bytes per corpus byte \\d+\\.\\d{3}, posting format ${PostingCodec.Format}")), lines)
    }
    // the deletes: tombstone rows, then the df and field-stats corrections
    for (table <- Seq("tombstones", "dfdelta", "tombstats")) {
      val line = lines.find(_.startsWith(s"deletes $table ")).getOrElse(fail(s"no deletes $table line in $lines"))
      val rows = spark.read.parquet(s"$dir/$table").count()
      assert(rows > 0 && line.contains(s"rows=$rows ") && line.matches(".* bytes=[1-9]\\d* files=[1-9]\\d*"), line)
    }
  }
}
