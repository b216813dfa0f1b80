package graft.search

import graft.{JobCounter, TestSpark}
import graft.core.{CorpusDoc, Hit, IndexConfig}
import graft.corpus.CorpusGen
import graft.index.IndexStore
import org.apache.spark.sql.{DataFrame, ReferenceFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Try

/** The frame `search` returns answers its row-reading actions from the hits
  * already on the driver. Each such action returns exactly what Spark
  * returns for the frame's plan, runs no job and posts no SQL execution;
  * transformations over the frame still run through Spark and stay exact
  * to [[OracleScorer]]. Both sides of the `driverWandMaxBytes` gate. */
class ResultFrameSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
  private lazy val docs: Seq[CorpusDoc] = CorpusGen.generate(spark, 240, seed = 23, numRepos = 12).collect().toSeq

  private val driverCfg = IndexConfig(shardSpan = 32, fields = Seq("content"))
  private val distCfg = driverCfg.copy(driverWandMaxBytes = 0)

  private lazy val engines: Seq[(String, SearchEngine)] = Seq("driver" -> driverCfg, "distributed" -> distCfg).map {
    case (name, c) =>
      val st = new IndexStore(spark, TestSpark.tempDir(s"frame-$name"), c)
      docs.grouped(120).foreach(b => st.createSegment(spark.createDataset(b)))
      name -> new SearchEngine(st)
  }

  /** (query, mode, beginsWith, k) with an oracle. */
  private val scored = Seq(("import class", SearchMode.Or, false, 10), ("import the", SearchMode.And, false, 10),
    ("import class scala", SearchMode.Wand, false, 10), ("im cla", SearchMode.Or, true, 10),
    ("import class", SearchMode.Or, false, 1), ("zzqqxv", SearchMode.Or, false, 10))

  private def search(eng: SearchEngine, q: String, mode: SearchMode, bw: Boolean, k: Int): DataFrame =
    eng.search(q, Seq("content"), bw, k, mode)

  private def oracle(q: String, mode: SearchMode, bw: Boolean, k: Int): Seq[Hit] =
    OracleScorer.search(docs, q, Seq("content"), bw, k, andSemantics = mode == SearchMode.And)

  /** Every action the frame answers itself, and those that reach it
    * through `head(n)`. */
  private val actions: Seq[(String, DataFrame => Any)] = Seq(
    "collect" -> (_.collect()), "collectAsList" -> (_.collectAsList()),
    "toLocalIterator" -> (_.toLocalIterator()), "head(0)" -> (_.head(0)), "head(3)" -> (_.head(3)),
    "head(100)" -> (_.head(100)), "head()" -> (_.head()), "first" -> (_.first()),
    "take(2)" -> (_.take(2)), "takeAsList(2)" -> (_.takeAsList(2)), "tail(0)" -> (_.tail(0)),
    "tail(3)" -> (_.tail(3)), "tail(100)" -> (_.tail(100)), "count" -> (_.count()),
    "isEmpty" -> (_.isEmpty))

  /** Rows with their schemas (Row equality ignores the schema), Java
    * collections as Scala ones, a failure as its exception class. */
  private def norm(v: Try[Any]): Any = {
    def go(x: Any): Any = x match {
      case a: Array[_] => a.toSeq.map(go)
      case l: java.util.List[_] => l.asScala.toSeq.map(go)
      case i: java.util.Iterator[_] => i.asScala.toSeq.map(go)
      case r: Row => (r, r.schema)
      case o => o
    }
    v.fold(_.getClass, go)
  }

  private def assertSameActions(frame: DataFrame, what: String): Unit = {
    val ref = ReferenceFrame.ofRows(frame)
    assert(frame.schema == ref.schema, what)
    (actions ++ Seq[(String, DataFrame => Any)]("head(-1)" -> (_.head(-1)), "tail(-1)" -> (_.tail(-1))))
      .foreach { case (name, act) =>
        val (got, exp) = (norm(Try(act(frame))), norm(Try(act(ref))))
        assert(got == exp, s"$what: $name\n got=$got\n exp=$exp")
      }
    val (_, c) = JobCounter(spark)(actions.foreach { case (_, act) => Try(act(frame)) })
    assert(c == JobCounter.Counts(0, 0), s"$what: the frame's own actions ran $c")
  }

  test("every row action equals Spark's on the frame's plan: Or/And/Wand/prefix/fuzzy, empty, k = 1") {
    engines.foreach { case (path, eng) =>
      scored.foreach { case (q, mode, bw, k) =>
        assertSameActions(search(eng, q, mode, bw, k), s"$path [$q] $mode bw=$bw k=$k")
      }
      Seq(("ipmort", 10), ("clas", 1)).foreach { case (q, k) =>
        val frame = eng.searchFuzzy(q, Seq("content"), k)
        assert(frame.count() > 0, s"$path fuzzy [$q] must hit")
        assertSameActions(frame, s"$path fuzzy [$q] k=$k")
      }
    }
  }

  test("rows by name and position, as[Hit], filter and searchDocs are exact to the oracle") {
    val byId = docs.map(d => d.doc_id -> d.content).toMap
    engines.foreach { case (path, eng) =>
      scored.foreach { case (q, mode, bw, k) =>
        val what = s"$path [$q] $mode bw=$bw k=$k"
        val exp = oracle(q, mode, bw, k)
        assert(if (q == "zzqqxv") exp.isEmpty else exp.nonEmpty && exp.size <= k, what)
        val frame = search(eng, q, mode, bw, k)
        val rows = frame.collect().toSeq
        assert(rows.map(r => Hit(r.getAs[Long]("doc_id"), r.getAs[Double]("score"))) == exp, what)
        assert(rows.map(r => Hit(r.getLong(0), r.getDouble(1))) == exp, what)
        assert(frame.as[Hit].collect().toSeq == exp, what)
        val cut = exp.lastOption.fold(0.0)(_.score)
        val (kept, c) = JobCounter(spark)(frame.filter($"score" > cut).as[Hit].collect().toSeq)
        assert(kept == exp.filter(_.score > cut), what)
        assert(c.sqlExecutions == 1, s"$what: a filter is a Spark execution, ran $c")
        val hydrated = eng.searchDocs(q, Seq("content"), bw, k, mode).collect().toSeq
        assert(hydrated.map(r => Hit(r.getAs[Long]("doc_id"), r.getAs[Double]("score"))) == exp, what)
        hydrated.foreach(r => assert(r.getAs[String]("content") == byId(r.getAs[Long]("doc_id")), what))
      }
    }
  }

  test("a warm read's collect: driver path 0 jobs, distributed 1 job of 1 stage; no SQL execution") {
    val expected = Map("driver" -> JobCounter.Counts(0, 0), "distributed" -> JobCounter.Counts(1, 1, partitions))
    engines.foreach { case (path, eng) =>
      scored.filter(_._1 != "zzqqxv").foreach { case (q, mode, bw, k) =>
        val warm = search(eng, q, mode, bw, k).collect().toSeq
        val (again, c) = JobCounter(spark)(search(eng, q, mode, bw, k).collect().toSeq)
        assert(again == warm)
        assert(c == expected(path), s"$path [$q] $mode bw=$bw k=$k ran $c")
      }
    }
  }

  test("JobCounter counts the SQL executions of Dataset actions") {
    val (_, c) = JobCounter(spark)(spark.range(3).collect())
    assert(c.sqlExecutions == 1, c.toString)
    val (_, none) = JobCounter(spark)(spark.sparkContext.parallelize(1 to 3, 1).count())
    assert(none.sqlExecutions == 0 && none.jobs == 1, none.toString)
  }
}
