package graft.api

import graft.api.QueryRegistry.QueryDef
import graft.corpus.Corpus
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries for the training-data pipeline operators
  * (dedup / similarity / text analysis / multimodal). The test corpora have
  * no natural duplicates (max trigram Jaccard ≈ 0.03, max cosine ≈ 0.44),
  * so dup queries run over a derived corpus with deterministically injected
  * duplicates — the derivation is expressed identically in the Spark plan
  * and the DuckDB oracle SQL. */
object PipelineQueries {

  // ---------- derived corpora (Spark + SQL twins) ----------

  /** documents ∪ exact copies of every 10th doc (ids +100000). */
  private def exactDupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Corpus.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }
  private val exactDupSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** documents ∪ near-copies (two appended tokens) of every 10th doc. */
  private def nearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Corpus.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftdup graftdup")).as("text")))
  }
  private val nearDupSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' graftdup graftdup' AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** embeddings ∪ exact copies of every 20th vector (ids +100000). */
  private def dupEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Corpus.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    e.unionByName(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }
  private val dupEmbSql =
    """SELECT vec_id, embedding FROM embeddings
      |UNION ALL SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0""".stripMargin

  /** Shared corpora of the decontamination queries: (train = documents,
    * bench = first-12-token snippets of every 25th doc, ids +500000). */
  private def decontCorpora(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Corpus.documents(s, dir).select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat_ws(" ", slice(graft.analysis.Analyzer.tokens(col("text")),
          1, 12)).as("text"))
    (docs, bench)
  }

  /** Per-sf-dir memo for the contract's derived artifacts (stores, IVF
    * indexes, report frames). `TrieMap.getOrElseUpdate` may evaluate a
    * racing thunk twice, and everything memoized here is expensive (index
    * build + full sweep) or pins executor storage (eagerly materialized
    * checkpoint frames with no owner to unpersist a duplicate) — so first
    * builds are serialized under the instance lock while the built fast
    * path stays lock-free. One instance per artifact: the race-avoidance
    * argument lives here, not re-proven per copied boilerplate. */
  private final class Memo[T] {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, T]
    def apply(dir: String)(build: => T): T =
      cache.get(dir).getOrElse(synchronized(cache.getOrElseUpdate(dir, build)))
  }

  /** One decontamination report per sf dir: pairs AND coverage from a
    * single scan of each corpus ([[Dedup.contaminationReport]]) — both
    * driver queries consume the same materialized shingle frames, which is
    * exactly the 1-scan API shape the operator promises. */
  private val decontCache = new Memo[(DataFrame, DataFrame)]
  private def decontReport(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    decontCache(dir) {
      val (docs, bench) = decontCorpora(s, dir)
      Dedup.contaminationReport(docs, bench, minContainment = 0.8)
    }

  /** One PERSISTED-table decontamination report per sf dir, like
    * [[decontReport]]: `contaminationReportPersisted` eagerly pins its
    * bench-token frame (`localCheckpoint`) with no owner to unpersist and
    * probes/ensures the shared contract store's shingle stage markers —
    * re-running it per evaluation would leak one pinned RDD per call and
    * repeat the metadata pass for an identical result. */
  private val decontPersistedCache = new Memo[DataFrame]
  private def decontPersistedPairs(s: SparkSession, dir: String): DataFrame =
    decontPersistedCache(dir) {
      val (_, bench) = decontCorpora(s, dir)
      Dedup.contaminationReportPersisted(
        QueryRegistry.engineFor(s, dir).store, bench, minContainment = 0.8)._1
    }

  /** Shared CTE chain of the decontamination oracles: derived bench corpus
    * → per-side shingles (tsh0/bsh0 raw, tsh/bsh union-df-capped). */
  private val decontCtes: String = {
    val cap = Dedup.DefaultMaxShingleDf
    s"""bench AS (
       |  SELECT doc_id + 500000 AS doc_id,
       |    array_to_string((list_filter(string_split(lower(text), ' '), x -> x <> ''))[1:12], ' ') AS text
       |  FROM documents WHERE doc_id % 25 = 0),
       |ttoks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts FROM documents),
       |btoks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts FROM bench),
       |tidx AS (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
       |         FROM ttoks WHERE len(ts) >= 3),
       |bidx AS (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
       |         FROM btoks WHERE len(ts) >= 3),
       |tsh0 AS (SELECT DISTINCT doc_id AS train_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s FROM tidx),
       |bsh0 AS (SELECT DISTINCT doc_id AS bench_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s FROM bidx),
       |hot AS (SELECT s FROM (SELECT s FROM tsh0 UNION ALL SELECT s FROM bsh0)
       |        GROUP BY s HAVING count(*) > $cap),
       |tsh AS (SELECT train_id, s FROM tsh0 WHERE s NOT IN (SELECT s FROM hot)),
       |bsh AS (SELECT bench_id, s FROM bsh0 WHERE s NOT IN (SELECT s FROM hot))""".stripMargin
  }

  /** SQL twin of the tokenizer over a derived docs relation. */
  private def toksCte(docs: String): String =
    s"""WITH docs AS ($docs),
       |toks AS (
       |  SELECT doc_id, lower(t) AS term
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs)
       |  WHERE t <> ''
       |)""".stripMargin

  /** Shared CTE chain: tokenize → capped shingles (DefaultMaxShingleDf, so
    * the oracle stays a true twin on ANY corpus; cap <= 0 skips the filter
    * — the uncapped per-doc semantics of the persisted signature index) →
    * pairwise Jaccard ≥ minJ as relation `p$sfx(id_a, id_b, jaccard)`.
    * `sfx` suffixes EVERY CTE name: two of these blocks nested in one
    * statement (the two-phase incremental-sweep oracle) must not share
    * names — DuckDB resolves colliding nested recursive CTE names across
    * scopes and silently computes the wrong closure (observed: phase-2
    * victims absorbing phase-1's). */
  private def jaccardCtes(docs: String, minJ: Double,
                          maxShingleDf: Long = Dedup.DefaultMaxShingleDf,
                          sfx: String = ""): String = {
    val shCte =
      if (maxShingleDf <= 0) s"sh$sfx AS (SELECT doc_id, s FROM sh0$sfx)"
      else s"""sh$sfx AS (SELECT doc_id, s FROM sh0$sfx WHERE s NOT IN (
              |         SELECT s FROM sh0$sfx GROUP BY s HAVING count(*) > $maxShingleDf))""".stripMargin
    s"""docs$sfx AS ($docs),
       |t$sfx AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS ts FROM docs$sfx),
       |idx$sfx AS (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
       |        FROM t$sfx WHERE len(ts) >= 3),
       |sh0$sfx AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s FROM idx$sfx),
       |$shCte,
       |sz$sfx AS (SELECT doc_id, count(*) AS n FROM sh$sfx GROUP BY doc_id),
       |inter$sfx AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |          FROM sh$sfx a JOIN sh$sfx b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |p$sfx AS (SELECT id_a, id_b, c * 1.0 / (x.n + y.n - c) AS jaccard
       |      FROM inter$sfx JOIN sz$sfx x ON id_a = x.doc_id JOIN sz$sfx y ON id_b = y.doc_id
       |      WHERE c * 1.0 / (x.n + y.n - c) >= $minJ)""".stripMargin
  }

  /** SQL twin of Dedup.ngramJaccardPairs. */
  private def jaccardSql(docs: String, minJ: Double): String =
    s"""WITH ${jaccardCtes(docs, minJ)}
       |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM p
       |ORDER BY id_a, id_b""".stripMargin

  /** The connected-components closure CTEs over a pair relation
    * `pairsRel(id_a, id_b)` — ONE definition for every oracle that
    * clusters pairs (`edges$sfx` both directions → `reach$sfx` transitive
    * closure → `victims$sfx` non-keepers, keeper = component min). */
  private def closureCtes(pairsRel: String, sfx: String = ""): String =
    s"""edges$sfx AS (SELECT id_a AS src, id_b AS dst FROM $pairsRel
       |          UNION SELECT id_b, id_a FROM $pairsRel),
       |reach$sfx AS (SELECT DISTINCT src AS id, src AS root FROM edges$sfx
       |          UNION
       |          SELECT e.dst, r.root FROM reach$sfx r JOIN edges$sfx e ON e.src = r.id),
       |victims$sfx AS (SELECT id FROM (SELECT id, min(root) AS keep FROM reach$sfx GROUP BY id)
       |            WHERE id <> keep)""".stripMargin

  /** SQL twin of Dedup.dupGroups over the Jaccard pairs: connected
    * components via recursive transitive closure, keep_id = component min. */
  private def groupsSql(docs: String, minJ: Double): String =
    s"""WITH RECURSIVE ${jaccardCtes(docs, minJ)},
       |${closureCtes("p")}
       |SELECT id AS doc_id, min(root) AS keep_id FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin

  /** DuckDB twin of Dedup.simHashes + brute-force Hamming pairing. The Spark
    * side's block-bucket join has guaranteed recall (pigeonhole), so its
    * result set equals this exhaustive scan exactly. */
  private def simhashSql(docs: String, maxDist: Int): String = {
    import graft.functions.PortableHash
    val bits = Dedup.SimHashBits
    val votes = (0 until bits)
      .map(i => s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN tf ELSE -tf END) AS v$i")
      .mkString(", ")
    val assemble = (0 until bits)
      .map(i => s"CASE WHEN v$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""WITH docs AS ($docs),
       |toks AS (
       |  SELECT doc_id, lower(t) AS term
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs)
       |  WHERE t <> ''
       |),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |th AS (SELECT doc_id, tf,
       |       ${PortableHash.sql("term", 1L)} | (${PortableHash.sql("term", 2L)} << 31) AS th
       |       FROM tf),
       |votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |sh AS (SELECT doc_id, $assemble AS simhash FROM votes)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of TextAnalysis.fingerprints (winnowing over the portable
    * hash), summarized by scalar aggregates of the fingerprint set. */
  private def fingerprintsSql(docs: String, k: Int, w: Int): String = {
    import graft.functions.PortableHash
    val shingle = (0 until k).map(j => s"ts[i+$j]").mkString(" || ' ' || ")
    s"""WITH docs AS ($docs),
       |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts FROM docs),
       |idx AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - ${k - 1})) AS i
       |        FROM t WHERE len(ts) >= $k),
       |hs AS (SELECT doc_id, list(${PortableHash.sql(shingle, TextAnalysis.FingerprintSeed)} ORDER BY i) AS hl
       |       FROM idx GROUP BY doc_id),
       |fps AS (SELECT doc_id,
       |        CASE WHEN len(hl) <= $w THEN [list_min(hl)]
       |             ELSE list_distinct([list_min(hl[j:j+${w - 1}])
       |                                 FOR j IN generate_series(1, len(hl) - ${w - 1})])
       |        END AS fp
       |        FROM hs)
       |SELECT doc_id, len(fp)::BIGINT AS n_fingerprints,
       |       list_min(fp) AS fp_min, list_max(fp) AS fp_max,
       |       list_sum(fp)::BIGINT AS fp_sum
       |FROM fps ORDER BY doc_id""".stripMargin
  }

  /** One store per sf dir, built from the near-dup derived corpus and swept
    * with [[Dedup.sweepIndex]] (LSH pairs → groups → distributed bulk
    * delete) — the end-to-end dedup-maintains-the-index pipeline. */
  private val sweepCache = new Memo[graft.index.IndexStore]
  private def sweptStore(s: SparkSession, dir: String): graft.index.IndexStore =
    sweepCache(dir) {
      val corpus = toCorpus(s, nearDupDocs(s, dir))
      val store = new graft.index.IndexStore(s,
        java.nio.file.Files.createTempDirectory("graft-sweep").toString,
        graft.core.IndexConfig(shardSpan = 256, fields = Seq("content")))
      store.createSegment(corpus)
      Dedup.sweepIndex(store, minJaccard = 0.5)
      store
    }

  /** SQL block computing the post-sweep SURVIVORS of `docs`: every doc
    * except the non-keeper members of each connected Jaccard-≥-minJ
    * component. `selectCols` picks the survivor columns, so the block can
    * terminate a query ("doc_id") or feed a later phase ("doc_id, text"). */
  private def survivorsSelect(docs: String, minJ: Double, maxShingleDf: Long,
                              selectCols: String, sfx: String = ""): String =
    s"""WITH RECURSIVE ${jaccardCtes(docs, minJ, maxShingleDf, sfx)},
       |${closureCtes(s"p$sfx", sfx)}
       |SELECT $selectCols FROM docs$sfx WHERE doc_id NOT IN (SELECT id FROM victims$sfx)""".stripMargin

  /** SQL twin of the post-sweep live corpus. */
  private def sweepSql(docs: String, minJ: Double): String =
    s"""${survivorsSelect(docs, minJ, Dedup.DefaultMaxShingleDf, "doc_id")}
       |ORDER BY doc_id""".stripMargin

  /** SQL twin of the TWO-PHASE incremental sweep: survivors of corpus 1
    * (docs ∪ dup1), unioned with the second dup wave, swept again —
    * nested WITH RECURSIVE blocks (phase-suffixed CTE names, see
    * [[jaccardCtes]]), phase 2 reading phase 1's survivors. Cap 0 in both
    * phases: the persisted signature index uses uncapped per-doc shingle
    * semantics. */
  private def sweepIncrementalSql(minJ: Double): String =
    s"""WITH live1 AS (
       |${survivorsSelect(nearDupSql, minJ, 0, "doc_id, text", sfx = "_p1")}
       |),
       |corpus2 AS (SELECT doc_id, text FROM live1
       |  UNION ALL
       |  SELECT doc_id + 200000 AS doc_id, text || ' graftdup2 graftdup2' AS text
       |  FROM documents WHERE doc_id % 20 = 0),
       |live2 AS (
       |${survivorsSelect("SELECT doc_id, text FROM corpus2", minJ, 0, "doc_id", sfx = "_p2")}
       |)
       |SELECT doc_id FROM live2 ORDER BY doc_id""".stripMargin

  /** One PERSISTED IVF index per sf dir (built once into a temp dir, then
    * re-opened from disk): the recall gate exercises the stored quantizer
    * + cell tables, not a per-call k-means fit. */
  private val ivfCache = new Memo[IvfIndex]
  private def ivfIndexFor(s: SparkSession, dir: String): IvfIndex =
    ivfCache(dir)(IvfIndex.build(Corpus.embeddings(s, dir),
      java.nio.file.Files.createTempDirectory("graft-ivf").toString,
      nLists = 16, seed = 42L))

  /** One INCREMENTALLY-GROWN persisted IVF index per sf dir: the quantizer
    * is trained on 80% of the corpus (`vec_id % 5 != 3`), then the held-out
    * 20% wave is `add()`ed against the FROZEN centroids — the maintenance
    * path a growing vector corpus exercises. The recall gate then queries
    * the grown index against brute force over the FULL corpus, bounding
    * frozen-quantizer drift with a red row (measured: recall 0.90 / 1.00 /
    * 0.875 at sf0.001/0.01/0.1, 80% train / 20% add split). */
  private val ivfAddCache = new Memo[IvfIndex]
  private def ivfAddIndexFor(s: SparkSession, dir: String): IvfIndex =
    ivfAddCache(dir) {
      val emb = Corpus.embeddings(s, dir)
      val idx = IvfIndex.build(emb.filter(col("vec_id") % 5 =!= 3),
        java.nio.file.Files.createTempDirectory("graft-ivfadd").toString,
        nLists = 16, seed = 42L)
      idx.add(emb.filter(col("vec_id") % 5 === 3)
        .select(col("vec_id"), col("embedding")))
      idx
    }

  /** DuckDB expression replaying [[TextAnalysis.BpeMerges]] in rank order
    * over a pre-token column `t` (wrapped-symbol replace encoding — the
    * exact twin of [[TextAnalysis.bpeSymbolCount]]'s state string). */
  private val bpeMergedSqlExpr: String =
    TextAnalysis.BpeMerges.foldLeft(
      """regexp_replace(t, '(.)', ' \1 ', 'g')""") { case (s, (a, b)) =>
      s"replace($s, ' $a  $b ', ' $a$b ')"
    }

  /** The BPE-count oracle CTE trio over the documents table, alias-prefixed
    * so q_token_counts_bpe and q_curate share ONE definition: `<p>pre`
    * (unnested pre-tokens), `<p>m` (merged symbol strings), `<p>cnt`
    * (per-doc `n_bpe`). */
  private def bpeCtes(p: String): String =
    s"""${p}pre AS (SELECT doc_id, unnest(regexp_extract_all(text,
       |        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS t FROM documents),
       |${p}m AS (SELECT doc_id, $bpeMergedSqlExpr AS s FROM ${p}pre),
       |${p}cnt AS (SELECT doc_id,
       |        sum((length(s) - length(replace(s, ' ', ''))) // 2) AS n_bpe
       |        FROM ${p}m GROUP BY doc_id)""".stripMargin

  /** Documents-shaped frame → CorpusDoc columns (content = text). */
  private def toCorpus(s: SparkSession, df: DataFrame) = {
    import s.implicits._
    df.select(col("doc_id"), lit("r").as("repo"),
        concat(lit("doc/"), col("doc_id")).as("path"),
        lit("c").as("commit"), lit("en").as("lang"), col("text").as("content"))
      .as[graft.core.CorpusDoc]
  }

  /** One TWO-PHASE incrementally-swept store per sf dir: build from the
    * near-dup corpus, persisted sweep (signatures the lot, removes dup1),
    * `add()` a second dup wave, persisted sweep again — the second sweep
    * signatures ONLY the added segment and pairs it against the live
    * corpus through the stored signature table. */
  private val sweepIncCache = new Memo[graft.index.IndexStore]
  private def sweptIncStore(s: SparkSession, dir: String): graft.index.IndexStore =
    sweepIncCache(dir) {
      val store = new graft.index.IndexStore(s,
        java.nio.file.Files.createTempDirectory("graft-sweepinc").toString,
        graft.core.IndexConfig(shardSpan = 256, fields = Seq("content")))
      store.createSegment(toCorpus(s, nearDupDocs(s, dir)))
      Dedup.sweepIndexPersisted(store, minJaccard = 0.5)
      val dup2 = Corpus.documents(s, dir).filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" graftdup2 graftdup2")).as("text"))
      store.add(toCorpus(s, dup2))
      Dedup.sweepIndexPersisted(store, minJaccard = 0.5)
      store
    }

  /** One SWEPT persisted vector index per sf dir: built from the
    * dup-injected embeddings, then `IvfIndex.sweep` tombstones every
    * non-keeper of each cosine-≥-0.95 component — the vector-index
    * analogue of the text store's dedup sweep. */
  private val ivfSweepCache = new Memo[IvfIndex]
  private def sweptIvf(s: SparkSession, dir: String): IvfIndex =
    ivfSweepCache(dir) {
      val idx = IvfIndex.build(dupEmbeddings(s, dir),
        java.nio.file.Files.createTempDirectory("graft-ivfsweep").toString,
        nLists = 16, seed = 42L)
      idx.sweep(tau = 0.95, exact = true)
      idx
    }

  /** Driver-visible recall gate for an approximate ANN operator: runs the
    * ANN plan AND the exact brute-force plan over the same 8 query vectors
    * in one job, semi-joins the exact top-5 pairs against the approximate
    * ones, and emits a single row whose `recall_ok` asserts ≥ 80% recall.
    * The oracle is the constant expected row — trivially expressible, and
    * red the moment a recall regression lands. */
  private def annRecallQuery(name: String,
      ann: (SparkSession, String, DataFrame, DataFrame) => DataFrame): QueryDef =
    QueryDef(name,
      (s, dir) => {
        val emb = Corpus.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 8)
        val exact = Similarity.bruteForceTopK(q, emb, k = 5)
          .select(col("qid"), col("vec_id"))
        val approx = ann(s, dir, emb, q)
          .select(col("qid"), col("vec_id"), lit(1).as("hit"))
        // one pass over the brute-force subplan: left join + counting
        // non-null hits (the (qid, vec_id) pairs are unique on both sides)
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .agg(countDistinct(col("qid")).as("n_queries"),
            count(lit(1)).as("n_expected"),
            count(col("hit")).as("n_hits"))
          .select(col("n_queries"), col("n_expected"),
            (col("n_hits") >= col("n_expected") * 0.8).as("recall_ok"))
      },
      Some("SELECT 8::BIGINT AS n_queries, 40::BIGINT AS n_expected, true AS recall_ok"))

  // ---------- registry ----------

  def all: Seq[QueryDef] = Seq(

    QueryDef("q_dedup_exact",
      (s, dir) => Dedup.exactGroups(exactDupDocs(s, dir))
        .select(col("keep_id"), col("n_dups")).orderBy("keep_id"),
      Some(s"""WITH dup AS ($exactDupSql)
              |SELECT min(doc_id) AS keep_id, count(*) AS n_dups
              |FROM dup GROUP BY text HAVING count(*) > 1 ORDER BY keep_id""".stripMargin)),

    QueryDef("q_dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(nearDupDocs(s, dir), minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some(jaccardSql(nearDupSql, 0.5))),

    // decontamination: benchmark items (first 12 tokens of every 25th doc)
    // vs the training corpus — containment of the benchmark side, so the
    // source doc that embeds the whole item is caught at containment 1.0
    QueryDef("q_decontaminate",
      (s, dir) => decontReport(s, dir)._1
        .select(col("train_id"), col("bench_id"),
          round(col("containment"), 4).as("containment"))
        .orderBy("train_id", "bench_id"),
      Some(
        s"""WITH $decontCtes,
           |nb AS (SELECT bench_id, count(*) AS nb FROM bsh GROUP BY bench_id),
           |inter AS (SELECT train_id, bench_id, count(*) AS c
           |          FROM tsh JOIN bsh USING (s) GROUP BY 1, 2)
           |SELECT train_id, bench_id, round(c * 1.0 / nb.nb, 4) AS containment
           |FROM inter JOIN nb USING (bench_id)
           |WHERE c * 1.0 / nb.nb >= 0.8
           |ORDER BY train_id, bench_id""".stripMargin)),

    // per-benchmark-item coverage of the same sweep: items whose shingles
    // are all over the df cap (or too short to shingle) report n_usable = 0
    // — the "undetectable, don't trust its silence" signal
    QueryDef("q_decontaminate_coverage",
      (s, dir) => decontReport(s, dir)._2.orderBy("bench_id"),
      Some(
        s"""WITH $decontCtes,
           |raw AS (SELECT bench_id, count(*) AS n_shingles FROM bsh0 GROUP BY bench_id),
           |usable AS (SELECT bench_id, count(*) AS n_usable FROM bsh GROUP BY bench_id)
           |SELECT b.doc_id AS bench_id,
           |  coalesce(raw.n_shingles, 0) AS n_shingles,
           |  coalesce(usable.n_usable, 0) AS n_usable
           |FROM bench b LEFT JOIN raw ON b.doc_id = raw.bench_id
           |LEFT JOIN usable ON b.doc_id = usable.bench_id
           |ORDER BY bench_id""".stripMargin)),

    // decontamination riding the PERSISTED per-segment shingle tables of
    // the cached contract store (content == documents.text): the train
    // side reads stored (doc_id, shingle) rows — computed once per segment
    // — instead of re-shingling the corpus, and must STILL produce the
    // exact containment pairs of the from-scratch oracle
    QueryDef("q_decontaminate_persisted",
      (s, dir) => decontPersistedPairs(s, dir)
        .select(col("train_id"), col("bench_id"),
          round(col("containment"), 4).as("containment"))
        .orderBy("train_id", "bench_id"),
      Some(
        s"""WITH $decontCtes,
           |nb AS (SELECT bench_id, count(*) AS nb FROM bsh GROUP BY bench_id),
           |inter AS (SELECT train_id, bench_id, count(*) AS c
           |          FROM tsh JOIN bsh USING (s) GROUP BY 1, 2)
           |SELECT train_id, bench_id, round(c * 1.0 / nb.nb, 4) AS containment
           |FROM inter JOIN nb USING (bench_id)
           |WHERE c * 1.0 / nb.nb >= 0.8
           |ORDER BY train_id, bench_id""".stripMargin)),

    // dup-group clustering: connected components over the Jaccard pairs,
    // hash-verified against a recursive-CTE transitive closure
    QueryDef("q_dedup_groups",
      (s, dir) => Dedup.dupGroups(
          Dedup.ngramJaccardPairs(nearDupDocs(s, dir), minJaccard = 0.5))
        .orderBy("doc_id"),
      Some(groupsSql(nearDupSql, 0.5))),

    // MinHash-LSH candidates verified with exact Jaccard: with 64 hashes /
    // 16 bands the injected near-dups (J ≈ 0.97) are caught with probability
    // 1 - (1 - 0.97^4)^16 ≈ 1 - 1e-13 — deterministic seeded hashes, checked
    // equal to the exact-Jaccard oracle on the test corpora.
    QueryDef("q_dedup_minhash_lsh",
      (s, dir) => Dedup.minHashLshPairs(nearDupDocs(s, dir),
          numHashes = 64, bands = 16, minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some(jaccardSql(nearDupSql, 0.5))),

    // SimHash over the portable seeded hash family: block-bucketed pairing
    // has pigeonhole-guaranteed recall, so it equals the oracle's BRUTE-FORCE
    // all-pairs Hamming scan — a full hash verification of the operator.
    QueryDef("q_dedup_simhash",
      (s, dir) => Dedup.simHashPairs(nearDupDocs(s, dir), maxDist = 7)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      Some(simhashSql(nearDupSql, 7))),

    // the SECOND persisted signature kind: per-segment SimHash tables in
    // the store layout. The pair scan reads stored 62-bit hashes (computed
    // once per segment) and must STILL equal the oracle's brute-force
    // Hamming scan over the same corpus — reuses the cached contract store
    // (content == documents.text), so the gate costs no extra build.
    QueryDef("q_dedup_simhash_persisted",
      (s, dir) => Dedup.simHashPairsPersisted(
          QueryRegistry.engineFor(s, dir).store, maxDist = 7)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      Some(simhashSql("SELECT doc_id, text FROM documents", 7))),

    // end-to-end sweep: dedup pipeline maintaining the index via the
    // distributed bulk delete — live corpus after the sweep vs the
    // recursive-CTE computation of "every doc minus non-keeper group members"
    QueryDef("q_dedup_sweep",
      (s, dir) => sweptStore(s, dir).liveCorpus()
        .select(col("doc_id")).orderBy("doc_id"),
      Some(sweepSql(nearDupSql, 0.5))),

    // incremental sweep over the PERSISTED signature index: after the
    // two-phase build (sweep, add second dup wave, sweep again — phase 2
    // signatures only the new segment), the live corpus must equal the
    // oracle's two chained recursive-CTE sweeps
    QueryDef("q_dedup_sweep_incremental",
      (s, dir) => sweptIncStore(s, dir).liveCorpus()
        .select(col("doc_id")).orderBy("doc_id"),
      Some(sweepIncrementalSql(0.5))),

    QueryDef("q_dedup_embedding",
      (s, dir) => Similarity.embeddingDupPairs(dupEmbeddings(s, dir),
          tau = 0.95, exact = true)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH dup AS ($dupEmbSql)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
              |FROM dup a JOIN dup b ON a.vec_id < b.vec_id
              |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95
              |ORDER BY id_a, id_b""".stripMargin)),

    // the vector-index sweep: near-dup vectors (cosine >= 0.95) clustered
    // and tombstoned from the PERSISTED IVF index; surviving vec_ids must
    // equal the recursive-closure oracle over exact cosine pairs
    QueryDef("q_ann_index_sweep",
      (s, dir) => sweptIvf(s, dir).live
        .select(col("vec_id")).orderBy("vec_id"),
      Some(s"""WITH RECURSIVE dup AS ($dupEmbSql),
              |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |      FROM dup a JOIN dup b ON a.vec_id < b.vec_id
              |      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95),
              |${closureCtes("p")}
              |SELECT vec_id FROM dup WHERE vec_id NOT IN (SELECT id FROM victims)
              |ORDER BY vec_id""".stripMargin)),

    QueryDef("q_ann_brute_cosine",
      (s, dir) => {
        val emb = Corpus.embeddings(s, dir)
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, k = 5)
          .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank")
      },
      Some("""SELECT q.vec_id AS qid,
             |       row_number() OVER (PARTITION BY q.vec_id
             |         ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank,
             |       c.vec_id,
             |       round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos
             |FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
             |QUALIFY rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // Approximate ANN (IVF / LSH) cannot have a DuckDB twin (seeded k-means
    // / Gaussian hyperplanes), so the driver-visible correctness signal is
    // RECALL@5 against the in-Spark brute force: both sides run in one plan
    // and the query emits (n_queries, n_expected, recall_ok) where recall_ok
    // demands ≥ 80% of the exact top-5 sets recovered — a recall regression
    // flips the row red in CORRECTNESS. Per-pair agreement is additionally
    // asserted in PipelineSpec.
    // nProbe=8 of 16 cells: measured recall@5 = 0.825/0.90/0.925 at
    // sf0.001/0.01/0.1 — ≥ 0.8 with margin at the
    // gated sfs; nProbe=4 sat at 0.62-0.67 and failed the gate honestly.
    // The gate runs against the PERSISTED quantizer + cell tables
    // (IvfIndex.build → open), same k-means params as the probe measured.
    annRecallQuery("q_ann_ivf_recall", (s, dir, _, q) =>
      ivfIndexFor(s, dir).topK(q, k = 5, nProbe = 8)),

    // the INCREMENTAL IVF path: build on 80%, add() the held-out wave
    // against the frozen quantizer, then recall-gate the grown index vs
    // brute force over the full corpus — quantizer drift is bounded by
    // this row going red
    annRecallQuery("q_ann_ivf_add_recall", (s, dir, _, q) =>
      ivfAddIndexFor(s, dir).topK(q, k = 5, nProbe = 8)),

    annRecallQuery("q_ann_lsh_recall", (_, _, emb, q) =>
      Similarity.lshTopK(q, emb, k = 5, nBits = 16, bands = 8,
        maxBucketDf = 0)),  // 2-bit keys on a tiny gate corpus: cap disabled

    QueryDef("q_lang_id",
      (s, dir) => {
        // derived text: per-row language marker appended 5x so the stopword
        // heuristic has signal (the synthetic docs are language-agnostic)
        val marked = Corpus.documents(s, dir).select(col("doc_id"), col("lang"),
          concat(col("text"), repeat(
            when(col("lang") === "de", lit(" der die und ist"))
              .when(col("lang") === "en", lit(" the and of is"))
              .when(col("lang") === "es", lit(" el la que por"))
              .when(col("lang") === "fr", lit(" le les des une"))
              .otherwise(lit(" 的 是 了 在")), 5)).as("text"))
        TextAnalysis.langId(marked).join(
            marked.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("lang_pred"), col("best_hits"))
          .orderBy("doc_id")
      },
      Some {
        val marker = """CASE lang WHEN 'de' THEN ' der die und ist' WHEN 'en' THEN ' the and of is'
                       | WHEN 'es' THEN ' el la que por' WHEN 'fr' THEN ' le les des une'
                       | ELSE ' 的 是 了 在' END""".stripMargin.replace("\n", "")
        val sets = TextAnalysis.StopwordSets.map { case (l, ws) =>
          l -> ws.map(w => s"'$w'").mkString("(", ",", ")")
        }
        val hitCols = sets.map { case (l, inList) =>
          s"count(*) FILTER (WHERE term IN $inList) AS s_$l"
        }.mkString(", ")
        val best = sets.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val pred = sets.map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }.mkString(" ")
        s"""${toksCte(s"SELECT doc_id, lang, text || repeat($marker, 5) AS text FROM documents")},
           |hits AS (SELECT doc_id, $hitCols FROM toks GROUP BY doc_id),
           |scored AS (SELECT doc_id, $best AS best, * FROM hits)
           |SELECT s.doc_id, d.lang,
           |       CASE WHEN best = 0 THEN 'und' $pred END AS lang_pred,
           |       best AS best_hits
           |FROM scored s JOIN documents d ON s.doc_id = d.doc_id
           |ORDER BY s.doc_id""".stripMargin
      }),

    QueryDef("q_quality_features",
      (s, dir) => TextAnalysis.qualityFeatures(Corpus.documents(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("n_chars"),
          round(col("uniq_ratio"), 4).as("uniq_ratio"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"),
          round(col("nonalnum_ratio"), 4).as("nonalnum_ratio"))
        .orderBy("doc_id"),
      Some(s"""${toksCte("SELECT doc_id, text FROM documents")},
              |agg AS (SELECT doc_id, count(*) AS n_tokens,
              |               count(DISTINCT term) AS n_uniq,
              |               count(*) FILTER (WHERE term IN ('the','and','of','to','is','that','it')) AS n_stop
              |        FROM toks GROUP BY doc_id)
              |-- LEFT JOIN: a zero-token doc has no agg row but the engine
              |-- still emits it with n_tokens 0
              |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, length(d.text) AS n_chars,
              |       round(coalesce(a.n_uniq, 0) * 1.0 / greatest(coalesce(a.n_tokens, 0), 1), 4) AS uniq_ratio,
              |       round(coalesce(a.n_stop, 0) * 1.0 / greatest(coalesce(a.n_tokens, 0), 1), 4) AS stopword_ratio,
              |       round(length(regexp_replace(d.text, '[a-z0-9 ]', '', 'g')) * 1.0 / greatest(length(d.text), 1), 4) AS nonalnum_ratio
              |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("q_token_counts",
      (s, dir) => TextAnalysis.tokenCounts(Corpus.documents(s, dir))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws_tokens,
             |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_approx
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL merges-table BPE counting: the oracle replays the identical
    // rank-ordered merges with the identical wrapped-symbol replace
    // encoding — an exact cross-engine twin of the whole BPE chain
    QueryDef("q_token_counts_bpe",
      (s, dir) => TextAnalysis.bpeTokenCounts(Corpus.documents(s, dir))
        .orderBy("doc_id"),
      Some(
        s"""WITH ${bpeCtes("")}
           |SELECT d.doc_id,
           |  len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS n_pretokens,
           |  coalesce(cnt.n_bpe, 0)::BIGINT AS n_bpe_tokens
           |FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
           |ORDER BY d.doc_id""".stripMargin)),

    // winnowed fingerprints over the portable hash family — the full
    // shingle-hash → window-min → distinct chain is hash-verified via
    // scalar aggregates of the fingerprint set
    QueryDef("q_fingerprints",
      (s, dir) => TextAnalysis.fingerprints(Corpus.documents(s, dir))
        .select(col("doc_id"), col("n_fingerprints"),
          array_min(col("fingerprints")).as("fp_min"),
          array_max(col("fingerprints")).as("fp_max"),
          aggregate(col("fingerprints"), lit(0L), _ + _).as("fp_sum"))
        .orderBy("doc_id"),
      Some(fingerprintsSql("SELECT doc_id, text FROM documents", 4, 5))),

    // deterministic stratified sampling: membership keyed on a
    // multiplicative id-hash, not per-partition randoms — re-runs and
    // repartitions select the SAME rows (sampleBy cannot promise that)
    QueryDef("q_sample_stratified",
      (s, dir) => Sampling.stratifiedSample(
          Corpus.documents(s, dir).select(col("doc_id"), col("lang")),
          "lang", "doc_id",
          Map("en" -> 500000L, "fr" -> 250000L, "zh" -> 100000L))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang FROM documents
              |WHERE ${Sampling.bucketSql("doc_id")} <
              |  CASE lang WHEN 'en' THEN 500000 WHEN 'fr' THEN 250000
              |            WHEN 'zh' THEN 100000 ELSE 0 END
              |ORDER BY doc_id""".stripMargin)),

    // deterministic train/val/test split: disjoint bucket ranges of the
    // same id-hash — splits are stable and can never overlap, even when
    // each split is materialized by a separate job
    QueryDef("q_train_test_split",
      (s, dir) => Sampling.withSplit(
          Corpus.documents(s, dir).select(col("doc_id"), col("lang")),
          "doc_id", trainPpm = 800000L, valPpm = 100000L)
        .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "split"),
      Some(s"""SELECT lang,
              |  CASE WHEN b < 800000 THEN 'train' WHEN b < 900000 THEN 'val'
              |       ELSE 'test' END AS split, count(*) AS n
              |FROM (SELECT lang, ${Sampling.bucketSql("doc_id")} AS b FROM documents)
              |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // the fused single-scan curation pass: language ID + quality + token
    // counts + PII scrub + split tag in ONE select over ONE corpus scan
    // (PlanSpec asserts one scan / zero exchanges; PipelineSpec pins it
    // column-for-column to the individual operators)
    QueryDef("q_curate",
      (s, dir) => Curation.curate(
          Corpus.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("lang_pred"), col("best_hits"),
          col("n_tokens"), col("n_chars"),
          round(col("uniq_ratio"), 4).as("uniq_ratio"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"),
          round(col("nonalnum_ratio"), 4).as("nonalnum_ratio"),
          col("n_bpe_approx"), col("n_bpe_tokens"),
          (col("n_emails") + col("n_ips") + col("n_digit_runs")).as("n_pii"),
          length(col("text_clean")).as("n_clean_chars"), col("split"))
        .orderBy("doc_id"),
      Some {
        val sets = TextAnalysis.StopwordSets.map { case (l, ws) =>
          l -> ws.map(w => s"'$w'").mkString("(", ",", ")")
        }
        val hitCols = sets.map { case (l, inList) =>
          s"count(*) FILTER (WHERE term IN $inList) AS s_$l"
        }.mkString(", ")
        val bestExpr = sets.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val predCase = sets.map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }.mkString(" ")
        val (em, ip, dig) = (TextAnalysis.EmailRe, TextAnalysis.Ipv4Re, TextAnalysis.LongDigitRe)
        s"""${toksCte("SELECT doc_id, text FROM documents")},
           |agg AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_uniq,
           |        count(*) FILTER (WHERE term IN ('the','and','of','to','is','that','it')) AS n_stop,
           |        $hitCols
           |        FROM toks GROUP BY doc_id),
           |scored AS (SELECT *, $bestExpr AS best FROM agg),
           |s1 AS (SELECT doc_id, len(regexp_extract_all(text, '$em')) AS n_emails,
           |        regexp_replace(text, '$em', '[EMAIL]', 'g') AS t1 FROM documents),
           |s2 AS (SELECT doc_id, n_emails, len(regexp_extract_all(t1, '$ip')) AS n_ips,
           |        regexp_replace(t1, '$ip', '[IP]', 'g') AS t2 FROM s1),
           |s3 AS (SELECT doc_id, n_emails, n_ips,
           |        len(regexp_extract_all(t2, '$dig')) AS n_digit_runs,
           |        length(regexp_replace(t2, '$dig', '[NUM]', 'g')) AS n_clean_chars FROM s2),
           |${bpeCtes("b")}
           |SELECT d.doc_id,
           |  CASE WHEN coalesce(best, 0) = 0 THEN 'und' $predCase END AS lang_pred,
           |  coalesce(best, 0) AS best_hits,
           |  coalesce(a.n_tokens, 0) AS n_tokens, length(d.text) AS n_chars,
           |  round(coalesce(a.n_uniq, 0) * 1.0 / greatest(coalesce(a.n_tokens, 0), 1), 4) AS uniq_ratio,
           |  round(coalesce(a.n_stop, 0) * 1.0 / greatest(coalesce(a.n_tokens, 0), 1), 4) AS stopword_ratio,
           |  round(length(regexp_replace(d.text, '[a-z0-9 ]', '', 'g')) * 1.0 / greatest(length(d.text), 1), 4) AS nonalnum_ratio,
           |  len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_approx,
           |  coalesce(bcnt.n_bpe, 0)::BIGINT AS n_bpe_tokens,
           |  s3.n_emails + s3.n_ips + s3.n_digit_runs AS n_pii, s3.n_clean_chars,
           |  CASE WHEN ${Sampling.bucketSql("d.doc_id")} < 800000 THEN 'train'
           |       WHEN ${Sampling.bucketSql("d.doc_id")} < 900000 THEN 'val'
           |       ELSE 'test' END AS split
           |-- LEFT JOIN: a zero-token doc has no rows in the token CTEs but
           |-- the engine still emits it (n_tokens 0, lang 'und')
           |FROM documents d LEFT JOIN scored a ON a.doc_id = d.doc_id
           |JOIN s3 ON d.doc_id = s3.doc_id
           |LEFT JOIN bcnt ON d.doc_id = bcnt.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),

    // PII scrubbing: inject deterministic synthetic PII (the corpus has
    // none), then redact emails / IPv4 / long digit runs and count each
    QueryDef("q_pii_scrub",
      (s, dir) => {
        val injected = concat(col("text"),
          when(col("doc_id") % 4 === 0, concat(lit(" contact u"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .when(col("doc_id") % 4 === 1, concat(lit(" host 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".7 up")))
          .when(col("doc_id") % 4 === 2, concat(lit(" acct 555123"),
            col("doc_id").cast("string"), lit(" ok")))
          .otherwise(lit("")))
        TextAnalysis.scrubPii(
            Corpus.documents(s, dir).select(col("doc_id"), injected.as("text")))
          .select(col("doc_id"), col("n_emails"), col("n_ips"),
            col("n_digit_runs"), length(col("text_clean")).as("n_clean_chars"))
          .orderBy("doc_id")
      },
      Some(s"""WITH inj AS (
              |  SELECT doc_id, text || CASE doc_id % 4
              |    WHEN 0 THEN ' contact u' || doc_id::VARCHAR || '@example.com now'
              |    WHEN 1 THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.7 up'
              |    WHEN 2 THEN ' acct 555123' || doc_id::VARCHAR || ' ok'
              |    ELSE '' END AS t FROM documents),
              |s1 AS (SELECT doc_id, t,
              |         regexp_replace(t, '${TextAnalysis.EmailRe}', '[EMAIL]', 'g') AS t1 FROM inj),
              |s2 AS (SELECT doc_id, t, t1,
              |         regexp_replace(t1, '${TextAnalysis.Ipv4Re}', '[IP]', 'g') AS t2 FROM s1)
              |SELECT doc_id,
              |  len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS n_emails,
              |  len(regexp_extract_all(t1, '${TextAnalysis.Ipv4Re}')) AS n_ips,
              |  len(regexp_extract_all(t2, '${TextAnalysis.LongDigitRe}')) AS n_digit_runs,
              |  length(regexp_replace(t2, '${TextAnalysis.LongDigitRe}', '[NUM]', 'g')) AS n_clean_chars
              |FROM s2 ORDER BY doc_id""".stripMargin)),

    QueryDef("q_multimodal_meta",
      (s, dir) => Multimodal.extractMeta(
          Multimodal.withPayload(Corpus.documents(s, dir)))
        .select(col("doc_id"), col("n_bytes"), col("magic"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, strlen(text) AS n_bytes,
             |       lower(hex(substr(text, 1, 4)::BLOB)) AS magic,
             |       ascii(substr(text, 1, 1)) * 256 + ascii(substr(text, 2, 1)) AS width,
             |       ascii(substr(text, 3, 1)) * 256 + ascii(substr(text, 4, 1)) AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL container parse (PNG signature/IHDR walk + RIFF/WAVE chunk walk):
    // payload bytes are synthesized deterministically from (doc_id, n_chars),
    // parsed back by the pure-JVM MediaCodec, and the oracle recomputes the
    // planted dimensions arithmetically — the parser is hash-verified.
    QueryDef("q_multimodal_container",
      (s, dir) => {
        import s.implicits._
        val base = Corpus.documents(s, dir)
          .select(col("doc_id"), length(col("text")).as("n_chars"))
          .as[(Long, Int)]
        val payloads = base.map { case (id, nc) =>
          val bytes = (id % 3) match {
            case 0 => Multimodal.MediaCodec.pngBytes(id % 1024 + 1, nc % 1024 + 1)
            case 1 => Multimodal.MediaCodec.wavBytes(id % 8 + 1, 8000 + nc % 8000)
            case _ => Multimodal.MediaCodec.jpegBytes(id % 512 + 1, nc % 512 + 1)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
        Multimodal.extractContainerMeta(payloads)
          .select(col("doc_id"), col("format"), col("d1"), col("d2"), col("ok"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS format,
             |  CASE doc_id % 3 WHEN 0 THEN doc_id % 1024 + 1 WHEN 1 THEN doc_id % 8 + 1 ELSE doc_id % 512 + 1 END AS d1,
             |  CASE doc_id % 3 WHEN 0 THEN length(text) % 1024 + 1 WHEN 1 THEN 8000 + length(text) % 8000 ELSE length(text) % 512 + 1 END AS d2,
             |  true AS ok
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q_frame_sample",
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.withPayload(Corpus.documents(s, dir)))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       (strlen(text) // 16 + 3) // 4 AS n_frames
             |FROM documents WHERE strlen(text) // 16 > 0 ORDER BY doc_id""".stripMargin))
  )
}
