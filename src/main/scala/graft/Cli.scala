package graft

import graft.core.{CorpusDoc, IndexConfig}
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.search.{SearchEngine, SearchMode}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point (north rule: "runs via spark-submit on
  * multi-executor clusters"). The session comes from spark-submit's conf —
  * no master/memory is hardcoded here; local runs fall back to local[*].
  *
  * {{{
  * spark-submit --class graft.Cli app.jar build  <corpusParquet> <indexDir> [--resume]
  * spark-submit --class graft.Cli app.jar search <indexDir> <k> <mode> <query...> [--boost field=w]...
  * spark-submit --class graft.Cli app.jar apps   <registryRoot>
  * spark-submit --class graft.Cli app.jar delete <indexDir> <docId,docId,...>
  * spark-submit --class graft.Cli app.jar dedup  <indexDir> [--min-jaccard 0.9] [--incremental] [--dry-run] [--checkpoint-dir d]
  *   (--incremental: persisted-signature sweep — signatures only segments
  *   not yet swept at this threshold and pairs them against the live
  *   corpus through the stored signature table; first run == full sweep.
  *   --checkpoint-dir: the sweep creates, and afterwards deletes, a
  *   generated graft-sweep-* SUBdirectory under d; d itself and its other
  *   contents are never touched. --dry-run deletes nothing; without
  *   --checkpoint-dir it also writes nothing, with it the transient pins
  *   under d make the dry audit executor-loss-safe at scale)
  * spark-submit --class graft.Cli app.jar stream <inputDir> <indexDir> [--checkpoint-dir d]
  * spark-submit --class graft.Cli app.jar curate <docsParquet> <outDir>
  * spark-submit --class graft.Cli app.jar decontaminate <trainParquet|indexDir> <benchParquet> <outDir> [--min-containment 0.8] [--index]
  *   (--index: the train side is an index STORE — reads/maintains its
  *   persisted per-segment shingle tables instead of re-shingling)
  * spark-submit --class graft.Cli app.jar merge  <indexDir> [--max-docs n]
  * spark-submit --class graft.Cli app.jar compact <indexDir>
  * spark-submit --class graft.Cli app.jar fields <indexDir>
  * spark-submit --class graft.Cli app.jar stats  <indexDir>
  *   (per segment: each stage's rows, bytes and files from its done-marker,
  *   index bytes per corpus byte and the posting format; then the delete
  *   tables' rows, bytes and files from their parquet footers; runs no
  *   Spark job)
  * }}}
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: gen|build|search|sql|apps|stream|delete|dedup|curate|decontaminate|merge|compact|fields|stats ...")
    val spark = SparkSession.builder()
      .appName(s"graft-${args(0)}")
      .master(sys.props.getOrElse("spark.master",
        sys.env.getOrElse("MASTER", "local[*]")))
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** Command dispatch on a caller-owned session — the whole CLI surface
    * minus session lifecycle, so tests can drive every command without the
    * shared test session being stopped by main's cleanup. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    args(0) match {
      case "gen" =>
        val n = args(1).toLong
        CorpusGen.generate(spark, n, seed = 42, numRepos = 200)
          .write.mode("overwrite").parquet(args(2))
        println(s"[graft] generated $n docs at ${args(2)}")
      case "build" =>
        val Array(_, input, indexDir) = args.take(3)
        val resume = args.contains("--resume")
        // cacheBuild caches the tokenized rows (~2x the parquet input, in
        // memory+disk). Auto-disable when the input clearly exceeds what the
        // heap can absorb — the documented extreme-scale mode where the
        // range sampler re-tokenizes instead (IndexConfig.cacheBuild docs).
        val inputBytes = {
          val fs = new org.apache.hadoop.fs.Path(input)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.getContentSummary(new org.apache.hadoop.fs.Path(input)).getLength
        }
        val cache =
          if (args.contains("--no-cache")) false
          else if (args.contains("--cache")) true
          else inputBytes * 3 < Runtime.getRuntime.maxMemory
        if (!cache) println(s"[graft] cacheBuild disabled (input ${inputBytes >> 20} MB vs heap ${Runtime.getRuntime.maxMemory >> 20} MB)")
        val store = new IndexStore(spark, indexDir, IndexConfig(cacheBuild = cache))
        val t0 = System.nanoTime()
        val corpus = spark.read.parquet(input).as[CorpusDoc]
        // createSegment targets max-committed-id + 1, which is exactly the
        // segment a crashed build was producing (a crashed segment never
        // reaches the manifest, so its id stays max+1 and its partial stage
        // done-markers are reused when resume = true). A retry AFTER the
        // manifest already committed must be a no-op, not a duplicate
        // segment: lastSegmentMatches fingerprints the stored segment corpus
        // over ALL indexed fields (count + order-insensitive xxhash64), so
        // even a metadata-only change is correctly treated as a new build.
        val segId =
          if (resume && store.lastSegmentMatches(corpus)) {
            println("[graft] resume: last committed segment already contains this corpus; nothing to do")
            store.segments.map(_.id).max
          } else store.createSegment(corpus, resume)
        val sec = (System.nanoTime() - t0) / 1e9
        val n = store.segments.find(_.id == segId).map(_.numDocs).getOrElse(0L)
        println(f"[graft] built seg-$segId: $n docs in $sec%.1f s (${n / sec}%.0f files/sec)")
      case "search" =>
        val indexDir = args(1); val k = args(2).toInt
        val mode = args(3) match {
          case "and" => SearchMode.And
          case "wand" => SearchMode.Wand
          case _ => SearchMode.Or
        }
        // --boost field=weight (repeatable) scales that field's idf.
        // Consumed positionally so query tokens containing '=' survive.
        val boosts = scala.collection.mutable.Map.empty[String, Double]
        val queryToks = scala.collection.mutable.ArrayBuffer.empty[String]
        val rest = args.drop(4)
        var ai = 0
        while (ai < rest.length) {
          if (rest(ai) == "--boost" && ai + 1 < rest.length) {
            val kv = rest(ai + 1).split("=", 2)
            require(kv.length == 2 && kv(1).nonEmpty &&
              scala.util.Try(kv(1).toDouble).isSuccess,
              s"--boost expects field=weight, got: ${rest(ai + 1)}")
            boosts(kv(0)) = kv(1).toDouble
            ai += 2
          } else { queryToks += rest(ai); ai += 1 }
        }
        // open() adopts the persisted storage layout (shardSpan, fields)
        val engine = new SearchEngine(IndexStore.open(spark, indexDir))
        engine.searchDocs(queryToks.mkString(" "), k = k, mode = mode,
          boosts = boosts.toMap).show(k, truncate = 80)
      case "apps" =>
        new graft.index.AppRegistry(spark, args(1)).listApps().show(100)
      case "delete" =>
        val store = IndexStore.open(spark, args(1))
        store.delete(args(2).split(",").map(_.trim.toLong).toSeq)
        println(s"[graft] tombstoned ${args(2)}")
      case "dedup" =>
        // near-dup sweep: LSH pairs → dup groups → distributed bulk delete
        // of every non-keeper (ids stay a DataFrame end to end)
        val minJ = args.sliding(2).collectFirst {
          case Array("--min-jaccard", v) => v.toDouble }.getOrElse(0.9)
        val dry = args.contains("--dry-run")
        val ckpt = args.sliding(2).collectFirst {
          case Array("--checkpoint-dir", v) => v }
        val store = IndexStore.open(spark, args(1))
        val inc = args.contains("--incremental")
        val n =
          if (inc) graft.pipeline.Dedup.sweepIndexPersisted(store, minJ,
            dryRun = dry, checkpointDir = ckpt)
          else graft.pipeline.Dedup.sweepIndex(store, minJ, dryRun = dry,
            checkpointDir = ckpt)
        println(s"[graft] near-dup sweep (jaccard >= $minJ" +
          (if (inc) ", incremental" else "") + s"): $n duplicate docs " +
          (if (dry) "found (dry run)" else "tombstoned"))
      case "stream" =>
        // micro-batch streaming ingest: every parquet file that appears in
        // <inputDir> commits one segment (replay-idempotent, claim-verified);
        // AvailableNow drains what is present and exits — re-run on arrival,
        // or keep a long-lived session for continuous ingest
        val ckpt = args.sliding(2).collectFirst {
          case Array("--checkpoint-dir", v) => v }
        val store = IndexStore.open(spark, args(2))
        val before = store.segments.map(_.id).toSet
        graft.streaming.StreamingIndex.indexStream(spark, args(1), store, ckpt)
          .awaitTermination()
        val after = store.segments
        val fresh = after.filterNot(s => before(s.id))
        println(s"[graft] stream drained: ${fresh.size} new segments, " +
          s"${fresh.map(_.numDocs).sum} docs ingested (store total: " +
          s"${after.size} segments, ${after.map(_.numDocs).sum} docs)")
      case "curate" =>
        // single-scan curation pass over a documents parquet: writes the
        // training-ready table (lang ID, quality features, token counts,
        // scrubbed text, train/val/test split) reading each row once
        val docs = spark.read.parquet(args(1))
        val textCol = if (docs.columns.contains("text")) "text" else "content"
        graft.pipeline.Curation.curate(
            docs.select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col(textCol).as("text")))
          .write.mode("overwrite").parquet(args(2))
        println(s"[graft] curated ${args(1)} -> ${args(2)}")
      case "merge" =>
        // LSM-style maintenance: fold micro-batch segments into one
        val maxDocs = args.sliding(2).collectFirst {
          case Array("--max-docs", v) => v.toLong }.getOrElse(1000000L)
        IndexStore.open(spark, args(1)).mergeSmallSegments(maxDocs) match {
          case Some(id) => println(s"[graft] merged small segments into seg-$id")
          case None => println("[graft] nothing to merge (fewer than 2 segments at or under the bound)")
        }
      case "compact" =>
        IndexStore.open(spark, args(1)).compact()
        println("[graft] compacted")
      case "fields" =>
        IndexStore.open(spark, args(1)).listFields().show(100)
      case "stats" =>
        val store = IndexStore.open(spark, args(1))
        println(s"[graft] ${args(1)}: ${store.segments.size} segments")
        store.segments.foreach { seg =>
          val stages = store.stageStats(seg.id)
          stages.foreach { st =>
            println(f"seg-${seg.id} ${st.stage}%-10s rows=${st.rows}%d bytes=${st.bytes}%d files=${st.files}%d")
          }
          val bytes = stages.map(st => st.stage -> st.bytes).toMap.withDefaultValue(0L)
          val index = Seq("postings", "df", "docstats", "fieldstats").map(bytes).sum
          val format = stages.find(_.stage == "postings").flatMap(_.format)
          println(f"seg-${seg.id} index bytes per corpus byte ${index.toDouble / math.max(bytes("corpus"), 1L)}%.3f, " +
            s"posting format ${format.getOrElse("varint (unrecorded)")}")
        }
        store.deleteStats().foreach { st =>
          println(f"deletes ${st.stage}%-10s rows=${st.rows}%d bytes=${st.bytes}%d files=${st.files}%d")
        }
      case "sql" =>
        // registers the store's tables as views and runs arbitrary SQL —
        // graft's functions (posting_explode, via GraftExtensions) included
        val store = IndexStore.open(spark, args(1))
        store.postings().createOrReplaceTempView("postings")
        store.termDf().createOrReplaceTempView("df")
        store.corpus().createOrReplaceTempView("corpus")
        store.docStats().createOrReplaceTempView("docstats")
        spark.sql(args.drop(2).mkString(" ")).show(100, truncate = 60)
      case "decontaminate" =>
        // cross-corpus decontamination: training docs containing benchmark
        // items (n-gram containment) + the per-item coverage report, both
        // from ONE scan of each corpus (Dedup.contaminationReport). With
        // --index, arg 1 is an INDEX STORE whose persisted per-segment
        // shingle tables feed the train side — repeated reports against a
        // growing corpus stop re-shingling it per run
        val minC = args.sliding(2).collectFirst {
          case Array("--min-containment", v) => v.toDouble }.getOrElse(0.8)
        def textify(df: org.apache.spark.sql.DataFrame) = {
          val textCol = if (df.columns.contains("text")) "text" else "content"
          df.select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col(textCol).as("text"))
        }
        val (pairs, coverage) =
          if (args.contains("--index"))
            graft.pipeline.Dedup.contaminationReportPersisted(
              IndexStore.open(spark, args(1)),
              textify(spark.read.parquet(args(2))), minContainment = minC)
          else graft.pipeline.Dedup.contaminationReport(
            textify(spark.read.parquet(args(1))),
            textify(spark.read.parquet(args(2))), minContainment = minC)
        pairs.write.mode("overwrite").parquet(s"${args(3)}/pairs")
        coverage.write.mode("overwrite").parquet(s"${args(3)}/coverage")
        val nPairs = spark.read.parquet(s"${args(3)}/pairs").count()
        val blind = spark.read.parquet(s"${args(3)}/coverage")
          .filter(org.apache.spark.sql.functions.col("n_usable") === 0).count()
        println(s"[graft] decontamination: $nPairs contaminated (train, bench) " +
          s"pairs at containment >= $minC -> ${args(3)}/pairs; $blind benchmark " +
          s"items UNDETECTABLE (no usable shingles) -> ${args(3)}/coverage")
      case other => sys.error(s"unknown command $other")
    }
  }
}
