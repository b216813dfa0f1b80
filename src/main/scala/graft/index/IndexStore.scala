package graft.index

import graft.analysis.Analyzer
import graft.core._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Segmented, resumable index storage (SURVEY.md §7.2 M5, north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Layout (Iceberg-shaped: snapshot manifest + per-stage done-markers; a real
  * Iceberg catalog can replace the JSON layer without touching the engine):
  *
  * {{{
  * base/
  *   manifest.json              — the commit point: layout config (shardSpan,
  *                                fields, postingFormat), a generation that
  *                                every commit raises, [{id, numDocs}]
  *                                committed segments
  *   seg-<i>/
  *     corpus/                  — the indexed rows (doc store; reference kept
  *                                one file per docID, indexing.go:350-351)
  *     docstats/                — (doc_id, content_sha)  input_hint invariant
  *     postings/                — (field, term, shard, count, sum_tf, max_tf,
  *                                blocks, blob) range-partitioned+sorted by
  *                                (field, term) → parquet min/max prunes both
  *                                exact-term and prefix-range scans
  *     df/                      — (field, term, df, sum_tf)
  *     fieldstats/              — (field, n, sum_dl)
  *     _checkpoints/<stage>.json — done-marker with rows/bytes/wallMs and
  *                                per-partition (file-level) metrics (the
  *                                postings marker also names its format)
  *   tombstones/                — (doc_id, max_seg) appended parquet
  *   dfdelta/                   — (field, term, ddf) df corrections
  *   tombstats/                 — (field, dn, dsum_dl) stats corrections
  * }}}
  *
  * CRUD mapping to the reference: add = new segment append (indexing.go:299-369);
  * delete = tombstone + precomputed df/stats deltas from re-tokenizing the
  * stored doc, exactly the reference's strategy of recomputing the posting
  * key from content (indexing.go:604-667); update = delete + add
  * (indexing.go:669-687); compact() re-builds one segment from live docs
  * (the scale answer to editing compressed blobs in place, SURVEY.md §7.4).
  */
object IndexStore {
  /** Opens an existing store, adopting its PERSISTED storage-layout config
    * (shardSpan, fields) from the manifest so maintenance and queries stay
    * consistent with how the segments were built — the CLI must never
    * re-encode with defaults that differ from the original build. `base`
    * supplies the query-side knobs (bm25, cache bounds); its layout fields
    * are overridden by the manifest when present (older manifests without
    * a config block fall back to `base` unchanged). */
  def open(spark: SparkSession, baseDir: String,
           base: IndexConfig = IndexConfig()): IndexStore = {
    val probe = new IndexStore(spark, baseDir, base)
    val cfg = probe.persistedLayout() match {
      case Some((span, fields)) => base.copy(shardSpan = span, fields = fields)
      case None => base
    }
    new IndexStore(spark, baseDir, cfg)
  }

  private val postingSchema = Encoders.product[PostingShard].schema
  /** The df stage's table: (field, term, df, sum_tf). */
  private val dfTableSchema = Encoders.product[TermDf].schema.add("sum_tf", LongType)
  private val corpusSchema = Encoders.product[CorpusDoc].schema
  private val fieldStatsSchema = StructType.fromDDL("field STRING, n BIGINT, sum_dl BIGINT")
  private val dfDeltaSchema = StructType.fromDDL("field STRING, term STRING, ddf BIGINT")
  private val tombStatsSchema = StructType.fromDDL("field STRING, dn BIGINT, dsum_dl BIGINT")

  /** One completed stage of a segment as its done-marker records it. */
  final case class StageStat(stage: String, rows: Long, bytes: Long, files: Int, format: Option[String])
}

class IndexStore(val spark: SparkSession, val baseDir: String,
                 val cfg: IndexConfig = IndexConfig()) {
  import IndexStore._
  import spark.implicits._

  private val hconf = spark.sparkContext.hadoopConfiguration
  // resolved once: each resolution is a UGI + FileSystem-cache lookup
  @transient private lazy val fs: FileSystem = new Path(baseDir).getFileSystem(hconf)
  private def p(parts: String*): Path = new Path((baseDir +: parts).mkString("/"))

  // ---------- manifest ----------

  final case class SegmentInfo(id: Int, numDocs: Long)

  def segments: Seq[SegmentInfo] = {
    val mf = p("manifest.json")
    if (!fs.exists(mf)) Seq.empty
    else {
      val segs = manifestNode().get("segments")
      (0 until segs.size()).map { i =>
        val s = segs.get(i)
        SegmentInfo(s.get("id").asInt(), s.get("numDocs").asLong())
      }
    }
  }

  private def manifestNode(): com.fasterxml.jackson.databind.JsonNode = readJson(p("manifest.json"))

  /** The manifest's generation: 0 before the first commit, raised by each. */
  private def generation(): Long =
    if (!fs.exists(p("manifest.json"))) 0L
    else Option(manifestNode().get("generation")).fold(0L)(_.asLong())

  /** The posting format of a store's committed segments: the manifest's,
    * or None for a store written before formats were recorded. */
  private[graft] def postingFormat(): Option[String] =
    if (!fs.exists(p("manifest.json"))) None
    else Option(manifestNode().get("config")).flatMap(c => Option(c.get("postingFormat"))).map(_.asText())

  /** Refuses to read or extend postings this build cannot decode. A store
    * with no committed segment has none. */
  private def requirePostingFormat(): Unit =
    if (segments.nonEmpty) checkFormat(postingFormat(), s"the store $baseDir")

  private def checkFormat(found: Option[String], what: String): Unit =
    if (!found.contains(PostingCodec.Format))
      throw new IllegalStateException(s"$what holds postings in format " +
        s"${found.getOrElse("varint (unrecorded)")}, but this build reads ${PostingCodec.Format}: " +
        "run compact() (Cli compact <store>) to re-tokenize the stored corpus into the current format")

  private def readJson(path: Path): com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(path)
    try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in) finally in.close()
  }

  /** (shardSpan, fields) persisted in the manifest, if present. */
  private[graft] def persistedLayout(): Option[(Long, Seq[String])] = {
    if (!fs.exists(p("manifest.json"))) return None
    val node = manifestNode()
    Option(node.get("config")).map { c =>
      val fs0 = c.get("fields")
      (c.get("shardSpan").asLong(),
        (0 until fs0.size()).map(i => fs0.get(i).asText()))
    }
  }

  /** The manifest also persists the STORAGE-LAYOUT half of the config
    * (shardSpan, fields, posting format) so later maintenance (CLI merge/
    * compact/delete on a store built elsewhere) reconstructs segments
    * consistently — a merge that re-encoded with a different shardSpan
    * would leave mixed shard geometries that double-report docs in WAND's
    * per-shard group walk. Query-side knobs (bm25, caches, bounds) are NOT
    * persisted. Every commit rewrites it with a higher `generation`, so a
    * stat of this one file tells whether the store changed. */
  private def writeManifest(segs: Seq[SegmentInfo], gen: Long = generation() + 1): Unit = {
    val fieldsJson = cfg.fields.map(f => "\"" + f + "\"").mkString("[", ",", "]")
    val json =
      s"""{"config":{"shardSpan":${cfg.shardSpan},"fields":$fieldsJson,""" +
      s""""postingFormat":"${PostingCodec.Format}"},"generation":$gen,""" +
      segs.map(s => s"""{"id":${s.id},"numDocs":${s.numDocs}}""")
        .mkString(""""segments":[""", ",", "]}")
    writeFile(p("manifest.json"), json)
  }

  /** Commits a change outside the segments (a delete's corrections): the
    * manifest as it is, under the next generation. */
  private def raiseGeneration(): Unit = {
    val node = manifestNode().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("generation", generation() + 1)
    writeFile(p("manifest.json"), node.toString)
  }

  private def writeFile(path: Path, text: String): Unit = {
    val out = fs.create(path, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  // ---------- per-stage checkpoints ----------

  /** Writes `df` to `seg-<segId>/<stage>/`, parquet with zstd pages,
    * unless that stage's done-marker already exists (resume path: completed
    * stages are skipped wholesale and their persisted output is reused). The
    * marker carries stage lineage, the output's `format` when it has one
    * (a resumed stage of another format is refused), and per-partition
    * (per-file) row/byte metrics read back from parquet footers, emitted
    * AFTER a successful write — a crash mid-write leaves no marker, so a
    * re-run redoes the stage idempotently (overwrite mode). A later stage
    * reads the output with [[readStage]]. */
  private[index] def runStage(segId: Int, stage: String, lineage: Seq[String], resume: Boolean,
                              format: Option[String] = None)(compute: => DataFrame): Unit = {
    val outDir = p(s"seg-$segId", stage)
    val marker = p(s"seg-$segId", "_checkpoints", s"$stage.json")
    if (resume && fs.exists(marker)) {
      if (format.nonEmpty)
        checkFormat(Option(readJson(marker).get("format")).map(_.asText()), s"the resumable stage $marker")
    } else {
      val t0 = System.nanoTime()
      compute.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(outDir.toString)
      commitStageMarker(marker, outDir, stage, lineage, t0, format)
    }
  }

  /** One stage's output read with an explicit schema: no inference job. */
  private def readStage(segId: Int, stage: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(p(s"seg-$segId", stage).toString)

  /** Emits the done-marker for a completed stage write (see [[runStage]]). */
  private def commitStageMarker(marker: Path, outDir: Path, stage: String,
                                lineage: Seq[String], t0: Long, format: Option[String] = None): Unit = {
    val wallMs = (System.nanoTime() - t0) / 1000000
    val parts = parquetFileMetrics(outDir)
    val rows = parts.map(_._2).sum
    val bytes = parts.map(_._3).sum
    val partsJson = parts.map { case (f, r, b) =>
      s"""{"file":"$f","rows":$r,"bytes":$b}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"stage":"$stage","status":"done","rows":$rows,"bytes":$bytes,""" +
      s""""files":${parts.length},"wallMs":$wallMs,""" +
      format.fold("")(f => s""""format":"$f",""") +
      s""""lineage":${lineage.map(l => "\"" + l + "\"").mkString("[", ",", "]")},""" +
      s""""partitions":$partsJson}"""
    writeFile(marker, json)
  }

  /** The input's parquet data files when `corpus` is a BARE parquet scan
    * with exactly the CorpusDoc schema — no filter, no projection, no
    * union, no derived columns (any of those shows up as extra nodes above
    * / instead of the single `LogicalRelation`, or as a different schema).
    * Such an input can be stored by FILE COPY instead of decode+re-encode:
    * same rows, same columns, a doc store byte-equivalent to what the
    * write path would produce — minus one full parquet decode AND one full
    * parquet encode of every corpus byte (the dominant cost of the copy
    * stage; see OPTIMIZATION_r06.md). */
  private def rawParquetInput(corpus: Dataset[CorpusDoc]): Option[Seq[String]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    corpus.queryExecution.optimizedPlan match {
      case lr: LogicalRelation => lr.relation match {
        case hfs: HadoopFsRelation
            if hfs.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val want = Encoders.product[CorpusDoc].schema
            .fields.map(f => (f.name, f.dataType)).toSeq
          val got = lr.schema.fields.map(f => (f.name, f.dataType)).toSeq
          if (got == want) Some(hfs.location.inputFiles.toSeq) else None
        case _ => None
      }
      case _ => None
    }
  }

  /** Corpus stage by parallel file copy (see [[rawParquetInput]]); emits
    * the identical done-marker as the write path, so resume/ownership
    * verification and per-partition metrics are unchanged. */
  private def copyFilesStage(segId: Int, stage: String, files: Seq[String],
                             resume: Boolean): Unit = {
    val outDir = p(s"seg-$segId", stage)
    val marker = p(s"seg-$segId", "_checkpoints", s"$stage.json")
    if (resume && fs.exists(marker)) return
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val t0 = System.nanoTime()
    if (fs.exists(outDir)) fs.delete(outDir, true)
    fs.mkdirs(outDir)
    val futures = files.zipWithIndex.map { case (f, i) => Future {
      val src = new Path(f)
      val name0 = src.getName
      val name = if (name0.endsWith(".parquet")) name0 else s"$name0.parquet"
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(hconf), src,
        fs, new Path(outDir, f"part-$i%05d-$name"), false, hconf)
    }}
    Await.result(Future.sequence(futures), Duration.Inf)
    commitStageMarker(marker, outDir, stage, Seq("input"), t0)
  }

  def stageDone(segId: Int, stage: String): Boolean =
    fs.exists(p(s"seg-$segId", "_checkpoints", s"$stage.json"))

  /** Segment `segId`'s completed stages, by name, from their done-markers:
    * driver-side file reads, no Spark job. */
  def stageStats(segId: Int): Seq[StageStat] = {
    val dir = p(s"seg-$segId", "_checkpoints")
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.endsWith(".json")).map { m =>
      val n = readJson(m)
      def long(k: String) = Option(n.get(k)).fold(0L)(_.asLong())
      StageStat(n.get("stage").asText(), long("rows"), long("bytes"), long("files").toInt,
        Option(n.get("format")).map(_.asText()))
    }.sortBy(_.stage)
  }

  /** Rows a completed stage wrote, from its done-marker. */
  private def stageRows(segId: Int, stage: String): Long =
    readJson(p(s"seg-$segId", "_checkpoints", s"$stage.json")).get("rows").asLong()

  /** (fileName, rows, bytes) per parquet part file — per-partition metrics.
    * Footer reads fan out on a thread pool: doing them serially on the
    * driver added seconds of all-cores-idle time per stage. */
  private def parquetFileMetrics(dir: Path): Seq[(String, Long, Long)] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = fs.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.endsWith(".parquet"))
      .map { st => Future {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, hconf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val rows = try reader.getRecordCount finally reader.close()
        (st.getPath.getName, rows, st.getLen)
      }}
    Await.result(Future.sequence(futures), Duration.Inf)
  }

  // ---------- segment build ----------

  /** Builds and commits one segment from a corpus batch. Stages checkpoint
    * individually; `resume = true` skips completed stages (M5). */
  def createSegment(corpus: Dataset[CorpusDoc], resume: Boolean = false): Int = {
    val segId = segments.map(_.id).reduceOption(_ max _).map(_ + 1).getOrElse(0)
    buildSegmentAt(segId, corpus, resume)
  }

  def buildSegmentAt(segId: Int, corpus: Dataset[CorpusDoc],
                     resume: Boolean): Int = {
    requirePostingFormat()
    val numDocs = buildSegmentStages(segId, corpus, resume)
    writeManifest(segments.filterNot(_.id == segId) :+ SegmentInfo(segId, numDocs))
    segId
  }

  /** Runs every build stage for `segId` WITHOUT committing the manifest —
    * the commit is the caller's single atomic step, which lets
    * [[mergeSmallSegments]] swap several segments for one in one manifest
    * transition. Returns the segment's doc count. */
  private def buildSegmentStages(segId: Int, corpus: Dataset[CorpusDoc],
                                 resume: Boolean): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration

    // A resume build must never adopt stage outputs a DIFFERENT crashed
    // writer left at this id (stream batch vs add() claim races): verify
    // ownership of any leftovers and wipe foreign ones first. On a
    // committed id with mismatched content this fails loudly instead.
    if (resume) prepareClaimedSegment(segId, corpus)

    // The three heavy, mutually independent jobs — corpus copy, docstats,
    // tokenize+shuffle+encode — are all submitted up front; the scheduler
    // fills every core with whichever has runnable tasks. All three read the
    // INPUT corpus (row-identical to the stored copy, enforced by the
    // sha-invariant test), so none waits behind the copy stage.
    //
    // cacheBuild=true shares one tokenization across the sampler and the
    // shuffle (right whenever cluster cache ~ token-row volume).
    // cacheBuild=false bounds memory instead: each consumer re-tokenizes
    // its own pass — the extreme-scale mode (cache << data); graft.Cli
    // auto-selects it from input size vs heap. The NARROW row form (field
    // rank byte + packed tf|dl, see IndexBuilder.postingsNarrow) keeps the
    // cached and shuffled bytes ~25% smaller than rows carrying the field
    // name and separate tf, dl columns.
    val tfRows = IndexBuilder.postingsNarrow(corpus, cfg.fields)
    if (cfg.cacheBuild)
      tfRows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val docStatsF = Future {
        runStage(segId, "docstats", Seq("input"), resume) {
          IndexBuilder.docStats(corpus)
        }
      }
      // Stage 3: posting shards — THE build shuffle; emitted rows are
      // already range-partitioned and sorted on (field, term, shard), so
      // parquet min/max stats prune exact/prefix term scans at file and
      // row-group granularity.
      val postingsF = Future {
        runStage(segId, "postings", Seq("input"), resume, Some(PostingCodec.Format)) {
          IndexBuilder.encodeShardsNarrow(tfRows, cfg.shardSpan,
            cfg.fields.sorted.toArray)
        }
      }
      // Stage 4: df re-derived from the WRITTEN shard table (chained after
      // the postings stage, not concurrent with it): the shard rows already
      // carry per-group count/sum_tf, so this aggregates a vocabulary-sized
      // parquet read instead of paying a second full pass + partial
      // aggregation over the ~10²-rows-per-doc posting stream. The ~10%
      // of build CPU the old concurrent df pass burned came out of the
      // same cores (and memory bandwidth) the postings shuffle needed —
      // removing the pass beats overlapping it (guide §2.3; measured in
      // OPTIMIZATION_r06.md). Also drops the third tokenization pass in
      // cacheBuild = false mode.
      val dfF = postingsF.map { _ =>
        runStage(segId, "df", Seq(s"seg-$segId/postings"), resume) {
          IndexBuilder.termDfTableFromShards(readStage(segId, "postings",
            StructType(Seq("field", "term", "count", "sum_tf").map(postingSchema(_)))))
        }
      }
      // Stage 1: corpus copy (doc store). doc_id-clustered so top-k
      // hydration and docId-range reads prune files. When the INPUT's
      // partitions already hold pairwise-disjoint doc_id ranges (generated
      // corpora, replayed segment corpora, range-written parquet — the
      // common case), a local sort preserves that clustering and the range
      // exchange — a full shuffle of every corpus byte PLUS the range
      // sampler's extra full pass over the input — is dropped outright
      // (guide §2.4/§8: never shuffle the heavy payload to recompute an
      // order it already has). The disjointness probe is one doc_id-only
      // job (columns pruned at the source). A bare-parquet input whose
      // files' footers show disjoint ranges is stored by file copy instead
      // (no job at all). Unclustered inputs keep the range shuffle.
      rawParquetInput(corpus).filter(footerDocIdRangesDisjoint) match {
        case Some(files) => copyFilesStage(segId, "corpus", files, resume)
        case None => runStage(segId, "corpus", Seq("input"), resume) {
          if (docIdRangesDisjoint(corpus))
            corpus.sortWithinPartitions("doc_id").toDF()
          else
            corpus.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id").toDF()
        }
      }
      // the marker's rows are the stored files' footer record counts: the
      // doc count without a count job over the corpus
      val numDocs = stageRows(segId, "corpus")
      Await.result(postingsF, Duration.Inf)
      Await.result(dfF, Duration.Inf)

      // Stage 5 reads only the (vocabulary-sized) df table.
      runStage(segId, "fieldstats", Seq(s"seg-$segId/df"), resume) {
        IndexBuilder.fieldStats(readStage(segId, "df", dfTableSchema), numDocs).coalesce(1)
      }
      Await.result(docStatsF, Duration.Inf)
      numDocs
    } finally {
      if (cfg.cacheBuild) { tfRows.unpersist(); () }
    }
  }

  /** True when the input's partitions hold pairwise-DISJOINT doc_id ranges
    * — i.e. a per-partition local sort alone yields a doc_id-clustered doc
    * store with file-level min/max pruning as good as (finer than) the
    * range shuffle's. One doc_id-only Spark job; the projection prunes
    * every other column at the source, so the probe reads a tiny fraction
    * of the corpus bytes. Collected state is one (min, max) pair per
    * partition — bounded by the partition count, never by rows. */
  private def docIdRangesDisjoint(corpus: Dataset[CorpusDoc]): Boolean = {
    val ranges = corpus.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var mn = Long.MaxValue
          var mx = Long.MinValue
          it.foreach { d => if (d < mn) mn = d; if (d > mx) mx = d }
          Iterator((mn, mx))
        }
      }.collect().sortBy(_._1)
    (1 until ranges.length).forall(i => ranges(i - 1)._2 < ranges(i)._1)
  }

  /** True when the parquet `files` hold pairwise-disjoint doc_id ranges —
    * the condition for storing them by file copy, which must not lose the
    * doc store's range clustering. Reads each file's range from its
    * footer's row-group min/max statistics on the driver, fanned out like
    * [[parquetFileMetrics]]: no Spark job. A non-empty file without doc_id
    * statistics counts as overlapping. */
  private def footerDocIdRangesDisjoint(files: Seq[String]): Boolean = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    import scala.jdk.CollectionConverters._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // per file: its row groups' (min, max), None for a group without stats
    val futures = files.map { f => Future {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), hconf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == "doc_id")
          .map(_.getStatistics).filter(st => st != null && st.hasNonNullValue)
          .map(st => (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue))
      } finally reader.close()
    }}
    val groups = Await.result(Future.sequence(futures), Duration.Inf).filter(_.nonEmpty)
    groups.forall(_.forall(_.isDefined)) && {
      val ranges = groups.map(g => (g.flatten.map(_._1).min, g.flatten.map(_._2).max)).sortBy(_._1)
      (1 until ranges.length).forall(i => ranges(i - 1)._2 < ranges(i)._1)
    }
  }

  /** Merges every committed segment with ≤ `maxDocs` docs into ONE new
    * segment — the LSM-style maintenance for micro-batch ingest, where
    * streaming commits a small segment per batch and per-query cost grows
    * with segment count. Returns the new segment id, or None if fewer than
    * two segments qualify.
    *
    * Requires a tombstone-free store: delete corrections (dfdelta /
    * tombstats) are global and cannot be re-attributed when their source
    * segments disappear — with deletions pending, run [[compact]], which
    * rewrites everything and clears them.
    *
    * Crash-safe: stages build under the next free id with the manifest
    * untouched (a crashed merge leaves an uncommitted dir that the
    * ownership check wipes or resumes); the swap — merged segments out,
    * new segment in — is ONE manifest write; orphaned merged directories
    * after the commit are invisible to readers (manifest-driven) and are
    * removed best-effort last. */
  def mergeSmallSegments(maxDocs: Long): Option[Int] = {
    require(tombstoneCount() == 0L,
      "mergeSmallSegments requires a tombstone-free store; run compact() instead")
    requirePostingFormat()
    val all = segments
    val small = all.filter(_.numDocs <= maxDocs)
    if (small.size < 2) return None
    val newId = all.map(_.id).max + 1
    val merged = small.map(s => readStage(s.id, "corpus", corpusSchema))
      .reduce(_ unionByName _).as[CorpusDoc]
    // honor the extreme-scale cache rule (see IndexConfig.cacheBuild): the
    // merged volume may far exceed any one micro-batch — re-tokenize per
    // consumer instead of persisting 2x the corpus when it can't fit
    val mergedBytes = small.map(s =>
      fs.getContentSummary(p(s"seg-${s.id}", "corpus")).getLength).sum
    val buildStore =
      if (!cfg.cacheBuild || mergedBytes * 3 >= Runtime.getRuntime.maxMemory)
        new IndexStore(spark, baseDir, cfg.copy(cacheBuild = false))
      else this
    val numDocs = buildStore.buildSegmentStages(newId, merged, resume = true)
    // merge is a single-writer maintenance op (like compact and the
    // streaming contract); this re-check narrows — not closes — the window
    // in which a concurrent delete's tombstones (max_seg < newId) would be
    // out-flanked by the re-homed docs
    require(tombstoneCount() == 0L,
      "a delete landed during the merge build; merge aborted (uncommitted " +
        "stage dir will be reclaimed by the next build) — run compact()")
    val smallIds = small.map(_.id).toSet
    // COMMIT the merged segment first: the similarity carry below writes
    // seg-<newId> tables and advances the sweep watermark, and doing that
    // before the manifest commit opens a poison window — a crash in
    // between leaves similarity.json claiming newId is swept/signatured
    // while the manifest still ends at newId-1, so the NEXT add() would
    // allocate the same id for a fresh batch that then inherits stale
    // signatures and sits inside the watermark, silently skipped by every
    // later sweep. With the manifest committed first, a crash before the
    // carry merely leaves newId unswept → the next sweep conservatively
    // re-signatures the merged corpus (slow once, never wrong).
    writeManifest(all.filterNot(s => smallIds.contains(s.id)) :+ SegmentInfo(newId, numDocs))
    // re-home any persisted similarity tables (and the sweep watermark)
    // onto the merged segment BEFORE the folded directories disappear —
    // signatures are pure per-doc functions, so they survive re-segmenting
    // verbatim; dropping them would make the next dedup sweep re-signature
    // the whole merged corpus
    SimilarityIndex.carryThroughMerge(this, small.map(_.id), newId)
    smallIds.foreach(id => fs.delete(p(s"seg-$id"), true))
    Some(newId)
  }

  // ---------- readers ----------

  /** Path of one segment's stage directory — for sibling maintenance
    * layers (e.g. [[SimilarityIndex]]) that add their own per-segment
    * tables next to the core stages. */
  private[index] def segPath(segId: Int, sub: String): String =
    p(s"seg-$segId", sub).toString

  /** All segments' posting shards with a `seg` provenance column.
    * Empty stores return an empty frame WITH the proper schema so query
    * plans still resolve. Like every reader below, it reads with an explicit
    * schema: no schema-inference job. */
  def postings(): DataFrame = {
    requirePostingFormat()
    segments.map(s => readStage(s.id, "postings", postingSchema).withColumn("seg", lit(s.id)))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[PostingShard].toDF().withColumn("seg", lit(0)))
  }

  /** One segment's posting shards `(field, term, shard, blocks, blob)`. */
  private[graft] def segmentPostings(segId: Int): DataFrame =
    readStage(segId, "postings",
      StructType(Seq("field", "term", "shard", "blocks", "blob").map(postingSchema(_))))

  /** Each committed segment's id with the modification time of its
    * postings done-marker — an identity that survives [[compact]], which
    * rewrites the store with a fresh `seg-0`. Driver-side FS metadata only. */
  private[graft] def postingsStamps(): Seq[(Int, Long)] =
    segments.map { s =>
      val marker = p(s"seg-${s.id}", "_checkpoints", "postings.json")
      val stamped = if (fs.exists(marker)) marker else p(s"seg-${s.id}", "postings")
      s.id -> fs.getFileStatus(stamped).getModificationTime
    }

  /** Stored corpus rows across segments (with `seg`). */
  def corpus(): DataFrame = corpusOf(segments)

  private def corpusOf(segs: Seq[SegmentInfo]): DataFrame =
    segs.map(s => readStage(s.id, "corpus", corpusSchema).withColumn("seg", lit(s.id)))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[CorpusDoc].toDF().withColumn("seg", lit(0)))

  def docStats(): DataFrame =
    segments.map(s => readStage(s.id, "docstats", Encoders.product[DocStat].schema))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[DocStat].toDF())

  /** Live per-(field, term) df: segment sums minus delete corrections.
    * A single-segment store skips the cross-segment aggregation outright —
    * its df table already holds one row per (field, term), so the groupBy
    * was an identity that cost every cold dictionary scan (df fetches,
    * prefix/fuzzy expansions) an exchange. */
  def termDf(): DataFrame = {
    val segs = segments
    if (segs.isEmpty) return spark.emptyDataset[TermDf].toDF()
    val tables = segs.map(s => readStage(s.id, "df", dfTableSchema))
    val base =
      if (tables.size == 1) tables.head.select(col("field"), col("term"), col("df"))
      else tables.reduce(_ unionByName _)
        .groupBy(col("field"), col("term")).agg(sum(col("df")).as("df"))
    val deltaPath = p("dfdelta")
    if (!fs.exists(deltaPath)) base
    else {
      val delta = spark.read.schema(dfDeltaSchema).parquet(deltaPath.toString)
        .groupBy(col("field"), col("term")).agg(sum(col("ddf")).as("ddf"))
      base.join(delta, Seq("field", "term"), "left")
        .select(col("field"), col("term"),
          (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
        .filter(col("df") > 0)
    }
  }

  /** Live per-field (n, sum_dl): the raw per-segment fieldstats rows and
    * the negated raw tombstats corrections (fields × segments and fields ×
    * deletes rows, over the same fields) in ONE collect with no shuffle,
    * summed on the driver. */
  def fieldStats(): Map[String, (Long, Long)] = {
    val tsPath = p("tombstats")
    (segments.map(s => readStage(s.id, "fieldstats", fieldStatsSchema)) ++
      Option.when(fs.exists(tsPath))(spark.read.schema(tombStatsSchema).parquet(tsPath.toString)
        .select(col("field"), -col("dn"), -col("dsum_dl"))))
      .reduceOption(_ union _).fold(Map.empty[String, (Long, Long)])(_.collect()
        .groupMapReduce(_.getString(0))(r => (r.getLong(1), r.getLong(2))) {
          case ((n, s), (m, t)) => (n + m, s + t)
        })
  }

  /** Raw tombstone row count, summed from parquet footers on the driver —
    * NO Spark job and no data read (this runs on every store-version cache
    * refresh and on catalog listings, so a job here would serialize every
    * query behind the scheduler). An upper bound on distinct deleted ids;
    * the tombstone side of the search layer's driver gate. */
  def tombstoneCount(): Long = tableStats("tombstones").rows

  /** Rows, bytes and files of each delete table — tombstones, then the
    * dfdelta and tombstats corrections — from parquet footers: no job. */
  def deleteStats(): Seq[StageStat] = Seq("tombstones", "dfdelta", "tombstats").map(tableStats)

  private def tableStats(table: String): StageStat = {
    val m = if (fs.exists(p(table))) parquetFileMetrics(p(table)) else Nil
    StageStat(table, m.map(_._2).sum, m.map(_._3).sum, m.size, None)
  }

  /** Aggregated tombstones as a DataFrame (t_doc_id, t_max_seg): the
    * anti-join form. Never collected. */
  def tombstoneAgg(): DataFrame =
    tombstonesDF().groupBy(col("doc_id")).agg(max(col("max_seg")).as("max_seg"))
      .toDF("t_doc_id", "t_max_seg")

  /** Raw tombstone rows (doc_id, max_seg), one per delete, never
    * aggregated — what the search layer turns into per-shard
    * [[graft.search.TombSet]]s, on the driver and beside the resident
    * postings. */
  def tombstonesDF(): DataFrame = {
    val tp = p("tombstones")
    if (!fs.exists(tp)) spark.emptyDataset[Tombstone].toDF()
    else spark.read
      .schema(Encoders.product[Tombstone].schema)
      .parquet(tp.toString) // explicit schema: no inference job
  }

  /** One-row plan counting the (doc, segment) pairs killed by tombstones —
    * live doc count = Σ manifest numDocs − this, the exact complement of
    * [[liveCorpus]]'s anti-join. Joins the slim docstats tables (doc_id
    * only, never the corpus) against aggregated tombstones; returned
    * UNEXECUTED so a catalog listing can union many stores' plans into a
    * single Spark job. */
  def killedDocCountDF(): DataFrame = {
    // explicit schemas: a schema-inference footer job per parquet read
    // would defeat the whole single-job catalog contract
    val docStatSchema = Encoders.product[DocStat].schema
    val ds = segments.map(s =>
        spark.read.schema(docStatSchema).parquet(p(s"seg-${s.id}", "docstats").toString)
          .select(col("doc_id")).withColumn("seg", lit(s.id)))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[(Long, Int)].toDF("doc_id", "seg"))
    val ts = tombstoneAgg()
    ds.join(ts, ds("doc_id") === ts("t_doc_id") && ds("seg") <= ts("t_max_seg"),
        "left_semi")
      .agg(count(lit(1)).as("n_killed"))
  }

  /** The manifest's path, qualified once per store. */
  @transient private lazy val manifestPath: Path = fs.makeQualified(p("manifest.json"))

  /** Cheap store-version token (driver-side FS metadata only): changes when
    * any segment commits or any tombstone/df correction lands, since each of
    * those ends by rewriting the manifest under a new generation. Lets query
    * layers cache stats/plans and invalidate correctly after CRUD. Every
    * call stats the manifest afresh — one file, however many deletes the
    * store holds — so a write through another handle or JVM shows at the
    * next poll. */
  def versionToken(): String =
    try {
      val st = fs.getFileStatus(manifestPath)
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case _: java.io.FileNotFoundException => "-" }

  /** Field catalog: per-field live doc count and distinct term count — the
    * reference's listIndexes (field name + TotalDocuments,
    * indexing.go:235-250). */
  def listFields(): DataFrame = {
    val fs = fieldStats().toSeq.map { case (f, (n, s)) => (f, n, s) }
      .toDF("field", "n_docs", "sum_dl")
    val terms = termDf().groupBy(col("field")).agg(count(lit(1)).as("n_terms"))
    fs.join(terms, Seq("field"), "left").na.fill(0L, Seq("n_terms"))
      .select(col("field"), col("n_docs"), col("n_terms")).orderBy("field")
  }

  /** Order-insensitive fingerprint over ALL indexed CorpusDoc fields —
    * (row count, bit_xor of per-row xxhash64). Hashing every field (not
    * just doc_id+content) means a retry whose corpus changed only repo/
    * path/lang metadata is correctly seen as DIFFERENT (those fields are
    * indexed too). bit_xor: order-insensitive, overflow-free under ANSI. */
  private def corpusFingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(col("doc_id"), col("repo"), col("path"),
        col("commit"), col("lang"), col("content")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** True when the corpus stage written under `segId` — committed or not —
    * fingerprints to exactly this corpus. Callers must ensure the stage
    * exists ([[stageDone]] / manifest). */
  def stagedCorpusMatches(segId: Int, corpus: Dataset[CorpusDoc]): Boolean =
    corpusFingerprint(readStage(segId, "corpus", corpusSchema)) ==
      corpusFingerprint(corpus.toDF())

  /** True when committed segment `segId` indexes exactly this corpus (all
    * fields, order-insensitive) — two small aggregation jobs over the
    * stored segment corpus and the candidate batch. A committed 0-doc
    * segment matches an empty candidate batch (the fingerprints agree on
    * count, so an empty batch can never spuriously match a non-empty
    * segment or vice versa) — a replayed empty micro-batch must verify as
    * its own committed segment instead of re-claiming a fresh id forever. */
  def segmentMatches(segId: Int, corpus: Dataset[CorpusDoc]): Boolean =
    segments.exists(_.id == segId) && stagedCorpusMatches(segId, corpus)

  /** Deletes an UNCOMMITTED segment working directory (stage outputs +
    * checkpoints). Refuses to touch a committed segment. */
  def dropUncommittedSegmentDir(segId: Int): Unit = {
    require(!segments.exists(_.id == segId),
      s"seg-$segId is committed; dropUncommittedSegmentDir refuses to delete it")
    fs.delete(p(s"seg-$segId"), true)
    ()
  }

  /** Makes an UNCOMMITTED working dir at `segId` safe to resume-build with
    * `corpus`: if any stage output exists but the corpus stage is absent or
    * fingerprints to a different corpus, the leftovers are FOREIGN (a
    * crashed writer that claimed the same id) and are wiped — resuming onto
    * them would commit the wrong documents. "Any stage output" is detected
    * by listing the `_checkpoints` marker dir, so a stage added to the
    * build later is covered automatically. Stages run concurrently, so any
    * single stage can exist without the others; only a present-and-matching
    * corpus stage proves ownership (and after a wipe, a fresh build can
    * only leave own outputs — single writer in flight per contract).
    * Invoked by [[buildSegmentAt]] on every resume build; cost when no
    * leftovers exist is one FS listing. */
  def prepareClaimedSegment(segId: Int, corpus: Dataset[CorpusDoc]): Unit = {
    val markers = p(s"seg-$segId", "_checkpoints")
    val anyStage = fs.exists(markers) && fs.listStatus(markers).nonEmpty
    lazy val own = stageDone(segId, "corpus") && stagedCorpusMatches(segId, corpus)
    if (anyStage && !own) dropUncommittedSegmentDir(segId)
  }

  /** True when the LAST committed segment indexes exactly this corpus —
    * lets a build retry that lands after the manifest commit become a no-op
    * instead of a duplicate segment. */
  def lastSegmentMatches(corpus: Dataset[CorpusDoc]): Boolean =
    segments.maxByOption(_.id).exists(last => segmentMatches(last.id, corpus))

  // ---------- CRUD ----------

  /** Append a batch of new documents (new doc_ids) as a fresh segment. */
  def add(docs: Dataset[CorpusDoc]): Int = createSegment(docs)

  /** Delete documents by id. Re-tokenizes the stored docs (reference
    * indexing.go:604-667 recomputes posting keys from content) to precompute
    * df and length-stat corrections, then appends tombstones — postings blobs
    * are never edited in place. This Seq overload is the CRUD-by-id shape
    * (bounded id lists); a pipeline-scale sweep whose victim set is itself a
    * table (e.g. every doc of a dedup group) must use [[delete(ids:DataFrame)*]],
    * which never materializes the ids on the driver. */
  def delete(docIds: Seq[Long]): Unit = {
    if (docIds.isEmpty) return
    val idSet = docIds.toSet
    // resolve against LIVE docs only: deleting an already-deleted id is a
    // no-op (otherwise its df/stats corrections would be applied twice)
    deleteVictims(liveCorpus().filter(col("doc_id").isInCollection(idSet))
      .as[CorpusDoc])
  }

  /** Distributed bulk delete: `ids` is a one-column DataFrame of doc ids
    * (any column name, castable to long). Victims are resolved with a
    * left-semi join — the id set is never collected, broadcast-listed, or
    * turned into an IN literal, so a sweep deleting 10^8 ids (a dedup
    * pass over the live corpus) runs entirely as shuffled joins. Write
    * path (df/stats corrections + tombstones) is identical to the Seq
    * overload. */
  def delete(ids: DataFrame): Unit = {
    val idCol = ids.columns.head
    val victims = liveCorpus()
      .join(ids.select(col(idCol).cast("long").as("doc_id")), Seq("doc_id"), "left_semi")
      .as[CorpusDoc]
    deleteVictims(victims)
  }

  private def deleteVictims(victims: Dataset[CorpusDoc]): Unit = {
    val maxSeg = segments.map(_.id).reduceOption(_ max _).getOrElse(-1)
    victims.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE tokenize walk feeds both corrections: one row per distinct
    // (field, term) of each victim doc, fidx mapped back through the SORTED
    // field list (the surrogate's meaning) and dl unpacked from tfdl
    val rows = IndexBuilder.postingsNarrow(victims, cfg.fields)
      .toDF("fidx", "term", "doc_id", "tfdl")
      .select(element_at(typedLit(cfg.fields.sorted), col("fidx").cast("int") + 1).as("field"),
        col("term"), col("doc_id"), col("tfdl").bitwiseAND(0xffffffffL).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nVictims = victims.count()
      if (nVictims == 0) return
      // df corrections: each row is one doc of its (field, term)
      val deltas = rows.groupBy(col("field"), col("term")).agg(count(lit(1)).as("ddf"))
      deltas.write.mode(SaveMode.Append).parquet(p("dfdelta").toString)
      // stats corrections. n was set to numDocs for EVERY field at build, so
      // dn must be the victim-doc count for every field too — even a field
      // that tokenizes to zero tokens for a victim (no posting rows) had that
      // doc counted in its n. dsum_dl still comes from the tokenized lengths.
      val dsum = rows
        .groupBy(col("field"), col("doc_id")).agg(first(col("dl")).as("dl"))
        .groupBy(col("field")).agg(sum(col("dl")).as("dsum_dl"))
      val stats = cfg.fields.toDF("field")
        .join(dsum, Seq("field"), "left")
        .select(col("field"), lit(nVictims).as("dn"),
          coalesce(col("dsum_dl"), lit(0L)).as("dsum_dl"))
      stats.write.mode(SaveMode.Append).parquet(p("tombstats").toString)
      // tombstones
      victims.select(col("doc_id")).distinct()
        .withColumn("max_seg", lit(maxSeg))
        .write.mode(SaveMode.Append).parquet(p("tombstones").toString)
      // the commit: readers see the three appends from here on
      raiseGeneration()
    } finally { rows.unpersist(); victims.unpersist(); () }
  }

  /** Update = delete + re-add under a newer segment (reference
    * indexing.go:669-687: "deletes the document, then adds the new one").
    * The delete resolves by semi-join, so a bulk update never collects its
    * id set to the driver. */
  def update(docs: Dataset[CorpusDoc]): Int = {
    delete(docs.select("doc_id").toDF())
    createSegment(docs)
  }

  /** Rewrites the whole store as a single segment over live documents,
    * clearing tombstones and deltas (the blob-edit answer at scale).
    *
    * Crash-safe ordering: build into `.compact`, swap the old store aside
    * (`.old`) before moving the new one into place, delete `.old` last. A
    * crash at any point leaves either the original store intact or both
    * directories recoverable — never a destroyed store. A leftover
    * `.compact` from a previously failed run is cleared first so it can't
    * contribute a stale segment. */
  def compact(): Unit = {
    val compactPath = new Path(baseDir + ".compact")
    val oldPath = new Path(baseDir + ".old")
    // Recovery from a crash BETWEEN the two renames of a previous compact:
    // baseDir is missing and `.old` holds the original store — restore it
    // before anything else. Deleting `.old` while baseDir is absent would
    // destroy the only surviving copy.
    if (!fs.exists(new Path(baseDir)) && fs.exists(oldPath)) {
      if (!fs.rename(oldPath, new Path(baseDir)))
        sys.error(s"compact: recovery rename $oldPath -> $baseDir failed")
    }
    if (fs.exists(compactPath)) fs.delete(compactPath, true)
    if (fs.exists(oldPath)) fs.delete(oldPath, true)
    val live = liveCorpus().as[CorpusDoc]
    val tmp = new IndexStore(spark, baseDir + ".compact", cfg)
    tmp.createSegment(live)
    // the rebuilt store continues this one's generations
    tmp.writeManifest(tmp.segments, generation() + 1)
    // re-home the similarity layer (signature tables of LIVE docs +
    // similarity.json) onto the rebuilt store BEFORE the swap — the swap
    // replaces baseDir wholesale, and losing the tables would put a
    // corpus-proportional re-signature in front of the next dedup sweep
    SimilarityIndex.carryThroughCompact(this, tmp)
    val dst = new Path(baseDir)
    if (!fs.rename(dst, oldPath))
      sys.error(s"compact: failed to move $dst aside to $oldPath")
    if (!fs.rename(compactPath, dst)) {
      // restore the original store rather than leaving nothing at baseDir
      fs.rename(oldPath, dst)
      sys.error(s"compact: failed to move $compactPath into place (restored original)")
    }
    fs.delete(oldPath, true)
    ()
  }

  /** Corpus rows still visible (tombstone-filtered, segment-generation
    * aware), without `seg` on every branch: an anti-join against the raw
    * tombstone rows — a row of the doc at a segment ≥ `seg` exists iff
    * [[tombstoneAgg]]'s max does, so no aggregation is needed — whose
    * small side is broadcast. Building the plan runs no job: emptiness
    * comes from the manifest and the tombstone footers. */
  def liveCorpus(): DataFrame = {
    val segs = segments
    val c = corpusOf(segs)
    if (segs.isEmpty || tombstoneCount() == 0L) return c.drop("seg")
    val ts = tombstonesDF()
    c.join(ts, c("doc_id") === ts("doc_id") && c("seg") <= ts("max_seg"), "left_anti").drop("seg")
  }
}
