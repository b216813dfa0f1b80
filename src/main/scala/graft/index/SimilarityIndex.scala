package graft.index

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED similarity signatures riding the [[IndexStore]] segment
  * layout — maintained like postings, so dedup maintenance stops
  * re-signaturing the whole corpus per run. Three signature kinds share
  * the lifecycle (MinHash for the incremental sweep, SimHash for stored
  * Hamming scans, raw shingles for persisted decontamination):
  *
  * {{{
  * base/
  *   similarity.json              — pinned field + per-kind params + sweep watermark
  *   seg-<i>/minhash/             — (doc_id, sig: array<long>[numHashes], seg)
  *   seg-<i>/simhash/             — (doc_id, simhash: long, seg)
  *   seg-<i>/shingles/            — (doc_id, shingle: string, seg) — uncapped
  *   seg-<i>/_checkpoints/{minhash,simhash,shingles}.json   written once per segment
  * }}}
  *
  * Signatures are PURE PER-DOC functions (uncapped shingles → seeded
  * affine min-hashes; tf-weighted bit votes → 62-bit SimHash), which is
  * what makes them incrementally maintainable: a new segment's tables
  * depend only on its own rows. [[ensure]]/[[ensureSimHash]] compute
  * exactly the missing segments' tables (through the store's checkpointed
  * stage machinery — same markers, lineage and per-partition metrics as
  * the core build stages); deletes need nothing (reads are
  * tombstone-filtered like [[IndexStore.liveCorpus]]); merge and compact
  * CARRY the tables and the sweep watermark onto the folded output
  * ([[carryMerge]] / [[SimilarityIndex.carryThroughCompact]]) — no
  * maintenance fold re-signatures the corpus.
  *
  * `similarity.json` pins `textField` for BOTH kinds (mixing fields would
  * compare hashes of different content) and the MinHash parameters for the
  * MinHash tables only — SimHash has no tunable parameters, so a SimHash
  * scan neither records nor validates MinHash settings (and cannot poison
  * a store with defaults the MinHash side never used). It also records the
  * sweep WATERMARK (segment ids + threshold covered by the last completed
  * non-dry [[graft.pipeline.Dedup.sweepIndexPersisted]]): an incremental
  * sweep generates candidate pairs only for documents of segments PAST the
  * watermark — pairs wholly inside it were already resolved by the sweep
  * that set it. */
class SimilarityIndex(val store: IndexStore, val textField: String = "content",
                      val numHashes: Int = 64, val seed: Long = 42L,
                      val shingleK: Int = 3) {
  private val spark: SparkSession = store.spark
  private val hconf = spark.sparkContext.hadoopConfiguration
  private def metaPath = new Path(s"${store.baseDir}/similarity.json")
  private def fs = metaPath.getFileSystem(hconf)

  import SimilarityIndex.Meta

  private def readMeta(): Option[Meta] = {
    if (!fs.exists(metaPath)) return None
    val in = fs.open(metaPath)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val n = new ObjectMapper().readTree(txt)
    val swept = Option(n.get("sweptSegs")).map(a =>
      (0 until a.size()).map(i => a.get(i).asInt()).toSet).getOrElse(Set.empty)
    // legacy layout (first generation of this file) kept the MinHash
    // params flat at the top level — adopt them as the minhash block, or a
    // legacy store would silently lose its parameter guard and get
    // re-pinned to whatever the next caller's defaults are
    val mh = Option(n.get("minhash")).map(b =>
        (b.get("numHashes").asInt(), b.get("seed").asLong(), b.get("shingleK").asInt()))
      .orElse(Option(n.get("numHashes")).map(nh =>
        (nh.asInt(), n.get("seed").asLong(), n.get("shingleK").asInt())))
    Some(Meta(n.get("textField").asText(), mh, swept,
      Option(n.get("sweptMinJaccard")).map(_.asDouble()),
      Option(n.get("shingles")).map(_.get("k").asInt()),
      Option(n.get("segColumnTables")).exists(_.asBoolean())))
  }

  private def writeMeta(m: Meta): Unit = {
    val minJ = m.sweptMinJaccard.map(j => s""","sweptMinJaccard":$j""").getOrElse("")
    val mh = m.minhash.map { case (nh, sd, k) =>
      s""","minhash":{"numHashes":$nh,"seed":$sd,"shingleK":$k}"""
    }.getOrElse("")
    val shk = m.shinglesK.map(k => s""","shingles":{"k":$k}""").getOrElse("")
    val sc = if (m.segColumn) s""","segColumnTables":true""" else ""
    val json =
      s"""{"textField":"${m.textField}",""" +
      s""""sweptSegs":${m.swept.toSeq.sorted.mkString("[", ",", "]")}$minJ$mh$shk$sc}"""
    val out = fs.create(metaPath, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def checkField(m: Meta): Unit =
    require(m.textField == textField,
      s"similarity index at ${store.baseDir} covers field '${m.textField}'; " +
        s"refusing to mix signatures over field '$textField' " +
        "— re-derive under one field")

  private def checkMinHash(m: Meta): Unit = {
    checkField(m)
    m.minhash.foreach { case (nh, sd, k) =>
      require(nh == numHashes && sd == seed && k == shingleK,
        s"similarity index at ${store.baseDir} was built with MinHash " +
          s"(hashes=$nh, seed=$sd, k=$k); refusing to mix signatures with " +
          s"(hashes=$numHashes, seed=$seed, k=$shingleK) " +
          "— re-derive under one parameter set")
    }
  }

  /** Fails loudly on a MinHash parameter mismatch with the persisted
    * config; writes NOTHING (safe on a read-only store). */
  def validateParams(): Unit = readMeta().foreach(checkMinHash)

  /** Field-only validation for the SimHash side; writes NOTHING. */
  def validateField(): Unit = readMeta().foreach(checkField)

  // ---------- shared per-kind stage-table lifecycle ----------

  /** Writes the per-segment table of one signature kind for every
    * committed segment lacking it; returns the freshly covered seg ids.
    * The `seg` provenance column is PERSISTED into the table (one literal
    * int per row, dictionary-encoded to nothing in parquet) so that
    * [[kindValues]] can read every segment's table in ONE multi-path scan
    * instead of a per-segment union — a micro-batch store with 10^4
    * segments must not build a 10^4-way union plan per sweep. */
  private def ensureKind(stage: String, plan: Int => DataFrame): Seq[Int] = {
    val missing = store.segments.filterNot(s => store.stageDone(s.id, stage))
    missing.foreach { seg =>
      store.runStage(seg.id, stage, Seq(s"seg-${seg.id}/corpus"), resume = true) {
        plan(seg.id).withColumn("seg", lit(seg.id))
      }
    }
    missing.map(_.id)
  }

  private def withSeg(schema: StructType): StructType =
    schema.add(StructField("seg", IntegerType))

  /** One kind's tables across all committed segments with a `seg`
    * provenance column (explicit schema: no inference job per segment).
    *
    * On a store whose metadata records the round-5 table layout
    * (`segColumnTables` — every table persists its own `seg` column),
    * persisted tables are read as ONE multi-path scan: the plan holds a
    * single file-source relation no matter how many segments exist, and
    * because `seg` is a REAL column constant per file, a downstream
    * `seg ∈ fresh` filter pushes into the scan and prunes whole files via
    * footer min/max — the incremental sweep's fresh side reads only the
    * new segments' files. (A derived/path-recovered column would block
    * that pushdown, which is why the layout is versioned instead of
    * coalescing a fallback in.) A store whose metadata predates the flag
    * keeps the per-segment union-of-reads with a literal `seg` — correct
    * for tables with or without the column, branch-pruned by Catalyst
    * under seg filters, merely non-scalable past ~10^3 segments.
    * `IndexStore.compact()` IS the upgrade: it rewrites every table with
    * the column and flips the flag (see [[carryThroughCompact]]); a merge
    * only rewrites the folded segments, so it cannot flip it.
    *
    * With `transientMissing`, segments lacking a table contribute their
    * computation PLAN instead (recomputed per action, nothing written) —
    * the read-only shape dry-run audits need; without it a missing table
    * fails loudly (reading a half-covered store silently would otherwise
    * surface as a confusing path error, or worse, recompute corpus-scale
    * work per action behind the caller's back — run `ensure*()` first, or
    * opt into `transientMissing`). */
  private def kindValues(stage: String, schema: StructType,
                         plan: Int => DataFrame,
                         transientMissing: Boolean): DataFrame =
    kindValuesWithMissing(stage, schema, plan, transientMissing)._1

  /** [[kindValues]] plus whether any segment lacked its table — computed
    * from the SAME manifest listing, so [[liveKind]] does not pay a second
    * full manifest read plus a per-segment stage-marker probe (thousands
    * of redundant driver-side FS round-trips on a micro-batch store). */
  private def kindValuesWithMissing(stage: String, schema: StructType,
                                    plan: Int => DataFrame,
                                    transientMissing: Boolean): (DataFrame, Boolean) = {
    val (done, missing) = store.segments.partition(s => store.stageDone(s.id, stage))
    require(missing.isEmpty || transientMissing,
      s"similarity index at ${store.baseDir}: segment(s) " +
        s"${missing.map(_.id).mkString(", ")} have no persisted '$stage' " +
        "table — run ensure()/ensureSimHash() first (or pass " +
        "transientMissing=true to compute them in-plan without writing)")
    val persisted =
      if (done.isEmpty) None
      else if (readMeta().exists(_.segColumn)) Some {
        spark.read.schema(withSeg(schema))
          .parquet(done.map(s => store.segPath(s.id, stage)): _*)
      }
      else Some {
        done.map(s => spark.read.schema(schema)
            .parquet(store.segPath(s.id, stage))
            .withColumn("seg", lit(s.id)))
          .reduce(_ unionByName _)
      }
    val transients = missing.map(s => plan(s.id).withColumn("seg", lit(s.id)))
    val df = (persisted.toSeq ++ transients).reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        withSeg(schema)))
    (df, missing.nonEmpty)
  }

  private def tombstoneFilter(df: DataFrame): DataFrame = {
    if (store.tombstoneCount() == 0L) return df
    val ts = store.tombstoneAgg()
    df.join(ts, df("doc_id") === ts("t_doc_id") &&
      df("seg") <= ts("t_max_seg"), "left_anti")
  }

  /** Live values of one kind, optionally PINNING the transient plans:
    * read-only consumers that feed the kind frame into several plan
    * subtrees (self-joins, cap aggregations) would otherwise re-run the
    * corpus-scale tokenize/hash plan of every UNSIGNED segment once per
    * subtree per action. The pin (`localCheckpoint` — write-free) fires
    * only when a segment actually lacks its table — a fully-covered store
    * reads cheap parquet and must not be copied into executor storage —
    * and is applied BEFORE the tombstone anti-join: `localCheckpoint`'s
    * `Dataset.rdd` materialization of a join-bearing plan statically zips
    * stages AQE would re-plan (the failure recorded in
    * [[graft.pipeline.Dedup.applySweepTo]]'s history); the per-segment
    * plans themselves are join-free. */
  private def liveKind(stage: String, schema: StructType,
                       plan: Int => DataFrame, transientMissing: Boolean,
                       pinTransient: Boolean): DataFrame = {
    val (values, anyMissing) =
      kindValuesWithMissing(stage, schema, plan, transientMissing)
    val pinned =
      if (pinTransient && anyMissing) values.localCheckpoint(true) else values
    tombstoneFilter(pinned)
  }

  // ---------- MinHash tables ----------

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType))))

  /** The MinHash signature plan for one segment's stored corpus. */
  private def segSignaturePlan(segId: Int): DataFrame = {
    val corpus = spark.read.parquet(store.segPath(segId, "corpus"))
      .select(col("doc_id"), col(textField).as("text"))
    graft.pipeline.Dedup.minHashSignatures(
      graft.pipeline.Dedup.shingles(corpus, k = shingleK, maxShingleDf = 0),
      numHashes, seed)
  }

  /** Computes MinHash tables for every committed segment lacking one;
    * returns the segment ids that were signatured by THIS call. Pins the
    * MinHash parameters in the metadata on first use. */
  def ensure(): Seq[Int] = {
    readMeta() match {
      case Some(m) =>
        checkMinHash(m)
        if (m.minhash.isEmpty)
          writeMeta(m.copy(minhash = Some((numHashes, seed, shingleK))))
      case None =>
        writeMeta(Meta(textField, Some((numHashes, seed, shingleK)), Set.empty,
          None, segColumn = true))
    }
    ensureKind("minhash", segSignaturePlan)
  }

  /** All committed segments' MinHash signatures; see [[kindValues]] for
    * `transientMissing`. */
  def signatures(transientMissing: Boolean = false): DataFrame =
    kindValues("minhash", sigSchema, segSignaturePlan, transientMissing)

  /** Signatures of LIVE documents only — the same tombstone anti-join
    * semantics as [[IndexStore.liveCorpus]] (a doc deleted at or after its
    * segment's generation is filtered). `pinTransient`: see [[liveKind]]. */
  def liveSignatures(transientMissing: Boolean = false,
                     pinTransient: Boolean = false): DataFrame =
    liveKind("minhash", sigSchema, segSignaturePlan, transientMissing,
      pinTransient)

  // ---------- SimHash tables ----------

  private val simHashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("simhash", LongType)))

  private def segSimHashPlan(segId: Int): DataFrame =
    graft.pipeline.Dedup.simHashes(
      spark.read.parquet(store.segPath(segId, "corpus"))
        .select(col("doc_id"), col(textField).as("text")))

  /** Computes per-segment SimHash tables (`seg-<i>/simhash/`) for every
    * committed segment lacking one — the second persisted signature kind.
    * SimHash has no tunable parameters beyond the pinned analyzer/hash
    * family; only `textField` is validated/pinned. */
  def ensureSimHash(): Seq[Int] = {
    readMeta() match {
      case Some(m) => checkField(m)
      case None =>
        writeMeta(Meta(textField, None, Set.empty, None, segColumn = true))
    }
    ensureKind("simhash", segSimHashPlan)
  }

  /** All committed segments' SimHash values; see [[kindValues]]. */
  def simHashValues(transientMissing: Boolean = false): DataFrame =
    kindValues("simhash", simHashSchema, segSimHashPlan, transientMissing)

  /** Live-document SimHash values (tombstone-filtered); `pinTransient`:
    * see [[liveKind]]. */
  def liveSimHashes(transientMissing: Boolean = false,
                    pinTransient: Boolean = false): DataFrame =
    liveKind("simhash", simHashSchema, segSimHashPlan, transientMissing,
      pinTransient)

  // ---------- raw shingle tables ----------

  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shingle", StringType)))

  private def segShinglesPlan(segId: Int): DataFrame =
    graft.pipeline.Dedup.shingles(
      spark.read.parquet(store.segPath(segId, "corpus"))
        .select(col("doc_id"), col(textField).as("text")),
      k = shingleK, maxShingleDf = 0)

  private def checkShingles(m: Meta): Unit = {
    checkField(m)
    m.shinglesK.foreach(k => require(k == shingleK,
      s"similarity index at ${store.baseDir} stores $k-shingles; refusing " +
        s"to mix with k=$shingleK — re-derive under one k"))
  }

  /** Fails loudly on a shingle-k mismatch with the persisted config;
    * writes NOTHING (safe on a read-only store). */
  def validateShingles(): Unit = readMeta().foreach(checkShingles)

  /** Computes per-segment RAW SHINGLE tables (`seg-<i>/shingles/`,
    * `(doc_id, shingle)` UNCAPPED — a pure per-doc function like the other
    * kinds; frequency caps are a cross-corpus policy applied at read time)
    * for every committed segment lacking one. This is the third persisted
    * kind: repeated decontamination reports against a growing corpus read
    * stored shingle rows instead of re-tokenizing and re-shingling the
    * training corpus per report
    * ([[graft.pipeline.Dedup.contaminationReportPersisted]]). The table
    * trades one-time storage (≈ k× the token volume, dictionary-encoded by
    * parquet) for the per-report tokenize+shingle CPU pass — the same
    * trade the posting store makes for term lookups. Pins `k` on first
    * use. */
  def ensureShingles(): Seq[Int] = {
    readMeta() match {
      case Some(m) =>
        checkShingles(m)
        if (m.shinglesK.isEmpty) writeMeta(m.copy(shinglesK = Some(shingleK)))
      case None =>
        writeMeta(Meta(textField, None, Set.empty, None, Some(shingleK),
          segColumn = true))
    }
    ensureKind("shingles", segShinglesPlan)
  }

  /** All committed segments' raw shingles; see [[kindValues]]. */
  def shingleValues(transientMissing: Boolean = false): DataFrame =
    kindValues("shingles", shingleSchema, segShinglesPlan, transientMissing)

  /** Live-document raw shingles (tombstone-filtered); `pinTransient`:
    * see [[liveKind]]. */
  def liveShingles(transientMissing: Boolean = false,
                   pinTransient: Boolean = false): DataFrame =
    liveKind("shingles", shingleSchema, segShinglesPlan, transientMissing,
      pinTransient)

  // ---------- sweep watermark ----------

  /** Committed segments past the sweep watermark — the docs an incremental
    * sweep must pair against the whole live corpus. The watermark is ONLY
    * valid for the threshold it was swept at: a different `minJaccard`
    * changes which pairs count as duplicates, so the watermark is
    * discarded and every segment reports unswept (the next sweep is a full
    * one) — silently keeping it would under-delete after a policy
    * tightening. */
  def unsweptSegs(minJaccard: Double): Seq[Int] = sweepScope(minJaccard)._1

  /** One atomic capture of the sweep's coverage: `(unswept, covered)`
    * where `covered` is EVERY segment id the sweep will have resolved —
    * the validly-swept set plus the unswept ids it is about to pair. The
    * sweep passes `covered` back to [[markSwept]] verbatim: re-listing
    * `store.segments` at mark time would watermark a segment committed by
    * another writer WHILE the candidate join ran, silently under-deleting
    * at this threshold forever. */
  def sweepScope(minJaccard: Double): (Seq[Int], Seq[Int]) = {
    val meta = readMeta()
    val valid = meta.exists(_.sweptMinJaccard.contains(minJaccard))
    val swept = if (valid) meta.map(_.swept).getOrElse(Set.empty[Int])
                else Set.empty[Int]
    val all = store.segments.map(_.id)
    (all.filterNot(swept), (swept ++ all).toSeq.sorted)
  }

  // ---------- merge/compact carry ----------

  /** Re-homes the persisted signature tables of `oldIds` onto the merged
    * segment `newId` — called by [[IndexStore.mergeSmallSegments]] BEFORE
    * it deletes the folded segment directories. Signatures are pure
    * per-doc functions, so they survive re-segmenting verbatim: the merged
    * segment's table is the union of the old tables with provenance
    * re-stamped, written through the same checkpointed stage machinery as
    * a fresh signature pass — WITHOUT this, a merge would drop the tables
    * and the next ensure would re-signature the whole merged corpus, the
    * exact corpus-proportional work the persistence exists to avoid. A
    * kind is carried only when EVERY folded segment has its table (a
    * partial union would silently under-cover the merged segment; the
    * next ensure computes it wholesale instead). The sweep watermark
    * follows the same rule: the merged segment is swept iff every folded
    * segment was — folded ids leave the watermark either way (they no
    * longer exist). */
  private[index] def carryMerge(oldIds: Seq[Int], newId: Int): Unit = {
    Seq(("minhash", sigSchema), ("simhash", simHashSchema),
        ("shingles", shingleSchema)).foreach {
      case (stage, schema) =>
        if (oldIds.nonEmpty && oldIds.forall(id => store.stageDone(id, stage)) &&
            !store.stageDone(newId, stage)) {
          store.runStage(newId, stage, oldIds.map(id => s"seg-$id/$stage"),
            resume = true) {
            spark.read.schema(withSeg(schema))
              .parquet(oldIds.map(id => store.segPath(id, stage)): _*)
              .drop("seg").withColumn("seg", lit(newId))
          }
        }
    }
    readMeta().foreach { m =>
      val swept =
        if (oldIds.nonEmpty && oldIds.forall(m.swept)) (m.swept -- oldIds) + newId
        else m.swept -- oldIds
      writeMeta(m.copy(swept = swept))
    }
  }

  /** Advances the sweep watermark (recording its threshold) to exactly
    * `coveredIds` — the ids captured when [[sweepScope]] was computed —
    * preserving the rest of the metadata. Called by the sweep AFTER its
    * deletes land; a dry run never advances (its findings were not
    * applied, so the segments are still unswept). */
  def markSwept(minJaccard: Double, coveredIds: Seq[Int]): Unit = {
    val m = readMeta().getOrElse(Meta(textField, None, Set.empty, None))
    writeMeta(m.copy(swept = coveredIds.toSet,
      sweptMinJaccard = Some(minJaccard)))
  }
}

object SimilarityIndex {

  /** minhash = (numHashes, seed, shingleK), present once the MinHash side
    * has pinned its parameters; shinglesK pinned once the raw-shingle side
    * has (the two pins are independent — each kind validates only its
    * own). Lives in the companion so maintenance hooks can move metadata
    * between two stores' instances. */
  private final case class Meta(textField: String,
                                minhash: Option[(Int, Long, Int)],
                                swept: Set[Int],
                                sweptMinJaccard: Option[Double],
                                shinglesK: Option[Int] = None,
                                segColumn: Boolean = false)

  /** Merge-fold hook (see [[SimilarityIndex.carryMerge]]): resolves the
    * store's pinned similarity field from `similarity.json` — no metadata
    * file means no similarity layer exists on this store and there is
    * nothing to carry. Parameter validation is irrelevant here: the carry
    * is a pure re-homing of whatever tables exist under whatever
    * parameters they were pinned with. */
  private[index] def carryThroughMerge(store: IndexStore, oldIds: Seq[Int],
                                       newId: Int): Unit =
    resolve(store).foreach(_.carryMerge(oldIds, newId))

  /** Compact-fold hook: [[IndexStore.compact]] rebuilds the whole store
    * from the live corpus into `tmpStore` (one fresh segment 0) and swaps
    * it in — without this, the swap would discard every signature table
    * AND `similarity.json`, and the next sweep would re-signature the
    * compacted corpus wholesale. Signatures of LIVE docs survive a compact
    * verbatim (pure per-doc functions; the compacted corpus is exactly the
    * tombstone-filtered row set), so each fully-covered kind is re-homed
    * as one tombstone-filtered union onto the new segment 0, and the
    * metadata follows with the watermark collapsed to {0} iff every old
    * segment was swept (a compact must never turn swept data unswept — or
    * unswept data swept). */
  private[index] def carryThroughCompact(oldStore: IndexStore,
                                         tmpStore: IndexStore): Unit =
    resolve(oldStore).foreach { oldSim =>
      val m = oldSim.readMeta().get
      val oldIds = oldStore.segments.map(_.id)
      Seq(("minhash", oldSim.sigSchema), ("simhash", oldSim.simHashSchema),
          ("shingles", oldSim.shingleSchema)).foreach { case (stage, schema) =>
        if (oldIds.nonEmpty && oldIds.forall(id => oldStore.stageDone(id, stage)) &&
            !tmpStore.stageDone(0, stage)) {
          tmpStore.runStage(0, stage,
            oldIds.map(id => s"${oldStore.baseDir}/seg-$id/$stage"),
            resume = true) {
            oldSim.tombstoneFilter(oldSim.kindValues(stage, schema,
                i => sys.error(s"carryThroughCompact: seg $i lost its $stage table"),
                transientMissing = false))
              .drop("seg").withColumn("seg", lit(0))
          }
        }
      }
      val allSwept = oldIds.nonEmpty && oldIds.forall(m.swept)
      // a compact is also the LAYOUT UPGRADE for a pre-flag store: every
      // table in the new store was either just rewritten above (seg column
      // persisted) or does not exist yet (ensureKind always writes the
      // column), so the multi-path read is unconditionally safe from here
      new SimilarityIndex(tmpStore, m.textField)
        .writeMeta(m.copy(swept = if (allSwept) Set(0) else Set.empty,
          segColumn = true))
    }

  /** The store's similarity layer under its PINNED field, or None when the
    * layer was never initialized on this store. */
  private def resolve(store: IndexStore): Option[SimilarityIndex] = {
    val p = new Path(s"${store.baseDir}/similarity.json")
    val fs = p.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val field = new ObjectMapper().readTree(txt).get("textField").asText()
    Some(new SimilarityIndex(store, field))
  }
}
