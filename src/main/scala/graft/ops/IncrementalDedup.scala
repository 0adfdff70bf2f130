package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Incremental near-dup detection against a PERSISTED corpus band index —
  * the production shape of dedup at 100 TB: the corpus's minhash bands are
  * computed once and stored bucketed by band hash; each arriving batch
  * computes bands only for ITS documents and probes the index with a
  * bucketed join. The corpus is never re-signed and never re-shuffled per
  * batch — the build paid the one hash exchange when it bucketed the
  * index, so every increment's join reads corpus buckets in place and
  * shuffles only the (small) batch side. Mirrors the reference's
  * incremental-load split (watermark extraction,
  * mozart_etl/lib/extract/connectors/base.py:69-79: a full pass
  * establishes state, increments touch only the delta) lifted from row
  * ingestion to near-dup detection.
  *
  * Banding is [[TextOps.bandsOfDocs]] — the SAME construction as the
  * batch self-join operator, so index and probe keys can never drift.
  * Hot buckets (> [[TextOps.MaxBucketSize]] corpus docs — boilerplate or
  * empty text, which exact dedup owns) are pruned AT BUILD TIME: the
  * stored index simply omits them, bounding every future probe's fan-out
  * without re-aggregating the corpus per batch.
  *
  * The fixture split: corpus = `doc_id % 3 != 0` ("already ingested"),
  * batch = `doc_id % 3 == 0` (today's delta). Production passes its own
  * frames via [[indexBands]] / [[incrementAgainst]].
  */
object IncrementalDedup {

  val IndexDb = "graft_inc_dedup"
  val IndexTable = "band_index"

  /** Bucket-count law for the persisted index — the same constant-
    * occupancy rule as [[VectorOps.adaptiveIvfCells]]: a bucketed SMJ
    * reads ONE task per bucket, so a fixed count caps the probe's
    * index-side parallelism no matter how large the corpus grows
    * (8 buckets at 100 TB = 8-way reads of a multi-TB index). Holding
    * bands-per-bucket near a constant keeps per-task input flat instead:
    * buckets = clamp(nBands / target, min, max). The floor keeps fixture
    * scale at the historical 8; the cap bounds files-per-write (every
    * bucket is ≥ 1 file per append — a million tiny buckets would trade
    * the parallelism cap for a small-file explosion). At the cap
    * (~2^15 buckets × 2^20-band target ≈ 3×10^10 bands ≈ a 200 TB-class
    * corpus) occupancy grows again — shard the INDEX at that point, like
    * the IVF law says to shard past its cell cap.
    */
  val MinIndexBuckets = 8
  val MaxIndexBuckets = 32768
  val TargetBandsPerBucket = 1L << 20
  private[graft] def adaptiveIndexBuckets(nBands: Long): Int =
    math.min(MaxIndexBuckets.toLong,
      math.max(MinIndexBuckets.toLong, nBands / TargetBandsPerBucket)).toInt

  /** Bucket count of the CURRENT stored index (appends must preserve the
    * stored spec — a mismatched append would corrupt bucketed reads).
    * A table with NO bucket spec is a hard error, not a default: writing
    * an 8-bucket layout into an index whose real layout differs would
    * silently corrupt every bucketed SMJ read — exactly the hazard this
    * method exists to prevent. Recovery is the scheduled rebuild
    * ([[buildIndexFrom]]), which restores a consistent spec.
    */
  private[graft] def currentIndexBuckets(s: SparkSession,
                                         db: String = IndexDb,
                                         table: String = IndexTable): Int =
    s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      .bucketSpec.map(_.numBuckets).getOrElse(throw new IllegalStateException(
        s"band index $db.$table has no bucket spec — the table is not the " +
          "layout appends require; rebuild it with buildIndexFrom before " +
          "appending"))

  private[graft] def corpusDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(expr("doc_id % 3 != 0"))

  private[graft] def batchDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(expr("doc_id % 3 = 0"))

  /** Hot-bucket pruning over an already-computed band frame. */
  private[graft] def pruneHot(bands: DataFrame): DataFrame = {
    val hot = bands.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n")).filter(col("n") > TextOps.MaxBucketSize)
      .select("band_idx", "band_hash")
    bands.join(broadcast(hot), Seq("band_idx", "band_hash"), "left_anti")
  }

  /** Corpus bands with hot buckets pruned — what the index stores. */
  private[graft] def indexBands(docs: DataFrame): DataFrame =
    pruneHot(TextOps.bandsOfDocs(docs))

  /** Sign `docs` ONCE (persist), prune hot buckets, hand the pruned frame
    * to `write`, release the cache. Without the persist the signature
    * pipeline (shingle explode + 16 min-aggregates — the dominant cost)
    * would run twice: once for the hot aggregation and once for the
    * anti-join probe side.
    */
  private def withPrunedBands(docs: DataFrame)
                             (write: (DataFrame, Long) => Unit): Unit = {
    val bands = TextOps.bandsOfDocs(docs).persist()
    // the count rides the cached frame (one cheap job) — it feeds the
    // adaptive bucket law without re-running the signature pipeline
    try write(pruneHot(bands), bands.count())
    finally bands.unpersist()
  }

  /** One bucketed index build per (session, sf dir) — same weak-keyed
    * write-once pattern as [[Relational]]'s bucketed tables (a collected
    * session's entry rebuilds on next use; the lock serializes concurrent
    * first calls).
    */
  private val builtFrom =
    new java.util.WeakHashMap[SparkSession, String]()

  /** (Re)build the bucketed index from an arbitrary corpus frame —
    * overwrites any previous index. The streaming ingest sink and custom
    * pipelines call this directly; the fixture queries go through
    * [[ensureIndex]].
    */
  /** `numBuckets` ≤ 0 (the default) derives the bucket count from the
    * corpus's band volume ([[adaptiveIndexBuckets]]); a positive value
    * pins it (tests, operators with a known layout target). `db`/`table`
    * default to the shared fixture index; pipelines owning their own
    * index state (e.g. [[graft.pipeline.CorpusPipeline]]) pass their own
    * target so fixture queries can never clobber pipeline state.
    */
  def buildIndexFrom(corpus: DataFrame, numBuckets: Int = 0,
                     db: String = IndexDb, table: String = IndexTable): String = {
    // a rebuild invalidates EVERY session's cached ensure-entry, not just
    // the caller's: the index table name is global, so a second live
    // session whose entry says builtFrom==d would otherwise pass the
    // ensureIndex check and silently probe the index this call just
    // rebuilt from a different corpus
    if (db == IndexDb && table == IndexTable)
      builtFrom.synchronized { builtFrom.clear() }
    withPrunedBands(corpus) { (pruned, nBands) =>
      graft.store.Warehouse.saveBucketed(pruned,
        db, table, Seq("band_idx", "band_hash"),
        numBuckets =
          if (numBuckets > 0) numBuckets else adaptiveIndexBuckets(nBands))
    }
    s"$db.$table"
  }

  private[graft] def ensureIndex(s: SparkSession, d: String): String =
    builtFrom.synchronized {
      val fqn = s"$IndexDb.$IndexTable"
      if (builtFrom.get(s) != d || !s.catalog.tableExists(fqn)) {
        val t0 = System.nanoTime()
        buildIndexFrom(corpusDocs(s, d))
        builtFrom.put(s, d)
        System.err.println(f"[incrementalDedup] band-index build (one-time, " +
          f"amortized across batches): ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      fqn
    }

  /** Probe `index` with `batch` bands: per batch document, the number of
    * DISTINCT corpus documents sharing any band, the lowest matching
    * corpus id (itself when none — null-free for the deterministic
    * compare), and the survivor verdict. `universe` supplies the batch
    * doc_id universe so documents too short to band (< 3 tokens) still
    * appear — as trivial survivors.
    *
    * Scale shape: the one join is batch-side-shuffled only (index buckets
    * are read in place, pre-sorted on the join key); the aggregate is
    * keyed by batch doc; nothing driver-side.
    */
  private[graft] def incrementAgainst(index: DataFrame, batchBands: DataFrame,
                                      universe: DataFrame): DataFrame =
    incrementVerdicts(index, batchBands, universe).orderBy("doc_id")

  /** The raw (batch doc, matching corpus doc) pairs of one index probe —
    * the shard-mergeable half of [[incrementVerdicts]]: verdicts
    * aggregate over the UNION of every shard's matches, so the per-doc
    * distinct-count and min compose exactly.
    */
  private def probeMatches(index: DataFrame, batchBands: DataFrame): DataFrame =
    batchBands.join(index.withColumnRenamed("doc_id", "corpus_id"),
      Seq("band_idx", "band_hash"))
      .select("doc_id", "corpus_id")

  private def verdictsOf(matches: DataFrame, universe: DataFrame): DataFrame = {
    val agg = matches.groupBy("doc_id")
      .agg(countDistinct("corpus_id").as("n_matches"),
        min("corpus_id").as("m_min"))
    universe.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("m_min"), col("doc_id")).as("match_min_id"),
        col("n_matches").isNull.cast("int").as("survives"))
  }

  /** Sort-free verdict core of [[incrementAgainst]] — pipeline stages
    * consume this (their downstream shuffles would destroy the fixture
    * query's total order anyway).
    */
  private[graft] def incrementVerdicts(index: DataFrame, batchBands: DataFrame,
                                       universe: DataFrame): DataFrame =
    verdictsOf(probeMatches(index, batchBands), universe)

  /** Oracle-gated form (split gate like the other hash-family operators):
    * the engine materializes the index CONTENT and the batch bands, then
    * derives the verdicts from those rows; the oracle replays the join +
    * aggregation over the same parquet. The production path skips the
    * checkpoint and joins the live bucketed table — see
    * [[dedupIncrementJoined]] and the plan audit.
    */
  def dedupIncrement(s: SparkSession, d: String): DataFrame = {
    ensureIndex(s, d)
    val corpus = graft.OracleInputs.checkpoint(
      s.table(s"`$IndexDb`.`$IndexTable`"), d, "inc_corpus_bands")
    val batch = graft.OracleInputs.checkpoint(
      TextOps.bandsOfDocs(batchDocs(s, d)), d, "inc_batch_bands")
    incrementAgainst(corpus, batch, batchDocs(s, d))
  }

  /** Production form: no gate plumbing, the probe joins the bucketed index
    * table directly — the corpus side must show NO exchange in the plan
    * (asserted in OpsPropertySpec).
    */
  def dedupIncrementJoined(s: SparkSession, d: String): DataFrame = {
    val fqn = ensureIndex(s, d)
    incrementAgainst(s.table(fqn), TextOps.bandsOfDocs(batchDocs(s, d)),
      batchDocs(s, d))
  }

  /** Index maintenance: fold a processed batch's bands into the index so
    * the NEXT batch dedups against it. Appends preserve the bucket spec
    * (bucket pruning and in-place reads keep working); hot-bucket pruning
    * is per-append like the build. At-least-once safe for a batch as a
    * whole only — re-appending the same batch double-counts its bands,
    * which changes no verdict (matches are distinct-counted) but grows the
    * index; exactly-once batch tracking belongs to the caller's ledger.
    */
  def appendBatch(s: SparkSession, d: String, batch: DataFrame): Unit = {
    ensureIndex(s, d)
    appendBands(s, batch)
  }

  // ==================== sharded band index ====================

  /** The documented single-index ceiling ([[adaptiveIndexBuckets]]'s own
    * comment): past ~[[MaxIndexBuckets]] × [[TargetBandsPerBucket]] bands
    * (a ~200 TB-class corpus) occupancy grows again because the bucket
    * count is capped. S independent indexes over deterministic hash
    * slices of the corpus (pmod(xxhash64(doc_id), S) — the same slicing
    * law as [[VectorOps.build]]) relax the ceiling to S×:
    * each shard holds its slice's bands under its OWN adaptive bucket
    * spec, so probe parallelism scales S × per-shard buckets.
    *
    * Unlike sharded IVF (where per-shard quantizer noise costs recall),
    * sharding the band index is EXACT: a corpus doc lives in exactly one
    * shard, a probe visits ALL shards, and verdicts aggregate over the
    * union of matches — so the sharded verdicts are bit-equal to the
    * single index's at any S (property-tested at S=1 and S=3).
    */
  def buildShardedIndexFrom(corpus: DataFrame, nShards: Int,
                            db: String = IndexDb,
                            tablePrefix: String = IndexTable): Unit = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    for (sh <- 0 until nShards)
      buildIndexFrom(
        corpus.filter(pmod(xxhash64(col("doc_id")), lit(nShards.toLong)) === sh),
        db = db, table = s"${tablePrefix}_$sh")
  }

  /** Probe ALL shards and merge: per-shard bucketed scans read in place
    * (no band-key exchange anywhere — plan-tested), their match pairs
    * union, and the one batch-keyed aggregate computes the same verdicts
    * the single index yields.
    */
  def shardedIncrementVerdicts(s: SparkSession, nShards: Int,
                               batchBands: DataFrame, universe: DataFrame,
                               db: String = IndexDb,
                               tablePrefix: String = IndexTable): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val matches = (0 until nShards)
      .map(sh => probeMatches(s.table(s"`$db`.`${tablePrefix}_$sh`"), batchBands))
      .reduce(_ unionByName _)
    verdictsOf(matches, universe)
  }

  /** Fold a batch's bands into a sharded index: the batch is signed ONCE,
    * then each doc's bands land in its id-hash shard, preserving that
    * shard's stored bucket spec (same per-append contract as
    * [[appendBands]]).
    */
  def appendBandsSharded(s: SparkSession, batch: DataFrame, nShards: Int,
                         db: String = IndexDb,
                         tablePrefix: String = IndexTable): Unit = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    for (sh <- 0 until nShards)
      require(s.catalog.tableExists(s"$db.${tablePrefix}_$sh"),
        s"appendBandsSharded: missing shard table $db.${tablePrefix}_$sh")
    withPrunedBands(batch) { (pruned, _) =>
      val cached = pruned.persist()
      try {
        for (sh <- 0 until nShards)
          appendBandFrame(cached.filter(
              pmod(xxhash64(col("doc_id")), lit(nShards.toLong)) === sh),
            db, s"${tablePrefix}_$sh")
      } finally cached.unpersist()
    }
  }

  /** Scheduled index rebuild — the maintenance cadence an always-appending
    * index needs (appends accumulate replayed/duplicate bands and newly-hot
    * buckets that per-append pruning can't see globally; a periodic rebuild
    * from the current canonical corpus re-anchors size, re-applies the
    * hot-bucket cap corpus-wide, AND re-derives the bucket count from the
    * grown corpus via [[adaptiveIndexBuckets]] — appends preserve the
    * stored spec, so this is the only place probe parallelism catches up
    * with corpus growth). Same composition as the IVF refresh and the
    * dedup-log compaction entries.
    */
  def indexRebuildEntry(id: String, cronExpr: String,
                        corpus: SparkSession => DataFrame)
      : graft.pipeline.ScheduleRunner.Entry =
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => { buildIndexFrom(corpus(s)); () },
      name = "band_index_rebuild", target = s"$IndexDb.$IndexTable",
      tags = Map("pipeline" -> "incremental-dedup"))

  /** Fold a docs frame's bands into an EXISTING index (fails loudly when
    * no index was built — silent creation here would leave an un-bucketed
    * table the probe join can't read in place).
    */
  def appendBands(s: SparkSession, batch: DataFrame,
                  db: String = IndexDb, table: String = IndexTable): Unit = {
    require(s.catalog.tableExists(s"$db.$table"),
      s"appendBands: no band index at $db.$table — build one " +
        "with buildIndexFrom first")
    withPrunedBands(batch)((pruned, _) => appendBandFrame(pruned, db, table))
  }

  /** Append an ALREADY-COMPUTED (and pruned/filtered) band frame — the
    * streaming sink lands its persisted probe bands through this so the
    * batch is never signed a second time.
    */
  private[graft] def appendBandFrame(bands: DataFrame,
                                     db: String = IndexDb,
                                     table: String = IndexTable): Unit =
    bands
      .write.mode("append").format("parquet")
      // the STORED spec, not the law: appends must match the existing
      // bucket count exactly; re-bucketing happens on the scheduled
      // rebuild ([[indexRebuildEntry]] → adaptive buildIndexFrom)
      .bucketBy(currentIndexBuckets(bands.sparkSession, db, table),
        "band_idx", "band_hash")
      .sortBy("band_idx", "band_hash")
      .saveAsTable(s"`$db`.`$table`")
}
