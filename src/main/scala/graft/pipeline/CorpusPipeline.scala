package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{IncrementalDedup, SamplingOps, TextOps}
import graft.store.Warehouse

/** The end-to-end corpus-assembly pipeline: the LLM-data operators
  * composed into ONE staged, lineage-tracked, crash-recoverable DAG —
  * the training-data mirror of the ELT side's TenantPipeline (reference:
  * composed extract → staging → mart DAGs, _tenant_factory.py:133-185,
  * with translator.py's asset-key lineage).
  *
  *   s1_clean    exact dedup (sha256 keep-lowest) + quality gate
  *               ([[TextOps.corpusCleanSurvivors]]); also lands the
  *               corpus HASH SET ([[HashIndexTable]]) — the exact-dedup
  *               index future increments probe
  *   s2_dedup    near-dup dedup THROUGH the persisted band index
  *               ([[IncrementalDedup]] — the pipeline owns its own index
  *               table, built from s1 with the adaptive bucket law): keep
  *               a doc iff no band-mate has a smaller id (the keep-lowest
  *               rule at band granularity)
  *   s3_decontam eval docs (`doc_id % 100 = 7`) and anything sharing a
  *               CJK-aware 3-gram with them are dropped; also lands the
  *               eval-gram blocklist ([[EvalGramsTable]]) increments
  *               probe and extend
  *   s4_mix      per-source token-budget quality prefix
  *               ([[SamplingOps.budgetMixFor]])
  *   s5_pack     deterministic export shard/rank + PER-SHARD token-budget
  *               sequence packing in one window
  *               ([[SamplingOps.shardAssignments]]), stored PARTITIONED BY
  *               shard, rows in permutation order — the export layout a
  *               training run reads sequentially. Packing is per shard
  *               because a shard is the sequential read unit (sequences
  *               must not span shards) and so growth re-packs only
  *               affected shards ([[runIncrement]]).
  *
  * Stage materialization & crash recovery: every stage CTASes a managed
  * table via [[Warehouse.saveModel]] (saveAsTable commits the catalog
  * entry only after the data lands — a crash mid-write leaves a
  * catalog-unknown dir, cleared by the stale-location guard, never a
  * partial table), then stamps its LINEAGE KEY as a table property
  * STRICTLY AFTER the write. The key is the md5 chain of (stage recipe,
  * params, source dir, upstream keys) — translator.py's asset-key idea
  * with dbt-style structural fingerprints. `run(resume = true)` skips a
  * stage iff its table exists AND its stored key matches the expected
  * chain; anything unstamped (crash between write and stamp, changed
  * params, changed upstream) recomputes. A FRESH run (`resume = false`)
  * first clears every stamp, so a crash mid-run leaves exactly the
  * completed prefix stamped — the resume recomputes only the suffix.
  *
  * Scale notes: stages inherit their operators' shapes (banded index
  * probe with batch-side-only shuffle; broadcast eval grams; two-phase
  * prefix sums; one shard exchange at export). The stage tables add one
  * linear write per stage — the checkpoint that buys restartability,
  * exactly the tradeoff a 100 TB assembly run wants (recomputing a
  * crashed 10-stage pipeline from scratch costs more than 5 materialized
  * checkpoints; production would point [[Db]] at cheap object storage).
  */
object CorpusPipeline {

  val Db = "graft_corpus"

  /** Separate database for the incremental-assembly fixture query, so its
    * base-run + append state can never interfere with [[Db]]'s stamps
    * (each query self-caches via its own lineage keys).
    */
  val IncDb = "graft_corpus_inc"

  val IndexTable = "band_index"

  /** Exact-dedup hash set (one `h` column, distinct sha256 of normalized
    * text over the WHOLE ingested corpus — survivors alone would lose the
    * hashes of gated-out keep-lowest winners, and a later batch dup of one
    * would wrongly re-enter). Appended per increment.
    */
  val HashIndexTable = "hash_index"

  /** Decontamination blocklist: distinct CJK n-grams of every eval doc
    * seen so far. Appended per increment — new eval docs extend it, and
    * their grams retroactively flag already-accepted documents.
    */
  val EvalGramsTable = "eval_grams"

  val Stages: Seq[String] =
    Seq("s1_clean", "s2_dedup", "s3_decontam", "s4_mix", "s5_pack")

  /** Lineage table properties: the chained structural key (skip gate) and
    * the human-readable recipe + a stamp time for operators.
    */
  val LineageKeyProp = "graft.lineage.key"
  val LineageProp = "graft.lineage"
  val LineageStampProp = "graft.lineage.stamp"

  /** Fixture-scale stage parameters (interpolated into the oracle SQL —
    * shared constants, the no-drift contract).
    */
  val PerSourceBudget = 1000L
  val MixBuckets = 8
  val PackBudget = 512
  val DecontamNgram = 3

  final case class StageResult(stage: String, skipped: Boolean, key: String)

  private def digest(x: String): String = FencedAppend.digest(x)

  /** Structural lineage keys per stage for source descriptor `d` — each
    * key digests the stage recipe + its params + the upstream key, so a
    * changed param or a changed upstream recipe invalidates exactly the
    * downstream suffix.
    */
  def lineageKeys(d: String): Map[String, String] = {
    val k1 = digest(s"s1_clean(exact=sha256-min,gate=tokens>=20," +
      s"stop=0.05..0.6)<-documents@$d")
    val k2 = digest(s"s2_dedup(minhash${TextOps.NumHashes}x" +
      s"${TextOps.Bands}bands,keep-lowest-mate)<-$k1")
    val k3 = digest(s"s3_decontam(cjk${DecontamNgram}gram,eval=mod100=7" +
      s"@documents@$d)<-$k2")
    val k4 = digest(s"s4_mix(budget=$PerSourceBudget,per=source," +
      s"buckets=$MixBuckets)<-$k3")
    val k5 = digest(s"s5_pack(budget=$PackBudget,per=shard," +
      s"shards=${SamplingOps.ExportShards})<-$k4")
    Map("s1_clean" -> k1, "s2_dedup" -> k2, "s3_decontam" -> k3,
      "s4_mix" -> k4, "s5_pack" -> k5)
  }

  /** Lineage keys of the BATCH-APPENDED state: the base chain for the
    * ≤-threshold slice, each link extended with the increment recipe. A
    * table stamped with these holds exactly "base run + this batch
    * appended" — the [[runIncrement]] fast-path/skip gate.
    */
  def incrementKeys(d: String, threshold: Long): Map[String, String] =
    lineageKeys(s"$d#base<=$threshold").map { case (st, k) =>
      st -> digest(s"inc(batch>$threshold@$d)<-$k")
    }

  private[graft] def fq(db: String, table: String) = s"`$db`.`$table`"

  /** Stored lineage (key, recipe, stamp) of a stage table, for operators
    * and the resume gate. None when the table is missing or unstamped.
    */
  def lineageOf(s: SparkSession, stage: String, db: String = Db)
      : Option[(String, String, String)] =
    if (!s.catalog.tableExists(s"$db.$stage")) None
    else {
      val props = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(stage, Some(db)))
        .properties
      props.get(LineageKeyProp).map(k =>
        (k, props.getOrElse(LineageProp, ""),
          props.getOrElse(LineageStampProp, "")))
    }

  /** Clear every stage stamp — the fresh-run prologue: after this, only
    * stages the CURRENT run completes are stamped, so a crash anywhere
    * resumes with exactly the unfinished suffix.
    */
  private def invalidateAll(s: SparkSession, db: String): Unit =
    Stages.filter(st => s.catalog.tableExists(s"$db.$st")).foreach { st =>
      s.sql(s"ALTER TABLE ${fq(db, st)} UNSET TBLPROPERTIES IF EXISTS " +
        s"('$LineageKeyProp', '$LineageStampProp')")
    }

  /** Database property recording that a fresh run's PROLOGUE
    * (invalidateAll) ran to completion AND the run has not yet finished —
    * i.e. "an interrupted fresh run owns the current stamps". A
    * crash-retry may resume only while this marker is set: without it, a
    * fire that died inside ensureDatabase or mid-invalidateAll would
    * leave the PREVIOUS fire's stamps standing — the lineage keys are
    * data-independent, so a resume would skip every stage and "succeed"
    * without refreshing anything from the grown source. Cleared BEFORE
    * invalidateAll starts (so it can never cover a partial prologue), set
    * strictly AFTER it finishes, and cleared again when a run COMPLETES
    * (so a marker from run N can never authorize a resume of run N+1's
    * pre-prologue crash).
    */
  private[graft] val PrologueProp = "graft.run.prologue"

  private[graft] def dbProps(s: SparkSession, db: String): Map[String, String] =
    if (!s.catalog.databaseExists(db)) Map.empty
    else s.sessionState.catalog.getDatabaseMetadata(db).properties

  private[graft] def setDbProp(s: SparkSession, db: String, k: String,
                        v: String): Unit =
    s.sql(s"ALTER DATABASE `$db` SET DBPROPERTIES ('$k'='$v')")

  private[graft] def prologueDone(s: SparkSession, db: String = Db): Boolean =
    dbProps(s, db).get(PrologueProp).exists(_.nonEmpty)

  /** Run lease — the enforcement of the single-runner contract. The stage
    * tables are shared mutable state: two concurrent `run()`s would race
    * on stamps and CTAS targets and double-write a stage. The lease is a
    * database property `<fencing-token>:<expiry-ms>`: acquisition refuses
    * while an unexpired lease is held by someone else (a live run),
    * takes over a STALE lease (holder died — a crashed JVM cannot
    * release, so expiry is the recovery path), and read-back-verifies the
    * token so of two racing writers exactly one proceeds. Every stage
    * stamp re-verifies ownership (fencing): a stalled runner whose lease
    * expired and was taken over aborts at its next stage boundary instead
    * of double-writing over the new owner.
    */
  private[graft] val LeaseProp = "graft.run.lease"

  /** Lease TTL. Long enough that a healthy fixture/production stage never
    * outlives it between renewals (the lease is re-stamped at every stage
    * boundary), short enough that a dead runner's lease clears within one
    * scheduler backoff cycle. KNOWN LIMIT: renewal happens only at stage
    * boundaries, so a single stage running past the TTL opens a takeover
    * window in which old and new owner could overlap inside that stage
    * (the old one is fenced out at its NEXT boundary, before any further
    * stage write). Deployments whose stages can exceed the TTL raise it
    * or add a heartbeat renewer thread — the fencing protocol itself is
    * unchanged by either.
    */
  val LeaseTtlMs: Long = 10 * 60 * 1000L

  final class LeaseHeldException(msg: String) extends IllegalStateException(msg)

  private def leaseOf(s: SparkSession, db: String): Option[(String, Long)] =
    dbProps(s, db).get(LeaseProp).filter(_.nonEmpty).flatMap { v =>
      v.split(":", 2) match {
        case Array(tok, exp) => scala.util.Try((tok, exp.toLong)).toOption
        case _ => None
      }
    }

  private[graft] def acquireLease(s: SparkSession, db: String = Db): String = {
    val now = System.currentTimeMillis()
    val staleTakeover = leaseOf(s, db) match {
      case Some((tok, exp)) if exp > now =>
        throw new LeaseHeldException(
          s"corpus pipeline run already in flight (lease $tok expires in " +
            s"${exp - now} ms) — exactly one run may own the stage tables")
      case Some(_) => true // stale (holder died) → take over
      case None => false   // free
    }
    val token = java.util.UUID.randomUUID().toString
    setDbProp(s, db, LeaseProp, s"$token:${now + LeaseTtlMs}")
    // Read-back fencing: when two racing set()s BOTH precede the verifies,
    // the catalog's last write wins and exactly one token survives — the
    // loser sees a foreign token here and backs off. KNOWN RESIDUAL RACE:
    // the interleaving A-set, A-verify, B-set admits both (A verified
    // before B overwrote). A delayed second read shrinks that window to
    // the delay length; closing it entirely needs a conditional put the
    // catalog API does not offer. The residual overlap is bounded the
    // same way a TTL takeover is: the loser's token is gone, so it aborts
    // at its next renewLease — i.e. at the first stage boundary, before
    // any second stage write.
    if (!leaseOf(s, db).exists(_._1 == token))
      throw new LeaseHeldException(
        "lost the lease acquisition race — another run acquired first")
    // The delayed re-verify is paid only on a STALE-LEASE TAKEOVER — the
    // realistic collision (two runners both observing the same dead
    // lease and racing to claim it). The from-nothing race (two brand-new
    // runs within the same few milliseconds) keeps only the immediate
    // read-back: per-micro-batch streaming acquisitions must not pay a
    // mandatory driver sleep on the uncontended fast path, and the
    // first-renewal fence above bounds the residual either way.
    if (staleTakeover) {
      Thread.sleep(50L + scala.util.Random.nextInt(100))
      if (!leaseOf(s, db).exists(_._1 == token))
        throw new LeaseHeldException(
          "lost the lease acquisition race (overwritten during the " +
            "verification window) — another run acquired first")
    } else {
      // Fresh-path second verify, sleep-free: the extra catalog
      // round-trip itself is the separation. It shrinks the residual
      // A-set/A-verify/B-set overlap to a single set/read-back gap
      // without taxing per-micro-batch streaming acquisitions with a
      // driver sleep; the first renewLease fence (before any stage
      // write) bounds whatever remains.
      if (!leaseOf(s, db).exists(_._1 == token))
        throw new LeaseHeldException(
          "lost the lease acquisition race (overwritten during the " +
            "verification window) — another run acquired first")
    }
    token
  }

  /** Re-assert ownership and extend the TTL — called at every stage
    * boundary. Throwing here is the fencing guarantee: a runner that lost
    * its lease (expired + taken over while stalled) stops BEFORE its next
    * stage write.
    */
  private[pipeline] def renewLease(s: SparkSession, db: String, token: String): Unit = {
    if (!leaseOf(s, db).exists(_._1 == token))
      throw new LeaseHeldException(
        "lease lost (expired and taken over) — aborting before the next " +
          "stage write to avoid racing the new owner")
    setDbProp(s, db, LeaseProp,
      s"$token:${System.currentTimeMillis() + LeaseTtlMs}")
  }

  private[graft] def releaseLease(s: SparkSession, db: String, token: String): Unit =
    // release only what we still own — clearing another runner's lease
    // would re-open the race the lease exists to close
    if (leaseOf(s, db).exists(_._1 == token)) setDbProp(s, db, LeaseProp, "")

  /** Run the pipeline over `d`'s documents. `resume = false` (the
    * scheduled mode) clears all stamps and rebuilds every stage;
    * `resume = true` (the crash-recovery mode) skips stages whose stored
    * lineage key matches. `failAfter` is a TEST-ONLY failpoint: throw
    * right after the named stage completes (simulates a mid-pipeline
    * crash with the prefix durably stamped).
    *
    * SINGLE-RUNNER contract, ENFORCED by the run lease: exactly one run
    * may own `db`'s stage tables at a time; a second concurrent run is
    * refused ([[LeaseHeldException]]) and a stalled one is fenced out at
    * its next stage boundary.
    */
  def run(s: SparkSession, d: String, resume: Boolean = false,
          failAfter: Option[String] = None,
          db: String = Db,
          refreshAux: Boolean = true): Seq[StageResult] = {
    Warehouse.ensureDatabase(s, db)
    FencedAppend.withLease(s, db)(runHoldingLease(s,
      graft.Tables.t(s, d, "documents"), d, resume, failAfter, _, db,
      refreshAux))
  }

  /** `refreshAux = false` is the REMIX contract ([[remixEntry]]): the
    * stamped s1/s2 prefix and the side indexes were built by the
    * streaming ingest, so the s3 recompute must PROBE the accumulated
    * blocklist, not rewrite it from `docs` (which lacks streamed rows).
    * Only valid when s1/s2 will skip — remixEntry checks before calling.
    */
  private def runHoldingLease(s: SparkSession, docs: DataFrame,
                              srcTag: String, resume: Boolean,
                              failAfter: Option[String],
                              lease: String, db: String,
                              refreshAux: Boolean = true): Seq[StageResult] = {
    if (!resume) {
      // prologue protocol: clear the marker BEFORE touching stamps, set it
      // strictly AFTER invalidateAll completes — a crash anywhere inside
      // leaves the marker unset, so a retry-resume is refused and the
      // retry runs fresh instead of skipping over the PREVIOUS fire's
      // stamps (lineage keys are data-independent and can't tell)
      setDbProp(s, db, PrologueProp, "")
      invalidateAll(s, db)
      setDbProp(s, db, PrologueProp, System.currentTimeMillis().toString)
    }
    // drop cached relations before reading ANY stage/index table: another
    // session may have appended since this session last touched them —
    // the streaming ingest writes through the micro-batch's CLONED
    // session, whose invalidations don't reach this one's relation cache
    // (a stale cached file listing would silently serve the pre-append
    // state; caught by the streaming remix equivalence test)
    (Stages ++ Seq(IndexTable, HashIndexTable, EvalGramsTable))
      .filter(t => s.catalog.tableExists(s"$db.$t"))
      .foreach(t => s.catalog.refreshTable(s"`$db`.`$t`"))
    val keys = lineageKeys(srcTag)

    // Once ANY stage recomputes, every stage after it must too: the
    // structural keys can't see that upstream DATA changed (same recipe,
    // fresh rows), so a stale stamped SUFFIX — e.g. a fresh run that
    // crashed mid-invalidateAll, leaving later stages stamped from the
    // PREVIOUS fire — would otherwise be skipped over a recomputed
    // prefix, serving output not derived from its own inputs.
    var upstreamRecomputed = false
    def stage(name: String, recipe: String, partitionCols: Seq[String] = Nil)
             (compute: => DataFrame): StageResult = {
      val key = keys(name)
      val done = resume && !upstreamRecomputed &&
        lineageOf(s, name, db).exists(_._1 == key)
      if (!done) {
        // fencing at the stage boundary: a stalled runner whose lease
        // expired and was taken over must abort HERE, before the write
        renewLease(s, db, lease)
        upstreamRecomputed = true
        val t0 = System.nanoTime()
        Warehouse.saveModel(compute, db, name, partitionCols)
        System.err.println(f"[corpus-pipeline] $name materialized in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        // stamp STRICTLY AFTER the write commits: the stamp IS the
        // completion marker (a crash between write and stamp recomputes —
        // safe; the reverse order would skip a half-written stage)
        s.sql(s"ALTER TABLE ${fq(db, name)} SET TBLPROPERTIES (" +
          s"'$LineageKeyProp'='$key', '$LineageProp'='$recipe', " +
          s"'$LineageStampProp'='${System.currentTimeMillis()}')")
      }
      val r = StageResult(name, skipped = done, key)
      if (failAfter.contains(name))
        throw new RuntimeException(s"injected failure after stage $name")
      r
    }

    val r1 = stage("s1_clean", s"corpusCleanSurvivors(documents@$srcTag)") {
      // the corpus hash set lands with (and is stamped by) this stage:
      // both writes precede the stamp, so a crash between them recomputes
      // both — the hash index can never be stale relative to a stamped s1
      Warehouse.saveModel(
        docs.select(sha2(lower(trim(col("text"))), 256).as("h")).distinct(),
        db, HashIndexTable)
      TextOps.corpusCleanSurvivors(docs)
    }
    val r2 = stage("s2_dedup", "band-index keep-lowest over s1_clean") {
      val s1 = s.table(fq(db, "s1_clean"))
      IncrementalDedup.buildIndexFrom(s1, db = db, table = IndexTable)
      // self-probe: the batch IS the corpus, so probe the index with ITS
      // OWN stored bands — the corpus is signed exactly once (at build),
      // and the probe join reads the bucketed table on BOTH sides (no
      // exchange at all; a fresh bandsOfDocs probe side would re-sign the
      // whole corpus and shuffle it). Pruned-vs-unpruned probe side is
      // equivalent here: a hot-pruned key is absent from the index, so an
      // unpruned probe row for it would match nothing anyway.
      val verdicts = IncrementalDedup.incrementVerdicts(
        s.table(fq(db, IndexTable)), s.table(fq(db, IndexTable)), s1)
      // every banded doc matches at least itself, so the survivor rule is
      // "no band-mate with a SMALLER id"
      s1.join(verdicts.filter(col("match_min_id") === col("doc_id"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    }
    val r3 = stage("s3_decontam",
      s"cjk${DecontamNgram}gram decontamination of s2_dedup vs eval@$srcTag") {
      // the eval-gram blocklist lands with this stage (same crash
      // contract as the hash index in s1) — except under the remix
      // contract, where the stream already accumulated it
      if (refreshAux)
        Warehouse.saveModel(TextOps.cjkEvalGrams(docs, DecontamNgram),
          db, EvalGramsTable)
      val s2 = s.table(fq(db, "s2_dedup"))
      val flagged = TextOps.cjkFlaggedAgainst(
        s.table(fq(db, EvalGramsTable)), s2, DecontamNgram)
        .select("doc_id")
      s2.filter(col("doc_id") % 100 =!= 7)
        .join(flagged, Seq("doc_id"), "left_anti")
    }
    val r4 = stage("s4_mix",
      s"budgetMix($PerSourceBudget/source) over s3_decontam") {
      SamplingOps.budgetMixFor(s.table(fq(db, "s3_decontam")),
        PerSourceBudget, MixBuckets)
    }
    val r5 = stage("s5_pack",
      s"per-shard packSequences($PackBudget) + shard assignment over s4_mix",
      partitionCols = Seq("shard")) {
      packShards(s.table(fq(db, "s4_mix")))
    }
    val results = Seq(r1, r2, r3, r4, r5)
    // success epilogue: the run finished, so no interrupted fresh run owns
    // the stamps any more — a later fire that crashes BEFORE its own
    // prologue must retry fresh, not resume against these stamps
    setDbProp(s, db, PrologueProp, "")
    // seed the streaming-ingest append-only guard from this run's corpus
    // (remix-mode runs leave the stream-advanced value untouched)
    if (refreshAux && results.exists(!_.skipped))
      Option(docs.agg(max("doc_id")).head.get(0))
        .foreach(m => setDbProp(s, db, MaxDocIdProp, m.toString))
    results
  }

  /** The s5 stage body: deterministic shard assignment + PER-SHARD
    * sequence packing fused in one window ([[SamplingOps.shardAssignments]]
    * with packing — a shard is what a training run reads sequentially, so
    * sequences never span shards, and a shard's packing is a function of
    * its own rows alone: append-only growth re-packs only shards that
    * received documents, which is what makes [[runIncrement]]'s
    * partition-scoped s5 rewrite possible). Rows land in permutation
    * order, PARTITIONED BY shard.
    */
  private[graft] def packShards(s4: DataFrame): DataFrame =
    SamplingOps.shardAssignments(
        s4.select("doc_id", "source", "n_tokens"),
        payload = Seq("source", "n_tokens"),
        packTokensCol = Some("n_tokens"), packBudget = PackBudget)
      .sortWithinPartitions("shard", "shard_rank")

  // ==================== incremental assembly ====================

  /** Batch-append a grown corpus through all five stages WITHOUT a full
    * recompute — and land on EXACTLY the state a fresh run over the whole
    * corpus produces (the oracle-gated contract of
    * [[queryIncrement]]/q_corpus_increment). The split is append-only by
    * id: base = `doc_id <= threshold` (a fresh run), batch = the rest,
    * every batch id larger than every base id — which is what makes the
    * per-stage deltas EXACT:
    *
    *   s1  keep-lowest can only keep the EARLIER doc, so base verdicts
    *       are immutable; the batch probes the persisted [[HashIndexTable]]
    *       ([[TextOps.corpusCleanSurvivorsAgainst]]) and appends
    *   s2  batch bands append to the band index FIRST, then the probe's
    *       keep-lowest verdict (match_min_id == self) is evaluated
    *       against base ∪ batch in one bucketed join — base verdicts
    *       again immutable (their band-mates only gained larger ids)
    *   s3  NEW eval docs retroactively flag ALREADY-ACCEPTED documents:
    *       one broadcast pass of the new grams over stored s3 removes
    *       them; the batch's s2 survivors are probed against the FULL
    *       (stored + new) blocklist; the blocklist table extends
    *   s4  only sources with an s3 delta (addition OR removal) re-run
    *       their budget prefix — a new high-quality doc can EVICT an
    *       accepted one, so affected sources recompute wholesale;
    *       untouched sources keep their rows bit-identical
    *   s5  per-shard packing makes a shard's rows a function of its own
    *       membership: only shards containing an s4 delta re-pack, via
    *       DYNAMIC partition overwrite — unaffected shard partitions are
    *       not rewritten (file-level identity, spec-tested)
    *
    * Known divergence from a pristine fresh run: hot-band pruning is
    * applied per-append (the build prunes globally), so a bucket crossing
    * [[TextOps.MaxBucketSize]] only via the union can differ until the
    * scheduled index rebuild re-anchors — the standing
    * [[IncrementalDedup]] caveat, irrelevant below the cap. Failure
    * recovery is coarse: a crashed increment leaves stamps ≠
    * [[incrementKeys]], and the next call falls back to base-rebuild +
    * re-append (correct, just not minimal).
    */
  def runIncrement(s: SparkSession, d: String,
                   db: String = IncDb): Seq[StageResult] =
    runIncrementFrom(s, graft.Tables.t(s, d, "documents"), d, db)

  /** [[runIncrement]] over any documents frame (`tag` names the source in
    * the lineage keys) — custom pipelines and the synthetic-corpus tests
    * pass their own frame.
    */
  private[graft] def runIncrementFrom(s: SparkSession, docs: DataFrame,
                                      tag: String, db: String): Seq[StageResult] = {
    Warehouse.ensureDatabase(s, db)
    FencedAppend.withLease(s, db)(incrementHoldingLease(s, docs, tag, db, _))
  }

  /** A fresh run over an explicit documents frame under `tag` — the
    * "yesterday's scheduled run" seed of an incremental flow (and the
    * base-state producer [[runIncrementFrom]] skips past when its stamps
    * are already in place).
    */
  private[graft] def runFresh(s: SparkSession, docs: DataFrame, tag: String,
                              db: String): Seq[StageResult] = {
    Warehouse.ensureDatabase(s, db)
    FencedAppend.withLease(s, db)(runHoldingLease(s, docs, tag,
      resume = false, failAfter = None, _, db))
  }

  private def incrementHoldingLease(s: SparkSession, docs: DataFrame,
                                    d: String, db: String,
                                    lease: String): Seq[StageResult] = {
    // localCheckpoint blocks pinned by the increment's intermediates are
    // released on the way out (success or failure): every consumer runs
    // synchronously inside this method, and without the release a bench
    // loop of increments would accumulate executor blocks per pass
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df; df }
    try incrementPinned(s, docs, d, db, lease, pin)
    finally pinned.foreach(df =>
      try df.unpersist() catch { case scala.util.control.NonFatal(_) => () })
  }

  private def incrementPinned(s: SparkSession, docs: DataFrame,
                              d: String, db: String, lease: String,
                              pin: DataFrame => DataFrame): Seq[StageResult] = {
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val threshold = maxId * 9L / 10L
    val incKeys = incrementKeys(d, threshold)
    // fast path: the stored state already IS this batch-appended state
    if (Stages.forall(st => lineageOf(s, st, db).exists(_._1 == incKeys(st))))
      return Stages.map(st => StageResult(st, skipped = true, incKeys(st)))

    // 1. base state: REUSE it when the stored stamps already carry the
    // base chain (the scheduled run landed it yesterday — rebuilding
    // would defeat the increment); rebuild fresh otherwise
    val baseTag = s"$d#base<=$threshold"
    val baseKeys = lineageKeys(baseTag)
    val baseInPlace =
      Stages.forall(st => lineageOf(s, st, db).exists(_._1 == baseKeys(st)))
    if (!baseInPlace)
      runHoldingLease(s, docs.filter(col("doc_id") <= threshold),
        srcTag = baseTag, resume = false, failAfter = None, lease, db)
    val batch = docs.filter(col("doc_id") > threshold)

    def restamp(st: String, recipe: String): Unit =
      s.sql(s"ALTER TABLE ${fq(db, st)} SET TBLPROPERTIES (" +
        s"'$LineageKeyProp'='${incKeys(st)}', '$LineageProp'='$recipe', " +
        s"'$LineageStampProp'='${System.currentTimeMillis()}')")

    renewLease(s, db, lease)
    val (keptBatch, newEvalGrams) = appendS12(s, db, batch, lease, pin)
    restamp("s1_clean", s"inc(batch>$threshold) append")
    restamp("s2_dedup", s"inc(batch>$threshold) band-append + keep-lowest")

    // ---- s3: retro-flag stored docs with NEW eval grams; probe batch
    //          against the full blocklist; extend the blocklist ----
    renewLease(s, db, lease)
    val s3Old = s.table(fq(db, "s3_decontam"))
    val removedIds = TextOps.cjkFlaggedAgainst(newEvalGrams, s3Old,
      DecontamNgram).select("doc_id")
    // capture removal metadata BEFORE the table is overwritten
    val removed = s3Old.join(removedIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "source").localCheckpoint()
    pin(removed)
    val allEval = s.table(fq(db, EvalGramsTable)).unionByName(newEvalGrams)
      .distinct()
    val addFlagged = TextOps.cjkFlaggedAgainst(allEval, keptBatch,
      DecontamNgram).select("doc_id")
    val added = keptBatch.filter(col("doc_id") % 100 =!= 7)
      .join(addFlagged, Seq("doc_id"), "left_anti").localCheckpoint()
    pin(added)
    // removals force a full s3 rewrite (plain parquet can't delete in
    // place); the common no-retro-flag case is a pure batch-sized APPEND —
    // the corpus-sized write is paid only when new eval grams actually
    // bite (`removed` is the already-materialized flagged set, so this
    // count is a driver scalar over a checkpoint, not a recompute)
    if (removed.isEmpty) {
      added.select(s3Old.columns.map(col).toIndexedSeq: _*)
        .write.mode("append").insertInto(fq(db, "s3_decontam"))
    } else {
      val s3New = s3Old.join(removedIds, Seq("doc_id"), "left_anti")
        .unionByName(added.select(s3Old.columns.map(col).toIndexedSeq: _*))
        .localCheckpoint()
      pin(s3New)
      Warehouse.saveModel(s3New, db, "s3_decontam")
    }
    restamp("s3_decontam", s"inc(batch>$threshold) retro-flag + probe")

    // ---- s4: re-run the budget prefix for DELTA sources only ----
    renewLease(s, db, lease)
    val changedSources = removed.select("source")
      .unionByName(added.select("source")).distinct()
      .collect().map(_.getString(0)).toSeq
    val s4Old = s.table(fq(db, "s4_mix"))
    // capture the OLD membership of changed sources before the overwrite
    // (their docs' shards are affected even when the new mix evicts them)
    val oldChangedDocs = s4Old
      .filter(col("source").isin(changedSources: _*)).select("doc_id")
      .localCheckpoint()
    pin(oldChangedDocs)
    if (changedSources.nonEmpty) {
      val s4New = s4Old.filter(!col("source").isin(changedSources: _*))
        .unionByName(SamplingOps.budgetMixFor(
          s.table(fq(db, "s3_decontam"))
            .filter(col("source").isin(changedSources: _*)),
          PerSourceBudget, MixBuckets))
        .localCheckpoint()
      pin(s4New)
      Warehouse.saveModel(s4New, db, "s4_mix")
    }
    restamp("s4_mix", s"inc(batch>$threshold) delta-source remix")

    // ---- s5: re-pack ONLY the shards holding an s4 delta ----
    renewLease(s, db, lease)
    val deltaDocs = oldChangedDocs.unionByName(
      s.table(fq(db, "s4_mix"))
        .filter(col("source").isin(changedSources: _*)).select("doc_id"))
    val affectedShards = deltaDocs
      .select(SamplingOps.shardOfDocId.as("shard")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (affectedShards.nonEmpty) {
      val s4Affected = s.table(fq(db, "s4_mix"))
        .filter(SamplingOps.shardOfDocId.isin(affectedShards: _*))
      val presentShards = s4Affected
        .select(SamplingOps.shardOfDocId.as("shard")).distinct()
        .collect().map(_.getInt(0)).toSet
      // an affected shard whose s4 membership vanished entirely (every
      // doc evicted, none added) emits NO replacement rows — dynamic
      // overwrite only rewrites partitions PRESENT in the frame, so its
      // stale s5 partition would survive and the increment would no
      // longer equal a fresh run. Route those through the partition-
      // scoped delete instead (a fully-emptied partition stays dropped).
      val emptied = affectedShards.filterNot(presentShards)
      if (emptied.nonEmpty)
        Warehouse.deleteWhere(s, db, "s5_pack",
          col("shard").isin(emptied: _*))
      if (presentShards.nonEmpty) {
        val replacement = packShards(s4Affected)
          .select(s.table(fq(db, "s5_pack")).columns.map(col).toIndexedSeq: _*)
        // dynamic partition overwrite: ONLY the partitions present in the
        // replacement are dropped and rewritten — unaffected shard
        // partitions keep their files byte-for-byte (spec-asserted)
        val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode",
          "static")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try replacement.write.mode("overwrite").insertInto(fq(db, "s5_pack"))
        finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      }
    }
    restamp("s5_pack", s"inc(batch>$threshold) affected-shard repack")

    // advance the streaming-ingest append-only guard past this increment's
    // ids — the base rebuild stamped it at the <=threshold max, and
    // without this a later ingest batch with ids in (threshold, maxId]
    // would pass the guard and re-ingest already-present docs, breaking
    // the keep-lowest immutability the guard protects
    setDbProp(s, db, MaxDocIdProp, maxId.toString)

    Stages.map(st => StageResult(st, skipped = false, incKeys(st)))
  }

  /** Shared batch-append of the clean+dedup PREFIX (s1, s2) plus the
    * three side indexes — the common core of [[runIncrement]] and the
    * streaming ingest ([[corpusIngestBatch]]): delta-clean against the
    * persisted hash set, hash append, s1 append, band append THEN one
    * keep-lowest probe over base ∪ batch, s2 append, and the raw batch's
    * eval grams folded into the blocklist. Returns (keptBatch,
    * newEvalGrams), both local-checkpointed and pinned; the CALLER owns
    * stage stamping and renews the lease before s1. Append-only id
    * contract assumed (callers enforce).
    */
  private def appendS12(s: SparkSession, db: String, batch: DataFrame,
                        lease: String, pin: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    // ---- s1: delta-clean against the persisted hash set ----
    val known = s.table(fq(db, HashIndexTable))
    // localCheckpoint: the frame feeds bands, verdicts and appends AFTER
    // the tables it reads are themselves appended — sever the lineage now
    val batchClean = pin(TextOps.corpusCleanSurvivorsAgainst(batch, known)
      .localCheckpoint())
    val newHashes = pin(batch
      .select(sha2(lower(trim(col("text"))), 256).as("h")).distinct()
      .join(known, Seq("h"), "left_anti").localCheckpoint())
    newHashes.write.mode("append").insertInto(fq(db, HashIndexTable))
    batchClean.select(s.table(fq(db, "s1_clean")).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(fq(db, "s1_clean"))

    // ---- s2: append batch bands, keep-lowest against base ∪ batch ----
    renewLease(s, db, lease)
    val batchBands = graft.ops.TextOps.bandsOfDocs(batchClean)
    val prunedBands = pin(IncrementalDedup.pruneHot(batchBands).localCheckpoint())
    IncrementalDedup.appendBandFrame(prunedBands, db, IndexTable)
    val verdicts = IncrementalDedup.incrementVerdicts(
      s.table(fq(db, IndexTable)), prunedBands, batchClean)
    val keptBatch = pin(batchClean
      .join(verdicts.filter(col("match_min_id") === col("doc_id"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint())
    keptBatch.select(s.table(fq(db, "s2_dedup")).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(fq(db, "s2_dedup"))

    // ---- blocklist: the RAW batch's eval grams (doc_id % 100 = 7) ----
    val newEvalGrams = pin(TextOps.cjkEvalGrams(batch, DecontamNgram)
      .localCheckpoint())
    newEvalGrams.join(s.table(fq(db, EvalGramsTable)), Seq("g"), "left_anti")
      .write.mode("append").insertInto(fq(db, EvalGramsTable))
    (keptBatch, newEvalGrams)
  }

  /** Db property tracking the highest ingested doc_id — the append-only
    * guard for the streaming ingest (a batch whose min id is not above
    * this would violate the keep-lowest immutability every incremental
    * path relies on). Set by fresh runs, advanced per ingest batch.
    */
  private[graft] val MaxDocIdProp = "graft.corpus.max_doc_id"

  /** Ledger of the last COMMITTED foreachBatch epoch — set strictly after
    * a batch's appends and stamps all land, so a replayed epoch (normal
    * at-least-once streaming recovery) is recognized and skipped instead
    * of double-appending or tripping the append-only guard.
    *
    * Keyed PER SOURCE TAG: epoch ids are per streaming query, so a single
    * scalar would let stream A's committed epoch N silently mask stream
    * B's first epochs as "replays" — dropped data, not a loud failure.
    * Two streams into one corpus db still share the append-only id guard
    * (their batches must jointly arrive in ascending doc_id order); the
    * ledgers only keep their REPLAY windows independent.
    */
  private[graft] val LastEpochProp = "graft.corpus.last_epoch"
  private[graft] def epochProp(srcTag: String): String =
    FencedAppend.epochProp(LastEpochProp, srcTag)

  /** Fold ONE micro-batch of documents through the clean+dedup prefix —
    * the foreachBatch body of a streaming corpus ingest: s1/s2 and the
    * hash/band/blocklist indexes advance row-by-row, the downstream
    * mix/pack stamps are invalidated, and the scheduled REMIX
    * ([[remixEntry]]) recomputes s3..s5 from the streamed state on its
    * cadence. s1/s2 are restamped with `srcTag`'s chain keys — they ARE
    * fresh by construction (append-only ids keep prior verdicts
    * immutable), so the remix resume skips them and recomputes exactly
    * the suffix.
    *
    * Exactly-once through [[FencedAppend]] ([[IngestFamily]]). The
    * remaining exposure is a crash INSIDE the `s1_s2` stage: the retry
    * re-runs the appends, and rows whose hashes already landed are
    * filtered as "known" — which deduplicates the hash/s1 path but can
    * lose a doc whose hash landed without its s1 row (crash between the
    * two writes). Same at-least-once caveat
    * [[IncrementalDedup.appendBatch]] documents; the scheduled FRESH run
    * (snapshot-replace) re-anchors the state on its cadence.
    */
  def corpusIngestBatch(s: SparkSession, srcTag: String, batch: DataFrame,
                        db: String = Db, epochId: Long = -1L): Unit =
    FencedAppend.append(s, IngestFamily, db, srcTag, batch, epochId)

  /** Migration from the pre-r10 SCALAR ledger (single-stream by its own
    * documented contract): a restarted legacy stream redelivering its
    * committed epoch must be skipped, or the append-only guard would
    * wedge it — but the scalar carries no source attribution, so it may
    * only ever suppress a batch that is PROVABLY a redelivery: ids
    * entirely inside the already-ingested range. A fresh batch (a NEW
    * source, or new data) falls through and ingests normally — the scalar
    * must never swallow first-contact data. On a hit, the scalar MIGRATES
    * to this source's key and retires, so it can mask nothing else
    * afterwards.
    */
  private def legacyReplay(b: FencedAppend.Batch): Boolean = {
    val (s, db) = (b.s, b.db)
    val props = dbProps(s, db)
    props.get(epochProp(b.srcTag)).forall(_.isEmpty) && {
      val legacy = props.get(LastEpochProp).filter(_.nonEmpty).map(_.toLong)
      val ingested = props.get(MaxDocIdProp).filter(_.nonEmpty).map(_.toLong)
      legacy.exists(_ >= b.epochId) && ingested.exists(b.hi <= _) && {
        // A new stream starts at epoch 0, so `legacyEpoch >= epochId`
        // alone proves little — demand CONTENT proof too: every text
        // hash of the batch must already sit in the persisted hash
        // index. A misconfigured NEW source whose ids merely overlap
        // the ingested range fails this and falls through to the
        // loud append-only guard instead of being silently swallowed.
        val known = s.table(fq(db, HashIndexTable))
        val allKnown = b.frame
          .select(sha2(lower(trim(col("text"))), 256).as("h")).distinct()
          .join(known, Seq("h"), "left_anti").isEmpty
        allKnown && {
          System.err.println(
            s"[corpus-pipeline] WARNING: legacy scalar ledger " +
              s"(epoch ${legacy.get}) migrated to source key " +
              s"'${b.srcTag}' on a proven redelivery (ids [${b.lo},${b.hi}] " +
              s"inside ingested range, all text hashes known); " +
              s"batch epoch ${b.epochId} skipped")
          setDbProp(s, db, epochProp(b.srcTag), legacy.get.toString)
          setDbProp(s, db, LastEpochProp, "")
          true
        }
      }
    }
  }

  /** Restamp s1/s2 with `srcTag`'s chain keys and invalidate the suffix,
    * which no longer derives from its inputs — the next remix (or any
    * resume) recomputes s3..s5.
    */
  private def stampIngested(s: SparkSession, db: String,
                            srcTag: String): Unit = {
    val keys = lineageKeys(srcTag)
    Seq("s1_clean", "s2_dedup").foreach { st =>
      s.sql(s"ALTER TABLE ${fq(db, st)} SET TBLPROPERTIES (" +
        s"'$LineageKeyProp'='${keys(st)}', " +
        s"'$LineageProp'='streaming ingest append', " +
        s"'$LineageStampProp'='${System.currentTimeMillis()}')")
    }
    Seq("s3_decontam", "s4_mix", "s5_pack")
      .filter(st => s.catalog.tableExists(s"$db.$st")).foreach { st =>
        s.sql(s"ALTER TABLE ${fq(db, st)} UNSET TBLPROPERTIES IF EXISTS " +
          s"('$LineageKeyProp', '$LineageStampProp')")
      }
  }

  /** The streaming corpus ingest on the [[FencedAppend]] protocol. The
    * fence is the optional [[MaxDocIdProp]], cleared by the batch MIN
    * (keep-lowest immutability admits no overlap); the legacy scalar
    * ledger is the content proof.
    */
  private[graft] val IngestFamily = FencedAppend.Family(
    name = "corpusIngestBatch", idCol = "doc_id", ledgerBase = LastEpochProp,
    fence = FencedAppend.Fence(FencedAppend.Lo,
      (s, db) => FencedAppend.storedLong(s, db, MaxDocIdProp),
      (s, db, hi) => setDbProp(s, db, MaxDocIdProp, hi.toString)),
    prepare = Warehouse.ensureDatabase,
    stages = b => Seq(
      "s1_s2" -> (() => appendS12(b.s, b.db, b.frame, b.lease, b.pin)),
      "stamps" -> (() => stampIngested(b.s, b.db, b.srcTag))),
    proof = legacyReplay)

  /** foreachBatch adapter for [[corpusIngestBatch]] — wires the streaming
    * engine's epochId into the replay ledger.
    */
  def corpusIngestSink(srcTag: String, db: String = Db)
      : (DataFrame, Long) => Unit =
    (batch, epochId) =>
      corpusIngestBatch(batch.sparkSession, srcTag, batch, db, epochId)

  /** Scheduled REMIX: recompute the mix/pack suffix from the streamed
    * s1/s2 state. When the ingested prefix is stamped (the designed
    * steady state) the run RESUMES with `refreshAux = false` — s1/s2 and
    * the side indexes are left exactly as the stream built them (a fresh
    * eval-gram rewrite from the source dir would CLOBBER streamed grams);
    * if the prefix is missing/stale the fire falls back to a normal
    * fresh run (aux rebuilt consistently from the source dir).
    */
  def remixEntry(id: String, cronExpr: String, d: String, db: String = Db)
      : ScheduleRunner.Entry =
    ScheduleRunner.Entry(id, CronSchedule.parse(cronExpr),
      (s, _) => {
        val keys = lineageKeys(d)
        val prefixFresh = Seq("s1_clean", "s2_dedup").forall(st =>
          lineageOf(s, st, db).exists(_._1 == keys(st)))
        if (prefixFresh) run(s, d, resume = true, db = db, refreshAux = false)
        else run(s, d, resume = false, db = db)
        ()
      },
      name = "corpus_remix", target = s"$db.s5_pack",
      tags = Map("pipeline" -> "corpus"))

  /** The oracle-gated incremental query (q_corpus_increment): base run +
    * batch append in [[IncDb]], band-index content materialized for the
    * oracle's dedup replay, final packed corpus totally ordered. The
    * oracle replays the FULL five-stage pipeline over the WHOLE corpus
    * from raw text — so a green row PROVES batch-appended ≡ fresh-run.
    */
  def queryIncrement(s: SparkSession, d: String): DataFrame = {
    runIncrement(s, d)
    if (graft.OracleInputs.durable)
      graft.OracleInputs.checkpoint(s.table(fq(IncDb, IndexTable)), d,
        "inc_pipeline_bands")
    s.table(fq(IncDb, "s5_pack"))
      .select("doc_id", "source", "n_tokens", "seq_id", "shard", "shard_rank")
      .orderBy("doc_id")
  }

  /** The oracle-gated query form: run (resuming any completed prefix —
    * a second call in one session reads the materialized state, the
    * incremental-materialization semantics the stage tables exist for),
    * materialize the band-index content for the oracle's dedup replay
    * (SPLIT gate — minhash band values are engine-specific; everything
    * downstream of them is replayed from raw text), and return the final
    * packed corpus totally ordered.
    */
  def query(s: SparkSession, d: String): DataFrame = {
    run(s, d, resume = true)
    // durable mode only: unlike the split-gate queries (whose downstream
    // derivation consumes the checkpointed frame), nothing here reads the
    // result — the materialization exists purely for the oracle's dedup
    // replay, so the non-durable (bench) mode skips it instead of paying
    // an index-sized localCheckpoint per pass that nothing consumes
    if (graft.OracleInputs.durable)
      graft.OracleInputs.checkpoint(s.table(fq(Db, IndexTable)), d,
        "pipeline_bands")
    s.table(fq(Db, "s5_pack"))
      .select("doc_id", "source", "n_tokens", "seq_id", "shard", "shard_rank")
      .orderBy("doc_id")
  }

  /** Operator-facing lineage report: one row per stage with its stored
    * key, whether that key matches the current recipe chain for `d`
    * (fresh = a resume would skip it), the human-readable recipe, and the
    * wall-clock stamp. Metadata-only — no stage data is scanned.
    */
  def report(s: SparkSession, d: String, db: String = Db): DataFrame = {
    val keys = lineageKeys(d)
    import s.implicits._
    Stages.map { st =>
      lineageOf(s, st, db) match {
        case Some((k, recipe, stamp)) =>
          (st, k, k == keys(st), recipe, stamp)
        case None => (st, "", false, "", "")
      }
    }.toDF("stage", "lineage_key", "fresh", "recipe", "stamp_ms")
  }

  /** Self-contained training-data export: the packed corpus WITH its
    * text, one JSONL directory per shard, rows inside each file in
    * permutation order — what a training run actually reads
    * sequentially. The doc_id joins (seq_id from s5, text from s3) run
    * BEFORE the shard window, so the whole export pays exactly ONE shard
    * exchange with the payload riding through it — a join-back AFTER the
    * window would re-shuffle on doc_id and destroy the shard layout (the
    * [[SamplingOps.shardAssignments]] contract). Shard/rank are
    * recomputed from the same deterministic md5 permutation, so they
    * agree with the stored s5_pack assignments row-for-row.
    */
  def exportJsonl(s: SparkSession, outDir: String, db: String = Db): Unit = {
    val withText = s.table(fq(db, "s4_mix"))
      .select("doc_id", "source", "n_tokens")
      .join(s.table(fq(db, "s5_pack")).select("doc_id", "seq_id"),
        Seq("doc_id"))
      .join(s.table(fq(db, "s3_decontam")).select("doc_id", "text"),
        Seq("doc_id"))
    SamplingOps.shardAssignments(withText,
        payload = Seq("source", "n_tokens", "seq_id", "text"))
      .sortWithinPartitions("shard", "shard_rank")
      .write.mode("overwrite").partitionBy("shard").json(outDir)
  }

  /** Scheduled wiring. A normal fire is a FRESH run (snapshot-replace
    * semantics like the tenant pipelines — the source may have grown, so
    * structural skip-keys must not short-circuit data freshness). A fire
    * that follows THIS entry's own failure RESUMES — but only when the
    * durable [[PrologueProp]] marker confirms the crashed fresh run's
    * prologue COMPLETED (all stamps cleared): then the stamped prefix
    * holds data the crashed run itself produced — fresh by construction —
    * and the resume recomputes exactly the unfinished suffix. A fire that
    * died BEFORE the prologue finished (in ensureDatabase or
    * mid-invalidateAll) left the PREVIOUS fire's stamps standing; the
    * in-memory crash flag alone can't tell the two apart, and resuming
    * would skip every stage and "succeed" without refreshing anything —
    * so the retry runs fresh. The runner's failure handling (window not
    * advanced, retry after [[ScheduleRunner.RetryBackoffMs]]) drives the
    * retry. `failAfter` is the TEST-ONLY failpoint passed through to
    * [[run]].
    */
  def scheduleEntry(id: String, cronExpr: String, d: String,
                    failAfter: () => Option[String] = () => None)
      : ScheduleRunner.Entry = {
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    ScheduleRunner.Entry(id, CronSchedule.parse(cronExpr),
      (s, _) => {
        val mode = crashed.get() && prologueDone(s)
        try { run(s, d, resume = mode, failAfter = failAfter()); crashed.set(false) }
        catch { case e: Throwable => crashed.set(true); throw e }
      },
      name = "corpus_assembly", target = s"$Db.s5_pack",
      tags = Map("pipeline" -> "corpus"))
  }
}
