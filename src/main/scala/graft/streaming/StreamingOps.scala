package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.FencedAppend

/** Structured Streaming surface (SURVEY.md §2.D streaming row).
  *
  * The reference has no streaming — its closest analogue is a 2-hour cron
  * re-extract (reference: tenant.yaml:19, _tenant_factory.py:170-174). These
  * operators are the upgrade path: the *same* event-time expressions used by
  * the batch queries (graft.ops.EventOps) applied to an unbounded source
  * with watermarks and state. Batch/stream parity is tested by running both
  * over identical rows.
  */
object StreamingOps {

  /** Session conf key for the DURABLE streaming checkpoint root. When
    * set, every warehouse-writing sink places its offsets/commit WAL
    * under `<root>/<db>.<table>`, so a restarted driver resumes from the
    * last committed trigger instead of reprocessing from scratch — the
    * cluster deployment mode (point it at shared storage). Unset
    * (ephemeral tests/local runs) keeps Spark's temp default. Composes
    * with the replay idempotency of the sinks themselves: resume bounds
    * HOW MUCH replays; the sinks guarantee replays are harmless.
    */
  val CheckpointRootKey = "spark.graft.streaming.checkpointRoot"

  /** Apply the configured checkpoint location for sink `name` (no-op
    * without the conf).
    */
  private def withCheckpoint(
      w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
      src: DataFrame, name: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    src.sparkSession.conf.getOption(CheckpointRootKey)
      .fold(w)(r => w.option("checkpointLocation", s"$r/$name"))

  /** Event row shape for the typed stateful ops. */
  final case class Ev(userId: Long, tsUs: Long, eventType: String, value: Double)

  /** Per-user running aggregate held in managed state. */
  final case class UserAgg(userId: Long, n: Long, valueSum: Double)

  /** Tumbling 1-hour count per event type with a 2-hour watermark — late
    * rows beyond the watermark are dropped, state is bounded (the property
    * that makes this runnable forever on an unbounded stream).
    * `events` must carry (ts_us TIMESTAMP, event_type STRING).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_us", "2 hours")
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))

  /** Arbitrary stateful aggregation via mapGroupsWithState: per-user running
    * (count, sum). Update-mode output; state never times out here (callers
    * with unbounded key spaces should switch to a timeout policy).
    */
  def runningUserAgg(events: Dataset[Ev]): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .mapGroupsWithState[UserAgg, UserAgg](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(userId, 0L, 0.0))
          val next = rows.foldLeft(prev)((acc, e) =>
            UserAgg(userId, acc.n + 1, acc.valueSum + e.value))
          state.update(next)
          next
      }
  }

  /** A closed session emitted by [[timeoutSessions]]. */
  final case class Session(userId: Long, startUs: Long, endUs: Long, n: Long)
  /** Internal state for [[timeoutSessions]] (public: Encoder codegen needs
    * accessible accessors).
    */
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)

  /** Custom sessionization with flatMapGroupsWithState + event-time timeout:
    * a session closes when no event arrives for `gapUs` past the watermark,
    * emitting zero-or-more closed sessions per trigger (the arbitrary-state
    * path that session_window can't express — e.g. per-session caps or
    * custom merge rules would slot in here).
    */
  def timeoutSessions(events: Dataset[Ev], gapUs: Long = 30L * 60 * 1000000)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .withColumn("ts_us", timestamp_micros(col("tsUs")))
      .withWatermark("ts_us", "2 hours")
      .as[Ev]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.startUs, s.lastUs, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.tsUs, e.value))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.tsUs - s.lastUs < gapUs =>
                  cur = Some(SessionState(s.startUs, e.tsUs, s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, s.startUs, s.lastUs, s.n)
                  cur = Some(SessionState(e.tsUs, e.tsUs, 1))
                case None =>
                  cur = Some(SessionState(e.tsUs, e.tsUs, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp to strictly past the CURRENT watermark: an event
              // admitted late-but-inside the 2 h watermark can leave
              // lastUs + gap BEHIND it (gap < watermark delay), and
              // Spark's GroupStateImpl throws on a timeout at-or-before
              // the watermark — terminating the whole query on ordinary
              // late data. Clamped sessions time out on the next trigger
              // instead (they were already gap-expired in event time).
              val wmMs = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(
                math.max((s.lastUs + gapUs) / 1000, wmMs + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Session windows on a stream: 30-minute gap per user, emitting closed
    * sessions only (append mode semantics mirror EventOps.sessionWindow).
    */
  def streamingSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_us", "2 hours")
      .groupBy(session_window(col("ts_us"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("cnt"))

  /** Stream → warehouse: per-micro-batch load through the same Warehouse
    * sink the batch pipeline uses (foreachBatch bridges streaming to any
    * batch writer — here WatermarkAppend-style appends into a managed
    * table). Returns the started query; caller stops it.
    */
  def sinkToWarehouse(aggregated: DataFrame, db: String, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(aggregated.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.store.Warehouse.load(batch.sparkSession, batch.toDF(), db, table,
          graft.store.LoadMode.WatermarkAppend)
      }, aggregated, s"$db.$table")
      .start()

  /** Stream → time-partitioned warehouse: each micro-batch appends into
    * the daily/monthly partition its event dates land in
    * (PartitionedMaterializer.appendPartitioned), so streaming ingest
    * lands in the SAME partition layout the scheduled/backfill batch path
    * maintains — one table serves both, and ranged backfill remains the
    * corrective rewrite for any partition the stream got wrong.
    */
  def sinkToPartitionedWarehouse(rows: DataFrame, dateCol: String,
                                 grain: graft.pipeline.PartitionGrain,
                                 db: String, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(rows.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.pipeline.PartitionedMaterializer.appendPartitioned(
          batch.toDF(), dateCol, grain, db, table)
      }, rows, s"$db.$table")
      .start()

  /** Stream → keyed CDC merge: each micro-batch upserts into the target
    * through graft.store.Warehouse.mergeUpsert — partition-SCOPED on a
    * partitioned target, so per-trigger write amplification is bounded by
    * the partitions the batch touches, never the table (the foreachBatch
    * form of the CDC endpoint; a full-rewrite-per-trigger would be the
    * scale tax the append-log pattern exists to avoid, and the
    * partition-scoped merge removes it for keyed state too). The first
    * batch creates an EMPTY table from the batch schema (partitioned by
    * `partitionCols`) and then merges into it, so every row — including
    * the first trigger's — goes through the same intra-batch resolution
    * and latest-wins window. At-least-once safe: redelivered rows replay
    * idempotently (latest-wins; batch wins version ties).
    *
    * Reader note: the merge invalidates ITS session's relation cache, but
    * foreachBatch executes in a cloned session — a concurrent reader
    * session that already scanned the table must `REFRESH TABLE` after a
    * partition replacement (standard Spark semantics for external table
    * changes; session-local relation caches cannot be evicted remotely).
    */
  def sinkCdcMerge(cdc: DataFrame, db: String, table: String,
                   keys: Seq[String], versionCol: String,
                   partitionCols: Seq[String] = Seq.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(cdc.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        if (!s.catalog.tableExists(s"$db.$table"))
          graft.store.Warehouse.saveModel(batch.toDF().limit(0), db, table,
            partitionCols)
        // the catalog reorders partition columns last — align the batch to
        // the table's column ORDER (same names/types still enforced by the
        // merge's drift gate)
        val cols = s.table(s"`$db`.`$table`").columns
        graft.store.Warehouse.mergeUpsert(s,
          batch.toDF().select(cols.map(col).toIndexedSeq: _*), db, table,
          keys, versionCol)
      }, cdc, s"$db.$table")
      .start()

  /** Streaming ingest edge of the exact-dedup family: each micro-batch
    * lands its BATCH-LOCAL dedup groups — (text_hash, keep-lowest doc_id,
    * duplicate count), computed by the same expressions as the batch
    * operator (graft.ops.TextOps.dedupGroups) — APPENDED to a survivor
    * log. Nothing is rewritten per trigger: a per-batch merge would
    * re-read and rewrite the accumulated table on every micro-batch, a
    * scale tax that grows with the corpus. Cross-batch duplicates are
    * resolved on read by [[dedupedCorpus]] (the same keep-lowest/sum
    * aggregation); a scheduled compaction can materialize that view over
    * the log when it grows (the append-log + compact pattern).
    */
  /** Per-log committed-epoch ledger base
    * ([[graft.pipeline.FencedAppend.epochProp]] key).
    */
  private[graft] val DedupLogEpochProp = "graft.deduplog.last_epoch"

  def sinkDedupedLog(docs: DataFrame, db: String, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        // Replays were NOT harmless as first shipped (round-13 review):
        // min(doc_id) resolution is idempotent but sum(dup_cnt) is not —
        // a redelivered batch doubled counts. Three-layer fix, the other
        // sinks' posture: (1) committed-epoch ledger skips whole-batch
        // replays; (2) rows carry their epoch, so the crash window
        // (append landed, ledger not yet set) redelivers IDENTICAL
        // (epoch, text_hash) rows that resolution dedups exactly;
        // (3) an epoch BEHIND the ledger by more than a replay (a reset
        // checkpoint against a durable log) refuses loudly instead of
        // silently discarding new data forever.
        val s = batch.sparkSession
        // the ledger/lease live as db properties — the db must exist
        // before the first batch reads them (Warehouse.load used to be
        // the implicit creator)
        graft.store.Warehouse.ensureDatabase(s, db)
        // a pre-epoch legacy log must be migrated, not appended into —
        // the schema-drift failure it would hit names neither cause nor fix
        requireEpochColumn(s, db, table)
        // the db lease serializes this append against compactDedupLog's
        // temp-swap — mutual exclusion needs BOTH writers to take it
        FencedAppend.withLease(s, db) { _ =>
          val prop = FencedAppend.epochProp(DedupLogEpochProp, s"$db.$table")
          if (!committedReplay(FencedAppend.storedLong(s, db, prop), epochId,
              "sinkDedupedLog")) {
            graft.store.Warehouse.load(s,
              graft.ops.TextOps.dedupGroups(batch.toDF())
                .withColumn("epoch", lit(epochId)), db, table,
              graft.store.LoadMode.WatermarkAppend)
            FencedAppend.commitEpoch(s, db, prop, epochId)
          }
        }
      }, docs, s"$db.$table")
      .start()

  /** Read-side resolution over the [[sinkDedupedLog]] survivor log:
    * keep-lowest doc_id and summed duplicate count per content hash —
    * equal to batch dedupExactText over the same rows, whatever the
    * micro-batch boundaries were.
    *
    * Per-(epoch, text_hash) pre-resolution is max(dup_cnt)/min(doc_id),
    * NOT an arbitrary dropDuplicates row pick: a crash-window redelivery
    * that lands AFTER a compaction puts two NON-identical rows under the
    * same (epoch, hash) — the compacted summary (summed dup_cnt across
    * epochs, global min doc_id, stamped with that hash's max epoch) and
    * the redelivered raw batch row for that same epoch. The summary
    * DOMINATES the raw row on both fields by construction (its sum
    * includes the raw epoch's count; its min includes the raw epoch's
    * id), so max/min resolves to the compacted totals deterministically,
    * while identical pre-compaction redeliveries collapse as before. An
    * arbitrary row pick here nondeterministically lost earlier epochs'
    * counts (round-14 ADVICE).
    */
  def dedupedCorpus(spark: org.apache.spark.sql.SparkSession,
                    db: String, table: String): DataFrame = {
    requireEpochColumn(spark, db, table)
    spark.table(s"`$db`.`$table`")
      .groupBy("epoch", "text_hash")
      .agg(max("dup_cnt").as("dup_cnt"), min("doc_id").as("doc_id"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("doc_id"), sum("dup_cnt").as("dup_cnt"))
      .select("doc_id", "dup_cnt")
      .orderBy("doc_id")
  }

  /** Epoch the [[migrateDedupLog]] compaction stamps on legacy rows —
    * strictly below any real streaming epochId (those start at 0), so
    * migrated history can never collide with a live epoch's redelivery.
    */
  val LegacyEpoch = -1L

  /** Fail-loud schema gate for the dedup-log readers/writers: a log
    * created before the epoch column existed would otherwise fail on
    * append with an opaque schema-drift error and on read with a missing
    * column — neither names the cause or the fix (round-14 ADVICE).
    */
  private def requireEpochColumn(spark: org.apache.spark.sql.SparkSession,
                                 db: String, table: String): Unit =
    if (spark.catalog.tableExists(s"$db.$table"))
      require(spark.table(s"`$db`.`$table`").columns.contains("epoch"),
        s"dedup log `$db`.`$table` predates the epoch column (legacy " +
          "schema) — run StreamingOps.migrateDedupLog(spark, db, table) " +
          "once to compact it into the epoch-carrying form, then restart " +
          "the sink")

  /** One-time migration of a pre-epoch dedup log: compact the legacy
    * rows (one per micro-batch per hash, sum/min resolution) into ONE
    * row per hash stamped [[LegacyEpoch]]. Compacting IS the migration —
    * stamping raw legacy rows in place would put several rows under one
    * (epoch, hash) key whose max(dup_cnt) resolution UNDERCOUNTS (the
    * rows are per-batch increments, not redelivered copies of one
    * total). Idempotent: an epoch-carrying log is left untouched.
    */
  def migrateDedupLog(spark: org.apache.spark.sql.SparkSession,
                      db: String, table: String): Unit =
    if (!spark.table(s"`$db`.`$table`").columns.contains("epoch")) {
      FencedAppend.withLease(spark, db)(_ =>
        graft.store.Warehouse.rewriteVia(spark, db, table)(log =>
          log.groupBy("text_hash")
            .agg(min("doc_id").as("doc_id"), sum("dup_cnt").as("dup_cnt"))
            .withColumn("epoch", lit(LegacyEpoch))
            .select("text_hash", "doc_id", "dup_cnt", "epoch")))
    }

  /** Compaction for the [[sinkDedupedLog]] survivor log: rewrite the log
    * as its own keep-lowest resolution (checkpointed temp-swap — never a
    * scan-and-overwrite of the same files), re-anchoring the log's size to
    * the unique-hash count instead of growing with trigger count.
    * [[dedupedCorpus]] reads identically before and after (idempotent
    * resolution: compacted rows keep their per-hash MAX epoch and
    * DOMINATE a crash-window redelivery of that epoch under the
    * max/min per-(epoch, hash) pre-resolution — see dedupedCorpus; the
    * same pre-resolution here makes re-compacting after such a
    * redelivery idempotent too). Runs under the db LEASE: the live sink
    * appends between any read and rewrite, and an unguarded temp-swap
    * would erase a micro-batch that committed inside the window (the
    * IncrementalClusters race, round-12 verdict #5 — same fix).
    */
  def compactDedupLog(spark: org.apache.spark.sql.SparkSession,
                      db: String, table: String): Unit = {
    requireEpochColumn(spark, db, table)
    FencedAppend.withLease(spark, db)(_ =>
      graft.store.Warehouse.rewriteVia(spark, db, table)(log =>
        log.groupBy("epoch", "text_hash")
          .agg(max("dup_cnt").as("dup_cnt"), min("doc_id").as("doc_id"))
          .groupBy("text_hash")
          .agg(min("doc_id").as("doc_id"), sum("dup_cnt").as("dup_cnt"),
            max("epoch").as("epoch"))
          .select("text_hash", "doc_id", "dup_cnt", "epoch")))
  }

  /** Watermark-bounded streaming exact dedup via Spark's
    * dropDuplicatesWithinWatermark: collapse replayed/at-least-once
    * duplicates on the content digest when the duplicate horizon is
    * bounded in event time. Dedup state is GC'd as the watermark advances
    * — unlike plain dropDuplicates, whose state grows with every distinct
    * key forever — so this is the always-on-ingest shape; the
    * [[sinkDedupedLog]] append-log path remains the UNBOUNDED-horizon
    * dedup (survivor resolution on read, no streaming state at all).
    * Input needs an `event_time` timestamp and a `text` column. Output
    * schema == input schema: the internal dedup digest is dropped (callers
    * landing the stream must not inherit an undocumented extra column the
    * batch dedup paths don't expose).
    */
  def dedupWithinWatermark(docs: DataFrame,
                           delay: String = "10 minutes"): DataFrame = {
    require(!docs.columns.contains("__dedup_digest"),
      "__dedup_digest column name is reserved by dedupWithinWatermark")
    docs
      .withColumn("__dedup_digest", sha2(lower(trim(col("text"))), 256))
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark("__dedup_digest")
      .drop("__dedup_digest")
  }

  /** Streaming ingest quality gate: the BATCH stateless quality predicate
    * (graft.ops.TextOps.qualityGate — the same length floor and stopword
    * band corpusClean applies) filtered per micro-batch before landing,
    * so streamed and batch-curated corpora pass identical rules. The
    * stateful legs stay with their own operators: exact dedup via
    * [[sinkDedupedLog]] / [[dedupWithinWatermark]].
    */
  def qualityGatedCorpus(docs: DataFrame): DataFrame =
    graft.ops.TextOps.qualityGateStats(docs)
      .filter(graft.ops.TextOps.qualityGate)
      .drop(graft.ops.TextOps.GateCols: _*)

  /** Streaming NEAR-dup ingest against the persisted minhash band index
    * (graft.ops.IncrementalDedup): per micro-batch, probe the index with
    * the batch's bands AND the batch against its own lower-id bands
    * (intra-trigger duplicates must not both survive), append the full
    * verdict frame (doc_id, n_matches, match_min_id, survives) to an
    * audit log, and fold the SURVIVORS' bands into the index — so later
    * triggers dedup against both the historical corpus and every earlier
    * trigger's novel documents, while near-dups of already-seen content
    * never become index content (first-occurrence-canonical: within a
    * trigger the LOWEST id of a duplicate group is the canon, matching
    * the batch operators' keep-lowest rule). Streaming state: NONE — the
    * index table is the state; per-trigger work is the batch signed ONCE
    * (persisted band frame feeds the index probe, the intra-batch
    * self-join, and the survivor append), two batch-keyed joins, one
    * bounded append. The exact-dup legs ([[sinkDedupedLog]] /
    * [[dedupWithinWatermark]]) remain the cheap first line; this sink is
    * the fuzzy second line. Requires an index built beforehand
    * (IncrementalDedup.buildIndexFrom — probing a missing index fails
    * loudly rather than silently admitting everything).
    *
    * At-least-once delivery, EXACTLY-ONCE-EQUIVALENT state: a replayed
    * trigger re-probes an index that already holds its bands — the
    * resulting SELF-matches are detected and excluded from the match
    * stats, so the replay emits byte-identical verdict rows (the log
    * gains duplicates of the same content; readers resolving per doc_id
    * by first write — the [[dedupedCorpus]] contract — see no
    * difference), and self-seen survivors are not re-appended, so the
    * index row count is unchanged by any number of replays (see
    * [[processNearDupBatch]]).
    */
  def sinkIncrementalNearDup(docs: DataFrame, db: String, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        processNearDupBatch(batch.toDF(), db, table)
      }, docs, s"$db.$table")
      .start()

  /** One trigger of the near-dup ingest — factored out so the replay
    * contract is testable trigger-by-trigger. REPLAY-IDEMPOTENT at the
    * index: a replayed doc's own bands are already stored, so it SELF-
    * matches in the probe join the verdict needs anyway — that self-match
    * is the replay detector, for free (no ledger table, no extra index
    * scan). Self is EXCLUDED from the match stats (a first-run doc never
    * self-matches — the index can't contain it yet — so first-run
    * verdicts are unchanged), which makes a replayed trigger emit
    * byte-identical verdict rows; and a self-seen survivor's bands are
    * NOT re-appended, so a replay appends exactly zero index rows —
    * exactly-once-equivalent state, at-least-once delivery.
    */
  private[graft] def processNearDupBatch(b: DataFrame, db: String,
                                         table: String): Unit = {
    val s = b.sparkSession
    val idx = graft.ops.IncrementalDedup.IndexDb + "." +
      graft.ops.IncrementalDedup.IndexTable
    require(s.catalog.tableExists(idx),
      s"sinkIncrementalNearDup: no band index at $idx")
    val bands = graft.ops.TextOps.bandsOfDocs(b).persist()
    try {
      // HOT-BUCKET pruning on the batch bands BEFORE any join — the same
      // MaxBucketSize cap every batch-path equivalent applies
      // (TextOps.pairsOfBands, IncrementalDedup.indexBands): a hot
      // template in one micro-batch (thousands of docs sharing a band)
      // would otherwise make the intra self-join O(n²) per bucket AND
      // make streaming verdicts for hot-bucket docs disagree with the
      // batch operators', which never see hot-band candidates.
      val pruned = graft.ops.IncrementalDedup.pruneHot(bands)
      // ONE union of both mate legs, distinct-counted together: on a
      // replay the same canonical mate surfaces through BOTH the corpus
      // leg (the replayed trigger's survivors are index content now) and
      // the intra leg — counting the legs separately would double it and
      // break verdict idempotency. Self rows can only come from the
      // corpus leg (the intra leg filters mate < doc); they carry the
      // replay flag and are excluded from the stats.
      val corpusLeg = pruned
        .join(s.table(idx).withColumnRenamed("doc_id", "corpus_id"),
          Seq("band_idx", "band_hash"))
        .select(col("doc_id"), col("corpus_id").as("mate_id"))
      val intraLeg = pruned
        .join(pruned.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("mate_id")), Seq("band_idx", "band_hash"))
        .filter(col("mate_id") < col("doc_id"))
        .select(col("doc_id"), col("mate_id"))
      val notSelf = col("mate_id") =!= col("doc_id")
      val matches = corpusLeg.union(intraLeg)
        .groupBy("doc_id")
        .agg(
          countDistinct(when(notSelf, col("mate_id"))).as("n"),
          min(when(notSelf, col("mate_id"))).as("m_min"),
          max((!notSelf).cast("int")).as("self_seen"))
      val verdicts = b.select("doc_id")
        .join(matches, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_matches"),
          coalesce(col("m_min"), col("doc_id")).as("match_min_id"),
          (coalesce(col("n"), lit(0L)) === 0).cast("int").as("survives"),
          coalesce(col("self_seen"), lit(0)).as("self_seen"))
        .orderBy("doc_id")
        .persist()
      graft.store.Warehouse.load(s,
        verdicts.drop("self_seen"), db, table,
        graft.store.LoadMode.WatermarkAppend)
      // fold only NOVEL survivors' bands in: a self-seen survivor IS the
      // replay case — its bands are already index content
      graft.ops.IncrementalDedup.appendBandFrame(
        graft.ops.IncrementalDedup.pruneHot(
          bands.join(verdicts
            .filter(col("survives") === 1 && col("self_seen") === 0)
            .select("doc_id"), Seq("doc_id"), "left_semi")))
      verdicts.unpersist()
      ()
    } finally bands.unpersist()
  }

  /** Scheduled wiring for the log compaction — the maintenance cadence an
    * always-on ingest stream needs, composed like the IVF index refresh.
    */
  def dedupLogCompactionEntry(id: String, cronExpr: String, db: String,
                              table: String): graft.pipeline.ScheduleRunner.Entry =
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => compactDedupLog(s, db, table),
      name = s"${table}_compaction", target = s"$db.$table",
      tags = Map("pipeline" -> "dedup-log"))

  /** Streaming twin of [[graft.ops.IncrementalClusters]]: each micro-batch
    * of documents folds into BOTH persisted near-dup states — the band
    * index (so later triggers probe this batch's docs) and the cluster
    * labeling (contracted-graph CC + partition-scoped rewrite).
    *
    * Crash-window design (the ordering IS the contract):
    * bands append → cluster fold → epoch commit.
    *  - replayed committed epoch → whole-trigger skip (ledger);
    *  - crash after bands, before clusters: the replay's cluster fold
    *    proceeds (labels guard still clear); the re-appended bands grow
    *    the index harmlessly (probe matches are distinct-counted) — the
    *    standing at-least-once index caveat;
    *  - crash after clusters, before the commit: the replay proves the
    *    redelivery by CONTENT (every batch id already labeled — checked
    *    only when the append-only guard would fire, so the happy path
    *    pays nothing) and skips to the commit. A batch that merely
    *    OVERLAPS the labeled range still fails the containment proof and
    *    hits the loud guard — never a silent partial fold.
    */
  def sinkIncrementalClusters(docs: DataFrame, db: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        processClusterBatch(batch.toDF(), db, epochId)
      }, docs, s"$db.${graft.ops.IncrementalClusters.LabelsTable}")
      .start()

  /** Streaming SCD2 maintenance: micro-batches of change-feed rows
    * (user_id, status, ts, event_id) fold through
    * [[graft.ops.ScdOps.applyScd2Batch]], whose fence-FIRST posture makes
    * every crash window exact or loud: a crash before the fence advance
    * redelivers cleanly (nothing was written); a crash after it makes the
    * redelivery refuse loudly (the closed-partition append is not
    * row-idempotent — a silent re-apply could double-close versions), and
    * [[graft.ops.ScdOps.scd2RebuildEntry]] is the recovery re-anchor.
    * Committed epochs no-op via the table-property ledger set LAST.
    */
  def sinkScd2(feed: DataFrame, db: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(feed.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        processScd2Batch(batch.toDF(), db, epochId)
      }, feed, s"$db.${graft.ops.ScdOps.HistTable}")
      .start()

  /** Streaming fold for the value-histogram statistics state
    * ([[graft.ops.TimeSeriesOps]]): additive counts behind the same
    * exact-or-loud fence discipline as [[sinkScd2]] — the histogram
    * rewrite is not idempotent, so crash windows past the fence refuse
    * loudly and the scheduled rebuild re-anchors.
    */
  def sinkValueHistogram(events: DataFrame, db: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        processHistogramBatch(batch.toDF(), db, epochId)
      }, events, s"$db.${graft.ops.TimeSeriesOps.HistTable}")
      .start()

  /** Committed-epoch verdict shared by the table-property ledgers below:
    * `true` = the batch is the benign single-epoch replay Spark's
    * at-least-once contract produces (stored == epochId) and every write
    * already landed — skip. An epoch BEHIND the ledger is NOT a replay
    * (the engine never re-fires committed epochs under one checkpoint):
    * it means a reset/lost checkpoint pointed at the durable table, and
    * the old `stored >= epochId` skip silently discarded every new batch
    * until the fresh stream's epoch counter caught up — refuse loudly
    * instead (round-13 review).
    */
  private def committedReplay(stored: Option[Long], epochId: Long,
                              what: String): Boolean =
    stored match {
      case Some(st) if epochId >= 0 && st == epochId => true
      case Some(st) if epochId >= 0 && st > epochId =>
        throw new IllegalStateException(
          s"$what: batch epoch $epochId behind committed $st — a RESET " +
            "checkpoint against the durable table would silently discard " +
            "new data; restore the checkpoint or rebuild the table")
      case _ => false
    }

  /** Run `fold` once per epoch under the table-property ledger `prop` on
    * `db`.`table` (the [[committedReplay]] verdict), then commit the
    * epoch — LAST, so a crash inside the fold redelivers it.
    */
  private def foldOnce(b: DataFrame, db: String, table: String, prop: String,
                       epochId: Long, what: String)(fold: => Unit): Unit = {
    val s = b.sparkSession
    val stored = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      .properties.get(prop).filter(_.nonEmpty).map(_.toLong)
    if (!committedReplay(stored, epochId, what)) {
      fold
      s.sql(s"ALTER TABLE `$db`.`$table` SET TBLPROPERTIES " +
        s"('$prop'='$epochId')")
    }
  }

  private val HistEpochProp = "graft.tshist.last_epoch"

  private[graft] def processHistogramBatch(b: DataFrame, db: String,
                                           epochId: Long): Unit = {
    import graft.ops.TimeSeriesOps
    if (b.isEmpty) return
    val s = b.sparkSession
    require(s.catalog.tableExists(s"$db.${TimeSeriesOps.HistTable}"),
      s"sinkValueHistogram: no histogram in `$db` — run " +
        "TimeSeriesOps.buildValueHistogram first")
    foldOnce(b, db, TimeSeriesOps.HistTable, HistEpochProp, epochId,
      "sinkValueHistogram")(TimeSeriesOps.appendValueHistogram(s, b, db))
  }

  /** Stream-stream interval join: purchases ⨝ clicks of the same user
    * within the preceding attribution window — the streaming twin of
    * [[graft.ops.EventOps.attributionOver]]'s pairing (the credit math
    * composes downstream). Both sides carry event-time watermarks, so
    * Spark bounds the join STATE: a click older than the window past
    * the purchase-side watermark can never match again and is evicted —
    * the property that makes a stream-stream join runnable forever,
    * and the reason the join condition must carry BOTH time bounds.
    */
  def clickPurchasePairs(events: DataFrame,
                         delay: String = "1 hour"): DataFrame = {
    val ev = events.select(col("event_id"), col("user_id"),
      col("event_type"),
      timestamp_micros(expr("ts div 1000")).as("ets"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ets").as("cts"))
      .withWatermark("cts", delay)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ets").as("pts"))
      .withWatermark("pts", delay)
    purchases.join(clicks,
      expr(s"""c_user = user_id AND cts < pts
        | AND cts >= pts - INTERVAL ${graft.ops.EventOps.AttribWindowNs / 1000000000L}
        | SECONDS""".stripMargin.replace("\n", " ")))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** Streaming twin of [[graft.ops.ReservoirOps.appendDaySamples]]: the
    * bottom-K fold is the histogram's lifecycle shape (additive totals →
    * the same epoch fence + watermark guard), so a micro-batch stream
    * grows the day-sample tables exactly-once.
    */
  def sinkDaySamples(events: DataFrame, db: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        processDaySamplesBatch(batch.toDF(), db, epochId)
      }, events, s"$db.${graft.ops.ReservoirOps.SampleTable}")
      .start()

  private val ReservoirEpochProp = "graft.reservoir.last_epoch"

  private[graft] def processDaySamplesBatch(b: DataFrame, db: String,
                                            epochId: Long): Unit = {
    import graft.ops.ReservoirOps
    if (b.isEmpty) return
    val s = b.sparkSession
    require(s.catalog.tableExists(s"$db.${ReservoirOps.SampleTable}"),
      s"sinkDaySamples: no day samples in `$db` — run " +
        "ReservoirOps.buildDaySamples first")
    foldOnce(b, db, ReservoirOps.SampleTable, ReservoirEpochProp, epochId,
      "sinkDaySamples")(ReservoirOps.appendDaySamples(s, b, db))
  }

  private val Scd2EpochProp = "graft.scd2.last_epoch"

  private[graft] def processScd2Batch(b: DataFrame, db: String,
                                      epochId: Long): Unit = {
    import graft.ops.ScdOps
    if (b.isEmpty) return
    val s = b.sparkSession
    require(s.catalog.tableExists(s"$db.${ScdOps.HistTable}"),
      s"sinkScd2: no history table in `$db` — run ScdOps.buildScd2 first")
    foldOnce(b, db, ScdOps.HistTable, Scd2EpochProp, epochId,
      "sinkScd2")(ScdOps.applyScd2Batch(s, b, db))
  }

  private val ClusterEpochProp = "graft.clusters.last_epoch"

  private[graft] def processClusterBatch(b: DataFrame, db: String,
                                         epochId: Long): Unit = {
    import graft.ops.{IncrementalClusters, IncrementalDedup, TextOps}
    if (b.isEmpty) return
    val s = b.sparkSession
    val labelsFqn = s"`$db`.`${IncrementalClusters.LabelsTable}`"
    require(s.catalog.tableExists(labelsFqn.replace("`", "")),
      s"sinkIncrementalClusters: no cluster state at $labelsFqn — " +
        "run IncrementalClusters.buildClusterState first")
    val idxFqn = s"`${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`"
    require(s.catalog.tableExists(
      s"${IncrementalDedup.IndexDb}.${IncrementalDedup.IndexTable}"),
      s"sinkIncrementalClusters: no band index at $idxFqn — " +
        "run IncrementalDedup.buildIndexFrom over the same corpus first")
    foldOnce(b, db, IncrementalClusters.LabelsTable, ClusterEpochProp,
        epochId, "sinkIncrementalClusters") {
      val storedMax = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          IncrementalClusters.LabelsTable, Some(db))).properties
        .get(IncrementalClusters.MaxDocIdProp)
        .map(_.toLong).getOrElse(Long.MinValue)
      val bMin = b.agg(min("doc_id")).head.getLong(0)
      val redelivery = bMin <= storedMax && {
        // content proof, paid only when the loud guard WOULD fire: every
        // batch id already labeled ⇒ the cluster fold landed pre-crash
        b.select("doc_id").join(s.table(labelsFqn).select("doc_id"),
          Seq("doc_id"), "left_anti").isEmpty
      }
      if (!redelivery) {
        // bands FIRST: later triggers (and this fold's own probe) must see
        // this batch's docs in the index
        IncrementalDedup.appendBandFrame(
          IncrementalDedup.pruneHot(TextOps.bandsOfDocs(b)))
        IncrementalClusters.appendBatchClusters(s, b, s.table(idxFqn), db)
      }
    }
  }

  /** Default output mode pairings for the above (documented contract). */
  val outputModes: Map[String, OutputMode] = Map(
    "hourlyCounts" -> OutputMode.Append(),
    "runningUserAgg" -> OutputMode.Update(),
    "streamingSessions" -> OutputMode.Append(),
    "timeoutSessions" -> OutputMode.Append())
}
