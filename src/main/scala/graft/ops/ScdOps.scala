package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Slowly-changing-dimension Type 2 history — the loader-mode family's
  * missing member (full refresh / snapshot replace / watermark append /
  * merge upsert exist in [[graft.store.Warehouse]]; SCD2 is the mode that
  * KEEPS every superseded version instead of overwriting it, the Kimball
  * dimension-history contract the reference's loader would need the day a
  * tenant asks "what was this row last March").
  *
  * The change feed here is the events table read as a per-user status
  * stream: key = user_id, tracked attribute = event_type, change time =
  * ts (the engine-wide ns-epoch Long), event_id as the deterministic
  * tie-break. Run-collapse turns consecutive identical statuses into one
  * version row (valid_from, valid_to, version, is_current) — `valid_to` =
  * the NEXT version's valid_from (half-open intervals), NULL on the open
  * current row.
  *
  * Storage splits OPEN from CLOSED rows as the partition key (`closed`
  * 0/1): closed history is immutable forever and only ever APPENDED; the
  * current partition is dimension-key-sized and is the only thing a batch
  * rewrites. That is the 100 TB shape — per batch cost is O(batch) work
  * plus one bounded rewrite of the current partition, while the unbounded
  * closed partition is never read or rewritten by an append.
  */
object ScdOps {

  val Db = "graft_scd2"
  val HistTable = "user_status_history"
  val WmTsProp = "graft.scd2.wm_ts"
  val WmEidProp = "graft.scd2.wm_event_id"
  private[graft] val Fence = graft.pipeline.FencedAppend.Fence(
    Some(HistTable), Seq("ts" -> WmTsProp, "event_id" -> WmEidProp),
    graft.pipeline.FencedAppend.Lo, Some("buildScd2"))

  private def fqn(db: String) = s"`$db`.`$HistTable`"

  /** The events table as an SCD2 change feed. */
  def changeFeed(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_type").as("status"),
      col("ts"), col("event_id"))

  /** Run-collapse: one row per consecutive same-status run, with a
    * per-user 1-based run index in (ts, event_id) order. All three
    * windows share the user_id hash partitioning, so the whole collapse
    * costs ONE exchange; and because change rows keep valid_from = ts,
    * the second sort order (valid_from, first_event_id) is the order the
    * frame is already in.
    */
  private[graft] def runsOf(feed: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val byFrom = Window.partitionBy("user_id")
      .orderBy(col("valid_from"), col("first_event_id"))
    feed
      .withColumn("prev", lag(col("status"), 1).over(byTime))
      .where(col("prev").isNull || col("prev") =!= col("status"))
      .select(col("user_id"), col("status"), col("ts").as("valid_from"),
        col("event_id").as("first_event_id"),
        row_number().over(byTime).as("run_idx"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byFrom))
  }

  /** Full SCD2 history from a change feed (version = run index). */
  def history(feed: DataFrame): DataFrame =
    runsOf(feed).select(col("user_id"), col("status"), col("valid_from"),
      col("valid_to"), col("run_idx").as("version"), col("first_event_id"),
      col("valid_to").isNull.cast("int").as("is_current"))

  /** Gate `q_scd2_history`: the batch collapse over the full feed. */
  def scd2History(s: SparkSession, d: String): DataFrame =
    history(changeFeed(graft.Tables.t(s, d, "events")))
      .orderBy("user_id", "version")

  // ---------------------------------------------------------------- store

  /** Full build: write the history table partitioned by `closed` and
    * freeze the (ts, event_id) watermark as table properties. The
    * scheduled re-anchor for the append path.
    */
  def buildScd2(feed: DataFrame, db: String = Db): Unit = {
    val hist = history(feed)
      .withColumn("closed", (lit(1) - col("is_current")).cast("int"))
      .drop("is_current")
    graft.store.Warehouse.saveModel(hist, db, HistTable,
      partitionCols = Seq("closed"))
    Fence.advance(feed.sparkSession, db, Fence.boundsOf(feed)
      .fold(Seq(Long.MinValue, Long.MinValue))(_.hi))
  }

  /** Fold one change-feed batch into the stored history.
    *
    * Only the batch's users are recomputed: each affected user's stored
    * CURRENT row re-enters the collapse as a pseudo change row carrying
    * its original (valid_from, first_event_id) — the fence guarantees it
    * sorts before every batch row, so the first recomputed run inherits
    * the stored row's identity and version, and later runs continue the
    * version sequence. Users absent from the batch pass through the
    * current-partition rewrite untouched; previously-closed rows are
    * never read.
    */
  def applyScd2Batch(s: SparkSession, batch0: DataFrame, db: String = Db): Unit = {
    val batch = changeFeedShape(batch0)
    val bounds = Fence.check("applyScd2Batch", s, db, batch)
    if (bounds.isEmpty) return // empty batch: nothing to fold
    Fence.advance(s, db, bounds.get.hi)

    val affected = batch.select("user_id").distinct()
    val current = s.table(fqn(db)).where(col("closed") === 0)
    val affectedCur = current
      .join(broadcast(affected), Seq("user_id"), "left_semi")
      .localCheckpoint()
    // stored current rows as pseudo change rows + per-user version base
    val pseudo = affectedCur.select(col("user_id"), col("status"),
      col("valid_from").as("ts"), col("first_event_id").as("event_id"))
    val bases = affectedCur.select(col("user_id"), col("version").as("base"))
    val runs = runsOf(pseudo.unionByName(batch))
      .join(broadcast(bases), Seq("user_id"), "left")
      .withColumn("version",
        (coalesce(col("base"), lit(1)) + col("run_idx") - lit(1)).cast("int"))
    val recomputed = runs.select(col("user_id"), col("status"),
        col("valid_from"), col("valid_to"), col("version"),
        col("first_event_id"),
        col("valid_to").isNotNull.cast("int").as("closed"))
      .localCheckpoint()

    // newly-closed rows append to the immutable closed partition…
    recomputed.where(col("closed") === 1)
      .write.mode("append").insertInto(fqn(db))
    // …and the current partition (dimension-key-sized) is rewritten as
    // unaffected currents ∪ recomputed currents — a STATIC single-partition
    // overwrite, immune to the dynamic-mode writer-option trap
    val unaffectedCur = current
      .join(broadcast(affected), Seq("user_id"), "left_anti")
      .drop("closed")
    // localCheckpoint: the overwrite below must not read the table it
    // replaces (UNSUPPORTED_OVERWRITE) — materialize the new current set
    // first; it is dimension-key-sized by construction
    val newCurrent = unaffectedCur
      .unionByName(recomputed.where(col("closed") === 0).drop("closed"))
      .localCheckpoint()
    val view = s"scd2_cur_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    newCurrent.createOrReplaceTempView(view)
    s.sql(s"INSERT OVERWRITE TABLE ${fqn(db)} PARTITION (closed=0) " +
      s"SELECT user_id, status, valid_from, valid_to, version, " +
      s"first_event_id FROM $view")
    s.catalog.dropTempView(view)
  }

  private def changeFeedShape(df: DataFrame): DataFrame =
    df.select("user_id", "status", "ts", "event_id")

  /** Serve the stored history in the gate projection. The refresh is the
    * cross-session freshness contract: a streaming fold's cloned session
    * (or another writer JVM) may have overwritten the current partition
    * since this session first listed the table.
    */
  def storedHistory(s: SparkSession, db: String = Db): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db)
    s.table(fqn(db)).select(col("user_id"), col("status"), col("valid_from"),
      col("valid_to"), col("version"), col("first_event_id"),
      (lit(1) - col("closed")).cast("int").as("is_current"))
  }

  /** Scheduled full rebuild — the recovery/re-anchor entry (cron posture
    * shared with clusterRebuildEntry/bpeRefreshEntry).
    */
  def scd2RebuildEntry(s: SparkSession, d: String, db: String = Db): Unit =
    buildScd2(changeFeed(graft.Tables.t(s, d, "events")), db)

  /** Gate `q_scd2_incremental`: build on the first two-thirds of the time
    * range, fold the rest as one batch, serve the stored state. The
    * oracle replays the FRESH full-feed collapse, so a green row proves
    * the incrementally-maintained table is bit-equal to a from-scratch
    * [[scd2History]] — the maintenance invariant itself.
    */
  def scd2Incremental(s: SparkSession, d: String): DataFrame = {
    val feed = changeFeed(graft.Tables.t(s, d, "events"))
    val b = feed.agg(min("ts"), max("ts")).head
    val thr = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 3 * 2
    buildScd2(feed.where(col("ts") < thr))
    applyScd2Batch(s, feed.where(col("ts") >= thr))
    storedHistory(s).orderBy("user_id", "version")
  }
}
