package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.VectorOps

/** Streaming growth for the stored ANN indexes on the [[FencedAppend]]
  * protocol: each foreachBatch micro-batch appends to EVERY index family
  * present in the database through the frozen-parameter appends
  * ([[VectorOps.appendToIvfIndex]]/[[VectorOps.appendToPqIndex]]/
  * [[VectorOps.appendToIvfPqIndex]]/[[VectorOps.appendToSqIndex]] —
  * stored centroids/codebooks/ranges, zero training jobs), so searches
  * serve the grown corpus immediately and the scheduled rebuild
  * ([[VectorOps.ivfRefreshEntry]] family) bounds parameter drift on its
  * cadence. One stage per present family.
  *
  * Fence: the optional db property [[MaxVecIdProp]], cleared by the batch
  * MIN — no overlap is admitted. The family appends are still row-level
  * IDEMPOTENT (each anti-joins the batch against the ids the target
  * already holds within the batch's id range, see
  * [[VectorOps.appendToIvfIndex]]), so a crash INSIDE the stage sequence
  * replays to exactly the missing rows. A duplicated code row would be a
  * duplicated CANDIDATE the exact re-rank does not collapse, which is
  * why this is a correctness guard and not an optimization.
  */
object VectorIngest {

  private[graft] val MaxVecIdProp = "graft.ann.max_vec_id"
  private[graft] val LastEpochProp = "graft.ann.last_epoch"

  /** One append stage per index family present in `b.db`. */
  private def familyStages(b: FencedAppend.Batch): Seq[(String, () => Unit)] = {
    val (s, db, frame) = (b.s, b.db, b.frame)
    val families: Seq[(String, () => Unit)] = Seq(
      VectorOps.IvfAssignmentsTable ->
        (() => VectorOps.appendToIvfIndex(s, db, frame)),
      VectorOps.PqCodesTable ->
        (() => VectorOps.appendToPqIndex(s, db, frame)),
      VectorOps.IvfPqCodesTable ->
        (() => VectorOps.appendToIvfPqIndex(s, db, frame)),
      VectorOps.SqCodesTable ->
        (() => VectorOps.appendToSqIndex(s, db, frame)),
      VectorOps.IvfSqCodesTable ->
        (() => VectorOps.appendToIvfSqIndex(s, db, frame)))
    // sharded families: `<prefix>_0.._S-1` tables (the sharded builders'
    // layout) grow through the hash-slice routed appends — S is the
    // contiguous run of suffixed tables, so a partially-built grid is
    // appended only up to its first gap (the builders always write the
    // full run). Keyed by the `_0` table for the failpoint contract.
    val catalogTables = s.catalog.listTables(db).collect().map(_.name).toSet
    def shardRun(prefix: String): Int =
      Iterator.from(0).takeWhile(i => catalogTables(s"${prefix}_$i")).size
    val sharded: Seq[(String, () => Unit)] = Seq[(String, Int => Unit)](
      VectorOps.IvfAssignmentsTable ->
        ((n: Int) => VectorOps.appendToShardedIvfIndex(s, db, n, frame)),
      VectorOps.PqCodesTable ->
        ((n: Int) => VectorOps.appendToShardedPqIndex(s, db, n, frame)),
      VectorOps.IvfPqCodesTable ->
        ((n: Int) => VectorOps.appendToShardedIvfPqIndex(s, db, n, frame)),
      VectorOps.IvfSqCodesTable ->
        ((n: Int) => VectorOps.appendToShardedIvfSqIndex(s, db, n, frame)))
      .flatMap { case (prefix, f) =>
        val n = shardRun(prefix)
        if (n > 0) Some(s"${prefix}_0" -> (() => f(n))) else None
      }
    val present =
      families.filter(f => s.catalog.tableExists(s"$db.${f._1}")) ++ sharded
    require(present.nonEmpty,
      s"vectorIngestBatch: no ANN index tables in `$db` — build one " +
        "(buildIvfIndex/buildPqIndex/buildIvfPqIndex) before streaming " +
        "into it")
    present
  }

  private[graft] val IngestFamily = FencedAppend.Family(
    name = "vectorIngestBatch", ledgerBase = LastEpochProp,
    fence = FencedAppend.Fence(None, Seq("vec_id" -> MaxVecIdProp),
      FencedAppend.Lo, None),
    prepare = graft.store.Warehouse.ensureDatabase,
    stages = familyStages)

  /** Fold one micro-batch of (vec_id, embedding, ...) rows into every
    * stored index family present in `db`. `failAfter` is a TEST-ONLY
    * failpoint: throw right after the named family's append lands.
    */
  def vectorIngestBatch(s: SparkSession, srcTag: String, batch: DataFrame,
                        db: String, epochId: Long = -1L,
                        failAfter: Option[String] = None): Unit =
    FencedAppend.append(s, IngestFamily, db, srcTag, batch, epochId, failAfter)

  /** foreachBatch adapter — wires the streaming engine's epochId into
    * the replay ledger (mirror of [[CorpusPipeline.corpusIngestSink]]).
    */
  def vectorIngestSink(srcTag: String, db: String)
      : (DataFrame, Long) => Unit =
    (batch, epochId) =>
      vectorIngestBatch(batch.sparkSession, srcTag, batch, db, epochId)
}
