package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{AnnFamily, VectorOps}

/** Streaming growth for the stored ANN indexes on the [[FencedAppend]]
  * protocol: each foreachBatch micro-batch appends to EVERY index family
  * of [[AnnFamily.All]] present in the database, single or sharded,
  * through the one frozen-parameter append ([[VectorOps.append]] —
  * stored centroids/codebooks/ranges, zero training jobs), so searches
  * serve the grown corpus immediately and the scheduled rebuild
  * ([[VectorOps.refreshEntry]]) bounds parameter drift on its cadence.
  * One stage per present family.
  *
  * Fence: the optional db property [[MaxVecIdProp]], cleared by the batch
  * MIN — no overlap is admitted. The family appends are still row-level
  * IDEMPOTENT (each anti-joins the batch against the ids the target
  * already holds within the batch's id range), so a crash INSIDE the
  * stage sequence replays to exactly the missing rows. A duplicated code
  * row would be a duplicated CANDIDATE the exact re-rank does not
  * collapse, which is why this is a correctness guard and not an
  * optimization.
  */
object VectorIngest {

  private[graft] val MaxVecIdProp = "graft.ann.max_vec_id"
  private[graft] val LastEpochProp = "graft.ann.last_epoch"

  /** One append stage per index family present in `b.db`, keyed by the
    * family's first code table (`<codes>` or `<codes>_0`) for the
    * failpoint contract.
    */
  private def familyStages(b: FencedAppend.Batch): Seq[(String, () => Unit)] = {
    val present = for {
      f <- AnnFamily.All
      first <- VectorOps.layout(b.s, b.db, f).headOption
    } yield (f.codesTable + first) ->
      (() => VectorOps.append(f, b.s, b.db, b.frame))
    require(present.nonEmpty,
      s"vectorIngestBatch: no ANN index tables in `${b.db}` — build one of " +
        AnnFamily.All.map(_.name).mkString("/") +
        " (VectorOps.build) before streaming into it")
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
