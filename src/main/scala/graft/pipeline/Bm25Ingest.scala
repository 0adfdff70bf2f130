package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.RetrievalOps

/** Streaming growth for the stored BM25 index on the [[FencedAppend]]
  * protocol. The index carries DERIVED statistics (df, totals) beside
  * per-doc facts (postings, doclen), and an additive stat rewrite is not
  * idempotent under redelivery. So the facts append ROW-IDEMPOTENTLY
  * (anti-join against the ids the target already holds in the batch's
  * doc_id range — a stats-pruned scan, the [[graft.ops.VectorOps]]
  * freshOnly contract) and df/totals are then REBUILT from the stored
  * facts: whatever partial state a crash left, the rebuild lands the
  * stats the facts imply. Cost: one aggregation over the postings table
  * per micro-batch (vocab-sized output); the alternative is to let df
  * drift and re-anchor on [[RetrievalOps.bm25RefreshEntry]]'s cron —
  * freshness then degrades only in term WEIGHTS, never in which
  * documents are retrievable.
  *
  * Fence: the postings table's max doc_id property, cleared by the batch
  * max (overlap admitted). A row the anti-joins drop must be a
  * redelivery of identical content: the per-doc token count is compared
  * with the stored doclen and a mismatch is refused ("DIFFERENT
  * content") — doclen equality is necessary for content equality and
  * costs one range-pruned join.
  */
object Bm25Ingest {

  private[graft] val LastEpochProp = "graft.bm25.last_epoch"

  private def fqn(db: String, tbl: String) = s"`$db`.`$tbl`"

  /** Rows of `batch` whose doc_id the target table does not already hold
    * within the batch's id range (parquet min/max stats prune the probe
    * to the files a previous partial append produced).
    */
  private def freshDocs(b: FencedAppend.Batch, table: String): DataFrame = {
    val existing = b.s.table(fqn(b.db, table))
      .filter(col("doc_id").between(b.lo, b.hi))
      .select("doc_id").distinct()
    b.frame.join(existing, Seq("doc_id"), "left_anti")
  }

  private def requireSameContent(b: FencedAppend.Batch): Unit = {
    val mismatched = RetrievalOps.doclenOf(b.frame)
      .join(b.s.table(fqn(b.db, RetrievalOps.DocLenTable))
        .filter(col("doc_id").between(b.lo, b.hi))
        .withColumnRenamed("dl", "dl_stored"), Seq("doc_id"))
      .filter(col("dl") =!= col("dl_stored")).count()
    require(mismatched == 0L,
      s"bm25IngestBatch: $mismatched overlapping doc_ids carry DIFFERENT " +
        "content than the rows already ingested — not a redelivery; " +
        "refusing loudly instead of silently keeping the old text")
  }

  private[graft] val IngestFamily = FencedAppend.Family(
    name = "bm25IngestBatch", ledgerBase = LastEpochProp,
    fence = RetrievalOps.Bm25Fence.copy(bound = FencedAppend.Hi),
    prepare = (s, db) =>
      require(s.catalog.tableExists(s"$db.${RetrievalOps.PostingsTable}"),
        s"bm25IngestBatch: no BM25 index in `$db` — buildBm25Index first"),
    stages = b => Seq(
      RetrievalOps.PostingsTable -> { () =>
        requireSameContent(b)
        RetrievalOps.appendPostingsRows(b.s, b.db,
          freshDocs(b, RetrievalOps.PostingsTable))
      },
      RetrievalOps.DocLenTable -> (() => RetrievalOps.appendDocLenRows(
        b.s, b.db, freshDocs(b, RetrievalOps.DocLenTable))),
      "derived_stats" -> (() => RetrievalOps.rebuildDerivedStats(b.s, b.db))))

  /** Fold one micro-batch of (doc_id, text) rows into the stored index.
    * `failAfter` is a TEST-ONLY failpoint naming the stage to crash
    * after: the postings table, the doclen table or `derived_stats`.
    */
  def bm25IngestBatch(s: SparkSession, srcTag: String, batch: DataFrame,
                      db: String, epochId: Long = -1L,
                      failAfter: Option[String] = None): Unit =
    FencedAppend.append(s, IngestFamily, db, srcTag, batch, epochId, failAfter)

  /** foreachBatch adapter — wires the streaming engine's epochId into the
    * replay ledger.
    */
  def bm25IngestSink(srcTag: String, db: String): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      bm25IngestBatch(batch.sparkSession, srcTag, batch, db, epochId)
}
