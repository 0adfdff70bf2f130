package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ChunkOps

/** Streaming CDC dedup-rewrite on the [[FencedAppend]] protocol — the
  * end-to-end streaming form of the chunk family: each micro-batch is
  * rewritten against the CURRENT persisted chunk index (its duplicated
  * chunks excised), the cleaned rows land in an output corpus table, and
  * only THEN do the batch's own chunks fold into the index.
  *
  * That ordering is load-bearing: a redelivered batch re-runs the rewrite
  * against an index that may already hold its own chunks (everything
  * would excise) — but the output append is row-idempotent (anti-join on
  * the batch's doc_id range), so the poisoned recomputation is DISCARDED
  * in favor of the rows the first attempt landed. The index appends are
  * existence-semantics anti-joins, replay-absorbing by construction.
  *
  * Fence: the chunk index's max doc_id property, cleared by the batch max
  * (overlap admitted). Content proof on the absorbed overlap: the
  * index-independent raw chunk count must equal the stored one.
  */
object CdcIngest {

  val OutputTable = "cdc_clean"

  private[graft] val LastEpochProp = "graft.cdc.last_epoch"

  /** Rewrite against the current index and append the rows the output
    * does not already hold.
    */
  private def appendOutput(b: FencedAppend.Batch): Unit = {
    val s = b.s
    val cleaned = ChunkOps.cdcRewriteAgainst(b.frame, s, b.db)
    val outFq = s"`${b.db}`.`$OutputTable`"
    if (!s.catalog.tableExists(s"${b.db}.$OutputTable"))
      graft.store.Warehouse.saveModel(cleaned, b.db, OutputTable)
    else {
      // the rewritten text itself is poisoned on redelivery (the index
      // then holds the batch's own chunks), so the proof compares the
      // index-INDEPENDENT raw chunk count
      val stored = s.table(outFq)
        .filter(col("doc_id").between(b.lo, b.hi))
        .select(col("doc_id"), col("n_chunks").as("n_stored"))
      val mismatched = cleaned.join(stored, Seq("doc_id"))
        .filter(col("n_chunks") =!= col("n_stored")).count()
      require(mismatched == 0L,
        s"cdcIngestBatch: $mismatched overlapping doc_ids carry " +
          "DIFFERENT content than the rows already ingested — not a " +
          "redelivery; refusing loudly")
      cleaned.join(stored.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(s.table(outFq).columns.map(col).toIndexedSeq: _*)
        .write.mode("append").insertInto(outFq)
    }
  }

  private[graft] val IngestFamily = FencedAppend.Family(
    name = "cdcIngestBatch", idCol = "doc_id", ledgerBase = LastEpochProp,
    fence = FencedAppend.Fence(FencedAppend.Hi,
      (s, db) => Some(ChunkOps.readIndexProp(s, db, ChunkOps.MaxDocProp)),
      (s, db, hi) => ChunkOps.setIndexProp(s, db, ChunkOps.MaxDocProp,
        hi.toString)),
    prepare = (s, db) =>
      require(s.catalog.tableExists(s"$db.${ChunkOps.ChunkIndexTable}"),
        s"cdcIngestBatch: no chunk index in `$db` — buildChunkIndex first"),
    stages = b => Seq(
      OutputTable -> (() => appendOutput(b)),
      // only now does the batch join the index (see ordering scaladoc)
      ChunkOps.ChunkIndexTable ->
        (() => ChunkOps.appendToChunkIndex(b.s, b.db, b.frame))))

  def cdcIngestBatch(s: SparkSession, srcTag: String, batch: DataFrame,
                     db: String, epochId: Long = -1L,
                     failAfter: Option[String] = None): Unit =
    FencedAppend.append(s, IngestFamily, db, srcTag, batch, epochId, failAfter)

  /** foreachBatch adapter — wires the streaming engine's epochId into the
    * replay ledger.
    */
  def cdcIngestSink(srcTag: String, db: String): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      cdcIngestBatch(batch.sparkSession, srcTag, batch, db, epochId)
}
