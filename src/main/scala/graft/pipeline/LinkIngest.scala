package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.LinkOps

/** Streaming growth for the link graph — the [[Bm25Ingest]] structure
  * applied to web provenance: per-document link FACTS (page domain,
  * target domain, external flag) append row-idempotently behind an
  * append-only doc_id fence, and the DERIVED state — the stored
  * domain-authority table ([[LinkOps.AuthorityTable]]) — is REBUILT from
  * the stored facts after every fold, never additively patched: PageRank
  * has no exact increment (one new edge can move every rank), so the
  * rebuild-from-facts posture is not merely self-healing here, it is the
  * only exact maintenance there is. Whatever partial state a crash left,
  * the next fold's rebuild lands the authority the facts imply.
  *
  * Cost: one walk over the DOMAIN graph per micro-batch — domain-sized
  * (vocab-class), not corpus-sized, so per-batch rebuild is affordable at
  * ingest cadence; a deployment that can tolerate stale weights between
  * folds drops the in-fold rebuild and re-anchors on
  * [[LinkOps.authorityRebuildEntry]]'s cron instead — retrievability of
  * the facts themselves is exact from the moment they land.
  *
  * Exactly-once through [[FencedAppend]]: the batch's FACTS are pinned,
  * the fence is the required db property [[MaxDocProp]] cleared by the
  * batch max (overlap admitted), and the stages are the fact append
  * (behind its content proof) and the authority rebuild.
  */
object LinkIngest {

  val LinkFactsTable = "link_facts"
  private[graft] val MaxDocProp = "graft.links.max_doc"
  private[graft] val LastEpochProp = "graft.links.last_epoch"

  private def fqn(db: String, tbl: String) = s"`$db`.`$tbl`"

  private def factsOf(docs: DataFrame): DataFrame =
    LinkOps.craftedLinksOver(docs)
      .select("doc_id", "page_domain", "target_domain", "is_external")

  /** Walk the STORED facts and overwrite the authority table — the
    * derived-state rebuild shared by the initial build and every fold.
    */
  def rebuildAuthorityFromFacts(s: SparkSession, db: String): Unit = {
    graft.store.Warehouse.refreshDb(s, db)
    val facts = s.table(fqn(db, LinkFactsTable)).persist()
    try {
      val edges = facts.filter(col("is_external") === 1)
        .select(col("page_domain").as("src"), col("target_domain").as("dst"))
        .distinct().persist()
      try {
        val verts = facts.select(col("page_domain").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        // ranksOver is already eagerly materialized (checkpoint-reclaimed
        // through the pagerank loan)
        graft.store.Warehouse.saveModel(
          LinkOps.ranksOver(edges, verts), db, LinkOps.AuthorityTable)
      } finally edges.unpersist()
    } finally facts.unpersist()
  }

  /** Initial state: overwrite the fact table from a corpus frame, pin the
    * append-only fence at its max doc_id, rebuild authority. Overwriting
    * resets any previous state under the same db (the bench-rerun
    * contract every incremental gate follows).
    */
  def buildLinkFacts(s: SparkSession, corpus: DataFrame, db: String): Unit = {
    val facts = factsOf(corpus)
    val bounds = facts.agg(max("doc_id")).head()
    require(!bounds.isNullAt(0), "buildLinkFacts over an empty corpus")
    graft.store.Warehouse.saveModel(facts, db, LinkFactsTable)
    CorpusPipeline.setDbProp(s, db, MaxDocProp, bounds.getLong(0).toString)
    rebuildAuthorityFromFacts(s, db)
  }

  /** Content proof plus the row-idempotent fact append. A redelivered
    * doc must carry EXACTLY the link rows it did the first time. A row
    * COUNT (the Bm25Ingest doclen shortcut) is too weak here — the crafted
    * link count depends only on doc_id arithmetic, so a rogue overlap
    * with a different source would pass it. The fact rows are compared as
    * per-doc MULTISETS (full outer on the grouped rows, restricted to the
    * overlapping ids — a handful of rows per doc, range-pruned).
    */
  private def appendFacts(b: FencedAppend.Batch): Unit = {
    val factsT = fqn(b.db, LinkFactsTable)
    val storedRange = b.pin(b.s.table(factsT)
      .filter(col("doc_id").between(b.lo, b.hi)).persist())
    val factCols = Seq("doc_id", "page_domain", "target_domain",
      "is_external")
    val overlapIds = storedRange.select("doc_id").distinct()
      .join(b.frame.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    val stG = storedRange.groupBy(factCols.map(col): _*)
      .agg(count(lit(1)).as("n_st"))
    val btG = b.frame.groupBy(factCols.map(col): _*)
      .agg(count(lit(1)).as("n_b"))
    val mismatched = stG.join(btG, factCols, "full_outer")
      .join(overlapIds, Seq("doc_id"), "left_semi")
      .filter(coalesce(col("n_st"), lit(-1L)) =!=
        coalesce(col("n_b"), lit(-1L)))
      .select("doc_id").distinct().count()
    require(mismatched == 0L,
      s"linkIngestBatch: $mismatched overlapping doc_ids carry " +
        "DIFFERENT link rows than the ingested ones — not a " +
        "redelivery; refusing loudly")
    b.frame.join(storedRange.select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
      .write.mode("append").insertInto(factsT)
  }

  private[graft] val IngestFamily = FencedAppend.Family(
    name = "linkIngestBatch", ledgerBase = LastEpochProp,
    fence = FencedAppend.Fence(None, Seq("doc_id" -> MaxDocProp),
      FencedAppend.Hi, Some("buildLinkFacts")),
    prepare = (s, db) =>
      require(s.catalog.tableExists(s"$db.$LinkFactsTable"),
        s"linkIngestBatch: no link facts in `$db` — buildLinkFacts first"),
    pinned = factsOf,
    stages = b => Seq(
      LinkFactsTable -> (() => appendFacts(b)),
      LinkOps.AuthorityTable ->
        (() => rebuildAuthorityFromFacts(b.s, b.db))))

  /** Fold one micro-batch of (doc_id, source) rows into the stored graph.
    * `failAfter` is a TEST-ONLY failpoint: crash after the fact append,
    * before the rebuild/fence.
    */
  def linkIngestBatch(s: SparkSession, srcTag: String, batch: DataFrame,
                      db: String, epochId: Long = -1L,
                      failAfter: Boolean = false): Unit =
    FencedAppend.append(s, IngestFamily, db, srcTag, batch, epochId,
      if (failAfter) Some(LinkFactsTable) else None)

  /** foreachBatch adapter — wires the streaming engine's epochId into the
    * replay ledger.
    */
  def linkIngestSink(srcTag: String, db: String): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      linkIngestBatch(batch.sparkSession, srcTag, batch, db, epochId)
}
