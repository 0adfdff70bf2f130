package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once ADDITIVE model growth — the LSM answer to the standing
  * caveat on every count-model append ("the caller must not replay a
  * batch — counts double"): instead of additively rewriting the stored
  * count table (not idempotent under redelivery), each micro-batch lands
  * its counts in its OWN generation-scoped delta table named by
  * (source, epoch) — an OVERWRITE, so a redelivered batch rewrites
  * identical content and the fold is exact in every crash window with no
  * ledger needed (the ledger that is kept merely short-circuits). Serving
  * reads the merged view: base ∪ current combined ∪ uncovered plains,
  * summed by key.
  *
  * Compaction (the read-amplification bound) is crash-exact by
  * construction: write the NEW combined delta (content = old combined ∪
  * the plains present at start; overwrite-idempotent), stamp WHICH tables
  * it covers on the combined itself, THEN switch the `done` pointer (one
  * catalog write), then drop the covered tables (retry-safe — covered
  * tables are excluded from serving whether or not the drop landed).
  * Every window re-examined: before the pointer switch the old rule
  * serves (new combined invisible); after it the new rule serves
  * (constituents excluded even if still on disk); a plain delta written
  * DURING compaction is not in the covers list and stays included.
  * Orphan combineds from a crash before the switch are dropped by the
  * next compaction.
  *
  * Generations scope deltas to a base build: the full refresh rebuilds
  * the base from the whole corpus and bumps the generation, implicitly
  * invalidating all older-generation deltas (dropped opportunistically).
  * The rebuild-then-bump pair is two catalog writes — the same documented
  * non-atomic-but-recoverable class as the warehouse's partition swap.
  */
object DeltaModelIngest {

  /** A count model: its database, base table, grouping keys and summed
    * count columns. An EMPTY `sumCols` means the table is a SET (e.g. a
    * vocabulary): merging is union-distinct over the keys.
    */
  final case class Family(db: String, base: String, keyCols: Seq[String],
                          sumCols: Seq[String])

  private def mergeParts(parts: Seq[DataFrame], fam: Family): DataFrame =
    if (parts.size == 1) parts.head
    else if (fam.sumCols.isEmpty)
      parts.reduce(_ unionByName _).distinct()
    else parts.reduce(_ unionByName _)
      .groupBy(fam.keyCols.map(col): _*)
      .agg(sum(fam.sumCols.head).as(fam.sumCols.head),
        fam.sumCols.tail.map(c => sum(c).as(c)): _*)

  /** The ledger digest cut to 12 chars: it also names PHYSICAL delta
    * tables, so widening it would orphan every stored delta.
    */
  private def digest(x: String): String = FencedAppend.digest(x).take(12)

  private[graft] val GenProp = "graft.delta.generation"
  private[graft] val CoversProp = "graft.delta.covers"

  private def donePropOf(fam: Family, gen: Long): String =
    s"graft.delta.done.${fam.base}.g$gen"
  private def ledgerPropOf(fam: Family, srcTag: String): String =
    s"graft.delta.epoch.${fam.base}.${digest(srcTag)}"

  private[graft] def generation(s: SparkSession, fam: Family): Long =
    graft.store.Warehouse.tableProps(s, fam.db, fam.base).get(GenProp)
      .fold(0L)(_.toLong)

  private def prefix(fam: Family, gen: Long): String =
    s"${fam.base}_dl_g${gen}_"

  private def listDelta(s: SparkSession, fam: Family,
                        gen: Long): Seq[String] =
    s.catalog.listTables(fam.db).collect().filter(!_.isTemporary)
      .map(_.name).filter(_.startsWith(prefix(fam, gen))).toSeq

  private def coversOf(s: SparkSession, fam: Family,
                       combined: String): Set[String] =
    graft.store.Warehouse.tableProps(s, fam.db, combined).get(CoversProp)
      .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)

  /** The serving state: (current done combined if any, included plain
    * deltas) for the base's current generation.
    */
  private def serveState(s: SparkSession,
                         fam: Family): (Option[String], Seq[String]) = {
    val gen = generation(s, fam)
    val done = CorpusPipeline.dbProps(s, fam.db)
      .get(donePropOf(fam, gen)).filter(_.nonEmpty)
      .filter(n => s.catalog.tableExists(s"${fam.db}.$n"))
    val covered = done.map(coversOf(s, fam, _)).getOrElse(Set.empty)
    val plains = listDelta(s, fam, gen)
      .filter(_.startsWith(prefix(fam, gen) + "p_"))
      .filterNot(covered)
    (done, plains)
  }

  /** Merged count view: base ∪ done-combined ∪ uncovered plains, summed
    * by key. Returns the bare base frame when no deltas exist (static
    * serve plans unchanged).
    */
  def effectiveCounts(s: SparkSession, fam: Family): DataFrame = {
    graft.store.Warehouse.refreshDb(s, fam.db)
    val (done, plains) = serveState(s, fam)
    val parts = (Seq(fam.base) ++ done.toSeq ++ plains)
      .map(n => s.table(s"`${fam.db}`.`$n`")
        .select((fam.keyCols ++ fam.sumCols).map(col): _*))
    mergeParts(parts, fam)
  }

  /** Whether any delta tables exist for the current generation (serving
    * uses this to keep the static plan when the model is delta-free).
    */
  def hasDeltas(s: SparkSession, fam: Family): Boolean = {
    val (done, plains) = serveState(s, fam)
    done.nonEmpty || plains.nonEmpty
  }

  /** Fold one micro-batch's PRE-AGGREGATED counts in, exactly once: the
    * delta table name is a pure function of (source, epoch), the write is
    * an overwrite, so any redelivery lands identical bytes — no crash
    * window can double a count. `failBeforeLedger` is the test failpoint.
    *
    * `srcTag` identifies the (stream, checkpoint) LINEAGE, not just the
    * stream: Spark resets epochIds to 0 under a fresh checkpoint, and the
    * ledger would swallow the restarted stream's batches as replays — a
    * new checkpoint must therefore use a new srcTag (the standing
    * contract of every epoch-ledgered sink here: VectorIngest, CdcIngest,
    * Bm25Ingest carry the same identity rule).
    */
  def append(s: SparkSession, fam: Family, srcTag: String, epochId: Long,
             counts: DataFrame, failBeforeLedger: Boolean = false,
             midAppendHook: () => Unit = () => ()): Unit = {
    require(epochId >= 0, "deltaAppend needs a non-negative epoch id")
    val ledger = ledgerPropOf(fam, srcTag)
    if (FencedAppend.replayed(s, fam.db, ledger, epochId))
      return // committed-epoch replay: the delta already landed
    val gen = generation(s, fam)
    val name = s"${prefix(fam, gen)}p_${digest(srcTag)}_e$epochId"
    graft.store.Warehouse.saveModel(
      counts.select((fam.keyCols ++ fam.sumCols).map(col): _*),
      fam.db, name)
    midAppendHook() // test seam: a concurrent rebuild lands right here
    // generation fence: a FULL REBUILD racing this append would leave the
    // delta stranded under the old generation — invisible to serving, the
    // batch silently LOST. Re-check after the write and refuse loudly.
    // The caller decides the retry: if the rebuild's corpus did not yet
    // carry this batch (the usual streaming case), retrying lands the
    // delta under the new generation exactly; if it did, the batch is
    // already inside the new base and the retry must be SKIPPED — either
    // way the refusal makes the race visible instead of losing data.
    val genNow = generation(s, fam)
    if (genNow != gen) {
      s.sql(s"DROP TABLE IF EXISTS `${fam.db}`.`$name`")
      throw new IllegalStateException(
        s"deltaAppend: generation moved $gen -> $genNow during the append " +
          "(a concurrent rebuild) — delta dropped; retry iff the rebuild's " +
          "corpus did not already carry this batch")
    }
    if (failBeforeLedger)
      throw new RuntimeException("test failpoint before ledger commit")
    FencedAppend.commitEpoch(s, fam.db, ledger, epochId)
  }

  /** Capture the pre-rebuild generation (call BEFORE overwriting the
    * base; -1 when no base exists yet).
    */
  def prepareRebuild(s: SparkSession, fam: Family): Long =
    if (s.catalog.tableExists(s"${fam.db}.${fam.base}"))
      generation(s, fam)
    else -1L

  /** After a full base rebuild: bump the generation (older-generation
    * deltas become invisible — the fresh base subsumes their documents)
    * and drop them opportunistically. The rebuild-then-bump pair is the
    * documented non-atomic-but-recoverable window.
    */
  def finishRebuild(s: SparkSession, fam: Family, prevGen: Long): Unit =
    if (prevGen >= 0) {
      s.sql(s"ALTER TABLE `${fam.db}`.`${fam.base}` SET TBLPROPERTIES " +
        s"('$GenProp' = '${prevGen + 1}')")
      s.catalog.listTables(fam.db).collect().filter(!_.isTemporary)
        .map(_.name)
        .filter(n => (0L to prevGen)
          .exists(g => n.startsWith(prefix(fam, g))))
        .foreach(n => s.sql(s"DROP TABLE IF EXISTS `${fam.db}`.`$n`"))
    }

  /** Scheduled compaction posture — bounds the merged view's read
    * amplification on the cron cadence (the refresh-entry pattern every
    * stored-model family carries).
    */
  def compactionEntry(id: String, cronExpr: String, fam: Family)
      : ScheduleRunner.Entry =
    ScheduleRunner.Entry(id, CronSchedule.parse(cronExpr),
      (s, _) => compact(s, fam),
      name = "delta_compaction", target = s"${fam.db}.${fam.base}",
      tags = Map("pipeline" -> "delta-model"))

  /** Merge the current combined + plains into ONE new combined (see the
    * crash-window walkthrough in the object scaladoc). `failBeforeSwitch`
    * is the test failpoint: combined written and stamped, pointer not
    * yet moved.
    */
  def compact(s: SparkSession, fam: Family,
              failBeforeSwitch: Boolean = false): Unit =
    FencedAppend.withLease(s, fam.db) { lease =>
      graft.store.Warehouse.refreshDb(s, fam.db)
      val gen = generation(s, fam)
      val (done, plains) = serveState(s, fam)
      val constituents = done.toSeq ++ plains
      if (constituents.size > 1) { // else nothing to fold
        val existing = listDelta(s, fam, gen)
          .filter(_.startsWith(prefix(fam, gen) + "c"))
        val n = existing
          .map(_.stripPrefix(prefix(fam, gen) + "c").toLong)
          .foldLeft(0L)(math.max) + 1
        val name = s"${prefix(fam, gen)}c$n"
        val merged = mergeParts(constituents
          .map(t => s.table(s"`${fam.db}`.`$t`")
            .select((fam.keyCols ++ fam.sumCols).map(col): _*)), fam)
        graft.store.Warehouse.saveModel(merged, fam.db, name)
        s.sql(s"ALTER TABLE `${fam.db}`.`$name` SET TBLPROPERTIES " +
          s"('$CoversProp' = '${constituents.mkString(",")}')")
        if (failBeforeSwitch)
          throw new RuntimeException("test failpoint before done switch")
        CorpusPipeline.renewLease(s, fam.db, lease)
        CorpusPipeline.setDbProp(s, fam.db, donePropOf(fam, gen), name)
        // retry-safe cleanup: covered constituents + orphan combineds from
        // earlier crashes (any combined that is not the new pointer)
        for (t <- constituents ++ existing.filterNot(_ == name))
          s.sql(s"DROP TABLE IF EXISTS `${fam.db}`.`$t`")
      }
    }
}
