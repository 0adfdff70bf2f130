package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the near-dup CLUSTER state — the missing
  * half of [[IncrementalDedup]]: the band index gives per-doc verdicts
  * incrementally, but the transitive-closure canon labeling was
  * recomputed from scratch by every survivors call. This module persists
  * the (doc_id → canonical_id) labeling partitioned by a cluster-derived
  * key and, on a batch, runs connected components ONLY over the
  * CONTRACTED graph — batch docs plus the labels their matches touch —
  * then rewrites only the affected partitions.
  *
  * Contraction is exact: an old cluster's label is its member-minimum, so
  * every member id ≥ its label, and the min over a merged component of
  * {touched labels} ∪ {batch ids} equals the min over all underlying
  * documents. New corpus-corpus edges cannot appear in an append (bands
  * of ingested docs are immutable), so the contracted CC sees every edge
  * the fresh run would.
  *
  * Scale shape: the batch's bands shuffle (batch-sized); the index probe
  * reads corpus buckets in place ([[IncrementalDedup]]); the label lookup
  * scans the labels table ONCE behind a broadcast semi-join on the
  * matched ids (batch-scale — never a corpus shuffle); contracted CC
  * rounds are batch-fan-out-sized; the rewrite reads only the affected
  * `part` partitions (partition-pruned) and overwrites only them
  * (dynamic partition overwrite). Unaffected partitions stay
  * file-bit-identical — the spec asserts it.
  *
  * Caveats (the standing frozen-parameter contract of every incremental
  * family here): batches must not be replayed (no id-range idempotence
  * for cluster merges), and the hot-bucket cap is evaluated per
  * build/batch rather than over the union corpus — divergence from a
  * fresh run begins only past [[TextOps.MaxBucketSize]] docs in one
  * bucket and is re-anchored by the scheduled rebuild.
  */
object IncrementalClusters {

  val Db = "graft_inc_clusters"
  val LabelsTable = "cluster_labels"

  /** Id-range block size law for the labels table partitioning: `part =
    * canonical_id div block`. Range blocks, not a mod hash, because
    * ingest is APPEND-ONLY in doc_id (the CorpusPipeline contract): new
    * batches land in NEW top blocks and a merge only ever moves a
    * cluster's rows toward its corpus-min block, so the set of affected
    * partitions stays proportional to the batch's merge fan-out instead
    * of smearing across every residue class. The block size ADAPTS to the
    * build corpus's id range so the partition count stays bounded near
    * [[TargetParts]] (a fixed 32 at 25× the fixture id range produced
    * ~10k partition directories and an 8× scale ratio — directory
    * overhead, not operator work; caught by the r11 sweep) and is FROZEN
    * into a table property: appends must key partitions exactly like the
    * build or every partition-pruned read breaks. Batches appending past
    * the build range simply land in higher part values — block never
    * needs to change until the scheduled rebuild re-anchors it.
    */
  val PartBlockMin = 32L
  val TargetParts = 256L
  val PartBlockProp = "graft.clusters.part_block"
  val MaxDocIdProp = "graft.clusters.max_doc_id"
  private[graft] val Fence = graft.pipeline.FencedAppend.Fence(
    Some(LabelsTable), Seq("doc_id" -> MaxDocIdProp),
    graft.pipeline.FencedAppend.Lo, Some("buildClusterState"))

  private[graft] def adaptivePartBlock(maxId: Long): Long =
    math.max(PartBlockMin, maxId / TargetParts + 1)

  private def partOf(c: Column, block: Long): Column =
    (c / lit(block)).cast("long").cast("int")

  /** Target rows per labels-table output file (~16 B/row → ~128 MB files
    * at the default; env-overridable for deployments with different row
    * widths or file-size targets).
    */
  private[graft] def labelRowsPerFile: Long =
    sys.env.getOrElse("SPARK_GRAFT_LABEL_ROWS_PER_FILE", "8000000").toLong

  /** Size-aware clustering before the dynamic-partition write (r15,
    * guide §6 small files): an unclustered write fans out to
    * (tasks × touched dirs) files — at fixture scale the ~157-dir build
    * wrote thousands of ~32-row parquet files, and at 100 TB the same
    * shape is the classic small-file explosion. Repartitioning by
    * (part, doc_id div rowsPerFile-split) lands each partition dir's rows
    * in exactly ceil(rows/[[labelRowsPerFile]]) write tasks → that many
    * files: one file per dir at fixture scale, ~128 MB files at any
    * scale. The split count comes from a partition-dir-bounded count
    * aggregate (broadcast), never a corpus shuffle beyond the clustering
    * exchange itself — which replaces, not augments, the write's input
    * exchange cost.
    */
  private[graft] def clusterForWrite(df: DataFrame): DataFrame = {
    val target = labelRowsPerFile
    val splits = df.groupBy("part").agg(count(lit(1)).as("__n"))
      .select(col("part"),
        greatest(lit(1L), ceil(col("__n") / lit(target.toDouble)).cast("long"))
          .as("__nsplit"))
    // restore the caller's column ORDER: the using-column join fronts
    // `part`, and the append path's insertInto is positional
    df.join(broadcast(splits), Seq("part"))
      .repartition(col("part"), pmod(col("doc_id"), col("__nsplit")))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** The FROZEN block size of the stored labels table. Absence is a hard
    * error, not a default: writing parts under a guessed block into a
    * table laid out under another corrupts every pruned read (the
    * [[IncrementalDedup.currentIndexBuckets]] reasoning).
    */
  private[graft] def currentPartBlock(s: SparkSession, db: String): Long =
    graft.store.Warehouse.tableProps(s, db, LabelsTable)
      .get(PartBlockProp).map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"labels table $db.$LabelsTable carries no $PartBlockProp " +
          "property — not a table buildClusterState laid out; rebuild " +
          "before appending"))

  /** Append-only fixture split for the registry gate: the first two
    * thirds of the id range are the ingested corpus, the top third is
    * today's batch — the posture the partition-scoped rewrite is built
    * for (unlike [[IncrementalDedup]]'s interleaved mod-3 split, which
    * would scatter new rows into every block).
    */
  private[graft] def corpusDocsRange(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.t(s, d, "documents")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    docs.filter(col("doc_id") * 3 < lit(maxId) * 2)
  }

  private[graft] def batchDocsRange(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.t(s, d, "documents")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    docs.filter(col("doc_id") * 3 >= lit(maxId) * 2)
  }

  private def fqn(db: String) = s"`$db`.`$LabelsTable`"

  /** Candidate pairs within one band frame — the
    * [[TextOps.minhashCandidatePairs]] tail (hot-bucket cap, band
    * self-join, canonical a<b distinct) over caller-supplied bands.
    */
  private def pairsOfBands(bands: DataFrame): DataFrame = {
    val hot = bands.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n")).filter(col("n") > TextOps.MaxBucketSize)
      .select("band_idx", "band_hash")
    val pruned = bands.join(broadcast(hot),
      Seq("band_idx", "band_hash"), "left_anti")
    val a = pruned.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("src"))
    val b = pruned.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("dst"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
  }

  /** Full build: CC over the corpus' minhash pairs → labels table
    * partitioned by `part = canonical_id div PartBlock`. The scheduled
    * re-anchor for the append path's frozen parameters.
    */
  def buildClusterState(s: SparkSession, corpus: DataFrame,
                        db: String = Db): Unit = {
    // Writer exclusion (round-12 verdict #5): a rebuild racing a live
    // streaming append (sinkIncrementalClusters → appendBatchClusters,
    // which takes this same db lease) must serialize — the loser refuses
    // with LeaseHeldException, never interleaves into a mixed labeling.
    graft.store.Warehouse.ensureDatabase(s, db) // lease props live on the db
    graft.pipeline.FencedAppend.withLease(s, db)(_ =>
      buildClusterStateBody(s, corpus, db))
  }

  private def buildClusterStateBody(s: SparkSession, corpus: DataFrame,
                                    db: String): Unit = {
    val bounds = corpus.agg(max("doc_id")).head
    val block =
      if (bounds.isNullAt(0)) PartBlockMin
      else adaptivePartBlock(bounds.getLong(0))
    // pinned under a shared tag: the registry gate (and any build-then-
    // probe caller) passes the SAME corpus band frame as the append
    // probe's corpusBands — PlanCache's sameResult check hands both the
    // one persisted copy, so the minhash signature pass over the corpus
    // runs once per gate instead of twice (r14)
    val pairs = pairsOfBands(PlanCache.swap("cluster_corpus_bands",
      TextOps.bandsOfDocs(corpus)))
    GraphOps.drain(GraphOps.connectedComponents(pairs,
      corpus.select(col("doc_id").as("id")))) { labels =>
      graft.store.Warehouse.saveModel(
        clusterForWrite(labels.select(col("id").as("doc_id"),
          col("cluster_id").as("canonical_id"),
          partOf(col("cluster_id"), block).as("part"))),
        db, LabelsTable, partitionCols = Seq("part"))
    }
    s.sql(s"ALTER TABLE ${fqn(db)} SET TBLPROPERTIES " +
      s"('$PartBlockProp'='$block', '$MaxDocIdProp'='${
        if (bounds.isNullAt(0)) -1L else bounds.getLong(0)}')")
  }

  /** Fold one batch into the persisted labeling. `corpusBands` is the
    * band source the batch probes — in production the persisted
    * [[IncrementalDedup]] index table (bucket-pruned in-place reads);
    * any band frame with (doc_id, band_idx, band_hash) works.
    */
  def appendBatchClusters(s: SparkSession, batch: DataFrame,
                          corpusBands: DataFrame, db: String = Db,
                          midHook: () => Unit = () => ()): Unit = {
    // Writer exclusion (round-12 verdict #5): two concurrent appends could
    // both pass the id fence below before either advances it (read-then-
    // write), double-appending rows; under the db lease exactly one
    // writer proceeds. `midHook` runs while the lease is held — the test
    // seam for driving a second live session inside the window.
    graft.pipeline.FencedAppend.withLease(s, db) { _ =>
      midHook()
      appendBatchClustersBody(s, batch, corpusBands, db)
    }
  }

  private def appendBatchClustersBody(s: SparkSession, batch: DataFrame,
                                      corpusBands: DataFrame,
                                      db: String): Unit = {
    val block = currentPartBlock(s, db)
    val labels = s.table(fqn(db))
    // the fence is loud here because a violation is not just out-of-order
    // data: a batch id EQUAL to an existing label would collide with it as
    // a contracted-CC vertex and silently fuse two unrelated clusters
    val bounds = Fence.check("appendBatchClusters", s, db, batch)
    if (bounds.isEmpty) return // empty batch: nothing to fold
    val batchBands = IncrementalDedup.pruneHot(TextOps.bandsOfDocs(batch))
      .localCheckpoint()
    // batch↔corpus candidate pairs (index probe) + batch-internal pairs
    val probe = batchBands
      .join(corpusBands.withColumnRenamed("doc_id", "corpus_id"),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("b"), col("corpus_id").as("c")).distinct()
      .localCheckpoint()
    val batchPairs = pairsOfBands(batchBands)
    // contracted endpoints: corpus ids → their current canon labels via a
    // broadcast semi-join (matched ids are batch-scale; the labels table
    // is scanned once, never shuffled)
    val matchedIds = probe.select(col("c").as("doc_id")).distinct()
    val matchedLabels = labels
      .join(broadcast(matchedIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("c"), col("canonical_id").as("c_label"))
    val contractedEdges = probe.join(matchedLabels, Seq("c"))
      .select(col("b").as("src"), col("c_label").as("dst"))
      .union(batchPairs)
    val vertices = batch.select(col("doc_id").as("id"))
      .union(contractedEdges.select(col("dst").as("id")))
      .distinct()
    GraphOps.drain(
        GraphOps.connectedComponents(contractedEdges, vertices)) { cc =>
      val resolved = cc.localCheckpoint()
      val batchRows = resolved
        .join(batch.select(col("doc_id").as("id")), Seq("id"), "left_semi")
        .select(col("id").as("doc_id"), col("cluster_id").as("canonical_id"))
      // old labels whose canon CHANGED (a merge pulled the min down);
      // bounded by the batch's match fan-out → broadcastable
      val relabel = resolved
        .filter(col("cluster_id") =!= col("id"))
        .join(batch.select(col("doc_id").as("id")), Seq("id"), "left_anti")
        .select(col("id").as("old_label"), col("cluster_id").as("new_canon"))
        .localCheckpoint()
      val srcParts = relabel.select(partOf(col("old_label"), block).as("part"))
      val dstParts = relabel.select(partOf(col("new_canon"), block).as("part"))
        .union(batchRows.select(partOf(col("canonical_id"), block).as("part")))
      val affected = srcParts.union(dstParts).distinct()
        .collect().map(_.getInt(0)).sorted // bounded by the block law
      if (affected.nonEmpty) {
      // content of the affected partitions after the merge: untouched
      // rows stay, touched rows get the new canon (and may change part),
      // batch rows land fresh — reads are partition-pruned to `affected`
      val existingAff = labels.filter(col("part").isin(affected.map(Integer.valueOf): _*))
      val kept = existingAff
        .join(broadcast(relabel),
          existingAff("canonical_id") === relabel("old_label"), "left_anti")
        .select("doc_id", "canonical_id")
      val moved = existingAff
        .join(broadcast(relabel),
          existingAff("canonical_id") === relabel("old_label"))
        .select(col("doc_id"), col("new_canon").as("canonical_id"))
      val written = kept.union(moved).union(batchRows)
        .withColumn("part", partOf(col("canonical_id"), block))
        .localCheckpoint()
      // session-conf scoped, not a writer option: the option form is not
      // reliably honored by insertInto, and a STATIC overwrite here would
      // silently truncate every partition absent from `written`
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try clusterForWrite(written).write.mode("overwrite").insertInto(fqn(db))
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      // a partition whose every cluster moved away receives no rows from
      // the dynamic overwrite — drop it explicitly or its stale rows
      // would duplicate the moved copies
      val writtenParts = written.select("part").distinct()
        .collect().map(_.getInt(0)).toSet
      affected.filterNot(writtenParts).foreach { p =>
        s.sql(s"ALTER TABLE ${fqn(db)} DROP IF EXISTS PARTITION (part=$p)")
      }
      s.catalog.refreshTable(fqn(db))
      }
      Fence.advance(s, db, bounds.get.hi)
    }
  }

  /** Scheduled full rebuild — re-anchors the append path's frozen
    * parameters (partition block law, hot-bucket cap evaluated over the
    * grown corpus, any mid-append crash state) on the cron cadence; the
    * re-anchor every incremental caveat in this file points at.
    */
  def clusterRebuildEntry(id: String, cronExpr: String,
                          corpus: org.apache.spark.sql.SparkSession => DataFrame,
                          db: String = Db)
      : graft.pipeline.ScheduleRunner.Entry =
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => buildClusterState(s, corpus(s), db),
      name = "cluster_state_rebuild", target = s"$db.$LabelsTable",
      tags = Map("pipeline" -> "incremental-dedup"))

  /** Serve the persisted labeling in the [[TextOps.dedupSurvivors]]
    * shape.
    */
  def clusterState(s: SparkSession, db: String = Db): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db) // cross-session append visibility
    s.table(fqn(db))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("int").as("survives"))
      .orderBy("doc_id")
  }

  /** The registry gate: build the labeling on the "already ingested"
    * corpus split, fold in the batch split incrementally, and serve the
    * appended state. The oracle replays the transitive closure over the
    * FRESH full-corpus pair set (materialized here), so the gate passes
    * exactly when the incrementally-maintained state is bit-equal to a
    * from-scratch [[TextOps.dedupSurvivors]] run — the maintenance
    * invariant itself.
    */
  def dedupClustersIncremental(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusDocsRange(s, d)
    val batch = batchDocsRange(s, d)
    buildClusterState(s, corpus)
    // same plan + same tag as the build's pin → the persisted band frame
    // is reused, not recomputed (see buildClusterStateBody)
    appendBatchClusters(s, batch,
      PlanCache.swap("cluster_corpus_bands", TextOps.bandsOfDocs(corpus)))
    // materialize the fresh-run pair set for the oracle's closure replay
    graft.OracleInputs.checkpoint(
      TextOps.minhashCandidatePairs(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      d, "inc_cluster_pairs")
    clusterState(s)
  }
}
