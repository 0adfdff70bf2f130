package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): from each doc's k-gram hash
  * sequence, every window of [[W]] consecutive grams selects its minimum
  * hash (rightmost occurrence on ties); the distinct selections are the
  * doc's fingerprints.
  *
  * The guarantee this buys over "every i-th hash" sampling: any shared
  * token run of at least W + K − 1 tokens contains a FULL gram window in
  * both documents with identical content, selection depends only on
  * window content (hashes + relative positions), so both docs select the
  * same gram — at least one fingerprint hash is always shared. Density is
  * bounded by 2/(W+1) selections per position. Both halves are
  * spec-tested.
  *
  * Hashes are the first 16 hex chars of MD5 over the space-joined gram —
  * a fixed-length lowercase hex string whose lexicographic order IS the
  * unsigned numeric order, identical in Spark and DuckDB, so the oracle
  * replays selection cell-for-cell. The rightmost-tie rule rides inside
  * ONE window pass: `min(struct(h, -pos))` — lexicographic struct
  * ordering gives min hash then max position, no self-join over window
  * members.
  *
  * Scale shape: gram hashing is per-row; ONE doc-keyed exchange carries
  * both window passes; the copy-candidate join is fingerprint-keyed with
  * a hot-hash cap (boilerplate grams selected by > [[MaxDocsPerPrint]]
  * docs are pruned by anti-join, the minhash hot-bucket posture) — never
  * all-pairs.
  */
object WinnowOps {

  /** Gram width (tokens) — the minhash/jaccard unit. */
  val K = 3

  /** Winnowing window (grams). Detection guarantee: runs ≥ W + K − 1. */
  val W = 4

  /** Fingerprints selected by more docs than this are boilerplate — the
    * copy-candidate join prunes them (exactness on RARE prints is what
    * copy detection needs; ubiquitous grams carry no evidence).
    */
  val MaxDocsPerPrint = 16

  /** Minimum shared fingerprints for a reportable candidate pair. */
  val MinShared = 2

  /** (doc_id, pos, h): 1-based gram position and its hex hash. */
  private[graft] def gramHashes(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", split(trim(col("text")), "\\s+"))
      .where(size(col("tokens")) >= K)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(tokens) - ${K - 1}), i -> " +
          s"substring(md5(concat_ws(' ', slice(tokens, i, $K))), 1, 16))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))

  /** Distinct winnowing selections (doc_id, pos, h). */
  def fingerprints(docs: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    val fwd = byDoc.orderBy("pos").rowsBetween(Window.currentRow, W - 1)
    gramHashes(docs)
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("m",
        min(struct(col("h"), (-col("pos")).as("np"))).over(fwd))
      .where(col("pos") <= col("n") - W + 1) // full windows only
      .select(col("doc_id"), (-col("m.np")).as("pos"), col("m.h").as("h"))
      .distinct()
  }

  /** Gate `q_winnow_fingerprint`. */
  def winnowFingerprint(s: SparkSession, d: String): DataFrame =
    fingerprints(graft.Tables.t(s, d, "documents"))
      .orderBy("doc_id", "pos")

  /** Doc pairs sharing ≥ [[MinShared]] rare fingerprints, with the count
    * — the copy-detection candidate set.
    */
  def copyCandidates(docs: DataFrame): DataFrame = {
    // the fingerprint frame feeds three branches (hot census + both join
    // sides) — persist once instead of re-winnowing per branch
    val dh = PlanCache.swap("winnow_prints",
      fingerprints(docs).select("doc_id", "h").distinct())
    val hot = dh.groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd") > MaxDocsPerPrint).select("h")
    val pruned = dh.join(broadcast(hot), Seq("h"), "left_anti")
    pruned.as("a").join(pruned.as("b"), Seq("h"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinShared)
  }

  /** Gate `q_copy_candidates`. */
  def copyCandidatesQuery(s: SparkSession, d: String): DataFrame =
    copyCandidates(graft.Tables.t(s, d, "documents"))
      .orderBy("doc_a", "doc_b")

  // ------------------------------------------------- incremental index

  /** Stored fingerprint index: (doc_id, h) partitioned by a frozen hash
    * bucket of h, so a batch probe reads ONLY its prints' buckets
    * (partition-pruned — the band-index/BM25 posture). Hot-print
    * exactness is free: a print's docs all land in ITS bucket, so the
    * census over probed buckets ∪ batch sees every holder — the
    * incremental hot cap equals the fresh run's global one, and the gate
    * oracle (a fresh full-corpus run restricted to batch-involving
    * pairs) proves bit-equality rather than approximating it.
    */
  val IndexDb = "graft_winnow"
  val IndexTable = "print_index"
  val NBuckets = 32
  val BucketsProp = "graft.winnow.n_buckets"
  val MaxDocProp = "graft.winnow.max_doc_id"
  private[graft] val Fence = graft.pipeline.FencedAppend.Fence(
    Some(IndexTable), Seq("doc_id" -> MaxDocProp),
    graft.pipeline.FencedAppend.Hi, Some("buildPrintIndex"))

  private def fqn(db: String) = s"`$db`.`$IndexTable`"

  private def withBucket(df: DataFrame, nb: Long): DataFrame =
    df.withColumn("bucket", pmod(xxhash64(col("h")), lit(nb)).cast("int"))

  private def distinctPrints(docs: DataFrame): DataFrame =
    fingerprints(docs).select("doc_id", "h").distinct()

  /** Full build — the scheduled re-anchor. */
  def buildPrintIndex(docs: DataFrame, db: String = IndexDb): Unit = {
    val s = docs.sparkSession
    val prints = withBucket(distinctPrints(docs), NBuckets)
    graft.store.Warehouse.saveModel(prints, db, IndexTable,
      partitionCols = Seq("bucket"))
    val mx = docs.agg(max("doc_id")).head
    s.sql(s"ALTER TABLE ${fqn(db)} SET TBLPROPERTIES " +
      s"('$BucketsProp'='$NBuckets', '$MaxDocProp'='${
        if (mx.isNullAt(0)) -1L else mx.getLong(0)}')")
  }

  private def frozenBuckets(s: SparkSession, db: String): Long =
    graft.store.Warehouse.readTablePropLong(s, db, IndexTable, BucketsProp,
      "rebuild with buildPrintIndex — probing under a guessed bucket " +
        "modulus reads the wrong partitions")

  /** Copy candidates of a batch against the stored index plus the batch
    * itself: the [[copyCandidates]] semantics restricted to pairs with at
    * least one batch member, scanning only the batch prints' buckets.
    */
  def probeCopyCandidates(s: SparkSession, batch: DataFrame,
                          db: String = IndexDb): DataFrame = {
    val nb = frozenBuckets(s, db)
    val bp = withBucket(distinctPrints(batch), nb).localCheckpoint()
    val buckets = bp.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val probed = s.table(fqn(db))
      .where(col("bucket").isin(buckets: _*))
      .select("doc_id", "h")
    // global hot census: every holder of a probed h lives in its bucket
    val union = probed.unionByName(bp.select("doc_id", "h"))
    val hot = union.groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd") > MaxDocsPerPrint).select("h")
    val prunedAll = union.join(broadcast(hot), Seq("h"), "left_anti")
    val prunedBatch = bp.select("doc_id", "h")
      .join(broadcast(hot), Seq("h"), "left_anti")
    prunedBatch.as("x")
      .join(prunedAll.as("y"), Seq("h"))
      .where(col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"), col("h"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct("h").as("n_shared"))
      .where(col("n_shared") >= MinShared)
  }

  /** Row-idempotent append behind the stats-pruned anti-join (the BM25
    * freshDocs posture): a crashed append's redelivery lands exactly the
    * missing rows.
    */
  def appendToPrintIndex(s: SparkSession, batch: DataFrame,
                         db: String = IndexDb): Unit = {
    val nb = frozenBuckets(s, db)
    val bounds = Fence.check("appendToPrintIndex", s, db, batch)
    if (bounds.isEmpty) return
    val (lo, hi) = (bounds.get.lo.head, bounds.get.hi.head)
    val existing = s.table(fqn(db))
      .where(col("doc_id").between(lo, hi))
      .select("doc_id").distinct()
    val fresh = withBucket(distinctPrints(batch), nb)
      .join(existing, Seq("doc_id"), "left_anti")
      .select("doc_id", "h", "bucket") // table column order
    fresh.write.mode("append").insertInto(fqn(db))
    Fence.advance(s, db, Seq(hi))
  }

  /** Gate `q_copy_incremental`: index the ingested corpus split, probe
    * the batch split. The oracle replays the FRESH full-corpus
    * copy-candidate run restricted to batch-involving pairs — green
    * proves the pruned probe (and its bucket-local hot census) is
    * bit-equal to from-scratch.
    */
  def copyIncremental(s: SparkSession, d: String): DataFrame = {
    buildPrintIndex(IncrementalClusters.corpusDocsRange(s, d))
    probeCopyCandidates(s, IncrementalClusters.batchDocsRange(s, d))
      .orderBy("doc_a", "doc_b")
  }
}
