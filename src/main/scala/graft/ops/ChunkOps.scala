package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Content-defined chunking (CDC) dedup signal — the byte-level dedup
  * granularity between exact-document hashing and token-gram substring
  * mining: documents split at positions where a rolling window hash hits a
  * fixed residue, so INSERTIONS SHIFT BOUNDARIES ONLY LOCALLY and a shared
  * run of text yields identical chunks in every document carrying it (the
  * rsync/LBFS/FastCDC idea). Chunk hashes then dedup corpus-wide exactly
  * like document hashes.
  *
  * The rule is the PURE content-defined form: cut after position i when
  *
  *   hash(c_{i-W+1..i}) mod D == R,   hash = fold (a·B + c) mod M
  *
  * (W=[[Window]], B=31, M=1e9+7 — the q_doc_fingerprint polynomial both
  * engines already replay; D=[[Divisor]] targets ~D-char average chunks).
  * Production CDC adds min/max chunk clamps, which make the cut sequence
  * STATEFUL (each cut depends on the previous one) — deliberately omitted
  * here so the rule stays a per-position predicate both engines evaluate
  * independently; the clamp layer belongs to the packer pass that already
  * owns stateful sequence walks. Every boundary set includes 0 and |text|,
  * so short documents are one chunk and empty documents are zero chunks.
  *
  * Scale shape: the window hash is a per-row O(n·W) codegen expression
  * (no shuffle); chunk explode carries one (doc, chunk-hash)-distinct
  * stream into ONE hash-keyed shuffle for the ≥2-docs duplicate set
  * (map-side combined, the exact-dedup shape); the per-doc flag agg keys
  * doc_id. Nothing all-pairs, nothing positional-self-joined.
  */
object ChunkOps {

  val Window = 8
  val Divisor = 16L
  val Residue = 7L
  private val B = 31L
  private val M = 1000000007L

  /** (doc_id, chunk, chunk_pos) — the raw CDC split of a documents frame,
    * via the native `cdc_chunks` expression
    * ([[graft.functions.CdcChunks]]): one flat code-point loop per row
    * inside whole-stage codegen. The higher-order-function formulation it
    * replaces ([[chunksOfHof]], kept as the law-test reference) evaluated
    * an interpreted `aggregate(slice(...))` lambda chain per window
    * position — the same O(n·W) arithmetic at interpreted-lambda prices
    * was the single 4.5 s job inside `q_cdc_rewrite_incremental`
    * (r14 optimization; equivalence law-tested in ChunkOpsSpec).
    */
  private[graft] def chunksOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("ck", expr("cdc_chunks(text)"))
      .select(col("doc_id"), explode(col("ck")).as("c"))
      .select(col("doc_id"), col("c.chunk_pos").as("chunk_pos"),
        col("c.chunk").as("chunk"))
  }

  /** The pre-r14 higher-order-function formulation — retained ONLY as the
    * independent reference implementation the law test compares
    * [[chunksOf]] against (two formulations, one from SQL primitives both
    * engines replay, one native — agreement is the evidence the native
    * loop implements the documented rule).
    *
    * Expression-shape notes, all load-bearing:
    *  - the per-char code array and the boundary array are LET-BOUND as
    *    single-element `transform` lambda variables instead of
    *    `withColumn` projections: CollapseProject inlines a projected
    *    column into EVERY reference, and higher-order functions evaluate
    *    interpreted with no common-subexpression elimination — the
    *    projected form re-ran `split(text, '')` once per window position
    *    (minutes over 500 docs, single-task); the lambda binding
    *    evaluates each intermediate exactly once per row;
    *  - codes come from one `split`, never `substring(text, j, 1)` per
    *    position (UTF8String indexing re-scans from the start — O(n²));
    *  - the `size >= Window` guard also keeps `sequence` ascending (a
    *    start above its stop DESCENDS, not empties);
    *    `array_remove(array(-1), -1)` is the typed empty-array literal;
    *  - the trailing filter drops the single empty candidate chunk an
    *    empty text produces (real boundaries are strictly increasing, so
    *    no real chunk is empty).
    */
  private[graft] def chunksOfHof(docs: DataFrame): DataFrame = {
    val codesExpr =
      "transform(filter(split(text, ''), ch -> ch != ''), " +
        "ch -> bigint(ascii(ch)))"
    val bndsOfCodes =
      s"""array_distinct(concat(array(0),
         |  case when size(codes) >= $Window then
         |    filter(sequence($Window, size(codes)),
         |      i -> aggregate(slice(codes, i - ${Window - 1}, $Window),
         |        0L, (a, cc) -> (a * $B + cc) % $M) % $Divisor = $Residue)
         |  else array_remove(array(-1), -1) end,
         |  array(size(codes))))""".stripMargin
    val ckOfBnds =
      """filter(
        |  transform(sequence(1, greatest(size(bnds) - 1, 1)),
        |    k -> named_struct(
        |      'chunk_pos', element_at(bnds, k),
        |      'chunk', substring(text, element_at(bnds, k) + 1,
        |        coalesce(element_at(bnds, least(k + 1, size(bnds))), 0)
        |          - element_at(bnds, k)))),
        |  c -> length(c.chunk) > 0)""".stripMargin
    docs
      .withColumn("ck", expr(
        s"""element_at(transform(array(
           |  element_at(transform(array($codesExpr),
           |    codes -> $bndsOfCodes), 1)),
           |  bnds -> $ckOfBnds), 1)""".stripMargin))
      .select(col("doc_id"), explode(col("ck")).as("c"))
      .select(col("doc_id"), col("c.chunk_pos").as("chunk_pos"),
        col("c.chunk").as("chunk"))
  }

  /** Registry gate: per-document chunk counts and corpus-duplicated chunk
    * counts (a chunk is duplicated when its md5 appears in ≥ 2 documents,
    * per-doc DISTINCT — the exact-dedup convention at chunk granularity).
    */
  def cdcChunkStats(s: SparkSession, d: String): DataFrame = {
    // the window-hash split is the expensive expression and THREE branches
    // consume it (chunk counts, the dup set, the per-doc dup counts) — pin
    // it once so no branch recomputes the O(n·W) fold (the image-near-dup
    // survivor-frame pattern)
    val chunks = PlanCache.swap("cdc-chunks",
      chunksOf(t(s, d, "documents"))
        .withColumn("h", md5(col("chunk").cast("binary"))))
    val perDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"))
    val docHashes = chunks.select("doc_id", "h").distinct()
    val dup = docHashes.groupBy("h")
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
      .select("h")
    val dupPerDoc = docHashes.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
    t(s, d, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  /** Excised-chunk marker — U+241F (symbol-for-unit-separator), the
    * [[TextOps.substringDedup]] convention: a cut can never splice two
    * remaining chunks into a byte run that existed nowhere in the corpus.
    */
  val Marker = "␟"

  /** The OUTPUT-corpus form: every chunk occurrence except the globally
    * FIRST (by (doc_id, chunk_pos) — a total order) is excised and
    * replaced by [[Marker]], and each document's text is rebuilt from its
    * surviving pieces — chunk-granular storage dedup (the rsync/casync
    * posture: later occurrences would be references into the first).
    * Within-document repeats excise too (the first occurrence is the only
    * copy kept anywhere).
    *
    * Scale shape: ONE chunk-content-keyed shuffle for the first-occurrence
    * window (identical boilerplate chunks land on one reducer — bounded by
    * that chunk's corpus occurrence count, the dedup-canon analogue of the
    * exact-dedup hash group), then one doc_id shuffle for the ordered
    * rebuild. No all-pairs, no positional self-join.
    */
  def cdcDedupRewrite(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk").orderBy(col("doc_id").asc, col("chunk_pos").asc)
    val rebuilt = chunksOf(t(s, d, "documents"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("piece",
        when(col("rnk") === 1, col("chunk")).otherwise(lit(Marker)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("rnk") > 1).cast("long")).as("n_excised"),
        expr("""concat_ws('',
          |  transform(array_sort(collect_list(struct(chunk_pos, piece))),
          |    x -> x.piece))""".stripMargin).as("text_dedup"))
    t(s, d, "documents").select("doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_excised"), lit(0L)).as("n_excised"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
      .orderBy("doc_id")
  }

  /** Persisted chunk-membership index — the incremental state of the CDC
    * family (the gram-index sibling): existence of a chunk hash is all a
    * batch rewrite needs, because ingest is append-only in doc_id (the
    * CorpusPipeline contract), so every corpus occurrence PRECEDES every
    * batch occurrence in the (doc_id, chunk_pos) first-survivor order.
    * Bucketed by hash for pruned probes; the modulus freezes into a table
    * property appends and probes must read (absence = hard error).
    */
  val ChunkIndexTable = "chunk_index"
  val ChunkBuckets = 32
  val ChunkBucketsProp = "graft.cdc.num_buckets"

  /** Append-only id fence for the STREAMING ingest ([[graft.pipeline.CdcIngest]]):
    * the max doc_id whose chunks the index holds. Advanced last, so a
    * crashed batch redelivers THROUGH the fence and the idempotent writes
    * absorb the overlap.
    */
  val MaxDocProp = "graft.cdc.max_doc_id"

  private def idxFqn(db: String) = s"`$db`.`$ChunkIndexTable`"

  private def hashedChunks(docs: DataFrame, nb: Long): DataFrame =
    chunksOf(docs)
      .withColumn("h", md5(col("chunk").cast("binary")))
      .withColumn("bkt", pmod(xxhash64(col("h")), lit(nb)).cast("int"))

  def buildChunkIndex(docs: DataFrame, db: String): Unit = {
    val s = docs.sparkSession
    graft.store.Warehouse.saveModel(
      hashedChunks(docs, ChunkBuckets.toLong)
        .select("h", "bkt").distinct(),
      db, ChunkIndexTable, Seq("bkt"))
    val maxRow = docs.agg(max("doc_id")).collect()(0)
    val maxDoc = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    s.sql(s"ALTER TABLE ${idxFqn(db)} SET TBLPROPERTIES " +
      s"('$ChunkBucketsProp' = '$ChunkBuckets', '$MaxDocProp' = '$maxDoc')")
  }

  private def readBuckets(s: SparkSession, db: String): Long =
    graft.store.Warehouse.readTablePropLong(s, db, ChunkIndexTable,
      ChunkBucketsProp, "not a chunk index built by buildChunkIndex; " +
        "refusing to guess the layout")

  /** Rewrite a batch against the PERSISTED index: a batch chunk excises
    * when the corpus already holds it (membership probe on the bucketed
    * index) OR an earlier batch occurrence exists (batch-internal
    * first-occurrence window) — exactly the full-union rewrite rule
    * restricted to batch rows under the append-only id contract, which is
    * what the gate's oracle proves. The corpus is never re-chunked.
    */
  def cdcRewriteAgainst(batch: DataFrame, s: SparkSession,
                        db: String): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db)
    val nb = readBuckets(s, db)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk").orderBy(col("doc_id").asc, col("chunk_pos").asc)
    val rebuilt = hashedChunks(batch, nb)
      .join(s.table(idxFqn(db)).withColumn("present", lit(1)),
        Seq("bkt", "h"), "left")
      .withColumn("rnk", row_number().over(w))
      .withColumn("excise", col("present").isNotNull || col("rnk") > 1)
      .withColumn("piece",
        when(col("excise"), lit(Marker)).otherwise(col("chunk")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("excise").cast("long")).as("n_excised"),
        expr("""concat_ws('',
          |  transform(array_sort(collect_list(struct(chunk_pos, piece))),
          |    x -> x.piece))""".stripMargin).as("text_dedup"))
    batch.select("doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_excised"), lit(0L)).as("n_excised"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
      .orderBy("doc_id")
  }

  /** Fold a processed batch's chunks into the index (existence semantics —
    * a replayed append is absorbed by the anti-join, the gram-index
    * contract).
    */
  def appendToChunkIndex(s: SparkSession, db: String,
                         docs: DataFrame): Unit = {
    val nb = readBuckets(s, db)
    val target = idxFqn(db)
    hashedChunks(docs, nb).select("h", "bkt").distinct()
      .join(s.table(target), Seq("bkt", "h"), "left_anti")
      .select(s.table(target).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(target)
  }

  /** Scheduled index rebuild — re-anchors the membership set (and compacts
    * the accreted append files) on the cron cadence (mirrors
    * [[IncrementalDedup.indexRebuildEntry]]).
    */
  def chunkRebuildEntry(id: String, cronExpr: String, db: String,
                        docs: SparkSession => DataFrame)
      : graft.pipeline.ScheduleRunner.Entry =
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => buildChunkIndex(docs(s), db),
      name = "chunk_index_rebuild", target = s"$db.$ChunkIndexTable",
      tags = Map("pipeline" -> "cdc-dedup"))

  /** Registry gate: index the "already ingested" corpus split, rewrite
    * the batch split against it — the oracle replays the FRESH full-union
    * rewrite restricted to batch rows, so a green row proves the
    * incremental path is bit-equal to from-scratch.
    */
  def cdcRewriteIncrement(s: SparkSession, d: String): DataFrame = {
    buildChunkIndex(IncrementalClusters.corpusDocsRange(s, d), "graft_cdc_inc")
    cdcRewriteAgainst(IncrementalClusters.batchDocsRange(s, d), s,
      "graft_cdc_inc")
  }

  // ------------------------------------------------------- RAG windows

  /** Retrieval-chunk token budget and stride (overlap = size − stride):
    * the fixed-window complement of the content-defined chunking above —
    * CDC optimizes dedup locality, THIS optimizes retrieval locality
    * (every token sits in ≥ 1 chunk; boundary context is preserved by
    * the overlap).
    */
  val RagChunkSize = 64
  val RagStride = 48

  /** Overlapping token windows per doc: chunk k covers tokens
    * [1 + k·stride, min(k·stride + size, n)]; the chunk count is 1 for
    * n ≤ size, else 1 + ceil((n − size)/stride) — the last window is the
    * only short one and no window is fully contained in its predecessor.
    * Per-row transform, zero shuffles before the gate's output sort.
    */
  def ragChunks(docs: DataFrame): DataFrame =
    docs
      .where(trim(col("text")) =!= "")
      .withColumn("tokens", split(trim(col("text")), "\\s+"))
      .withColumn("n", size(col("tokens")).cast("long"))
      .withColumn("nk",
        when(col("n") <= RagChunkSize, lit(1L))
          .otherwise(expr(
            s"1 + (n - $RagChunkSize + $RagStride - 1) div $RagStride")))
      .select(col("doc_id"), col("n"),
        explode(expr("sequence(0, nk - 1)")).as("chunk_idx"), col("tokens"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(RagChunkSize.toLong),
          col("n") - col("chunk_idx") * RagStride).as("n_tokens"),
        expr(s"concat_ws(' ', slice(tokens, " +
          s"1 + chunk_idx * $RagStride, $RagChunkSize))").as("chunk_text"))

  /** Gate `q_rag_chunks`. */
  def ragChunksQuery(s: SparkSession, d: String): DataFrame =
    ragChunks(t(s, d, "documents")).orderBy("doc_id", "chunk_idx")
}
