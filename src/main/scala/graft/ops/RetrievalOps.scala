package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** BM25 full-text retrieval over a STORED inverted index — the corpus-scale
  * search primitive a training-data pipeline needs for eval-set mining,
  * targeted decontamination probes and boilerplate hunts (the reference has
  * no search surface; this is north-star depth like the ANN family, and it
  * deliberately mirrors that family's build / serve / append / refresh
  * postures).
  *
  * Scoring is Robertson/Sparck-Jones BM25 (k1 = 1.2, b = 0.75) in STAGED
  * EXACT-INTEGER fixed point so the DuckDB oracle replays every score
  * bit-for-bit (the q_salient_terms contract — a float's last ulp must
  * never flip a rank boundary):
  *
  *   dlr    = (1000 · dl · n_docs) div total_len            -- dl/avgdl, 1e3
  *   tf_fp  = (1e6 · 22000 · tf) div (10000·tf + 3000 + 9·dlr)
  *            -- tf·(k1+1) / (tf + k1·(1-b) + k1·b·dl/avgdl), 1e6
  *   idf_fp = (1e4 · (2·n_docs - 2·df + 1)) div (2·df + 1)  -- odds idf, 1e4
  *   score  = Σ_terms (idf_fp · tf_fp) div 1e6
  *
  * The idf is the RAW Robertson odds (N - df + ½)/(df + ½) — the log-free
  * monotone variant (the [[TextOps.salientTermsPerSource]] precedent): the
  * log changes only the per-term weight monotonically, never which terms
  * are rare. Magnitude audit at the gate scales: tf ≤ dl ≤ ~10³,
  * total_len ≤ ~10⁷ ⇒ every intermediate ≤ ~10¹⁵, far inside Long; at true
  * 100 TB corpus counts the idf factor approaches Long bounds, which is
  * where the stored table would move to decimal — the fixed-point scales
  * are named constants so that swap is one edit.
  *
  * Scale shape: the index build carries ONE token-volume shuffle (the
  * (doc_id, w) tf aggregation, map-side combined); df and totals roll up
  * from the VOCAB-sized and DOC-COUNT-sized stored tables, never the
  * corpus. Serving touches: the probe slice of documents (query input), the
  * postings table PARTITION-PRUNED to the query terms' hash buckets
  * (the ANN cell-pruning posture — the bucket list is a bounded driver
  * collect of the query's distinct terms), a vocab-sized df join and a
  * 1-row totals broadcast. Candidates per query are the UNION of the query
  * terms' postings — never the corpus; top-k is a per-query
  * WindowGroupLimit.
  */
object RetrievalOps {

  /** Names of the persisted index tables. */
  val PostingsTable = "bm25_postings"
  val DfTable = "bm25_df"
  val DocLenTable = "bm25_doclen"
  val TotalsTable = "bm25_totals"

  /** Postings live partitioned by `bkt = xxhash64(w) mod NumBuckets` so a
    * serve-time term list prunes the scan to its buckets (ANN cell-pruning
    * posture). Frozen at build via [[BucketsProp]] — appends and serves
    * must read it back (absence = hard error), because rows bucketed under
    * one modulus are unreachable under another.
    */
  val NumBuckets = 32
  val BucketsProp = "graft.bm25.num_buckets"

  /** Append-only fence (the [[IncrementalClusters]] contract): a replayed
    * or overlapping batch would double tf counts silently, so the stored
    * max doc_id makes it loud instead.
    */
  val MaxDocProp = "graft.bm25.max_doc_id"
  private[graft] val Bm25Fence = graft.pipeline.FencedAppend.Fence(
    Some(PostingsTable), Seq("doc_id" -> MaxDocProp),
    graft.pipeline.FencedAppend.Lo, Some("buildBm25Index"))

  val DlScale = 1000L
  val TfScale = 1000000L
  val IdfScale = 10000L

  /** Gate query-set convention: probe docs are the doc_id % 97 = 3 slice,
    * each contributing its first [[QueryTerms]] DISTINCT tokens in document
    * order — a deterministic formula both engines derive independently.
    */
  val QueryModulus = 97L
  val QueryResidue = 3L
  val QueryTerms = 4
  val TopK = 5

  private def fqn(db: String, tbl: String) = s"`$db`.`$tbl`"

  private def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("tokens", TextOps.tokensOf(col("text")))

  private def bktCol = pmod(xxhash64(col("w")), lit(NumBuckets.toLong))
    .cast("int").as("bkt")

  /** Build the four index tables from scratch and freeze the layout
    * parameters. df/totals derive from the STORED postings/doclen tables so
    * the append path's additive rewrites land on identical definitions.
    */
  def buildBm25Index(docs: DataFrame, db: String): Unit = {
    val s = docs.sparkSession
    // Writer exclusion (round-12 verdict #5): the cron rebuild racing a
    // live streaming append (which holds this same db lease per batch —
    // Bm25Ingest) or a concurrent manual rebuild must serialize; the
    // loser refuses loudly with LeaseHeldException instead of
    // interleaving table overwrites into a silently mixed index.
    graft.store.Warehouse.ensureDatabase(s, db) // lease props live on the db
    graft.pipeline.FencedAppend.withLease(s, db)(_ =>
      buildBm25IndexBody(docs, db))
  }

  private def buildBm25IndexBody(docs: DataFrame, db: String): Unit = {
    val s = docs.sparkSession
    val docsT = withTokens(docs)
    val postings = docsT
      .select(col("doc_id"), explode(col("tokens")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .select(col("w"), col("doc_id"), col("tf"), bktCol)
    graft.store.Warehouse.saveModel(postings, db, PostingsTable, Seq("bkt"))
    val doclen = docsT.select(col("doc_id"),
      size(col("tokens")).cast("long").as("dl"))
    graft.store.Warehouse.saveModel(doclen, db, DocLenTable)
    graft.store.Warehouse.saveModel(
      s.table(fqn(db, PostingsTable)).groupBy("w")
        .agg(count(lit(1)).as("df")),
      db, DfTable)
    graft.store.Warehouse.saveModel(
      s.table(fqn(db, DocLenTable))
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len")),
      db, TotalsTable)
    val maxRow = docs.agg(max("doc_id")).collect()(0)
    require(!maxRow.isNullAt(0),
      "buildBm25Index: empty corpus — an index over nothing would serve " +
        "nothing silently; refusing loudly instead")
    val maxDoc = maxRow.getLong(0)
    s.sql(s"ALTER TABLE ${fqn(db, PostingsTable)} SET TBLPROPERTIES " +
      s"('$BucketsProp' = '$NumBuckets', '$MaxDocProp' = '$maxDoc')")
  }

  /** Tokenize + count a batch and append its postings rows (layout columns
    * included). Exposed for the streaming ingest, whose caller pre-filters
    * the batch to fresh rows.
    */
  private[graft] def appendPostingsRows(s: SparkSession, db: String,
                                        docs: DataFrame): Unit = {
    val target = fqn(db, PostingsTable)
    withTokens(docs)
      .select(col("doc_id"), explode(col("tokens")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .select(col("w"), col("doc_id"), col("tf"), bktCol)
      .select(s.table(target).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(target)
  }

  /** (doc_id, dl) of a batch — the cheap content digest the streaming
    * ingest compares against stored rows for overlap proofs.
    */
  private[graft] def doclenOf(docs: DataFrame): DataFrame =
    withTokens(docs)
      .select(col("doc_id"), size(col("tokens")).cast("long").as("dl"))

  private[graft] def appendDocLenRows(s: SparkSession, db: String,
                                      docs: DataFrame): Unit =
    doclenOf(docs).write.mode("append").insertInto(fqn(db, DocLenTable))

  /** Re-list the index tables in THIS session. Spark's per-session relation
    * cache freezes an UNPARTITIONED table's file listing at first read, so
    * a session that read the index before another session (a streaming
    * ingest's cloned foreachBatch session, a concurrent writer JVM)
    * appended to it would keep serving the stale listing forever — the
    * REFRESH TABLE contract. Partitioned tables (postings) re-list per
    * query and don't need it; the doc-fact and stat tables do. Serving
    * calls this so a continuously-ingested index always scores against
    * everything that has landed (a metadata-only op — the re-list cost is
    * paid by the next query, which wants the fresh files anyway).
    */
  def refreshIndex(s: SparkSession, db: String): Unit =
    graft.store.Warehouse.refreshDb(s, db)

  /** Rebuild df and totals from the stored fact tables — self-healing (the
    * stats a crash left stale are re-derived from whatever facts landed),
    * used by the streaming ingest after each batch's fact appends.
    */
  private[graft] def rebuildDerivedStats(s: SparkSession, db: String): Unit = {
    graft.store.Warehouse.rewriteVia(s, db, DfTable)(_ =>
      s.table(fqn(db, PostingsTable)).groupBy("w")
        .agg(count(lit(1)).as("df")))
    graft.store.Warehouse.rewriteVia(s, db, TotalsTable)(_ =>
      s.table(fqn(db, DocLenTable))
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len")))
  }

  private def readProp(s: SparkSession, db: String, prop: String): Long =
    graft.store.Warehouse.readTablePropLong(s, db, PostingsTable, prop,
      "not a bm25 index built by buildBm25Index; refusing to guess the layout")

  /** The gate's deterministic query frame: (query_id, w) — first
    * [[QueryTerms]] distinct tokens of each probe doc, in first-occurrence
    * order (min position is unique per word, so the order is total).
    */
  private[graft] def queryTermsFor(docs: DataFrame,
                                   modulus: Long = QueryModulus,
                                   residue: Long = QueryResidue): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("fp").asc, col("w").asc)
    withTokens(docs)
      .filter(pmod(col("doc_id"), lit(modulus)) === residue)
      .select(col("doc_id").as("query_id"),
        posexplode(col("tokens")).as(Seq("pos", "w")))
      .groupBy("query_id", "w").agg(min("pos").as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= QueryTerms)
      .select("query_id", "w")
  }

  /** Score + rank a (query_id, w) frame against index FRAMES (stored or
    * in-session — the spec's parity law runs both through here).
    */
  private[graft] def scoreTerms(terms: DataFrame, postings: DataFrame,
                                dfT: DataFrame, doclen: DataFrame,
                                totals: DataFrame): DataFrame =
    rankTopK(scoredTerms(terms, postings, dfT, doclen, totals))

  /** The UNRANKED (query_id, doc_id, n_hit, score) set — split out so
    * compositions that must filter candidates BEFORE the top-k cut
    * ([[hardNegatives]]) see the full scored pool, not the survivors of
    * an earlier rank-5 fence.
    */
  private[graft] def scoredTerms(terms: DataFrame, postings: DataFrame,
                                 dfT: DataFrame, doclen: DataFrame,
                                 totals: DataFrame): DataFrame =
    postings
      .join(broadcast(terms), Seq("w"))
      .join(doclen, Seq("doc_id"))
      .join(dfT, Seq("w"))
      .crossJoin(broadcast(totals))
      .withColumn("dlr", expr(s"(${DlScale}L * dl * n_docs) div total_len"))
      .withColumn("tf_fp",
        expr(s"(${TfScale}L * 22000L * tf) div " +
          "(10000L * tf + 3000L + 9L * dlr)"))
      .withColumn("idf_fp",
        expr(s"(${IdfScale}L * (2L * n_docs - 2L * df + 1L)) " +
          "div (2L * df + 1L)"))
      .withColumn("contrib", expr(s"(idf_fp * tf_fp) div ${TfScale}L"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("contrib").as("score"))

  /** Score-desc/doc-asc rank per query, cut at [[TopK]], gate order. */
  private[graft] def rankTopK(scored: DataFrame): DataFrame = {
    val rw = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(rw))
      .filter(col("rnk") <= TopK)
      .select("query_id", "rnk", "doc_id", "n_hit", "score")
      .orderBy("query_id", "rnk")
  }

  /** Serve top-k from the STORED index — zero training aggregation: the
    * postings scan is partition-pruned to the query terms' buckets (the
    * term list is a bounded collect — queries are human/probe-sized, the
    * ANN probe-cell precedent), df joins a vocab-sized table, totals
    * broadcasts one row. The only documents read is the probe slice
    * (the query INPUT, like ANN probe vectors).
    */
  def bm25TopKFromIndex(s: SparkSession, d: String, db: String): DataFrame =
    bm25TopKFor(queryTermsFor(t(s, d, "documents")), s, db)

  def bm25TopKFor(terms: DataFrame, s: SparkSession, db: String): DataFrame = {
    refreshIndex(s, db) // see scaladoc: external appends must become visible
    val nb = readProp(s, db, BucketsProp)
    require(nb == NumBuckets,
      s"stored index bucketed mod $nb but this build scores mod $NumBuckets")
    // bounded metadata collect: distinct query terms (≤ queries × QueryTerms)
    val bkts = terms.select(pmod(xxhash64(col("w")), lit(nb)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val postings = s.table(fqn(db, PostingsTable))
      .filter(col("bkt").isin(bkts: _*))
    scoreTerms(terms, postings, s.table(fqn(db, DfTable)),
      s.table(fqn(db, DocLenTable)), s.table(fqn(db, TotalsTable)))
  }

  /** Fold a new document batch into the stored index. tf/dl rows are
    * per-doc facts → pure partitioned appends; df and totals are ADDITIVE
    * → vocab-sized / 1-row rewrites. The base corpus is never re-read.
    */
  def appendToBm25Index(s: SparkSession, db: String, docs: DataFrame,
                        midHook: () => Unit = () => ()): Unit = {
    // Writer exclusion (round-12 verdict #5): two concurrent appends of
    // the same batch could BOTH pass the fence read below (read-then-
    // write is not atomic) and silently double the counts; under the db
    // lease exactly one writer proceeds — a concurrent one refuses with
    // LeaseHeldException, a later one with the fence refusal. `midHook`
    // is the test seam: it runs while the lease is held, so a spec can
    // drive a second live session's append INSIDE the window.
    graft.pipeline.FencedAppend.withLease(s, db) { _ =>
      midHook()
      appendToBm25IndexBody(s, db, docs)
    }
  }

  private def appendToBm25IndexBody(s: SparkSession, db: String,
                                    docs: DataFrame): Unit = {
    val nb = readProp(s, db, BucketsProp)
    require(nb == NumBuckets,
      s"stored index bucketed mod $nb but this build buckets mod $NumBuckets")
    val bounds = Bm25Fence.check("appendToBm25Index", s, db, docs)
    require(bounds.nonEmpty, "empty batch — nothing to append")
    Bm25Fence.advance(s, db, bounds.get.hi)
    appendPostingsRows(s, db, docs)
    appendDocLenRows(s, db, docs)
    val batchDf = withTokens(docs)
      .select(col("doc_id"), explode(col("tokens")).as("w"))
      .groupBy("w").agg(count_distinct(col("doc_id")).as("df"))
    graft.store.Warehouse.rewriteVia(s, db, DfTable)(stored =>
      stored.unionByName(batchDf).groupBy("w").agg(sum("df").as("df")))
    graft.store.Warehouse.rewriteVia(s, db, TotalsTable)(_ =>
      s.table(fqn(db, DocLenTable))
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len")))
  }

  /** Scheduled full re-index — re-anchors df/totals drift after many
    * appends (mirrors [[VectorOps.sqRefreshEntry]]).
    */
  def bm25RefreshEntry(id: String, cronExpr: String, db: String,
                       docs: SparkSession => DataFrame)
      : graft.pipeline.ScheduleRunner.Entry =
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => buildBm25Index(docs(s), db),
      name = "bm25_index_refresh", target = s"$db.$PostingsTable",
      tags = Map("pipeline" -> "retrieval"))

  /** Registry gate: build, store, serve — deterministic integer scoring
    * means the oracle re-derives the index declaratively and lands on
    * identical ranks.
    */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    buildBm25Index(t(s, d, "documents"), "graft_bm25_q")
    bm25TopKFromIndex(s, d, "graft_bm25_q")
  }

  /** Positional postings for EXACT phrase search — (w, doc_id, pos)
    * 1-based, partitioned by the same term-hash bucket law as the BM25
    * postings (modulus + max-doc fence frozen as table properties).
    */
  val PositionsTable = "bm25_positions"
  private[graft] val PhraseFence = Bm25Fence.copy(
    table = Some(PositionsTable), rebuild = Some("buildPhraseIndex"))

  def buildPhraseIndex(docs: DataFrame, db: String): Unit = {
    val s = docs.sparkSession
    val positions = withTokens(docs)
      .select(col("doc_id"), posexplode(col("tokens")).as(Seq("p0", "w")))
      .select(col("w"), col("doc_id"), (col("p0") + 1).as("pos"), bktCol)
    graft.store.Warehouse.saveModel(positions, db, PositionsTable,
      Seq("bkt"))
    val maxRow = docs.agg(max("doc_id")).collect()(0)
    require(!maxRow.isNullAt(0),
      "buildPhraseIndex: empty corpus — refusing loudly (the buildBm25Index contract)")
    s.sql(s"ALTER TABLE ${fqn(db, PositionsTable)} SET TBLPROPERTIES " +
      s"('$BucketsProp' = '$NumBuckets', " +
      s"'$MaxDocProp' = '${maxRow.getLong(0)}')")
  }

  /** Gate phrase convention: probe docs are the doc_id % 101 = 11 slice,
    * each querying its own first [[PhraseLen]] tokens as an exact
    * consecutive phrase.
    */
  val PhraseModulus = 101L
  val PhraseResidue = 11L
  val PhraseLen = 3

  private def readPosProp(s: SparkSession, db: String, prop: String): Long =
    graft.store.Warehouse.readTablePropLong(s, db, PositionsTable, prop,
      "not a phrase index built by buildPhraseIndex; refusing to guess " +
        "the layout")

  /** (query_id, k, w) — the k-th term of each probe doc's leading phrase. */
  private[graft] def phraseTermsFor(docs: DataFrame): DataFrame =
    withTokens(docs)
      .filter(pmod(col("doc_id"), lit(PhraseModulus)) === PhraseResidue)
      .filter(size(col("tokens")) >= PhraseLen)
      .select(col("doc_id").as("query_id"),
        posexplode(expr(s"slice(tokens, 1, $PhraseLen)")).as(Seq("k", "w")))

  /** Exact consecutive-phrase occurrence counts via ANCHOR ALIGNMENT: a
    * position row for term k matches anchor `pos - k`; an anchor where all
    * [[PhraseLen]] DISTINCT ks matched is one phrase occurrence. One
    * shuffle keyed (query_id, doc_id, anchor) — the classic positional
    * intersection, never a per-occurrence string rebuild. The positions
    * scan is partition-pruned to the phrase terms' buckets (the BM25
    * serve posture); repeated words inside a phrase are handled by the
    * DISTINCT-k requirement at a shared anchor.
    */
  def phraseSearchFor(terms: DataFrame, s: SparkSession,
                      db: String): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db)
    val nb = readPosProp(s, db, BucketsProp)
    require(nb == NumBuckets,
      s"stored index bucketed mod $nb but this build matches mod $NumBuckets")
    val bkts = terms.select(pmod(xxhash64(col("w")), lit(nb)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    s.table(fqn(db, PositionsTable))
      .filter(col("bkt").isin(bkts: _*))
      .join(broadcast(terms), Seq("w"))
      .withColumn("anchor", col("pos") - col("k"))
      .groupBy("query_id", "doc_id", "anchor")
      .agg(count_distinct(col("k")).as("nk"))
      .filter(col("nk") === PhraseLen)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_matches"))
      .orderBy("query_id", "doc_id")
  }

  def phraseSearchFromIndex(s: SparkSession, d: String,
                            db: String): DataFrame =
    phraseSearchFor(phraseTermsFor(t(s, d, "documents")), s, db)

  /** Registry gate: build the positional index, search every probe doc's
    * leading phrase — self-retrieval (each probe doc contains its own
    * phrase) makes the result set non-vacuous by construction.
    */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    buildPhraseIndex(t(s, d, "documents"), "graft_phrase_q")
    phraseSearchFromIndex(s, d, "graft_phrase_q")
  }

  /** Positional rows are per-doc facts → pure partitioned append. */
  def appendToPhraseIndex(s: SparkSession, db: String,
                          docs: DataFrame): Unit = {
    val nb = readPosProp(s, db, BucketsProp)
    require(nb == NumBuckets,
      s"stored index bucketed mod $nb but this build buckets mod $NumBuckets")
    val bounds = PhraseFence.check("appendToPhraseIndex", s, db, docs)
    require(bounds.nonEmpty, "empty batch — nothing to append")
    PhraseFence.advance(s, db, bounds.get.hi)
    val target = fqn(db, PositionsTable)
    withTokens(docs)
      .select(col("doc_id"), posexplode(col("tokens")).as(Seq("p0", "w")))
      .select(col("w"), col("doc_id"), (col("p0") + 1).as("pos"), bktCol)
      .select(s.table(target).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(target)
  }

  /** Scheduled positional re-index (mirrors [[bm25RefreshEntry]]). */
  def phraseRefreshEntry(id: String, cronExpr: String, db: String,
                         docs: SparkSession => DataFrame)
      : graft.pipeline.ScheduleRunner.Entry =
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => buildPhraseIndex(docs(s), db),
      name = "phrase_index_refresh", target = s"$db.$PositionsTable",
      tags = Map("pipeline" -> "retrieval"))

  /** Reciprocal-rank-fusion constant (Cormack et al. 2009: 1/(60 + r))
    * and its fixed-point scale — RRF consumes only RANKS, so the fused
    * score is exact integer arithmetic both engines replay.
    */
  val RrfK = 60L
  val RrfScale = 1000000L
  val HybridTopK = 5

  /** Hybrid retrieval — the modern two-stack search: the BM25 lexical
    * top-k and the exact-cosine semantic top-k (the fixture's embeddings
    * ride the parallel-identity convention vec_id = doc_id) fuse by
    * reciprocal-rank fusion, candidates being the UNION of both legs.
    * Probes without an embedding row keep their lexical leg alone (RRF's
    * missing-leg semantics: absent rank contributes zero). Fusing on
    * ranks rather than scores is what makes the gate exact: the cosine
    * leg's doubles never cross an engine boundary, only its rank order
    * does (the established q_knn_cosine_topk bit-compatibility).
    *
    * Scale shape: the lexical leg is the pruned-postings serve; the
    * semantic leg broadcasts the bounded probe set against the streamed
    * corpus (the knn shape — at 100 TB the IVF/PQ serving indexes replace
    * the flat scan, same ranks in, same fusion out); the fusion itself
    * joins two k-row-per-query frames.
    */
  def hybridSearch(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    buildBm25Index(t(s, d, "documents"), "graft_hybrid_q")
    val lex = bm25TopKFromIndex(s, d, "graft_hybrid_q")
      .select(col("query_id"), col("doc_id"), col("rnk").as("r_lex"))
    val emb = t(s, d, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val probes = emb
      .filter(pmod(col("vec_id"), lit(QueryModulus)) === QueryResidue)
      .select(col("vec_id").as("query_id"), col("embedding").as("probe_vec"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function("vec_dot", a, b)
    val sw = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("doc_id").asc)
    val sem = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(probes))
      .withColumn("cosine", dot(col("probe_vec"), col("embedding"))
        / (sqrt(dot(col("probe_vec"), col("probe_vec")))
          * sqrt(dot(col("embedding"), col("embedding")))))
      .withColumn("r_sem", row_number().over(sw))
      .filter(col("r_sem") <= HybridTopK)
      .select("query_id", "doc_id", "r_sem")
    val fw = Window.partitionBy("query_id")
      .orderBy(col("rrf_fp").desc, col("doc_id").asc)
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr(s"$RrfScale div (${RrfK}L + r_lex)"), lit(0L))
          + coalesce(expr(s"$RrfScale div (${RrfK}L + r_sem)"), lit(0L)))
      .withColumn("rnk", row_number().over(fw))
      .filter(col("rnk") <= HybridTopK)
      .select("query_id", "rnk", "doc_id", "rrf_fp")
      .orderBy("query_id", "rnk")
  }

  /** Retrieval-driven decontamination — the FUZZY complement of the n-gram
    * and embedding decontam legs: each eval-convention document
    * (doc_id % 100 = 7, the [[TextOps.decontaminateNgram]] seed) queries
    * the index with its first-distinct-token formula, and the NON-eval
    * corpus documents it retrieves into its top-[[TopK]] are flagged with
    * how many eval queries hit them and their best score. Catches
    * paraphrase-adjacent leakage that exact n-gram overlap misses while
    * staying fully oracle-replayable (unlike an embedding model, BM25's
    * lexical weighting is exact integer arithmetic).
    *
    * Scale shape: identical to serving — eval queries are a bounded probe
    * set, candidates are the union of their terms' postings (partition-
    * pruned scan), never the corpus; the final flag agg keys doc_id.
    */
  def bm25Decontam(s: SparkSession, d: String): DataFrame = {
    val db = "graft_bm25_dc"
    buildBm25Index(t(s, d, "documents"), db)
    val terms = queryTermsFor(t(s, d, "documents"), 100L, 7L)
    val nb = readProp(s, db, BucketsProp)
    val bkts = terms.select(pmod(xxhash64(col("w")), lit(nb)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val candidates = s.table(fqn(db, PostingsTable))
      .filter(col("bkt").isin(bkts: _*))
      .filter(pmod(col("doc_id"), lit(100L)) =!= 7L) // rank non-eval only
    scoreTerms(terms, candidates, s.table(fqn(db, DfTable)),
      s.table(fqn(db, DocLenTable)), s.table(fqn(db, TotalsTable)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_eval_hits"), max("score").as("best_score"))
      .orderBy("doc_id")
  }

  /** Hard-negative mining — the contrastive-training composition the
    * retrieval and dedup families exist for: for every eval-slice query,
    * the top-[[TopK]] BM25 candidates AFTER excluding the query document
    * itself and every member of its minhash NEAR-DUP CLUSTER. A
    * lexically-close near-duplicate is a false negative (it IS the
    * positive in different clothes); what contrastive training wants is
    * the highest-scoring documents that are NOT the same content — which
    * is exactly "top-ranked minus the query's connected component".
    *
    * The exclusion runs on the UNRANKED scored pool ([[scoredTerms]]),
    * then re-ranks: a cluster member holding rank 3 must PROMOTE the
    * rank-6 candidate, not leave a 4-row hole.
    *
    * Scale shape: scoring is the serve posture (bucket-pruned postings ×
    * broadcast terms); the cluster decoration is the CC cost the dedup
    * family already pays plus ONE doc_id-keyed join of the candidate pool
    * against the corpus-sized labels table (the label-lookup posture) and
    * one broadcast-sized join on the query side.
    */
  /** Mean-reciprocal-rank evaluation of the BM25 retriever against the
    * MinHash near-dup clusters as relevance truth — the retrieval-quality
    * gauge next to [[graft.ops.VectorOps.annRecall]]'s ANN one (a
    * dedup-retrieval system's standard smoke metric: querying with a
    * document's own salient terms, its near-duplicates should surface
    * first). Per probe query: the rank of the FIRST retrieved document
    * sharing the query's duplicate cluster (self excluded BEFORE ranking,
    * so the trivial hit can't occupy rank 1 and can't leave a hole), and
    * the exact reciprocal rank `10⁶ div rank` — 0 when no cluster
    * partner lands in the [[TopK]] window or the query has none
    * (`n_relevant` reports the partner count so the two zero cases stay
    * distinguishable). A corpus-level mean would hide which probes
    * regressed; the per-probe frame IS the metric, and any consumer's
    * AVG over `rr_ppm` is the MRR.
    *
    * Split gate: the engine materializes its candidate pairs (the
    * [[hardNegatives]] posture); the oracle replays BM25 scoring
    * declaratively and the cluster closure over the materialized pairs.
    *
    * Scale shape: scoring is the serve posture (bucket-pruned postings ×
    * broadcast terms); the cluster decoration is one doc_id-keyed join
    * plus a broadcast-sized query-side join; the first-hit pick is one
    * probe-keyed min. Gate `q_retrieval_mrr`.
    */
  /** Per-probe query terms for [[retrievalMrr]]: the probe document's
    * FULL distinct-token set — the classic more-like-this query. The
    * short selectors are wrong for a dedup-retrieval eval on this
    * corpus, measurably: first-position terms ([[queryTermsFor]]) are
    * function words every document matches, and the 4-RAREST-term
    * variant is adversarial because the rarest tokens are hapaxes —
    * precisely the tokens the near-duplicate does NOT share (both
    * selectors scored first_rank = 0 on every partnered probe). Only
    * the whole profile separates a near-duplicate (matches ~every term)
    * from a topically-similar document (matches most), so the full set
    * IS the query. Hapaxes ride along harmlessly — they match only the
    * excluded self.
    */
  private[graft] def allTermsFor(docs: DataFrame, modulus: Long,
                                 residue: Long): DataFrame =
    withTokens(docs)
      .filter(pmod(col("doc_id"), lit(modulus)) === residue)
      .select(col("doc_id").as("query_id"), explode(col("tokens")).as("w"))
      .distinct()

  /** Probe slice for [[retrievalMrr]] — wider than the serving gates'
    * 1-in-100 (the fixture corpus is 500 docs at small sf; an MRR over
    * 5 probes is a coin toss, over 25 it ranks).
    */
  val MrrModulus = 20L
  val MrrResidue = 7L

  def retrievalMrr(s: SparkSession, d: String): DataFrame = {
    val db = "graft_bm25_mrr"
    val docs = t(s, d, "documents")
    buildBm25Index(docs, db)
    val terms = allTermsFor(docs, MrrModulus, MrrResidue)
    val nb = readProp(s, db, BucketsProp)
    val bkts = terms.select(pmod(xxhash64(col("w")), lit(nb)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val postings = s.table(fqn(db, PostingsTable))
      .filter(col("bkt").isin(bkts: _*))
    val scored = scoredTerms(terms, postings, s.table(fqn(db, DfTable)),
      s.table(fqn(db, DocLenTable)), s.table(fqn(db, TotalsTable)))
    val ranked = rankTopK(scored.filter(col("doc_id") =!= col("query_id")))
    val pairs = graft.OracleInputs.checkpoint(
      TextOps.minhashCandidatePairs(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      d, "text_pairs_mrr")
    val comps = GraphOps.connectedComponents(pairs,
      docs.select(col("doc_id").as("id")))
    val sizes = comps.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
    val qc = comps.join(sizes, "cluster_id")
      .select(col("id").as("query_id"), col("cluster_id").as("q_cluster"),
        (col("csz") - 1L).as("n_relevant"))
    val dc = comps.select(col("id").as("doc_id"),
      col("cluster_id").as("d_cluster"))
    val firstHit = ranked
      .join(dc, Seq("doc_id"))
      .join(qc.select("query_id", "q_cluster"), Seq("query_id"))
      .filter(col("d_cluster") === col("q_cluster"))
      .groupBy("query_id").agg(min("rnk").as("first_rank"))
    terms.select("query_id").distinct()
      .join(qc, Seq("query_id"))
      .join(firstHit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevant"),
        coalesce(col("first_rank"), lit(0)).cast("int").as("first_rank"),
        coalesce(expr("CAST(1000000 div first_rank AS BIGINT)"), lit(0L))
          .as("rr_ppm"))
      .orderBy("query_id")
  }

  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val db = "graft_bm25_hn"
    val docs = t(s, d, "documents")
    buildBm25Index(docs, db)
    val terms = queryTermsFor(docs, 100L, 7L)
    val nb = readProp(s, db, BucketsProp)
    val bkts = terms.select(pmod(xxhash64(col("w")), lit(nb)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val postings = s.table(fqn(db, PostingsTable))
      .filter(col("bkt").isin(bkts: _*))
    val scored = scoredTerms(terms, postings, s.table(fqn(db, DfTable)),
      s.table(fqn(db, DocLenTable)), s.table(fqn(db, TotalsTable)))
    val pairs = graft.OracleInputs.checkpoint(
      TextOps.minhashCandidatePairs(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      d, "text_pairs_hardneg")
    val comps = GraphOps.connectedComponents(pairs,
      docs.select(col("doc_id").as("id")))
    val qc = comps.select(col("id").as("query_id"),
      col("cluster_id").as("q_cluster"))
    val cand = comps.select(col("id").as("doc_id"),
      col("cluster_id").as("d_cluster"))
    // same cluster ⇒ same label (the query doc itself trivially included)
    rankTopK(scored
      .join(qc, Seq("query_id"))
      .join(cand, Seq("doc_id"))
      .filter(col("q_cluster") =!= col("d_cluster"))
      .select("query_id", "doc_id", "n_hit", "score"))
  }
}
