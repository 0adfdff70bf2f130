package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Code-compression quantizers and their compositions: product
  * quantization (PQ), scalar quantization (SQ8), IVF-PQ and IVF-SQ, ANN
  * recall evaluation, and the one stored-index lifecycle every ANN
  * family ([[AnnFamily]]) is built, appended, served and refreshed by.
  *
  * Mixin part of [[VectorOps]] (round-12 verdict #7 file-size pass:
  * split by family — pure moves; every call site still reads
  * `VectorOps.member`).
  */
private[graft] trait VectorQuantPart extends VectorIvfPart {

  /** Product quantization (PQ) with exact re-rank — the MEMORY-BOUND
    * regime's ANN: at 100 TB the raw embeddings (256 B/vector at 64×f32)
    * don't fit executor memory next to the working set, but their PQ
    * codes do ([[PqSubspaces]] sub-vector codebook ids = 8 small ints,
    * a 32× compression). The standard retrieve-then-re-rank shape:
    *
    *  1. TRAIN: the 64-dim space splits into M=[[PqSubspaces]] 8-dim
    *     subspaces; each gets its own K=[[PqCodebookSize]] k-means
    *     codebook from the ONE Lloyd's trainer the IVF quantizer uses
    *     ([[lloyd]]), batched over all subspaces at once ([[pqIndex]] —
    *     law-tested against [[ivfIndex]] at nSub=1).
    *     Only M×K×8 doubles (the codebooks) ever reach the driver.
    *  2. ENCODE: one pass over the corpus computes all M argmin codes per
    *     row against the BROADCAST (literal) codebooks — no joins, no
    *     shuffle, pure codegen expressions; the codes table is what a
    *     production deployment persists (and all the search scan reads).
    *  3. SEARCH: approximate score per (probe, corpus row) =
    *     Σ_m probe_sub_m · codebook_m[code_m] — M native vec_dot folds
    *     against literal-array lookups, linear in the corpus with probes
    *     broadcast; per-probe top-[[PqRerank]] candidates by approx
    *     score (WindowGroupLimit), then EXACT cosine re-ranks the final
    *     top-5 from the raw vectors of just those candidates.
    *
    * Self-hit invariant: a probe's own row has the minimal quantization
    * error possible for its codes, but PQ approx scores do NOT guarantee
    * rank-1 for self — the EXACT re-rank does (cosine(self)=1 is the
    * global maximum, and the approx score of self is the best
    * reconstruction of the true maximum, so self survives any sane
    * candidate budget; property-tested, as is a recall floor vs exact
    * brute force). SPLIT ORACLE GATE like the IVF path: WHICH candidates
    * surface is codebook-dependent (rows-only), the cosines and rank
    * order of the materialized sets are recomputed exactly by DuckDB.
    */
  val PqSubspaces = 8
  val PqCodebookSize = 16
  val PqRerank = 25

  /** ADC codebook lookups inline as plan literals up to this many doubles
    * (Σ_m K_m × subDim). The fixture configuration (8×16×8 = 1024) sits
    * under it; a production-sized codebook (K=256, M≥16) rides broadcast
    * joins instead, keeping the plan string, Kryo task binaries and
    * codegen method sizes bounded — same exact lookup either way
    * (equivalence spec-tested). `var` only so specs can force the
    * broadcast path at fixture scale.
    */
  private[graft] var PqCodebookLiteralMaxDoubles: Int = 4096

  /** Per-subspace codebooks trained on the corpus: m → K centroids of
    * subDim doubles. ONE [[lloyd]] over the EXPLODED (vec_id, m,
    * sub-vector) frame — all M codebooks train simultaneously with
    * centroid key (m, cell), so the whole training is ~5 jobs instead of
    * M separate [[ivfIndex]] runs (~5M jobs; measured 8.5 → 3.0 s steady
    * at sf0.1). Every subspace seeds from the same vectors (the hash
    * order ignores m). An nSub=1 run over full vectors must produce
    * ivfIndex's centroids bit-for-bit (law-tested: both are calls of the
    * one trainer). Fewer usable vectors than K seeds degrade to a smaller
    * codebook per subspace.
    */
  private[graft] def pqIndex(emb: DataFrame, subDim: Int,
                             nSub: Int = PqSubspaces)
      : (DataFrame, Map[Int, Seq[Seq[Double]]]) = {
    val sub = PlanCache.swap("pq-subvecs", indexable(emb)
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(nSub - 1))).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m"),
        transform(slice(col("embedding"), col("m") * subDim + 1, lit(subDim)),
          x => x.cast("double")).as("vec")))
    val (assign, cents) = lloyd(sub, PqCodebookSize)
    val books = (0 until nSub).map(m =>
      m -> cents.keys.collect { case (`m`, k) => k }.toSeq.sorted
        .map(k => cents((m, k)))).toMap
    // codes are the final-centroid assignment (pqEncode parity depends on
    // it); the aggregate's exchange on vec_id is map-side combined
    val codes = assign
      .groupBy("vec_id")
      .agg(
        max(when(col("m") === 0, col("cell"))).cast("int").as("code_0"),
        (1 until nSub).map(m =>
          max(when(col("m") === m, col("cell"))).cast("int")
            .as(s"code_$m")): _*)
    (codes, books)
  }

  /** One-pass PQ encode: M argmin-code columns against literal codebooks
    * (zero joins/shuffles — the production scan shape).
    */
  private[graft] def pqEncode(emb: DataFrame, books: Map[Int, Seq[Seq[Double]]],
                              subDim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val vec = transform(col("embedding"), x => x.cast("double"))
    val withCodes = (0 until PqSubspaces).foldLeft(
      emb.select(col("vec_id"), col("embedding"))) { (df, m) =>
      val sub = slice(vec, m * subDim + 1, subDim)
      val dists = array(books(m).map(c =>
        call_function("vec_sqdist", sub, typedLit(c))): _*)
      df.withColumn(s"code_$m",
        (array_position(dists, array_min(dists)) - 1).cast("int"))
    }
    withCodes.select(col("vec_id") +:
      (0 until PqSubspaces).map(m => col(s"code_$m")): _*)
  }

  /** Registered query: PQ-approximate top-k with exact re-rank over the
    * standard probe set (vec_id < 5 — recall directly comparable to
    * [[knnCosineTopk]]/[[ivfCosineTopk]]).
    */
  def pqCosineTopk(s: SparkSession, d: String): DataFrame =
    graft.OracleInputs.checkpoint(pqTopkFrame(s, d), d, "pq_topk")
      .orderBy("probe_id", "rnk")

  /** The search frame WITHOUT the oracle-gate checkpoint — what the plan
    * audit inspects (the gated query's executed plan is just the
    * checkpoint read-back).
    */
  private[graft] def pqTopkFrame(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = indexable(t(s, d, "embeddings"))
    val subDim = OracleDims / PqSubspaces
    val (codesDf, books) = pqIndex(emb, subDim)
    searchPq(codesDf, books, emb, probesOf(emb), subDim)
  }

  /** The PQ search leg shared by the in-session and stored-index paths:
    * ADC scan (Σ_m probe_sub · codebook_m[code_m] against LITERAL
    * codebooks — no join for the lookup), per-probe top-[[PqRerank]] by
    * approximate score (map-side WindowGroupLimit before the one probe_id
    * exchange), then EXACT cosine re-rank of just those candidates from
    * the raw vectors. `cellFilter`, when set, prunes the code scan to the
    * probed IVF cells first (the IVF-PQ composition — see
    * [[ivfPqTopkFrame]]); the flat path scans all codes (pure PQ).
    */
  private[graft] def searchPq(codesDf: DataFrame, books: Map[Int, Seq[Seq[Double]]],
                       corpus: DataFrame, probes: DataFrame, subDim: Int,
                       cellFilter: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(codesDf.sparkSession)
    val codes = codesDf.withColumnRenamed("vec_id", "neighbor_id")
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val scanned = cellFilter match {
      // IVF-PQ: the broadcast (probe_id, cell) pairs prune the code scan
      // to the probed cells — candidates ≈ codes × nProbe/nCells, and a
      // code row pairs only with probes that probed ITS cell
      case Some(pc) => codes.join(broadcast(pc), Seq("cell"))
        .join(broadcast(probes), Seq("probe_id"))
      case None => codes.crossJoin(broadcast(probes))
    }
    // approximate ADC score: Σ_m probe_sub · codebook_m[code_m]. Small
    // codebooks inline as plan literals (zero joins); past the size
    // threshold (production K=256, M≥16) literal inlining would bloat the
    // plan string, task binaries and codegen method size, so the lookup
    // rides M broadcast hash joins instead — same exact per-code centroid,
    // no extra exchange (broadcast sides are K-row relations).
    val litDoubles = books.valuesIterator
      .map(b => b.iterator.map(_.size).sum).sum
    val scored =
      if (litDoubles <= PqCodebookLiteralMaxDoubles)
        scanned.withColumn("approx", (0 until PqSubspaces).map { m =>
          call_function("vec_dot",
            slice(col("probe_vec"), m * subDim + 1, subDim),
            element_at(typedLit(books(m)), col(s"code_$m") + 1))
        }.reduce(_ + _))
      else {
        import codesDf.sparkSession.implicits._
        (0 until PqSubspaces).foldLeft(scanned) { (df, m) =>
          val bm = books(m).zipWithIndex
            .map { case (c, k) => (k, c) }.toDF(s"__cell_$m", s"__cent_$m")
          df.join(broadcast(bm), col(s"code_$m") === col(s"__cell_$m"))
        }.withColumn("approx", (0 until PqSubspaces).map(m =>
          call_function("vec_dot",
            slice(col("probe_vec"), m * subDim + 1, subDim),
            col(s"__cent_$m"))).reduce(_ + _))
      }
    val cands = scored
      .withColumn("arnk", row_number().over(wApprox))
      .filter(col("arnk") <= PqRerank)
      .select("probe_id", "neighbor_id")
    exactCosineRerank(cands, corpus, probes)
  }

  /** Names of the stored PQ index tables ([[AnnFamily.Pq]]). */
  val PqCodebooksTable = "pq_codebooks"
  val PqCodesTable = "pq_codes"

  /** Stored codebooks → the in-memory M→centroids map the ADC scan
    * inlines as literals. M×K rows — index metadata, not data.
    */
  private[graft] def loadPqBooks(s: SparkSession, db: String,
                          table: String = PqCodebooksTable): Map[Int, Seq[Seq[Double]]] =
    s.table(s"`$db`.`$table`")
      .select("m", "cell", "centroid").collect()
      .groupBy(_.getInt(0))
      .map { case (m, rows) =>
        m -> rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2)).toSeq
      }

  // ─────────────────────── SQ8 scalar quantization ───────────────────────
  // Completes the quantization spectrum between flat (exact, 4 B/dim) and
  // PQ (32×, coarse): per-dimension 8-bit affine codes — 4× less scan I/O
  // than raw float32 (parquet dictionary/bit-packs the 0..255 ints to
  // ~1 B/dim on disk), near-exact candidate ranking, and NO Lloyd's
  // anywhere: training is ONE min/max aggregation, which — unlike k-means —
  // is order-independent and exactly replayable, so q_sq_cosine_topk gets a
  // FULL-pipeline DuckDB hash gate (train + encode + ADC cut + exact
  // re-rank), not a materialized-candidate split gate.

  /** Names of the stored SQ index tables ([[AnnFamily.Sq]]). */
  val SqParamsTable = "sq_params"
  val SqCodesTable = "sq_codes"

  /** Candidates per probe the SQ ADC cut retains for the exact re-rank —
    * the [[PqRerank]] budget: SQ's 8-bit-per-dim score is far tighter than
    * PQ's, so the same budget holds a higher recall floor (spec-tested
    * against the exact [[knnCosineTopk]]).
    */
  val SqRerank = 25

  /** Per-dimension (min, width) over the corpus: ONE aggregation on the
    * posexploded dims (map-side combined — dims × partials on the wire),
    * and only `dims` rows reach the driver (bounded index metadata, the
    * [[ivfIndex]] centroid-collect contract).
    */
  private[graft] def sqParams(emb: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = emb
      .select(posexplode(transform(col("embedding"), x => x.cast("double")))
        .as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toSeq,
      rows.map(r => r.getDouble(2) - r.getDouble(1)).toSeq)
  }

  /** One-pass SQ8 encode: code_i = clamp₀..₂₅₅ ⌊((x_i − mn_i) · 255) / w_i⌋
    * (degenerate dims → 0) — per-row codegen HOFs against literal params,
    * zero joins/shuffles (the production scan shape, like [[pqEncode]]).
    * The clamp runs in LONG before the int cast so a far-out-of-range
    * append value saturates instead of wrapping. Corpus min/max map the
    * corpus exactly onto [0, 255]; appended vectors outside the frozen
    * range saturate at the edges — drift vs a retrain is bounded by the
    * scheduled rebuild ([[refreshEntry]]), the band-index caveat.
    */
  private[graft] def sqEncode(emb: DataFrame, mins: Seq[Double],
                              widths: Seq[Double]): DataFrame = {
    val shifted = zip_with(
      transform(col("embedding"), x => x.cast("double")), typedLit(mins),
      (x, mn) => x - mn)
    val codes = zip_with(shifted, typedLit(widths), (d, w) =>
      when(w === 0d, lit(0)).otherwise(
        least(lit(255L), greatest(lit(0L), floor((d * lit(255.0)) / w)))
          .cast("int")))
    emb.select(col("vec_id"), codes.as("codes"))
  }

  /** Decode codes back to x̂_i = mn_i + (code_i · w_i) / 255 — the
    * asymmetric-distance reconstruction the ADC score dots against the raw
    * probe vector. Expression shape is fixed so the oracle replays the
    * exact IEEE ops. The search scan runs the FUSED native form
    * ([[graft.functions.SqAdcDot]]); this HOF form is the executable
    * spec the parity law tests it against (and the reconstruction-error
    * law's reference).
    */
  private[graft] def sqDecode(codes: Column, mins: Seq[Double],
                              widths: Seq[Double]): Column =
    zip_with(
      zip_with(codes, typedLit(widths),
        (c, w) => (c.cast("double") * w) / lit(255.0)),
      typedLit(mins), (d, mn) => mn + d)

  /** The SQ search leg shared by the in-session and stored-index paths:
    * asymmetric ADC scan (probe_vec · decoded candidate — per-row codegen,
    * probes broadcast, zero extra exchange), per-probe top-[[SqRerank]] cut
    * (map-side WindowGroupLimit below the one probe_id exchange), exact
    * cosine re-rank of just those candidates from the raw vectors.
    * `cellFilter`, when set, prunes the code scan to the probed IVF cells
    * first (the IVF-SQ composition — [[ivfSqTopkFrame]]); the flat path
    * scans all codes.
    */
  private[graft] def searchSq(codesDf: DataFrame, mins: Seq[Double],
                              widths: Seq[Double], corpus: DataFrame,
                              probes: DataFrame,
                              cellFilter: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(codesDf.sparkSession)
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val codes = codesDf.withColumnRenamed("vec_id", "neighbor_id")
    val scanned = cellFilter match {
      // IVF-SQ: the broadcast (probe_id, cell) pairs prune the code scan
      // to the probed cells — a code row pairs only with probes that
      // probed ITS cell (the searchPq composition shape)
      case Some(pc) => codes.join(broadcast(pc), Seq("cell"))
        .join(broadcast(probes), Seq("probe_id"))
      case None => codes.crossJoin(broadcast(probes))
    }
    // the fused native decode-and-dot (graft.functions.SqAdcDot): one
    // codegen loop per (probe, code-row) pair — bit-identical to
    // vec_dot(probe, sqDecode(codes)) (parity law-tested), minus two
    // intermediate arrays and per-element interpreted lambdas
    val cands = scanned
      .withColumn("approx",
        call_function("sq_adc_dot", col("probe_vec"), col("codes"),
          typedLit(mins), typedLit(widths)))
      .withColumn("arnk", row_number().over(wApprox))
      .filter(col("arnk") <= SqRerank)
      .select("probe_id", "neighbor_id")
    exactCosineRerank(cands, corpus, probes)
  }

  /** Registered query: SQ8-approximate top-k with exact re-rank over the
    * standard probe set (vec_id < 5 — recall directly comparable to
    * [[knnCosineTopk]]/[[pqCosineTopk]]).
    */
  def sqCosineTopk(s: SparkSession, d: String): DataFrame =
    sqTopkFrame(s, d).orderBy("probe_id", "rnk")

  /** Recall@k of the SQ8 retrieval against the exact flat scan — the
    * standard ANN evaluation, as a GATED measurement: per probe,
    * |approx top-k ∩ exact top-k| · 10⁶ div k, exact integers. Both
    * sides are individually hash-gated queries; this gate proves the
    * EVALUATION arithmetic (the number a quantization-tuning loop
    * trusts), split-style: the engine materializes the approx set
    * ([[graft.OracleInputs]]), the oracle recomputes the exact side and
    * the intersection itself.
    *
    * Scale shape: both searches are the existing probe-bounded paths;
    * the intersection is a (probe, neighbor)-keyed semi-join over
    * probes×k rows. Gate `q_ann_recall`.
    */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val exact = knnCosineTopk(s, d).select("probe_id", "neighbor_id")
    val approx = graft.OracleInputs.checkpoint(
      sqTopkFrame(s, d).select("probe_id", "neighbor_id"),
      d, "ann_recall_sq")
    val k = exact.groupBy("probe_id").agg(count(lit(1)).as("k"))
    val matched = exact
      .join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
    k.join(matched, Seq("probe_id"), "left")
      .select(col("probe_id"), col("k"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        expr("coalesce(n_match, 0L) * 1000000 div k").as("recall_ppm"))
      .orderBy("probe_id")
  }

  private[graft] def sqTopkFrame(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = indexable(t(s, d, "embeddings"))
    val (mins, widths) = sqParams(emb)
    searchSq(sqEncode(emb, mins, widths), mins, widths, emb, probesOf(emb))
  }

  /** Stored params → the (mins, widths) the encode/decode inline as
    * literals. `dims` rows — index metadata, not data.
    */
  private[graft] def loadSqParams(s: SparkSession, db: String,
                                  table: String = SqParamsTable): (Seq[Double], Seq[Double]) = {
    val rows = s.table(s"`$db`.`$table`")
      .select("dim", "mn", "width").collect().sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  // IVF-SQ — the coarse quantizer prunes WHICH code rows the scan reads,
  // SQ8 compresses WHAT it reads: the high-recall serving point between
  // IVF-flat (exact scores, full-width vectors in the index) and IVF-PQ
  // (32× codes, coarse scores). Because the SQ score is near-exact (one
  // 8-bit level per dim), the probe budget is plain [[adaptiveProbe]] —
  // no [[IvfPqProbeSlack]] needed; recall matches exact-scoring IVF at
  // the same budget (spec-asserted).

  /** Names of the stored IVF-SQ index tables ([[AnnFamily.IvfSq]]). */
  val IvfSqCodesTable = "ivfsq_codes"
  val IvfSqCentroidsTable = "ivfsq_centroids"
  val IvfSqParamsTable = "ivfsq_params"

  /** Registered query: IVF-pruned SQ8 top-k with exact re-rank — trains
    * the coarse quantizer and the per-dim ranges in-session (the oracle
    * replays the retrieved set through the shared exact-cosine gate).
    */
  def ivfSqCosineTopk(s: SparkSession, d: String): DataFrame =
    graft.OracleInputs.checkpoint(ivfSqTopkFrame(s, d), d, "ivfsq_topk")
      .orderBy("probe_id", "rnk")

  private[graft] def ivfSqTopkFrame(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = indexable(t(s, d, "embeddings"))
    val (assignments, centroids) = ivfIndex(emb)
    val (mins, widths) = sqParams(emb)
    val celled = sqEncode(emb, mins, widths)
      .join(assignments.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val probes = probesOf(emb)
    val probedCells = probeNearestCells(centroids, probes,
        adaptiveProbe(centroids.count()))
      .select("probe_id", "cell")
    searchSq(celled, mins, widths, emb, probes, cellFilter = Some(probedCells))
  }

  /** IVF-PQ — the canonical 100 TB ANN composition: the IVF coarse
    * quantizer prunes WHICH code rows the ADC scan reads (nProbe of
    * nCells cells), PQ compresses WHAT it reads (M small ints per row).
    * The flat-PQ scan is linear in the corpus per probe batch; cell
    * pruning cuts it to ~nProbe/nCells of that, which is what makes the
    * memory-bound regime's scan tractable at corpus scale. Codes are of
    * the RAW vectors (IVFFlat-style, not residual-encoded): with the
    * exact re-rank on top, the approximate score only has to get the
    * candidate SET right, and raw-vector codes keep the encode
    * shuffle-free and the oracle replayable.
    */
  /** IVF-PQ probe budget = [[adaptiveProbe]] (the √nCells query-search
    * law) × this slack factor: the ADC score is approximate ON TOP of the
    * cell pruning, so candidate sets need more cells than exact-scoring
    * IVF for the exact re-rank to recover the same recall (measured at
    * the fixture: recall@5 0.52 at the bare IVF budget, ≥ 0.6 — the
    * flat-PQ floor — at 2×).
    */
  val IvfPqProbeSlack = 2

  def ivfPqCosineTopk(s: SparkSession, d: String): DataFrame =
    graft.OracleInputs.checkpoint(ivfPqTopkFrame(s, d), d, "ivfpq_topk")
      .orderBy("probe_id", "rnk")

  /** Names of the stored IVF-PQ index tables ([[AnnFamily.IvfPq]]). */
  val IvfPqCodesTable = "ivfpq_codes"
  val IvfPqCentroidsTable = "ivfpq_centroids"
  val IvfPqCodebooksTable = "ivfpq_codebooks"

  /** The serving scan of a cell-partitioned code table, statically pruned
    * to the probed cells: the IN-list on the partition column shows up in
    * the scan's `PartitionFilters` — file-level pruning guaranteed at
    * plan time, not left to runtime dynamic partition pruning. The
    * per-probe cell JOIN downstream still restricts each probe to its own
    * cells.
    */
  private def prunedCodes(s: SparkSession, table: String,
                          cells: Seq[Int]): DataFrame =
    s.table(table).filter(col("cell").isin(cells: _*))

  /** Probed (probe_id, cell) pairs COLLECTED once — bounded driver
    * metadata (≤ probes × budget ints, the serving contract's query-sized
    * probe set) — and rebuilt as a LOCAL relation plus the distinct cell
    * list. The serve paths consume the same rows twice (the static
    * partition IN-list and the broadcast cellFilter join); collecting
    * once runs the centroid-scoring job once per serve instead of twice.
    */
  private def collectProbeCells(s: SparkSession, centroids: DataFrame,
                                probes: DataFrame,
                                budget: Int): (DataFrame, Seq[Int]) = {
    import s.implicits._
    val rows = probeNearestCells(centroids, probes, budget)
      .select("probe_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    (rows.toDF("probe_id", "cell"), rows.map(_._2).distinct)
  }

  private[graft] def ivfPqTopkFrame(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = indexable(t(s, d, "embeddings"))
    val subDim = OracleDims / PqSubspaces
    val (assignments, centroids) = ivfIndex(emb)
    val (codesDf, books) = pqIndex(emb, subDim)
    // codes gain their coarse cell — the composed index row is
    // (cell, vec_id, code_0..M): partition pruning key + compressed payload
    val celled = codesDf.join(
      assignments.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val probes = probesOf(emb)
    val probedCells = probeNearestCells(centroids, probes,
        IvfPqProbeSlack * adaptiveProbe(centroids.count()))
      .select("probe_id", "cell")
    searchPq(celled, books, emb, probes, subDim, cellFilter = Some(probedCells))
  }

  // ───────────────────── stored ANN index lifecycle ─────────────────────
  // Every stored family (AnnFamily.All) is built, appended, served and
  // refreshed by the functions below: the paper's stored model, built on
  // a cron, appended between builds and served from storage.

  private def stored(s: SparkSession, db: String, table: String): DataFrame =
    s.table(s"`$db`.`$table`")

  /** Table-name suffixes of the slices family `f` stores in `db`, read
    * off the catalog: `Seq("")` for the single index (unsuffixed names),
    * else `_0.._S-1` — the contiguous run of shard tables, so a partially
    * built grid is read up to its first gap. Empty when the family is
    * absent.
    */
  private[graft] def layout(s: SparkSession, db: String, f: AnnFamily): Seq[String] = {
    val sfx = storedSlices(s, db, f)
    if (sfx.contains("")) Seq("") else sfx
  }

  /** Every slice suffix of `f` in `db`: the single index and the shard run
    * (a build drops whichever one it did not write).
    */
  private def storedSlices(s: SparkSession, db: String, f: AnnFamily): Seq[String] = {
    val names = if (!s.catalog.databaseExists(db)) Set.empty[String]
      else s.catalog.listTables(db).collect().map(_.name).toSet
    Seq("").filter(x => names(f.codesTable + x)) ++ Iterator.from(0)
      .map(i => s"_$i").takeWhile(x => names(f.codesTable + x))
  }

  private def storedLayout(s: SparkSession, db: String, f: AnnFamily,
                           caller: String): Seq[String] = {
    val sfx = layout(s, db, f)
    require(sfx.nonEmpty, s"$caller: no stored ${f.name} index in `$db` — " +
      "build one (VectorOps.build) first")
    sfx
  }

  /** Train-once: train family `f` over `vectors` and land its tables, so
    * any later session (or a scheduled refresh, [[refreshEntry]]) serves
    * from storage without retraining. `nShards` = 1 is the single index
    * under the unsuffixed names. S > 1 builds S independent indexes over
    * the deterministic hash slices of [[foreachShardSlice]], suffixed
    * `_0.._S-1`: the single-index ceiling is the Lloyd's training corpus
    * and its driver-resident centroid matrix, and S slices relax it
    * S-fold without widening the driver; serving probes every slice and
    * merges by exact cosine, so the self-hit guarantee and recall compose.
    *
    * Coarse quantizers size their grid by [[adaptiveIvfCells]]; the PQ
    * sub-vector width is the vectors' dimension / [[PqSubspaces]]. Codes
    * of a cell-partitioned family are stored PARTITIONED BY cell, so a
    * serving scan reads only the probed cells' partitions. A rebuild in
    * another shape drops the earlier layout's tables.
    */
  def build(f: AnnFamily, vectors: DataFrame, db: String, nShards: Int = 1): Unit = {
    val built = if (nShards == 1) Seq("") else (0 until nShards).map(sh => s"_$sh")
    foreachShardSlice(nShards, vectors, Some(s"build(${f.name})")) {
      (sh, slice) => buildSlice(f, slice, db, built(sh))
    }
    // the catalog is the layout: drop the slices an earlier build of
    // another shape left, so serve and append never read them
    val s = vectors.sparkSession
    for (x <- storedSlices(s, db, f).diff(built); t <- f.tables)
      s.sql(s"DROP TABLE IF EXISTS `$db`.`$t$x`")
  }

  private def buildSlice(f: AnnFamily, vectors: DataFrame, db: String,
                         sfx: String): Unit = {
    import vectors.sparkSession.implicits._
    val emb = indexable(vectors)
    val coarse = f.centroidsTable.map(_ =>
      ivfIndex(emb, adaptiveIvfCells(emb.count())))
    def withCells(codes: DataFrame): DataFrame = coarse.fold(codes)(c =>
      codes.join(c._1.select(col("vec_id"), col("cell")), Seq("vec_id")))
    val (codes, params) = f.code match {
      // the inverted lists are the codes: (vec_id, cell, raw vector)
      case AnnCode.Flat => (coarse.get._1, None)
      case AnnCode.Sq8(_) =>
        val (mins, widths) = sqParams(emb)
        (withCells(sqEncode(emb, mins, widths)), Some(
          mins.indices.map(i => (i, mins(i), widths(i))).toDF("dim", "mn", "width")))
      case AnnCode.Pq(_) =>
        val dims = emb.select(size(col("embedding"))).head.getInt(0)
        val (pq, books) = pqIndex(emb, dims / PqSubspaces)
        (withCells(pq), Some(books.toSeq.flatMap { case (m, cents) =>
          cents.zipWithIndex.map { case (c, k) => (m, k, c) }
        }.toDF("m", "cell", "centroid")))
    }
    graft.store.Warehouse.saveModel(codes, db, f.codesTable + sfx,
      partitionCols = if (f.cellPartitioned) Seq("cell") else Nil)
    for ((_, cents) <- coarse; table <- f.centroidsTable)
      graft.store.Warehouse.saveModel(cents, db, table + sfx)
    for (p <- params; table <- f.code.paramsTable)
      graft.store.Warehouse.saveModel(p, db, table + sfx)
  }

  /** Scheduled rebuild of a stored family on its cron cadence — search
    * always reads the stored tables; training cost is paid on the
    * schedule, not per query, and the rebuild bounds the parameter drift
    * the frozen-parameter appends accumulate. One fire rebuilds every
    * slice.
    */
  def refreshEntry(f: AnnFamily, id: String, cronExpr: String, db: String,
                   vectors: SparkSession => DataFrame,
                   nShards: Int = 1): graft.pipeline.ScheduleRunner.Entry = {
    val sharded = nShards > 1
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => build(f, vectors(s), db, nShards),
      name = s"${f.name}${if (sharded) "_sharded" else ""}_index_refresh",
      target = s"$db.${f.codesTable}${if (sharded) "*" else ""}",
      tags = Map("pipeline" -> "ann-index"))
  }

  /** Serve top-k for the probe set (vec_id < 5 — recall directly
    * comparable to [[knnCosineTopk]]) from the stored family: no training
    * anywhere in the query path. Each slice answers from its own tables
    * (coarse families score the stored centroids and read only the probed
    * cells' code partitions — the IN-list lands in `PartitionFilters` at
    * plan time), code families re-rank their candidates by exact cosine
    * from the raw corpus, and the slices merge into one global rank by
    * exact cosine ([[mergeShardTopk]] — no per-slice calibration; one
    * slice's merge is that slice's top-5).
    */
  def topkFromIndex(f: AnnFamily, s: SparkSession, d: String,
                    db: String): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db) // cross-session append visibility
    val sfx = storedLayout(s, db, f, "topkFromIndex")
    val emb = indexable(t(s, d, "embeddings"))
    val probes = probesOf(emb)
    mergeShardTopk(sfx.map(x => sliceHits(f, s, db, x, sfx.size, emb, probes)))
  }

  /** One slice's serving hits: IVF-flat's exact-cosine candidates within
    * the probed cells, or a code family's exact-re-ranked top-5. The cell
    * budget is the √nCells query law × the √S slice-noise factor
    * ([[shardTopkBudget]]) × the family's probe slack.
    */
  private def sliceHits(f: AnnFamily, s: SparkSession, db: String, sfx: String,
                        nSlices: Int, emb: DataFrame,
                        probes: DataFrame): DataFrame = {
    val codes = f.codesTable + sfx
    val cells = f.centroidsTable.map { table =>
      val cents = stored(s, db, table + sfx)
      (cents, f.probeSlack * shardTopkBudget(nSlices, cents.count()))
    }
    // a code family scans the probed cells' partitions, or every code
    lazy val (scan, cellFilter) = cells match {
      case Some((cents, budget)) =>
        val (probed, hit) = collectProbeCells(s, cents, probes, budget)
        (prunedCodes(s, s"`$db`.`$codes`", hit), Some(probed))
      case None => (stored(s, db, codes), None)
    }
    f.code match {
      case AnnCode.Flat =>
        val (cents, budget) = cells.get
        searchIvfCandidates(stored(s, db, codes),
          probeNearestCells(cents, probes, budget), largeProbeSide = false)
      case AnnCode.Sq8(params) =>
        val (mins, widths) = loadSqParams(s, db, params + sfx)
        searchSq(scan, mins, widths, emb, probes, cellFilter)
      case AnnCode.Pq(codebooks) =>
        val books = loadPqBooks(s, db, codebooks + sfx)
        searchPq(scan, books, emb, probes, books(0).head.size, cellFilter)
    }
  }

  /** Per-probe candidate volume across the IVF slice merge — the skew
    * evidence for the sharded search: the volume per probe must stay
    * ~Σ slices' probed-cell occupancies, never concentrate on one key.
    */
  private[graft] def shardedCandidatesPerProbe(s: SparkSession, d: String,
                                               db: String): DataFrame = {
    val f = AnnFamily.Ivf
    val sfx = storedLayout(s, db, f, "shardedCandidatesPerProbe")
    val emb = indexable(t(s, d, "embeddings"))
    sfx.map(x => sliceHits(f, s, db, x, sfx.size, emb, probesOf(emb)))
      .reduce(_ unionByName _)
      .groupBy("probe_id").agg(count(lit(1)).as("n_cands"))
  }

  /** Append-only growth between builds — the band index's
    * [[IncrementalDedup.appendBatch]] contract: new vectors route to
    * their hash slice (the build's own [[foreachShardSlice]] law, so
    * membership never drifts), are assigned against that slice's STORED
    * centroids and encoded with its STORED codebooks/ranges (zero training
    * jobs), and append to its code table, so the index serves the grown
    * corpus immediately. Exact under frozen parameters: the appended
    * index is bit-equal to encoding the union at the same parameters;
    * drift of the parameters themselves is bounded by the scheduled
    * rebuild ([[refreshEntry]]). SQ values outside the frozen range
    * saturate ([[sqEncode]]).
    *
    * Row-level IDEMPOTENT ([[freshOnly]]): a streaming retry after a
    * mid-batch crash re-appends exactly the missing rows
    * ([[graft.pipeline.VectorIngest]]'s recovery path). A duplicated code
    * row would be a duplicated CANDIDATE the exact re-rank does not
    * collapse, so this is a correctness guard, not an optimization.
    */
  def append(f: AnnFamily, s: SparkSession, db: String, vectors: DataFrame): Unit = {
    val sfx = storedLayout(s, db, f, "append")
    foreachShardSlice(sfx.size, vectors)((sh, slice) =>
      appendSlice(f, s, db, sfx(sh), slice))
  }

  private def appendSlice(f: AnnFamily, s: SparkSession, db: String,
                          sfx: String, vectors: DataFrame): Unit = {
    val target = s"`$db`.`${f.codesTable}$sfx`"
    val fresh = freshOnly(s, target, indexable(vectors))
    val codes = f.code match {
      case AnnCode.Flat => fresh.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      case AnnCode.Sq8(params) =>
        val (mins, widths) = loadSqParams(s, db, params + sfx)
        sqEncode(fresh, mins, widths)
      case AnnCode.Pq(codebooks) =>
        val books = loadPqBooks(s, db, codebooks + sfx)
        pqEncode(fresh, books, books(0).head.size)
    }
    val rows = f.centroidsTable.fold(codes)(table => codes.join(
      assignToCells(indexableVecs(fresh), stored(s, db, table + sfx)), "vec_id"))
    rows.select(s.table(target).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(target)
  }

  /** Corpus×corpus semantic dedup over the stored IVF index: the
    * scheduled-maintenance posture — the quantizer trains on the refresh
    * cadence, and the (possibly far more frequent) dedup sweep reads the
    * stored inverted lists. Every stored vector probes EVERY slice with
    * the large-probe SALTED search (cross-slice duplicate pairs would
    * otherwise be invisible — hash slicing deliberately separates equal
    * content carrying different ids), and the per-slice candidates union
    * before the exact-cosine threshold, canonicalization and distinct.
    *
    * Budget: the FIXED base [[IvfProbe]] × √S ([[shardProbeBudget]]) —
    * linear candidate volume with an S× probe fan-out (see
    * [[adaptiveProbe]]). An exact duplicate pair always surfaces,
    * whatever its slices. The single index matches
    * [[ivfSemanticDedupPairs]] over the same rows at the same cell count.
    */
  def ivfSemanticDedupFromIndex(s: SparkSession, db: String,
                                threshold: Double = CosineDupThreshold): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db) // cross-session append visibility
    val f = AnnFamily.Ivf
    val sfx = storedLayout(s, db, f, "ivfSemanticDedupFromIndex")
    val lists = sfx.map(x => stored(s, db, f.codesTable + x))
    val probes = lists.map(_.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_vec"))).reduce(_ unionByName _)
    dedupPairs(sfx.zip(lists).map { case (x, l) =>
      searchIvfCandidates(l,
        probeNearestCells(stored(s, db, f.centroidsTable.get + x), probes,
          shardProbeBudget(sfx.size)),
        largeProbeSide = true)
    }.reduce(_ unionByName _), threshold)
  }
}

/** How a stored ANN family encodes a vector, and the table its encoding
  * parameters live in: the raw vector (flat — no parameters), SQ8
  * per-dimension 8-bit codes over a (dim, mn, width) table, or PQ
  * sub-vector codes over an (m, cell, centroid) codebook table.
  */
sealed abstract class AnnCode(val paramsTable: Option[String])

object AnnCode {
  case object Flat extends AnnCode(None)
  final case class Sq8(params: String) extends AnnCode(Some(params))
  final case class Pq(codebooks: String) extends AnnCode(Some(codebooks))
}

/** One stored ANN index family, as data: the code table appends grow
  * (its name keys the family everywhere — [[graft.pipeline.VectorIngest]]
  * stages, failpoints), the coarse quantizer's centroid table if it has
  * one, its code, whether the codes are partitioned by cell, and the
  * probe slack on top of the √nCells budget. Every family answers the
  * same probe-set top-5 by exact-cosine re-rank.
  */
final case class AnnFamily(name: String, codesTable: String,
                           centroidsTable: Option[String], code: AnnCode,
                           cellPartitioned: Boolean, probeSlack: Int) {
  /** Every table one slice of the family stores, codes first. */
  def tables: Seq[String] =
    codesTable +: (centroidsTable.toSeq ++ code.paramsTable)
}

object AnnFamily {
  import VectorOps._
  val Ivf = AnnFamily("ivf", IvfAssignmentsTable, Some(IvfCentroidsTable),
    AnnCode.Flat, cellPartitioned = false, probeSlack = 1)
  val Pq = AnnFamily("pq", PqCodesTable, None,
    AnnCode.Pq(PqCodebooksTable), cellPartitioned = false, probeSlack = 1)
  val Sq = AnnFamily("sq", SqCodesTable, None,
    AnnCode.Sq8(SqParamsTable), cellPartitioned = false, probeSlack = 1)
  val IvfSq = AnnFamily("ivfsq", IvfSqCodesTable, Some(IvfSqCentroidsTable),
    AnnCode.Sq8(IvfSqParamsTable), cellPartitioned = true, probeSlack = 1)
  val IvfPq = AnnFamily("ivfpq", IvfPqCodesTable, Some(IvfPqCentroidsTable),
    AnnCode.Pq(IvfPqCodebooksTable), cellPartitioned = true,
    probeSlack = IvfPqProbeSlack)

  /** The family list — the one place build, append, serve, refresh and
    * [[graft.pipeline.VectorIngest]] read it from. Ingest appends in this
    * order.
    */
  val All: Seq[AnnFamily] = Seq(Ivf, Pq, IvfPq, Sq, IvfSq)
}
