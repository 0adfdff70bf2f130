package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** IVF (inverted-file) coarse quantization: the one Lloyd's k-means
  * trainer, in-session IVF search, the nProbe tuning curve, and the
  * cell-bucketed semantic dedup / decontamination compositions. The
  * stored-index lifecycle lives with the other families in
  * [[VectorQuantPart]].
  *
  * Mixin part of [[VectorOps]] (round-12 verdict #7 file-size pass:
  * split by family — pure moves; every call site still reads
  * `VectorOps.member`).
  */
private[graft] trait VectorIvfPart extends VectorCorePart {

  /** IVF (inverted-file) approximate nearest neighbor — the data-adaptive
    * complement to the hyperplane-LSH path: a k-means coarse quantizer
    * (hand-rolled Lloyd's in DataFrame ops, deterministic) learns
    * `nCells` centroids over the corpus, every vector lands in its
    * nearest centroid's inverted list, and a query probes only the
    * `nProbe` nearest cells, running exact cosine within them.
    *
    * Scale shape: train once (the "build the index" job), then search is
    * probe×centroid scoring against a BROADCAST 16-row centroid table
    * followed by a cell-keyed equi-join into the corpus — candidates ~
    * corpus × nProbe/nCells, never corpus×corpus. Top-1 of a probe is
    * always itself (its own cell is by definition its nearest centroid).
    * No oracle (centroids are engine-trained); property-tested: self-hit
    * invariant + recall floor vs the exact brute-force path.
    */
  val IvfCells = 16
  val IvfProbe = 4

  /** Lloyd's iterations every quantizer runs (no caller varies it). */
  private val LloydIterations = 2

  /** Lloyd's k-means hand-rolled in DataFrame ops over grouped vectors
    * (vec_id, m, vec): one codebook of up to `k` centroids per group m,
    * every group trained at once with centroid key (m, cell). IVF is the
    * one-group case ([[ivfIndex]]: m = 0 over whole vectors), PQ trains
    * one group per subspace ([[pqIndex]]).
    *
    * Each iteration assigns rows to their nearest centroid through a
    * BROADCAST join against the centroid table ([[assignToCells]] —
    * min(struct) argmin, no window sort), then recomputes centroids with
    * the fixed-point exact aggregation from [[labelCentroid]] (order-
    * independent long sums → bit-deterministic across shuffles, unlike a
    * double avg). Only the centroid matrix ever reaches the driver —
    * index metadata, not data. Seeds are each group's first k rows in
    * hash order, vec_id breaking ties (two ids hashing equal would
    * otherwise make the seed depend on partition layout), so the whole
    * index is reproducible run-to-run; fewer rows than k give a smaller
    * codebook. Cells that lose all members keep their previous centroid.
    * Returns the final-centroid assignment (vec_id, m, cell) and the
    * centroids keyed (m, cell).
    */
  private[ops] def lloyd(sub: DataFrame, k: Int)
      : (DataFrame, Map[(Int, Int), Seq[Double]]) = {
    val spark = sub.sparkSession
    import spark.implicits._
    val ws = org.apache.spark.sql.expressions.Window.partitionBy("m")
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    var cents: Map[(Int, Int), Seq[Double]] = sub
      .withColumn("rk", row_number().over(ws))
      .filter(col("rk") <= k)
      .select(col("m"), (col("rk") - 1).as("cell"), col("vec"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
      .toMap
    def centroidDf = cents.toSeq
      .map { case ((m, c), v) => (m, c, v) }.toDF("m", "cell", "centroid")
    for (_ <- 1 to LloydIterations) {
      val updated = sub.join(assignToCells(sub, centroidDf), Seq("vec_id", "m"))
        .select(col("m"), col("cell"), posexplode(col("vec")).as(Seq("dim", "x")))
        .withColumn("xq", floor(col("x") * lit(1e9)).cast("bigint"))
        .groupBy("m", "cell", "dim")
        .agg(sum("xq").as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2))
            .map(r => r.getLong(3).toDouble / 1e9 / r.getLong(4)).toSeq
        }
      cents = cents ++ updated
    }
    (assignToCells(sub, centroidDf), cents)
  }

  /** (cell assignments keyed by vec_id, centroid table (cell, centroid
    * array)): the one-group [[lloyd]] over whole [[indexableVecs]].
    * Assignments persist via PlanCache — the in-process analog of writing
    * the inverted lists to a table.
    */
  def ivfIndex(vectors: DataFrame, nCells: Int = IvfCells): (DataFrame, DataFrame) = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // persist: the frame feeds the seed sample, every Lloyd's iteration
    // (twice each), and the final assignment — one scan instead of ~6
    val emb = PlanCache.swap("ivf-emb",
      indexableVecs(vectors).withColumn("m", lit(0)))
    val (assign, cents) = lloyd(emb, nCells)
    val assignments = PlanCache.swap("ivf-assignments",
      emb.join(assign, Seq("vec_id", "m"))
        .select(col("vec_id"), col("cell"), col("vec").as("embedding")))
    (assignments, cents.toSeq.map { case ((_, c), v) => (c, v) }
      .sortBy(_._1).toDF("cell", "centroid"))
  }

  /** Frozen-centroid argmin assignment of (vec_id, vec) rows against a
    * broadcast centroid table (cell, centroid) — grouped when both sides
    * carry an `m` column. The one argmin of the Lloyd's build AND the
    * incremental index appends, so an appended vector gets EXACTLY the
    * cell a rebuild at the same centroids would give it. Native codegen
    * fold; the corpus side is never exchanged.
    */
  private[graft] def assignToCells(emb: DataFrame, cDf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val groups = Seq("m").filter(emb.columns.contains)
    val keys = ("vec_id" +: groups).map(col)
    (if (groups.isEmpty) emb.crossJoin(broadcast(cDf))
     else emb.join(broadcast(cDf), groups))
      .withColumn("dist", call_function("vec_sqdist", col("vec"), col("centroid")))
      .groupBy(keys: _*)
      .agg(min(struct(col("dist"), col("cell"))).as("am"))
      .select(keys :+ col("am.cell").as("cell"): _*)
  }

  /** Names of the stored IVF index tables ([[AnnFamily.Ivf]]). */
  val IvfAssignmentsTable = "ivf_assignments"
  val IvfCentroidsTable = "ivf_centroids"

  /** Top-k cosine search through the IVF index for the probe set
    * (vec_id < 5, same contract as [[knnCosineTopk]] so recall is directly
    * comparable).
    */
  def ivfCosineTopk(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (assignments, centroids) = ivfIndex(emb)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    // split gate: WHICH neighbors the probed cells surface is
    // quantizer-dependent (rows-only), but given the materialized top-k
    // sets the cosines AND the rank order are exact — the oracle
    // recomputes both from the raw embeddings
    graft.OracleInputs.checkpoint(searchIvf(assignments, centroids, probes),
      d, "ivf_topk")
      .orderBy("probe_id", "rnk")
  }

  /** Probe-row count above which the probe side of the IVF search join is
    * too big to broadcast (probes × IvfProbe rows of id + 64-dim vector ≈
    * hundreds of MB at this limit — past it the broadcast would approach
    * the executor/driver memory ceiling). Below: broadcast-probe plan
    * (corpus streams, zero exchange). Above: salted shuffled join
    * ([[searchIvfCandidates]]).
    */
  val IvfBroadcastProbeLimit = 100000L

  /** Target corpus rows per (cell, salt) key in the large-probe shuffled
    * search join. The per-cell salt factor is ceil(occupancy / this) —
    * constant expected rows per join key regardless of corpus size or cell
    * skew, the same constant-occupancy law as [[adaptiveBandBits]].
    */
  val IvfSaltTargetRows = 4096L

  /** nProbe nearest cells per probe: scored against the broadcast centroid
    * table (nCells rows), ranked, kept — all on executors. `nProbe` above
    * the cell count degrades gracefully to probing every cell.
    */
  private[ops] def probeNearestCells(centroids: DataFrame, probes: DataFrame,
                                nProbe: Int = IvfProbe): DataFrame = {
    graft.functions.GraftFunctions.register(probes.sparkSession)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cdist").asc, col("cell").asc)
    probes.crossJoin(broadcast(centroids))
      // native fold (bit-identical) — runs probes×nCells times, which for
      // corpus-sized probe batches is another O(n×nCells) interpreted loop
      .withColumn("cdist",
        call_function("vec_sqdist", col("probe_vec"), col("centroid")))
      .withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= nProbe)
      .select(col("probe_id"), col("probe_vec"), col("cell"))
  }

  /** Exact-cosine candidates within the probed cells' inverted lists —
    * (probe_id, neighbor_id, cosine), one row per (probe, corpus vector in
    * a probed cell). Two plans by probe scale:
    *
    *  - `largeProbeSide = false` (query-style probe sets): the probe side
    *    (~probes×nProbe rows) is the BROADCAST side; the corpus-sized
    *    assignments frame must never be hash-partitioned on the
    *    nCells-value `cell` key (a SortMergeJoin there would funnel the
    *    whole corpus into ≤ nCells partitions — parallelism capped at
    *    nCells, hot cells skew).
    *  - `largeProbeSide = true` (corpus-sized probe batches, e.g. global
    *    semantic dedup): broadcasting the probe side would blow the
    *    broadcast limit, so the join shuffles BOTH sides — but on a SALTED
    *    key (cell, salt), not the raw nCells-value cell: each corpus row
    *    takes one deterministic salt in [0, saltN(cell)), each probe-cell
    *    row fans out across that cell's salts, so every (probe, corpus
    *    row) pair still meets exactly once while a hot cell's rows spread
    *    over saltN partitions. saltN comes from measured cell occupancy
    *    (an nCells-row broadcast side table), so parallelism tracks data
    *    volume instead of capping at nCells.
    */
  private[ops] def searchIvfCandidates(assignments: DataFrame, probeCells: DataFrame,
                                  largeProbeSide: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(assignments.sparkSession)
    // norms hoisted to ONCE per corpus row / probe-cell row BEFORE the
    // join: computed per candidate they'd run occupancy× redundant
    // 64-element folds (measured 3× the per-candidate cost of the dot
    // product alone). Same expression on the same values — bit-identical
    // cosines, just not recomputed.
    val corpus = assignments.select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cand_vec"))
      .withColumn("cand_l2", sqrt(sumSq(col("cand_vec"))))
    val probed = probeCells.withColumn("probe_l2", sqrt(sumSq(col("probe_vec"))))
    val joined =
      if (!largeProbeSide) corpus.join(broadcast(probed), Seq("cell"))
      else {
        val salts = assignments.groupBy("cell")
          .agg(count(lit(1)).as("cell_n"))
          .select(col("cell"), greatest(lit(1L),
            ceil(col("cell_n") / lit(IvfSaltTargetRows)).cast("bigint")).as("salt_n"))
        val corpusSalted = corpus.join(broadcast(salts), Seq("cell"))
          .withColumn("salt", pmod(xxhash64(col("neighbor_id")), col("salt_n")))
          .drop("salt_n")
        val probesSalted = probed.join(broadcast(salts), Seq("cell"))
          .select(col("cell"), col("probe_id"), col("probe_vec"), col("probe_l2"),
            explode(sequence(lit(0L), col("salt_n") - 1)).as("salt"))
        corpusSalted.join(probesSalted, Seq("cell", "salt")).drop("salt")
      }
    joined.withColumn("cosine",
      dot(col("probe_vec"), col("cand_vec"))
        / (col("probe_l2") * col("cand_l2")))
      .select("probe_id", "neighbor_id", "cosine")
  }

  /** Probe budget for QUERY-style top-k search over an index of `nCells`
    * cells. The cell count adapts to corpus size (constant occupancy), so
    * a FIXED nProbe would probe a vanishing fraction of an ever-finer
    * grid — recall decays with corpus growth exactly like the fixed
    * per-shard budget did with S (the round-7 sharded fix). √nCells is
    * the standard IVF dial: per-probe candidate volume grows only
    * √C × occupancy (≈ 16√n at held occupancy — trivial for query-sized
    * probe batches), and at the nCells floor it degrades to exactly
    * IvfProbe, so fixture-scale behavior is unchanged.
    *
    * Corpus×corpus DEDUP deliberately keeps the FIXED budget: its scale
    * contract is candidate-volume LINEARITY (n × nProbe × occupancy — a
    * √C budget would make it O(n^1.5)), and its recall guarantee (an
    * exact duplicate always pairs: same cell assignment, own cell always
    * probed) holds at any budget.
    */
  private[graft] def adaptiveProbe(nCells: Long): Int =
    math.max(IvfProbe, math.ceil(math.sqrt(nCells.toDouble)).toInt)

  /** The top-k search leg, over trained-in-session or warehouse-stored
    * index frames alike. The probe budget scales √nCells
    * ([[adaptiveProbe]]; the centroid count is an nCells-row action —
    * index metadata, not data).
    */
  private def searchIvf(assignments: DataFrame, centroids: DataFrame,
                        probes: DataFrame,
                        largeProbeSide: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    searchIvfCandidates(assignments,
        probeNearestCells(centroids, probes, adaptiveProbe(centroids.count())),
        largeProbeSide)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "neighbor_id", "cosine")
      .orderBy("probe_id", "rnk")
  }

  /** IVF nPROBE TUNING CURVE — recall against the exact top-5 and the
    * candidate volume (the cost a probed cell actually buys) at
    * nProbe ∈ {1, 2, 4, 8}: the table an operator reads to PICK the
    * probe budget instead of trusting the default — the √K serving-cost
    * law only holds if nProbe sits where recall saturates
    * ([[annRecall]]'s sibling: that gate measures ONE operating point,
    * this one the curve).
    *
    * Split gate (the [[ivfCosineTopk]] contract): which candidates each
    * probe budget surfaces is quantizer-dependent, so the per-nProbe
    * candidate frames are materialized; given them, the counts, the
    * top-k rank order and the recall arithmetic are exact and the
    * oracle replays all three from the parquet + raw embeddings.
    *
    * Scale shape: per budget one broadcast-probe candidate join
    * (corpus × nProbe/nCells rows) + a probe-keyed WindowGroupLimit;
    * the curve is 4 one-row aggregates. Gate `q_ivf_nprobe_curve`.
    */
  def ivfNprobeCurve(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (assignments, centroids) = ivfIndex(emb)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val exact = PlanCache.swap(s"ivf-curve-exact-$d",
      knnCosineTopk(s, d).select("probe_id", "neighbor_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    Seq(1, 2, 4, 8).map { np =>
      val cands = graft.OracleInputs.checkpoint(
        searchIvfCandidates(assignments,
          probeNearestCells(centroids, probes, np),
          largeProbeSide = false)
          .select("probe_id", "neighbor_id", "cosine"),
        d, s"ivf_curve_cand_np$np")
      val topk = cands.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5).select("probe_id", "neighbor_id")
      val hit = exact.join(topk, Seq("probe_id", "neighbor_id"),
        "left_semi").agg(count(lit(1)).as("n_hit"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(hit))
        .crossJoin(broadcast(cands.agg(count(lit(1)).as("n_candidates"))))
        .select(lit(np).as("nprobe"), col("n_candidates"), col("n_exact"),
          col("n_hit"),
          expr("n_hit * 1000000L div n_exact").as("recall_ppm"))
    }.reduce(_ unionByName _).orderBy("nprobe")
  }

  /** Auto-thresholded search over a stored or in-session index: counts the
    * probe side (one scan — callers that already know the probe scale call
    * the explicit-flag paths and stay lazy) and picks the broadcast plan
    * below [[IvfBroadcastProbeLimit]] probes, the salted shuffled plan
    * above it.
    */
  def ivfSearch(assignments: DataFrame, centroids: DataFrame,
                probes: DataFrame): DataFrame =
    searchIvf(assignments, centroids, probes,
      largeProbeSide = probes.count() > IvfBroadcastProbeLimit)

  /** Corpus rows per cell the ADAPTIVE quantizer targets for corpus-sized
    * probe workloads: with a FIXED cell count, corpus×corpus search is
    * quadratic (candidates = n × nProbe × n/nCells); holding occupancy
    * near a constant keeps candidates ~linear — the same
    * constant-occupancy law as [[adaptiveBandBits]]. The cap bounds the
    * driver-resident centroid matrix (IvfMaxCells × 64 doubles ≈ 2 MB) and
    * the per-iteration centroid-update collect; past it (n > ~1M vectors
    * per index) occupancy grows again — shard the index, don't widen the
    * driver.
    */
  val IvfTargetCellOccupancy = 256L
  val IvfMaxCells = 4096
  private[graft] def adaptiveIvfCells(n: Long): Int =
    math.min(IvfMaxCells, math.max(IvfCells,
      (n / IvfTargetCellOccupancy).toInt))

  /** Global semantic dedup through the IVF index — the probe set IS the
    * corpus, so this runs the large-probe salted-shuffle plan
    * ([[searchIvfCandidates]]), never a corpus-sized broadcast, over an
    * index whose cell count adapts to the corpus ([[adaptiveIvfCells]] —
    * fixed cells would make corpus×corpus quadratic). Emits candidate
    * pairs whose EXACT cosine clears `threshold`, canonicalized
    * (vec_a < vec_b) and deduplicated across the two probing directions
    * (the two directions compute bit-identical cosines: pairwise products
    * commute and the fold order is fixed). Approximate recall (a pair is
    * only seen if one endpoint probes the other's cell — identical
    * vectors always pair: same assignment, and a probe's own cell is
    * always probed), deterministic output (deterministic quantizer +
    * exact in-order cosine folds).
    */
  def ivfSemanticDedup(s: SparkSession, d: String,
                       threshold: Double = CosineDupThreshold): DataFrame =
    // split gate like nearDupCosine: pair discovery is quantizer-dependent
    // (rows-only); the materialized pairs' cosines + threshold are oracled
    graft.OracleInputs.checkpoint(
      ivfSemanticDedupPairs(t(s, d, "embeddings"), threshold),
      d, "ivf_dedup_pairs")
      .orderBy("vec_a", "vec_b")

  /** [[ivfSemanticDedup]] over any (vec_id, embedding) frame. The corpus
    * count that sizes the adaptive cell grid is one scan — noise next to
    * the index build's own seed-sample and Lloyd's jobs.
    */
  def ivfSemanticDedupPairs(vectors: DataFrame, threshold: Double,
                            nCells: Option[Int] = None): DataFrame = {
    val cells = nCells.getOrElse(adaptiveIvfCells(vectors.count()))
    val (assignments, centroids) = ivfIndex(vectors, cells)
    val probes = vectors.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_vec"))
    dedupPairs(searchIvfCandidates(assignments,
      probeNearestCells(centroids, probes), largeProbeSide = true), threshold)
  }

  /** Candidate (probe, neighbor) cosines → canonical (vec_a < vec_b) pairs
    * clearing `threshold`, deduplicated across the two probing directions.
    */
  private[ops] def dedupPairs(cands: DataFrame, threshold: Double): DataFrame =
    cands
      .filter(col("probe_id") =!= col("neighbor_id")
        && col("cosine") >= threshold)
      .select(least(col("probe_id"), col("neighbor_id")).as("vec_a"),
        greatest(col("probe_id"), col("neighbor_id")).as("vec_b"),
        col("cosine"))
      .distinct()
      .orderBy("vec_a", "vec_b")

  /** Semantic decontamination — the embedding-space twin of the n-gram
    * decontam probe (same eval convention: vec_id % 100 = 7): corpus
    * vectors whose cosine against ANY eval vector clears `threshold` are
    * flagged with their eval-hit count — eval examples paraphrased into
    * the training corpus evade n-gram matching but not embedding
    * similarity (the standard reason pretraining pipelines run both).
    *
    * Scale shape: the EVAL side broadcasts (eval sets are bounded — the
    * decontam contract, like the broadcast gram set) and one corpus scan
    * computes the native codegen cosine fold per (corpus, eval) pair —
    * n × |eval| work with no shuffle before the per-vector aggregation.
    * Integer output (hit counts); the cosines themselves are the
    * bit-identical in-order folds the oracle replays, so the threshold
    * boundary cannot drift between engines.
    */
  def semanticDecontam(s: SparkSession, d: String,
                       threshold: Double = 0.3): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings")
    val ev = emb.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("eval_id"), col("embedding").as("eval_vec"))
    emb.filter(col("vec_id") % 100 =!= 7)
      .crossJoin(broadcast(ev))
      .withColumn("cosine", dot(col("embedding"), col("eval_vec")) /
        (sqrt(sumSq(col("embedding"))) * sqrt(sumSq(col("eval_vec")))))
      .filter(col("cosine") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"))
      .orderBy("vec_id")
  }

  /** Cluster-balanced corpus downsampling: keep a deterministic k per IVF
    * cell — the coverage-preserving subsample (every embedding-space
    * region keeps representatives; uniform sampling would thin sparse
    * regions to zero exactly where diversity lives). Within each cell the
    * pick is the md5(vec_id) permutation with id tie-break — the SAME
    * engine-independent sampling order as the stratified text sampler, so
    * the oracle replays it verbatim over the materialized assignments.
    * Split gate: cell assignment is quantizer-specific (rows-only,
    * materialized); the per-cell permutation top-k is hash-gated.
    *
    * Scale shape: assignment inherits the IVF build (broadcast centroids,
    * corpus never exchanged on the cell key); the top-k filter compiles
    * to WindowGroupLimit — map-side per-cell limits before the one hash
    * exchange on `cell`. Never a global sort.
    */
  def clusterBalancedSample(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val (assignments, _) = ivfIndex(t(s, d, "embeddings"))
    val assign = graft.OracleInputs.checkpoint(
      assignments.select("vec_id", "cell"), d, "cell_assignments")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    assign
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .select("cell", "sample_rank", "vec_id")
      .orderBy("cell", "sample_rank")
  }

  private[graft] def shardProbeBudget(nShards: Int): Int =
    IvfProbe * ceilSqrt(nShards)


  /** Per-shard budget for the sharded TOP-K search: the √S shard-noise
    * factor on top of the √nCells query-search base ([[adaptiveProbe]]) —
    * both corrections compose, and at the cell-count floor this reduces
    * to exactly [[shardProbeBudget]]. The sharded DEDUP stays on the
    * fixed-base [[shardProbeBudget]] for the linearity contract
    * (see [[adaptiveProbe]]).
    */
  private[graft] def shardTopkBudget(nShards: Int, shardCells: Long): Int =
    adaptiveProbe(shardCells) * ceilSqrt(nShards)
}

