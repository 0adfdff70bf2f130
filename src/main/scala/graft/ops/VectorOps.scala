package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Embedding-similarity operators over `embeddings` (64-dim float vectors).
  *
  * Numeric determinism contract: every reduction is an explicit *in-order
  * left fold* in double precision (float→double widening is exact), so the
  * DuckDB oracle can reproduce the bits with the same fold. No `round()`
  * fudging needed.
  *
  * Scale posture: brute-force top-k is a broadcast-probe block join
  * (small probe set ships to executors; the corpus streams — no corpus×corpus
  * pair materialization, no driver collect). The LSH-bucketed variant for
  * corpus-scale all-neighbors runs the same expressions keyed by hash bucket
  * (see lshCosineBuckets).
  */

/** Core shared by the Vector*Part mixins: the in-order dot-product
  * folds, brute-force/LSH baselines, shared probe/rerank/shard helpers
  * and the banded near-dup pair search.
  */
private[graft] trait VectorCorePart {

  /** Σ x_i² as an in-order double fold — the native codegen
    * [[graft.functions.VecDot]] loop (bit-identical to the
    * transform+aggregate HOF chain it replaced; callers must have
    * registered GraftFunctions on the session).
    */
  private[ops] def sumSq(v: Column): Column = call_function("vec_dot", v, v)

  private[ops] def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Per-label embedding centroids: posexplode → groupBy(label, dim) with
    * decimal-exact sums (order-independent) → mean. The scale shape for
    * class statistics over embedding corpora — the shuffle carries
    * labels×dims partials via map-side combine, never whole vectors.
    */
  def labelCentroid(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim_idx", "x")))
      // fixed-point via floor (identical IEEE op in every engine — decimal
      // casts differ in tie-rounding mode across engines): exact long sums,
      // order-independent
      .withColumn("xq", floor(col("x").cast("double") * lit(1e9)).cast("bigint"))
      .groupBy("label", "dim_idx")
      .agg(count(lit(1)).as("cnt"), sum("xq").as("xsum"))
      .select(col("label"), col("dim_idx"),
        (col("xsum").cast("double") / lit(1e9) / col("cnt")).as("centroid"))
      .orderBy("label", "dim_idx")

  /** L2 norm + first normalized component per vector. */
  def embedNorm(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, d, "embeddings")
      .withColumn("l2_norm", sqrt(sumSq(col("embedding"))))
      .select(
        col("vec_id"), col("l2_norm"),
        (element_at(col("embedding"), 1).cast("double") / col("l2_norm"))
          .as("first_component_norm"))
      .orderBy("vec_id")
  }

  /** Registered profile over the embeddings table — the array-typed
    * complement of the scalar profiler: dimension count (a ragged corpus
    * surfaces as min ≠ max) and the squared L2 norm as a fixed-point
    * integer (µ-scale floor of the bit-exact [[sumSq]] fold — a raw double
    * min/max would stringify with engine-specific float formatting and
    * break the hash gate; zero/exploding norms surface in the integer
    * bounds just as well). One scan, same shared-Expand shape as the
    * scalar profile.
    */
  def profileEmbeddings(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Relational.profile(
      t(s, d, "embeddings")
        .withColumn("emb_dim", size(col("embedding")))
        .withColumn("norm_sq_micro",
          floor(sumSq(col("embedding")) * lit(1e6)).cast("bigint")),
      Seq("vec_id", "label", "emb_dim", "norm_sq_micro"))
  }

  /** Brute-force cosine top-k: probe set (vec_id < 5) broadcast against the
    * full corpus; rank by exact-fold cosine, ties by neighbor id. Top-1 of
    * each probe is itself (self-check invariant).
    */
  def knnCosineTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cand_vec"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus.crossJoin(broadcast(probes))
      .withColumn("cosine",
        dot(col("probe_vec"), col("cand_vec"))
          / (sqrt(sumSq(col("probe_vec"))) * sqrt(sumSq(col("cand_vec")))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "neighbor_id", "cosine")
      .orderBy("probe_id", "rnk")
  }

  /** Deterministic hyperplane weight — delegates to the native sketch's
    * weight matrix so the DataFrame path and the codegen expression can
    * never drift (graft.functions.HyperplaneSketch.planeWeight).
    */
  private[graft] def planeWeight(p: Int, i: Int): Double =
    graft.functions.HyperplaneSketch.planeWeight(p, i)

  private[ops] val MaxDims = graft.functions.HyperplaneSketch.MaxDims

  /** Sign-bit sketch: ONE native codegen expression per row
    * (graft.functions.HyperplaneSketch) producing all 64 plane bits packed
    * in a long plus the L2 norm. Replaces the former explode → weights-join
    * → 65-column hash aggregation: same bit values (identical fixed-point
    * terms, exact long addition), but zero shuffles and a codegen surface
    * of one tight loop instead of 65 aggregate columns (~10 s of one-time
    * janino compile at 64 planes).
    * Output: (vec_id, sketch: long, l2: double).
    */
  private[ops] def sketch(vectors: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    // Null/empty embeddings have no sketch (same semantics as the former
    // explode→groupBy path, which dropped them for lack of rows). Without
    // this, an empty array would sketch to all-ones bits (zero dots pass
    // `>= 0`) and flood one bucket in every band.
    indexable(vectors)
      .select(col("vec_id"), expr("hyperplane_sketch(embedding)").as("sk"))
      .select(col("vec_id"), col("sk.bits").as("sketch"), col("sk.l2").as("l2"))
  }

  /** Scale path for corpus×corpus near-neighbor search: random-hyperplane
    * LSH sign-bit sketch, so candidate pairs come from a bucket-keyed
    * equi-join exactly like MinHash bands. Returns (bucket, vec_id)
    * assignments; the join-side composition is nearDupCosine below.
    */
  val NumPlanes = 16
  def lshCosineBuckets(s: SparkSession, d: String): DataFrame =
    // bucket = the sketch's low NumPlanes bits (plane p at bit p — the
    // same key the former per-bit shiftleft sum produced)
    sketch(t(s, d, "embeddings"))
      .select(col("vec_id"),
        col("sketch").bitwiseAND(lit((1L << NumPlanes) - 1)).as("bucket"))
      .orderBy("vec_id")

  /** Embedding-cosine near-dup detection, banded: disjoint sign-bit slices
    * of the sketch generate candidate pairs through a band-keyed equi-join
    * (OR over bands boosts recall like MinHash banding), then the *exact*
    * cosine confirms ≥ threshold. Band width adapts to corpus size
    * ([[adaptiveBandBits]]) so candidate volume stays linear; DupBands ×
    * BitsPerBand is the fixture-scale floor. Never corpus×corpus: the
    * shuffle is keyed by (band, band_key), candidates are verified per
    * bucket. Probabilistic recall, deterministic output (fixed hash planes).
    */
  val DupBands = 8
  val BitsPerBand = 8

  /** The default exact-cosine duplicate threshold, shared by every dedup
    * entry point AND interpolated into their oracle SQL (a literal drift
    * between engine and oracle must be impossible).
    */
  val CosineDupThreshold = 0.45

  /** SPLIT ORACLE GATE (same family as the survivor queries): WHICH pairs
    * surface is sketch-recall-dependent (rows-only), but each pair's
    * cosine and the threshold verdict are exact — the query materializes
    * its result ([[graft.OracleInputs]]) and the oracle recomputes every
    * pair's cosine from the raw embeddings with the same in-order fold,
    * re-applying the threshold: a wrong cosine or a below-threshold pair
    * hash-mismatches.
    */
  def nearDupCosine(s: SparkSession, d: String, threshold: Double = CosineDupThreshold): DataFrame =
    graft.OracleInputs.checkpoint(
      nearDupPairs(t(s, d, "embeddings"), threshold), d, "neardup_pairs")
      .orderBy("vec_a", "vec_b")

  /** One-call SEMANTIC dedup canon — the embedding-side mirror of
    * graft.ops.TextOps.dedupSurvivors: near-dup cosine pairs → connected
    * components → cluster-min canon per vector. Same composition law:
    * transitive closure canonicalizes what pairwise output can't (A~B,
    * B~C puts A,B,C in ONE cluster even when A~C is below threshold).
    * The PAIR set is rows-only (hyperplane sketch family) and
    * property-tested like the text side; the components → cluster-min
    * canon derivation is hash-gated against DuckDB's recursive-CTE
    * closure over the materialized pairs
    * ([[graft.OracleInputs.checkpoint]] — same split gate as
    * [[graft.ops.TextOps.dedupSurvivors]]).
    */
  def semanticSurvivors(s: SparkSession, d: String,
                        threshold: Double = CosineDupThreshold): DataFrame = {
    val vecs = t(s, d, "embeddings")
    GraphOps.survivorsOf(
      graft.OracleInputs.checkpoint(
        nearDupPairs(vecs, threshold)
          .select(col("vec_a").as("src"), col("vec_b").as("dst")),
        d, "vec_pairs"),
      vecs.select(col("vec_id").as("id")),
      idName = "vec_id")
  }

  /** The one definition of an indexable vector: a non-null, non-empty
    * embedding. It is a policy, not a convenience: a null seed centroid
    * would win every NULLS-FIRST argmin and collapse an IVF index to one
    * cell, and an empty array sketches to all-ones bits.
    */
  private[graft] def indexable(vectors: DataFrame): DataFrame =
    vectors.filter(col("embedding").isNotNull && size(col("embedding")) > 0)

  /** The (vec_id, vec) projection every index path assigns/encodes from:
    * [[indexable]] rows, elements cast to double.
    */
  private[ops] def indexableVecs(vectors: DataFrame): DataFrame =
    indexable(vectors).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))

  private[ops] def probesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), x => x.cast("double")).as("probe_vec"))

  /** Exact-cosine re-rank of a retrieved (probe_id, neighbor_id) candidate
    * set — the shared back half of every approximate search (PQ ADC, SQ
    * decode): only the ≤ probes × rerank-budget candidate rows touch raw
    * vectors, so the raw corpus is point-read, never scanned, in a serving
    * path.
    */
  private[ops] def exactCosineRerank(cands: DataFrame, corpus: DataFrame,
                                probes: DataFrame): DataFrame = {
    val rerank = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cand_vec"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .join(rerank, Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cosine",
        dot(col("probe_vec"), col("cand_vec"))
          / (sqrt(sumSq(col("probe_vec"))) * sqrt(sumSq(col("cand_vec")))))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "neighbor_id", "cosine")
  }

  /** Global exact-cosine re-rank over per-slice hits — the one merge of
    * every stored-index serve (one slice is the single index).
    */
  private[ops] def mergeShardTopk(perShard: Seq[DataFrame]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    perShard.map(_.select("probe_id", "neighbor_id", "cosine"))
      .reduce(_ unionByName _)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "neighbor_id", "cosine")
      .orderBy("probe_id", "rnk")
  }

  /** The idempotence probe shared by the stored-index appends: batch rows
    * whose `idCol` the target does NOT already hold within the batch's id
    * range (one bounded agg on the batch + a stats-pruned range scan of
    * the target — never a full-index anti-join). A retry after a crash
    * between writes re-lands exactly the missing rows.
    */
  private[ops] def freshOnly(s: SparkSession, target: String,
                             batch: DataFrame,
                             idCol: String = "vec_id"): DataFrame = {
    val b = batch.agg(min(idCol), max(idCol)).head
    if (b.isNullAt(0)) return batch // empty batch: nothing to dedup
    val existing = s.table(target)
      .filter(col(idCol).between(b.getLong(0), b.getLong(1)))
      .select(idCol)
    batch.join(existing, Seq(idCol), "left_anti")
  }

  /** Deterministic hash-slice iteration — the ONE definition of shard
    * membership every stored-index build and append composes, so the law
    * can never drift between build and append. One slice is the whole
    * corpus. `requireNonEmpty` names the calling BUILD: an empty hash
    * slice (corpus smaller than the shard grid) would train an empty index
    * and fail obscurely at serve time; appends pass None — a batch
    * legitimately misses some shards.
    */
  private[ops] def foreachShardSlice(nShards: Int, vectors: DataFrame,
                                requireNonEmpty: Option[String] = None)
                               (f: (Int, DataFrame) => Unit): Unit = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    for (sh <- 0 until nShards) {
      val slice = if (nShards == 1) vectors else vectors.filter(
        pmod(xxhash64(col("vec_id")), lit(nShards.toLong)) === sh)
      if (nShards > 1) requireNonEmpty.foreach(caller => require(!slice.isEmpty,
        s"$caller: shard $sh of $nShards holds no vectors — " +
          "the corpus is too small to shard this finely"))
      f(sh, slice)
    }
  }

  /** Fixture embedding dimensionality the in-session PQ queries split
    * (matches the oracle-side constant in SparkEntry; the stored builds
    * read the dimension off the vectors).
    */
  private[ops] val OracleDims = 64

  /** Per-shard probe budget for the sharded corpus DEDUP. A shard's
    * quantizer trains on n/S samples, so its centroid estimates — and with
    * them the probe's nearest-cell ranking — carry ~√S the noise of the
    * single index's (standard error of a k-means cell mean scales with
    * 1/√samples). A fixed nProbe therefore loses recall exactly when the
    * user reaches for sharding (observed: recall@5 0.52 at S=4 vs the 0.60
    * single-index baseline on a 5× corpus); widening the per-shard budget
    * √S-fold restores it. Cost shape: merged candidate volume grows
    * S^0.5 per shard on top of the S× probe fan-out (occupancy is held by
    * the per-shard adaptive cell count), a sublinear price that keeps the
    * dedup linear in corpus size — which is why the base here stays the
    * FIXED IvfProbe, not the √nCells query-search base (see
    * [[adaptiveProbe]]). Budgets above a shard's cell count degrade
    * gracefully to probing the whole shard.
    */
  private[ops] def ceilSqrt(n: Int): Int = math.ceil(math.sqrt(n.toDouble)).toInt

  /** Core of nearDupCosine over any (vec_id, embedding) frame.
    *
    * Stages (each the codegen'd, shuffle-minimal shape):
    *  1. sign-bit sketch via [[sketch]] (one native expression per row);
    *  2. band keys = the sketch's byte slices → posexplode → hot-bucket
    *     guard → self-equi-join on (band, key) → DISTINCT candidate pairs
    *     *before* any vector math (band overlap would otherwise recompute
    *     each pair's cosine up to DupBands×);
    *  3. exact-cosine confirm: candidates rejoin the vectors, the dot
    *     product runs as explode + element_at + fixed-point sum (codegen'd
    *     hash agg, order-independent, no interpreted lambdas).
    *
    * Hot-bucket guard: a degenerate band key (thousands of identical or
    * near-zero vectors) would make the within-bucket pair expansion
    * quadratic at corpus scale. Buckets larger than `maxBucketSize` are
    * dropped from candidate generation (anti-join against the small hot
    * set). Recall note: members of a dropped bucket can still pair through
    * their other DupBands-1 bands; content degenerate enough to flood ALL
    * its bands (exact duplicates at >cap multiplicity) is exact-dedup's
    * job, which runs first in a real pipeline.
    */
  val MaxBucketSize = 1024

  /** Adaptive band width: average bucket occupancy is n / 2^bits, so the
    * within-bucket pair expansion is O(n² / 2^bits) — with FIXED band bits
    * that is quadratic in corpus size (measured: 5× corpus → ~9× wall
    * time at 8 bits). Holding occupancy near a constant target keeps the
    * candidate volume linear: bits grows with log2(n). Bounded to
    * [BitsPerBand, 32]; the band count is however many disjoint slices of
    * the 64-bit sketch that width allows (wider bands trade borderline-pair
    * recall for candidate volume — the standard LSH dial).
    */
  val TargetBucketOccupancy = 16
  private[graft] def adaptiveBandBits(n: Long): Int = {
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(n / TargetBucketOccupancy, 1L))
    math.min(32, math.max(BitsPerBand, needed))
  }

  /** NOTE: with `bandBits = None`, CONSTRUCTING the frame runs a Spark job
    * (persist + count of the sketch) to size the adaptive banding — that
    * work is reused by every downstream branch of the returned plan, so
    * callers that execute the query pay ~nothing extra, but plan-only
    * callers (audits, explain) should pass explicit `bandBits` to stay
    * lazy.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double,
                   maxBucketSize: Int = MaxBucketSize,
                   bandBits: Option[Int] = None): DataFrame = {
    // The sketch feeds three branches (band join sides + norms): persist it
    // so the plan computes it once (PlanCache bounds the footprint to one
    // sketch per session). At cluster scale this is the "write the sketch
    // table" step of a production near-dup job.
    val bits = PlanCache.swap("vector-near-dup-sketch", sketch(vectors))
    // the count() both materializes the persisted sketch (paid anyway by
    // every downstream branch) and sizes the adaptive banding
    val nBits = bandBits.getOrElse(adaptiveBandBits(bits.count()))
    val nBands = 64 / nBits
    val bandKeys = (0 until nBands).map(b =>
      shiftrightunsigned(col("sketch"), b * nBits)
        .bitwiseAND(lit((1L << nBits) - 1)))
    val banded = bits.select(col("vec_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
    val hot = banded.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketSize)
      .select("band_idx", "band_key")
    val pruned = banded.join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
    val cands = pruned.alias("a")
      .join(pruned.alias("b"), Seq("band_idx", "band_key"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .distinct()

    // Confirm stage: candidates rejoin the vectors (two keyed equi-joins —
    // AQE broadcasts the small side when it fits) and the exact cosine is
    // ONE native codegen fold per pair (vec_dot) with norms precomputed
    // once per vector. This replaced an explode → per-dimension join →
    // fixed-point hash aggregation: that shape existed to avoid
    // interpreted HOF lambdas, which the native expression obsoletes —
    // and it shuffled pairs×dims rows where this moves pairs×2 vectors.
    val vecs = vectors.select(col("vec_id"), col("embedding"))
      .withColumn("l2n", sqrt(call_function("vec_dot",
        col("embedding"), col("embedding"))))
    cands
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("l2n").as("la")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("l2n").as("lb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (call_function("vec_dot", col("va"), col("vb"))
          / (col("la") * col("lb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }
}

object VectorOps extends VectorCorePart with VectorIvfPart
  with VectorQuantPart

