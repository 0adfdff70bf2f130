package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Exact set-similarity self-join via prefix filtering (the AllPairs /
  * PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) — the EXACT
  * complement of the MinHash LSH leg: LSH gives probabilistic recall at
  * fixed cost, this gives provably-complete recall while still never
  * comparing all pairs.
  *
  * Prefix-filter principle: order every doc's shingle set by one GLOBAL
  * total order (rarest-first: ascending document frequency, shingle
  * string as tie-break). If J(A,B) ≥ t then the overlap o satisfies
  * o ≥ ceil(t·|A|) and o ≥ ceil(t·|B|); the minimum common element in the
  * global order must then sit within the first |X| − o + 1 elements of
  * BOTH sets (all earlier elements are non-common by minimality, all o−1
  * later common elements push it forward), so the prefixes of length
  * |X| − ceil(t·|X|) + 1 must intersect. Candidates = equi-join of the
  * PREFIXES only; the rarest-first order makes those prefix buckets the
  * emptiest ones. Verification then counts true overlaps on candidate
  * pairs alone.
  *
  * Scale shape: one shingle-keyed shuffle for document frequency, one
  * doc-keyed window for ranks, a prefix-bucket equi-join (shuffle keyed
  * on rare shingles — bounded buckets, never all-pairs), and a
  * candidate-keyed overlap count. Threshold arithmetic is exact integer
  * cross-multiplication (t = [[JacNum]]/[[JacDen]]) — no doubles anywhere,
  * so the DuckDB oracle can replay the BRUTE-FORCE join and a green gate
  * proves completeness (zero false negatives from the filter).
  */
object SetJoinOps {

  /** Jaccard threshold t = JacNum/JacDen. */
  val JacNum = 6
  val JacDen = 10

  /** Shingle width (3-word shingles — the MinHash leg's unit, shared so
    * the exact and approximate paths answer the same question).
    */
  val ShingleN = 3

  /** Per-doc DISTINCT shingle sets: (doc_id, sh). Docs shorter than
    * [[ShingleN]] tokens contribute nothing (Spark's `sequence(1, n)`
    * DESCENDS for n < 1 — the guard is load-bearing).
    */
  private[graft] def docShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", split(trim(col("text")), "\\s+"))
      .where(size(col("tokens")) >= ShingleN)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, size(tokens) - ${ShingleN - 1}), " +
          s"i -> concat_ws(' ', slice(tokens, i, $ShingleN)))"))).as("sh"))

  private[graft] def freqOf(sh: DataFrame): DataFrame =
    sh.groupBy("sh").agg(count(lit(1)).as("df"))

  private[graft] def sizesOf(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))

  /** The prefix frame UNDER A GIVEN frequency order: each doc's
    * |d| − ceil(t·|d|) + 1 rarest shingles (ceil via (num·sz + den − 1)
    * div den). Shingles absent from `freq` rank with df = 0 — rarest
    * first. The prefix-filter theorem needs only that the two sides of a
    * pair rank under the SAME total order, so a frozen `freq` keeps the
    * incremental path EXACT (unlike the IVF family's frozen centroids,
    * which trade recall): staleness degrades candidate-set size, never
    * completeness.
    */
  private[graft] def prefixesUnder(sh: DataFrame, freq: DataFrame): DataFrame =
    sh.join(freq, Seq("sh"), "left")
      .withColumn("df0", coalesce(col("df"), lit(0L)))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df0").asc, col("sh").asc)))
      .join(sizesOf(sh), "doc_id")
      .where(col("rnk") <= col("sz") -
        expr(s"($JacNum * sz + ${JacDen - 1}) div $JacDen") + lit(1))
      .select(col("doc_id"), col("sh"))

  /** Prefixes under the set's own frequency order. */
  private[graft] def prefixesOf(sh: DataFrame): DataFrame =
    prefixesUnder(sh, freqOf(sh))

  /** All pairs (doc_a < doc_b) with Jaccard(sh sets) ≥ t, exactly. */
  def jaccardPairs(sh0: DataFrame): DataFrame = {
    val sh = PlanCache.swap("setjoin_shingles", sh0)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val prefix = prefixesOf(sh)
    val cands = prefix.as("a").join(prefix.as("b"), Seq("sh"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify candidates only: count the true overlap, then the exact
    // integer threshold test den·o ≥ num·(|a| + |b| − o)
    val withA = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
    val overlaps = withA
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("overlap"))
    overlaps
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("size_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("size_b")), Seq("doc_b"))
      .where(lit(JacDen) * col("overlap") >=
        lit(JacNum) * (col("size_a") + col("size_b") - col("overlap")))
      .select(col("doc_a"), col("doc_b"), col("size_a"), col("size_b"),
        col("overlap"),
        expr("overlap * 1000000L div (size_a + size_b - overlap)")
          .as("jac_ppm"))
  }

  /** Gate `q_jaccard_join_exact`: the oracle replays the BRUTE-FORCE
    * shingle-sharing join (every true pair shares ≥1 shingle for t > 0),
    * so hash-equality proves the prefix filter dropped no true pair.
    */
  def jaccardJoinExact(s: SparkSession, d: String): DataFrame =
    jaccardPairs(docShingles(t(s, d, "documents")))
      .orderBy("doc_a", "doc_b")

  /** Containment threshold t = ConNum/ConDen. */
  val ConNum = 8
  val ConDen = 10

  /** Container-side posting cap (document frequency): shingles with
    * df above this generate candidates only for HOT probes (see
    * [[containmentPairs]]). The cap is what keeps the candidate volume
    * LINEAR in the corpus — without it, every probe's prefix joined
    * against full postings makes candidate count grow with the df of
    * boilerplate shingles, i.e. with corpus size (the at-linear 25×
    * sweep row this cap closes). With the cap, the light branch emits
    * ≤ HotDf candidates per prefix posting.
    */
  val HotDf = 64L

  /** DIRECTIONAL containment join: all ordered pairs (a → b, a ≠ b) with
    * |A∩B| ≥ t·|A| — Broder's asymmetric resemblance complement: Jaccard
    * misses "a is quoted inside the much larger b" (the union denominator
    * drowns it); containment is exactly the quote/subset-duplication
    * signal. Prefix filtering adapts one-sided: if the overlap is
    * ≥ ceil(t·|A|), the global-order-minimum common shingle sits in A's
    * first |A| − ceil(t·|A|) + 1 rarest shingles, so candidates = A's
    * containment prefix joined against the shingle frame (only the
    * probe side can be prefix-filtered — the containee's size gives no
    * bound on the container). Verification on candidates alone; exact
    * integer threshold (den·o ≥ num·|A|), emitted in ppm.
    *
    * The df cap (`cap`, default [[HotDf]]) splits candidate generation
    * in two EXACT branches:
    *   1. light: prefixes ⋈ postings of shingles with df ≤ cap;
    *   2. hot-probe fall-back: for probes whose HEAVY-shingle count
    *      already covers the required overlap ceil(t·|A|), prefixes ⋈
    *      ALL postings (heavy included).
    * Completeness proof: for a true pair (A,B) the rarest common
    * shingle w = min over A∩B of (df, sh) sits in A's prefix (the
    * one-sided theorem). If df(w) ≤ cap, branch 1 emits the pair
    * through w. Otherwise every common shingle x has df(x) ≥ df(w) >
    * cap — the WHOLE intersection is heavy — so A holds ≥ |A∩B| ≥
    * ceil(t·|A|) heavy shingles, A is hot, and branch 2 emits the pair
    * through w. Verification is unchanged, so no false positives
    * either: the capped join returns exactly the brute-force pair set
    * (the gate oracle replays brute force — hash equality IS the
    * completeness proof on the fixture).
    *
    * Scale shape: branch 1 ≤ cap candidates per prefix posting (linear
    * in corpus at fixed cap); branch 2 pays the uncapped cost only for
    * boilerplate-dominated probes (≥ t of the doc's shingles corpus-hot)
    * — a residue that the quality gates upstream of any real dedup run
    * shrink further.
    */
  def containmentPairs(sh0: DataFrame, cap: Long = HotDf): DataFrame = {
    val sh = PlanCache.swap("setjoin_shingles_cont", sh0)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val freq = freqOf(sh)
    val needed = expr(s"($ConNum * sz + ${ConDen - 1}) div $ConDen")
    val prefix = sh.join(freq, Seq("sh"), "left")
      .withColumn("df0", coalesce(col("df"), lit(0L)))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df0").asc, col("sh").asc)))
      .join(sizes, "doc_id")
      .where(col("rnk") <= col("sz") - needed + lit(1))
      .select(col("doc_id"), col("sh"))
    val lightSh = freq.where(col("df") <= cap).select("sh")
    val candsLight = prefix.join(lightSh, "sh")
      .select(col("doc_id").as("doc_a"), col("sh"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
    val hotProbes = sh
      .join(freq.where(col("df") > cap).select("sh"), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("heavy_cnt"))
      .join(sizes, "doc_id")
      .where(col("heavy_cnt") >= needed)
      .select("doc_id")
    val candsHot = prefix.join(hotProbes, "doc_id")
      .select(col("doc_id").as("doc_a"), col("sh"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
    val cands = candsLight.unionByName(candsHot)
      .where(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val overlaps = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("overlap"))
    overlaps
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("size_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("size_b")),
        Seq("doc_b"))
      .where(lit(ConDen) * col("overlap") >= lit(ConNum) * col("size_a"))
      .select(col("doc_a"), col("doc_b"), col("size_a"), col("size_b"),
        col("overlap"),
        expr("overlap * 1000000L div size_a").as("containment_ppm"))
  }

  /** Gate `q_containment_join`: brute-force oracle — completeness proof
    * for the one-sided prefix filter, like the symmetric gate.
    */
  def containmentJoin(s: SparkSession, d: String): DataFrame =
    containmentPairs(docShingles(t(s, d, "documents")))
      .orderBy("doc_a", "doc_b")

  // ---- incremental lifecycle: frozen-order stored index ----
  //
  // The corpus signs once (shingles + sizes + the FROZEN frequency order
  // + prefix rows); a batch probes and appends without re-shuffling the
  // corpus. Exactness survives freezing (see prefixesUnder), so unlike
  // the ANN appends this carries no recall caveat — the cron rebuild
  // ([[jaccardRebuildEntry]] caller posture) only restores candidate-set
  // efficiency.

  val ShinglesTable = "jac_shingles"
  val FreqTable = "jac_freq"
  val SizesTable = "jac_sizes"
  val PrefixTable = "jac_prefixes"
  val NumBuckets = 32
  val BucketsProp = "graft.jaccard.buckets"
  val MaxDocProp = "graft.jaccard.max_doc"
  private[graft] val JaccardFence = graft.pipeline.FencedAppend.Fence(
    Some(PrefixTable), Seq("doc_id" -> MaxDocProp),
    graft.pipeline.FencedAppend.Lo, Some("buildJaccardIndex"))

  private def fqn(db: String, table: String) = s"`$db`.`$table`"

  /** The four index frames, from the warehouse or built in-query. */
  final case class JacIndex(shingles: DataFrame, sizes: DataFrame,
                            freq: DataFrame, prefixes: DataFrame)

  private[graft] def indexOver(corpusSh: DataFrame): JacIndex = {
    val freq = freqOf(corpusSh)
    JacIndex(corpusSh, sizesOf(corpusSh), freq,
      prefixesUnder(corpusSh, freq))
  }

  def buildJaccardIndex(docs: DataFrame, db: String): Unit = {
    val s = docs.sparkSession
    val sh = PlanCache.swap("jac_build_sh", docShingles(docs))
    val freq = freqOf(sh)
    graft.store.Warehouse.saveModel(sh, db, ShinglesTable)
    graft.store.Warehouse.saveModel(freq, db, FreqTable)
    graft.store.Warehouse.saveModel(sizesOf(sh), db, SizesTable)
    graft.store.Warehouse.saveModel(
      prefixesUnder(sh, freq)
        .withColumn("bkt", pmod(xxhash64(col("sh")), lit(NumBuckets))),
      db, PrefixTable, partitionCols = Seq("bkt"))
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0)
    s.sql(s"ALTER TABLE ${fqn(db, PrefixTable)} SET TBLPROPERTIES " +
      s"('$BucketsProp' = '$NumBuckets', '$MaxDocProp' = '$maxDoc')")
  }

  private def storedIndex(s: SparkSession, db: String): JacIndex = {
    graft.store.Warehouse.refreshDb(s, db)
    JacIndex(s.table(fqn(db, ShinglesTable)), s.table(fqn(db, SizesTable)),
      s.table(fqn(db, FreqTable)),
      s.table(fqn(db, PrefixTable)).select("doc_id", "sh", "bkt"))
  }

  /** Batch-involving pairs (corpus↔batch and batch↔batch) with J ≥ t,
    * exact under the index's frozen order. The corpus is touched by (a)
    * the prefix probe — an equi-join the caller can partition-prune to
    * the batch's buckets — and (b) the verification join restricted to
    * candidate corpus docs. Never a corpus self-join.
    */
  private[graft] def incrementalPairs(idx: JacIndex,
                                      batchSh0: DataFrame): DataFrame = {
    val batchSh = PlanCache.swap("jac_batch_sh", batchSh0)
    val bSizes = sizesOf(batchSh)
    val bPref = prefixesUnder(batchSh, idx.freq)
    val corpusPref = idx.prefixes.select(col("doc_id").as("a_id"), col("sh"))
    val cross = bPref.select(col("doc_id").as("b_id"), col("sh"))
      .join(corpusPref, "sh")
      .select("a_id", "b_id").distinct()
    val self = bPref.as("x").join(bPref.as("y"), Seq("sh"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    def verify(cands: DataFrame, shA: DataFrame, szA: DataFrame): DataFrame =
      cands
        .join(shA.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
        .join(batchSh.select(col("doc_id").as("b_id"), col("sh")),
          Seq("b_id", "sh"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("overlap"))
        .join(szA.select(col("doc_id").as("a_id"), col("sz").as("size_a")),
          Seq("a_id"))
        .join(bSizes.select(col("doc_id").as("b_id"), col("sz").as("size_b")),
          Seq("b_id"))
        .where(lit(JacDen) * col("overlap") >=
          lit(JacNum) * (col("size_a") + col("size_b") - col("overlap")))
    val pairs = verify(cross, idx.shingles, idx.sizes)
      .unionByName(verify(self, batchSh, bSizes))
    // normalize to (doc_a < doc_b) with sizes following their doc
    pairs.select(
      least(col("a_id"), col("b_id")).as("doc_a"),
      greatest(col("a_id"), col("b_id")).as("doc_b"),
      when(col("a_id") < col("b_id"), col("size_a")).otherwise(col("size_b"))
        .as("size_a2"),
      when(col("a_id") < col("b_id"), col("size_b")).otherwise(col("size_a"))
        .as("size_b2"),
      col("overlap"))
      .withColumnsRenamed(Map("size_a2" -> "size_a", "size_b2" -> "size_b"))
      .withColumn("jac_ppm",
        expr("overlap * 1000000L div (size_a + size_b - overlap)"))
  }

  /** Gate `q_jaccard_join_incremental`: corpus = doc_id % 5 ≠ 0, batch =
    * the % 5 = 0 slice; the oracle replays the brute-force join over the
    * FULL corpus restricted to batch-involving pairs — green proves the
    * frozen-order incremental path is exact, not approximately recalled.
    */
  def jaccardJoinIncrement(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpusSh = PlanCache.swap("jac_corpus_sh",
      docShingles(docs.filter(col("doc_id") % 5 =!= 0)))
    incrementalPairs(indexOver(corpusSh),
      docShingles(docs.filter(col("doc_id") % 5 === 0)))
      .orderBy("doc_a", "doc_b")
  }

  /** Stored-index serve: prefix probe partition-pruned to the batch's
    * shingle buckets (≤ [[NumBuckets]] values, the probe-cell posture).
    */
  def jaccardIncrementFromIndex(s: SparkSession, db: String,
                                batch: DataFrame): DataFrame = {
    val idx = storedIndex(s, db)
    // bucket modulus must come off the table — absence refuses
    val nb = graft.store.Warehouse.readTablePropLong(s, db, PrefixTable,
      BucketsProp, "rebuild the jaccard index (buildJaccardIndex)")
    val batchSh = docShingles(batch)
    val buckets = prefixesUnder(batchSh, idx.freq)
      .select(pmod(xxhash64(col("sh")), lit(nb)).as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val pruned = idx.copy(prefixes =
      idx.prefixes.where(col("bkt").isin(buckets: _*))
        .select("doc_id", "sh"))
    incrementalPairs(pruned, batchSh).orderBy("doc_a", "doc_b")
  }

  /** Append a batch: shingle/size/prefix rows land; the FROZEN order is
    * deliberately untouched (absent shingles stay df = 0 forever — order
    * stability is what keeps every future probe exact). The fence moves
    * last, so a retry after a crash between the writes is admitted; each
    * write lands only the docs its table does not hold yet
    * ([[VectorOps.freshOnly]]), so the retry never doubles a row.
    */
  def appendToJaccardIndex(s: SparkSession, db: String,
                           batch: DataFrame): Unit = {
    val bounds = JaccardFence.check("appendToJaccardIndex", s, db, batch)
    if (bounds.isEmpty) return
    val idx = storedIndex(s, db)
    val batchSh = PlanCache.swap("jac_append_sh", docShingles(batch))
    def land(rows: DataFrame, table: String): Unit =
      VectorOps.freshOnly(s, fqn(db, table), rows, idCol = "doc_id")
        .select(s.table(fqn(db, table)).columns.map(col).toIndexedSeq: _*)
        .write.mode("append").insertInto(fqn(db, table))
    land(batchSh, ShinglesTable)
    land(sizesOf(batchSh), SizesTable)
    land(prefixesUnder(batchSh, idx.freq)
      .withColumn("bkt", pmod(xxhash64(col("sh")), lit(NumBuckets))),
      PrefixTable)
    JaccardFence.advance(s, db, bounds.get.hi)
  }
}
