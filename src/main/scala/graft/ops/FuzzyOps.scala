package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Edit-distance-1 fuzzy vocabulary join via deletion-neighborhood
  * blocking (the SymSpell/FastSS family) — the record-linkage primitive
  * for dirty entity references: link every pair of vocabulary entries at
  * Levenshtein distance exactly 1 WITHOUT an all-pairs comparison.
  *
  * Blocking principle: two strings at edit distance 1 always share a
  * member of their deletion neighborhoods N(w) = {w} ∪ {w minus one
  * character}. Deletion: the shorter string IS a deletion of the longer;
  * insertion is its mirror; substitution at position i: both strings
  * delete position i to the same residue. Candidates are therefore the
  * equi-join of exploded neighborhoods — complete by the theorem — and a
  * codegen'd `levenshtein` verifies candidates (sharing a residue can
  * overshoot: "aaab"/"aabc" share "aab" at distance 2).
  *
  * The fixture feed follows the crafted-input convention (robots.txt,
  * sitemaps, MP4 boxes): each doc's first two tokens fuse into an entity
  * name, and every third doc emits a TYPO'D form — one character deleted
  * at a doc_id-determined position — so the join's job is the real one,
  * linking dirty references to their canonical spelling. Every string op
  * is exact arithmetic, so the DuckDB oracle replays BRUTE FORCE over the
  * distinct vocabulary: a green gate proves the blocking dropped no true
  * pair (zero false negatives), the [[SetJoinOps]] posture.
  *
  * Scale shape: names derive per-row (zero shuffle); the vocabulary
  * aggregation is the one corpus-keyed shuffle, and everything after is
  * vocabulary-sized. A deletion residue of length L is shared by at most
  * |Σ|·(L+1) + 1 vocabulary entries, so variant buckets carry a constant
  * cap — never all-pairs, and at 100 TB the candidate join is bounded by
  * vocabulary size, not corpus size.
  */
object FuzzyOps {

  /** Minimum fused-name length: keeps degenerate two-letter fusions (the
    * 'a a' doc prefixes) out of the vocabulary, where a single deletion
    * residue would relate everything to everything.
    */
  val MinLen = 6

  /** One entity name per doc: the first two tokens fused; docs with
    * doc_id ≡ 1 (mod 3) emit a typo'd form with the (doc_id mod len)-th
    * zero-based character deleted.
    */
  private[graft] def nameFeed(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .where(size(col("toks")) >= 2)
      .withColumn("clean", concat(col("toks").getItem(0), col("toks").getItem(1)))
      .where(length(col("clean")) >= MinLen)
      .withColumn("cut", (col("doc_id") % length(col("clean"))).cast("int"))
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 1,
          concat(expr("substring(clean, 1, cut)"),
            expr("substring(clean, cut + 2, length(clean))")))
          .otherwise(col("clean")).as("name"))

  /** Vocabulary with occurrence counts (canonicalization weights). */
  private[graft] def vocabOf(feed: DataFrame): DataFrame =
    feed.groupBy("name").agg(count(lit(1)).as("freq"))

  /** Deletion neighborhood: the name itself plus every single-character
    * deletion, deduplicated ("aa" deletes to "a" twice).
    */
  private[graft] def deletionVariants(names: DataFrame): DataFrame =
    names.select(col("name"), explode(array_distinct(concat(
      array(col("name")),
      expr("transform(sequence(1, length(name)), i -> " +
        "concat(substring(name, 1, i - 1), " +
        "substring(name, i + 1, length(name))))")))).as("v"))

  /** All vocabulary pairs at Levenshtein distance exactly 1, with both
    * frequencies and the frequency-weighted canonical form (ties break to
    * the lexicographically smaller — word_a).
    */
  def edit1Pairs(vocab: DataFrame): DataFrame = {
    val v = deletionVariants(vocab.select("name"))
    val cands = v.as("a").join(v.as("b"), Seq("v"))
      .where(col("a.name") < col("b.name"))
      .select(col("a.name").as("word_a"), col("b.name").as("word_b"))
      .distinct()
    cands
      .where(levenshtein(col("word_a"), col("word_b")) === 1)
      .join(vocab.select(col("name").as("word_a"), col("freq").as("freq_a")),
        Seq("word_a"))
      .join(vocab.select(col("name").as("word_b"), col("freq").as("freq_b")),
        Seq("word_b"))
      .select(col("word_a"), col("word_b"), col("freq_a"), col("freq_b"),
        when(col("freq_a") >= col("freq_b"), col("word_a"))
          .otherwise(col("word_b")).as("canon"))
  }

  /** Gate `q_fuzzy_vocab_edit1`: blocked join over the crafted entity
    * vocabulary vs the oracle's brute-force replay.
    */
  def fuzzyVocabEdit1(s: SparkSession, d: String): DataFrame =
    edit1Pairs(vocabOf(nameFeed(graft.Tables.t(s, d, "documents"))))
      .orderBy("word_a", "word_b")

  /** Typo-cluster canonicalization — the composition the edit-1 join
    * exists for: edit-distance links → transitive closure → each cluster
    * normalizes to its best member (max frequency, lexicographically
    * smallest on ties — the best-of-cluster posture), and every doc's
    * dirty reference maps to the canonical spelling.
    *
    * Engine ids for the CC walk are opaque injective Longs
    * (monotonically_increasing_id frozen by a localCheckpoint — no
    * global-window Exchange SinglePartition just to mint ranks); the
    * output is id-free, so determinism needs only that the PARTITION of
    * names matches the oracle's recursive-closure replay — which the
    * canon rule then resolves identically.
    *
    * Scale shape: everything after the corpus-keyed vocabulary count is
    * vocabulary-sized — the CC rounds, the canon window, the broadcast
    * join back onto the per-doc feed.
    */
  def vocabNormalize(s: SparkSession, d: String): DataFrame = {
    val feed = nameFeed(graft.Tables.t(s, d, "documents"))
    val vocab = PlanCache.swap("fuzzy_vocab", vocabOf(feed))
    val ids = vocab.select("name")
      .withColumn("id", monotonically_increasing_id()).localCheckpoint()
    val pairs = edit1Pairs(vocab)
    val edges = pairs
      .join(ids.select(col("name").as("word_a"), col("id").as("src")), Seq("word_a"))
      .join(ids.select(col("name").as("word_b"), col("id").as("dst")), Seq("word_b"))
      .select("src", "dst")
    GraphOps.drain(GraphOps.connectedComponents(edges, ids.select("id"))) { labels =>
      val named = labels
        .join(ids, Seq("id"))
        .select(col("name"), col("cluster_id"))
      val canon = named.join(vocab, Seq("name"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("cluster_id")
            .orderBy(col("freq").desc, col("name").asc)))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("name").as("canon"))
      feed
        .join(broadcast(named), Seq("name"))
        .join(broadcast(canon), Seq("cluster_id"))
        .select(col("doc_id"), col("name"), col("canon"),
          (col("name") =!= col("canon")).cast("int").as("changed"))
        .localCheckpoint() // materialize before the CC loan reclaims
    }.orderBy("doc_id")
  }
}
