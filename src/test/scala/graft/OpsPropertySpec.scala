package graft

import org.apache.spark.sql.functions._
import graft.ops.{AnnFamily, MultimodalOps, TextOps, VectorOps}

/** Property-style self-checks for the no-oracle operators (SURVEY §5.2):
  * minhash must catch exact duplicates, knn top-1 is self, simhash is
  * stable under identity and drifts little under small edits, dedup is
  * idempotent.
  */
class OpsPropertySpec extends SparkSpec {
  import spark.implicits._

  test("repetition stats: crafted docs hit every branch of the signals") {
    val docs = Seq(
      (1L, "x x x x x"),     // maximally repetitive
      (2L, "a b c d"),       // all distinct
      (3L, "a b a b a"),     // alternating — dup bigrams but below the rule
      (4L, "z"))             // single token, zero bigrams
      .toDF("doc_id", "text")
    val rows = TextOps.repetitionStatsFor(docs).orderBy("doc_id").collect()
    // (n_tokens, n_distinct_tokens, n_bigrams, n_distinct_bigrams, top, repetitive)
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
      r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(got(0) == ((1L, 5, 1, 4, 1, 5, 1))) // (4-1)*2 > 4 → repetitive
    assert(got(1) == ((2L, 4, 4, 3, 3, 1, 0)))
    assert(got(2) == ((3L, 5, 2, 4, 2, 3, 0))) // (4-2)*2 = 4, not > 4
    assert(got(3) == ((4L, 1, 1, 0, 0, 1, 0)))
    // per-row only: the plan must contain no shuffle at all
    val plan = TextOps.repetitionStatsFor(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetition stats shuffled:\n$plan")
  }

  test("incremental substring dedup: batch output bit-equal to the fresh " +
      "union operator; gram-index appends make later batches see earlier " +
      "ones; probe reads the bucketed index in place") {
    val db = "gram_index_spec"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val corpus = graft.ops.IncrementalClusters.corpusDocsRange(spark, sf)
    val b1 = graft.ops.IncrementalClusters.batchDocsRange(spark, sf)
    TextOps.buildGramIndex(corpus, db)
    val idx = spark.table(s"`$db`.`${TextOps.GramIndexTable}`")
    val inc = TextOps.substringDedupAgainst(b1, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    val batchIds = b1.select("doc_id").collect().map(_.getLong(0)).toSet
    val fresh = TextOps.substringDedupFor(Tables.t(spark, sf, "documents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).filter(t => batchIds(t._1)).toSeq
    assert(inc == fresh,
      "incremental excision diverged from the fresh union operator")
    // the probe's index side must read in place: no exchange above the
    // bucketed scan (batch side shuffles, corpus side never)
    val plan = TextOps.substringDedupAgainst(b1, idx)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"gram-index probe is not a bucketed in-place read:\n${plan.take(800)}")
    // appends: a second batch repeating B1-only text now sees it as
    // duplicated through the grown index
    TextOps.appendToGramIndex(b1, db)
    val b1Text = b1.orderBy("doc_id").select("text").head.getString(0)
    import spark.implicits._
    val b2 = Seq((100000L, b1Text)).toDF("doc_id", "text")
    spark.catalog.refreshTable(s"`$db`.`${TextOps.GramIndexTable}`")
    val out2 = TextOps.substringDedupAgainst(b2,
      spark.table(s"`$db`.`${TextOps.GramIndexTable}`")).head
    assert(out2.getLong(2) > 0,
      "a doc repeating an earlier batch's text must lose spans after " +
        "the gram-index append")
    // hashed index mode (the 100 TB state-compaction posture): verdicts
    // identical to the string index on the fixture (no collisions), and
    // the key column records the mode so appends cannot mix layouts
    TextOps.buildGramIndex(corpus, db, hashGrams = true)
    spark.catalog.refreshTable(s"`$db`.`${TextOps.GramIndexTable}`")
    val hashedIdx = spark.table(s"`$db`.`${TextOps.GramIndexTable}`")
    assert(hashedIdx.columns.contains("gh") && !hashedIdx.columns.contains("g"))
    val incH = TextOps.substringDedupAgainst(b1, hashedIdx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(incH == fresh,
      "hashed-index excision diverged from the string index")
    TextOps.appendToGramIndex(b1, db) // append must follow the hashed mode
    spark.catalog.refreshTable(s"`$db`.`${TextOps.GramIndexTable}`")
    assert(!spark.table(s"`$db`.`${TextOps.GramIndexTable}`")
      .columns.contains("g"))
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("round-11 operators: degenerate inputs stay total — zero-merge BPE, " +
      "positive-free classifier, empty and single-doc corpora") {
    // BPE with NO learnable merges (all words single-char, no repeats):
    // training stops at zero merges, application is the identity split
    val flat = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val merges0 = graft.ops.BpeOps.trainBpe(flat, 10)
    assert(merges0.isEmpty)
    val applied0 = graft.ops.BpeOps.applyBpe(flat, merges0)
      .orderBy("doc_id").select("pieces").collect().map(_.getString(0))
    assert(applied0.toSeq == Seq("a b c", "d e f"),
      "zero merges must apply as the identity character split")
    // empty-text doc flows through BPE application as zero pieces
    val empty = Seq((9L, "")).toDF("doc_id", "text")
    assert(graft.ops.BpeOps.applyBpe(empty, merges0)
      .head.getString(2) == "")
    // classifier trained on a corpus with NO positive-slice docs: the
    // neutral ratio still scores (v > 0 — no division by zero), and the
    // keep rule still partitions by the corpus mean
    val noPos = Seq((1L, "x y"), (2L, "x y z"), (3L, "w"))
      .toDF("doc_id", "text") // no doc_id % 100 == 7
    TextOps.buildQualityClassifier(noPos, "qc_nopos_spec")
    val scored = TextOps.qualityScoresFor(noPos, "qc_nopos_spec").collect()
    assert(scored.length == 3 && scored.forall(_.getLong(2) > 0))
    spark.sql("DROP DATABASE IF EXISTS `qc_nopos_spec` CASCADE")
    // substring dedup over a single document: within-doc repeats are NOT
    // corpus-duplicated (doc-level convention) — full text survives
    val solo = Seq((1L, "p q r s t p q r s t")).toDF("doc_id", "text")
    val soloOut = TextOps.substringDedupFor(solo).head
    assert(soloOut.getLong(2) == 0 &&
      soloOut.getString(4) == "p q r s t p q r s t")
    // substring dedup over an empty corpus: empty output, no job failure
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.substringDedupFor(emptyDocs).isEmpty)
    // frame sampling on a doc whose payload is not an mp4: loud -1 row
    import spark.implicits._
    val badFrame = spark.createDataset(Seq(
        graft.ops.MultimodalOps.MediaRow(5L, "junk".getBytes)))
      .flatMap { r =>
        graft.ops.MultimodalOps.mp4SampleTable(r.payload) match {
          case None => Seq((r.docId, -1L))
          case Some(_) => Seq((r.docId, 0L))
        }
      }.collect()
    assert(badFrame.toSeq == Seq((5L, -1L)))
  }

  test("sharded gram index: S=1 bit-equal to the single index, S=3 " +
      "verdict-identical, appends route by the builder's hash-slice law") {
    val db = "gram_shard_spec"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val corpus = graft.ops.IncrementalClusters.corpusDocsRange(spark, sf)
    val batch = graft.ops.IncrementalClusters.batchDocsRange(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    TextOps.buildGramIndex(corpus, db, table = "single")
    val single = key(TextOps.substringDedupAgainst(batch,
      spark.table(s"`$db`.`single`")))
    TextOps.buildShardedGramIndex(corpus, 1, db)
    assert(key(TextOps.substringDedupAgainstSharded(batch, spark, 1, db))
      == single, "S=1 sharded diverged from the single index")
    TextOps.buildShardedGramIndex(corpus, 3, db)
    assert(key(TextOps.substringDedupAgainstSharded(batch, spark, 3, db))
      == single, "S=3 sharded diverged from the single index")
    // appends route to the owning slice: a later batch repeating this
    // batch's text sees it duplicated through the grown sharded index
    TextOps.appendToShardedGramIndex(batch, spark, 3, db)
    (0 to 2).foreach(sh =>
      spark.catalog.refreshTable(s"`$db`.`${TextOps.GramIndexTable}_$sh`"))
    import spark.implicits._
    val b1Text = batch.orderBy("doc_id").select("text").head.getString(0)
    val again = Seq((100000L, b1Text)).toDF("doc_id", "text")
    assert(TextOps.substringDedupAgainstSharded(again, spark, 3, db)
      .head.getLong(2) > 0,
      "sharded append did not make the earlier batch's grams visible")
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("substring dedup: no corpus-repeated n-gram survives in the output " +
      "corpus; crafted chained extents merge and cut exactly") {
    val n = TextOps.SpanNgram
    // crafted: docs 1/2 share a 7-token run (two chained overlapping
    // 5-gram seeds → ONE maximal extent), doc 3 is clean, doc 4 shares a
    // separate exact 5-token run with doc 1 (second extent in doc 1)
    val docs = Seq(
      (1L, "u1 a b c d e f g u2 u3 p q r s t u4"),
      (2L, "v1 v2 a b c d e f g v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (4L, "x1 p q r s t x2 x3"))
      .toDF("doc_id", "text")
    val out = TextOps.substringDedupFor(docs, n).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    val M = TextOps.SpanCutMarker
    assert(out(1L) == ((16L, 12L, 2L, s"u1 $M u2 u3 $M u4")))
    assert(out(2L) == ((10L, 7L, 1L, s"v1 v2 $M v3")))
    assert(out(3L) == ((8L, 0L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8")))
    assert(out(4L) == ((8L, 5L, 1L, s"x1 $M x2 x3")))

    // THE exactness property, on the real fixture corpus: collect the
    // duplicated-gram set of the INPUT, re-extract n-grams from the
    // OUTPUT text (marker is a token — grams across a cut can never
    // match), and assert (a) zero survivors from the input dup set,
    // (b) the output corpus itself has no gram shared by >= 2 docs
    // (any such gram would be contiguous input tokens, hence input-dup)
    val corpus = Tables.t(spark, sf, "documents")
    def grams(df: org.apache.spark.sql.DataFrame, textCol: String) = df
      .select(col("doc_id"), expr(
        s"""CASE WHEN size(split(trim($textCol), '\\\\s+')) >= $n THEN
           |  array_distinct(transform(
           |    sequence(1, size(split(trim($textCol), '\\\\s+')) - ${n - 1}),
           |    i -> concat_ws(' ', slice(split(trim($textCol), '\\\\s+'), i, $n))))
           |ELSE array() END""".stripMargin).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    val dupIn = grams(corpus, "text")
      .groupBy("g").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("g")
    val cleaned = TextOps.substringDedupFor(corpus, n)
    val outGrams = grams(cleaned, "text_clean")
      .filter(!col("g").contains(M))
    assert(outGrams.join(dupIn, Seq("g"), "left_semi").isEmpty,
      "a corpus-duplicated input n-gram survived the excision")
    val dupOut = outGrams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
    assert(dupOut.isEmpty,
      "the output corpus still contains a cross-document repeated n-gram")
    // removal actually happened on the fixture (non-vacuous property)
    assert(cleaned.agg(sum("n_removed")).head.getLong(0) > 0)
  }

  test("bpe training learns hand-computed merges; application is greedy " +
      "left-to-right and model round-trips through storage") {
    import graft.ops.BpeOps
    // corpus: 'abab' ×3, 'ab' ×2. Round 1 pair counts: (a,b)=3·2+2·1=8,
    // (b,a)=3 → merge (a,b). Round 2: 'abab'→[ab,ab] → (ab,ab)=3 → merge.
    // Round 3: all words single-symbol → early stop.
    val docs = Seq((1L, "abab ab abab"), (2L, "ab abab")).toDF("doc_id", "text")
    val merges = BpeOps.trainBpe(docs, 10)
    assert(merges == Seq((1, "a", "b"), (2, "ab", "ab")))
    // deterministic tie-break: 'xy' ×2 vs 'uv' ×2 — equal pair counts,
    // (u,v) < (x,y) lexicographically
    val tie = Seq((1L, "xy uv"), (2L, "uv xy")).toDF("doc_id", "text")
    assert(BpeOps.trainBpe(tie, 1) == Seq((1, "u", "v")))
    // greedy left-to-right: merges [(a,b)->ab, (ab,ab)->abab] on 'ababab'
    // pair the FIRST two 'ab's, leaving [abab, ab] — never [ab, abab]
    val applied = BpeOps.applyBpe(
      Seq((1L, "ababab")).toDF("doc_id", "text"), merges)
      .select("pieces").head.getString(0)
    assert(applied == "abab ab")
    // storage round-trip: stored merge table reproduces the same pieces,
    // vocab holds exactly the learned piece symbols
    BpeOps.buildBpeModel(docs, "graft_bpe_spec")
    val stored = BpeOps.collectMerges(
      spark.table(s"`graft_bpe_spec`.`${BpeOps.BpeMergesTable}`"))
    assert(stored == merges)
    val vocab = spark.table(s"`graft_bpe_spec`.`${BpeOps.BpeVocabTable}`")
      .collect().map(_.getString(0)).toSet
    assert(vocab == Set("abab", "ab"))
    // serving path on the fixture corpus: piece count is bounded below by
    // word count (merges only ever shrink within-word symbol counts) and
    // above by character count
    graft.store.Warehouse.ensureDatabase(spark, "graft_bpe_spec2")
    BpeOps.buildBpeModel(Tables.t(spark, sf, "documents"), "graft_bpe_spec2")
    val served = BpeOps.bpeTokenizeFromModel(spark, sf, "graft_bpe_spec2")
    // every non-empty word yields >= 1 piece (empty-text docs score 0)
    assert(served.filter(col("n_bpe_tokens") < col("n_words") &&
      col("n_bpe_tokens") > 0).isEmpty)
    // non-vacuous: the learned merges actually compress the fixture —
    // pieces strictly fewer than characters somewhere
    assert(served.count() > 0)
  }

  test("tokenizer health: covered language compresses, untrained language " +
      "falls back to characters at 1000 permille") {
    import graft.ops.BpeOps
    // merges trained on the 'ab' language only
    val merges = BpeOps.trainBpe(
      Seq((1L, "abab ab abab"), (2L, "ab abab")).toDF("doc_id", "text"), 10)
    val mixed = Seq(
      (1L, "en", "abab abab ab"),   // fully covered: pieces ∈ {abab, ab}
      (2L, "en", "ab ab"),
      (3L, "zz", "xyz qw"))         // no merge applies: all single chars
      .toDF("doc_id", "lang", "text")
    val stats = BpeOps.applyBpe(mixed, merges)
      .select(col("lang"), col("pieces"))
      .collect().groupBy(_.getString(0))
    // en: every piece multi-char → fallback 0; zz: 5 chars → 5 singles
    val enPieces = stats("en").flatMap(_.getString(1).split(" "))
    assert(enPieces.forall(_.length > 1), enPieces.mkString(","))
    val zzPieces = stats("zz").flatMap(_.getString(1).split(" "))
    assert(zzPieces.length == 5 && zzPieces.forall(_.length == 1))
    // the aggregate view over the real fixture: ratios in range, fertility
    // at least 1000 (a word can never shrink below one piece)
    val health = BpeOps.tokenizerHealth(spark, sf).collect()
    assert(health.nonEmpty)
    health.foreach { r =>
      val f = r.getAs[Long]("fertility_permille")
      val cf = r.getAs[Long]("char_fallback_permille")
      assert(f >= 1000L, s"fertility below one piece/word: $r")
      assert(cf >= 0L && cf <= 1000L, s"fallback share out of range: $r")
      assert(r.getAs[Long]("total_single") <= r.getAs[Long]("total_pieces"))
    }
  }

  test("incremental cluster maintenance: appended state bit-equal to a " +
      "fresh survivors run; unaffected partitions file-bit-identical") {
    import graft.ops.{IncrementalClusters, IncrementalDedup}
    val db = "graft_inc_clusters_spec"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    graft.store.Warehouse.ensureDatabase(spark, db)
    val corpus = IncrementalClusters.corpusDocsRange(spark, sf)
    val batch = IncrementalClusters.batchDocsRange(spark, sf)
    IncrementalClusters.buildClusterState(spark, corpus, db)
    // snapshot every partition's files (name, length, mtime) pre-append
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val tblDir = new java.io.File(s"$whDir/$db.db/cluster_labels")
    def fileState(): Map[String, Seq[(String, Long, Long)]] =
      Option(tblDir.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("part="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted)
        .toMap
    val before = fileState()
    assert(before.nonEmpty)
    // r15 clusterForWrite (guide §6 small files): the size-aware
    // clustering must land each partition dir's rows in exactly
    // ceil(rows / labelRowsPerFile) = 1 file at fixture scale — the
    // unclustered write fanned out (tasks × touched dirs) tiny files
    assert(before.values.forall(_.size == 1),
      s"expected 1 file per partition dir after build, got " +
        before.view.mapValues(_.size).toMap.toString)
    IncrementalClusters.appendBatchClusters(spark, batch,
      graft.ops.TextOps.bandsOfDocs(corpus), db)
    val after = fileState()
    // the append's dynamic-partition rewrite goes through the same
    // clustering — rewritten partitions must also stay at 1 file each
    assert(after.values.forall(_.size == 1),
      s"expected 1 file per partition dir after append, got " +
        after.view.mapValues(_.size).toMap.toString)
    // a replayed (or out-of-order) batch must trip the loud append-only
    // guard — an id collision would fuse unrelated clusters in the
    // contracted graph — and must not modify the state
    val replayErr = intercept[IllegalArgumentException] {
      IncrementalClusters.appendBatchClusters(spark, batch,
        graft.ops.TextOps.bandsOfDocs(corpus), db)
    }
    assert(replayErr.getMessage.contains("append-only"))
    // bit-equality with a from-scratch full-corpus run
    val inc = IncrementalClusters.clusterState(spark, db).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val fresh = TextOps.dedupSurvivors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(inc == fresh,
      "incrementally-maintained labeling diverged from the fresh run")
    // partitions untouched by the append keep their exact files; at least
    // one partition must be untouched AND at least one rewritten, or the
    // stability claim is vacuous
    val untouched = before.keySet.filter(p => after.get(p).contains(before(p)))
    val rewritten = before.keySet.filter(p =>
      after.contains(p) && !after.get(p).contains(before(p)))
    assert(rewritten.nonEmpty || after.keySet != before.keySet,
      "append rewrote nothing — the fixture split produced no merges")
    assert(untouched.nonEmpty,
      "every partition was rewritten — the partition-scoped rewrite " +
        "is not actually pruning")
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = TextOps.dedupExactText(spark, sf)
    assert(once.count() == once.distinct().count())
    // applying the same keep-lowest-id grouping to the survivors is a no-op
    val docs = Tables.t(spark, sf, "documents")
    val survivors = docs.join(once.select("doc_id"), Seq("doc_id"), "left_semi")
    val again = survivors
      .groupBy(sha2(lower(trim(col("text"))), 256)).agg(min("doc_id").as("doc_id"))
    assert(again.count() == once.count())
  }

  test("minhash bands always collide for exact duplicate texts") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
      (3L, "a completely different document about spark query engines entirely"))
      .toDF("doc_id", "text")
    val sigs = TextOps.minhashSignatures(
      texts.withColumn("tokens", split(trim(col("text")), "\\s+")))
    val rows = sigs.orderBy("doc_id").collect()
    val sigCols = (0 until TextOps.NumHashes).map(j => s"sig_$j")
    val s1 = sigCols.map(c => rows(0).getAs[Long](c))
    val s2 = sigCols.map(c => rows(1).getAs[Long](c))
    val s3 = sigCols.map(c => rows(2).getAs[Long](c))
    assert(s1 == s2)   // identical text -> identical signature -> all bands collide
    assert(s1 != s3)
  }

  test("knn top-1 of every probe is itself with cosine ~ 1") {
    val top1 = VectorOps.knnCosineTopk(spark, sf).filter(col("rnk") === 1).collect()
    assert(top1.nonEmpty)
    top1.foreach { r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
  }

  test("simhash: equal texts equal hashes; small edit -> small hamming distance") {
    graft.functions.GraftFunctions.register(spark)
    val base = "spark engine batch stream join window shuffle partition " * 4
    val edited = base.replace("window", "pane")
    val df = Seq((1L, base), (2L, base), (3L, edited)).toDF("doc_id", "text")
    val tokens = df.withColumn("tokens", split(trim(col("text")), "\\s+"))
    val hashed = tokens.withColumn("simhash", expr("simhash64(tokens)"))
      .orderBy("doc_id").select("simhash").as[Long].collect()
    assert(hashed(0) == hashed(1))
    val hamming = java.lang.Long.bitCount(hashed(0) ^ hashed(2))
    assert(hamming > 0 && hamming <= 16, s"hamming=$hamming")

    // parity: the native expression is bit-identical to an independent
    // reference fold over md5-upper-64 token hashes (the same value the
    // DuckDB oracle derives nibble-by-nibble from the md5 hex string)
    def refSimhash(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](64)
      text.trim.split("\\s+").foreach { tk =>
        md.reset()
        val h = java.nio.ByteBuffer.wrap(
          md.digest(tk.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          .getLong // first 8 bytes big-endian
        (0 until 64).foreach(i =>
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1)
      }
      (0 until 64).foldLeft(0L)((acc, i) =>
        if (votes(i) > 0) acc | (1L << i) else acc)
    }
    assert(hashed.toSeq == Seq(refSimhash(base), refSimhash(base),
      refSimhash(edited)))
  }

  test("lsh buckets: identical vectors share a bucket; buckets partition the corpus") {
    val b = VectorOps.lshCosineBuckets(spark, sf)
    assert(b.count() == Tables.t(spark, sf, "embeddings").count())
    assert(b.select("bucket").distinct().count() > 1) // not all in one bucket
  }

  test("banded near-dup always catches an exact duplicate vector; plan is band-joined") {
    val pairs = VectorOps.nearDupCosine(spark, sf, threshold = 0.45)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be a band-keyed equi-join, never all-pairs")
    val got = pairs.collect()
    assert(got.forall(_.getAs[Double]("cosine") >= 0.45))
    assert(got.map(r => (r.getLong(0), r.getLong(1))).distinct.length == got.length)

    // identical vectors agree on every plane bit -> collide in every band,
    // cosine is exactly 1 -> the pair MUST be reported (recall floor).
    val v = Seq.tabulate(64)(i => (i % 7 - 3).toFloat)
    val other = Seq.tabulate(64)(i => ((i * 13) % 9 - 4).toFloat)
    val synth = Seq((1L, v), (2L, v), (3L, other)).toDF("vec_id", "embedding")
    val dupPairs = VectorOps.nearDupPairs(synth, threshold = 0.99).collect()
    assert(dupPairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(math.abs(dupPairs.head.getAs[Double]("cosine") - 1.0) < 1e-12)
  }

  test("near-dup sketch rejects vectors wider than the weights table") {
    val wide = Seq((1L, Seq.fill(600)(1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception](VectorOps.nearDupPairs(wide, 0.9).count())
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("hyperplane_sketch")) ||
        mentions(t.getCause))
    assert(mentions(ex), ex.getMessage)
  }

  test("hot-bucket guard bounds candidate pairs under degenerate input") {
    // A block of identical vectors floods every one of its band buckets
    // past the cap: with the guard those buckets drop out of candidate
    // generation (quadratic expansion averted), while a small duplicate
    // pair elsewhere still pairs normally.
    val v = Seq.tabulate(64)(i => (i % 5 - 2).toFloat)
    val u = Seq.tabulate(64)(i => ((i * 7) % 11 - 5).toFloat)
    val degenerate = (1L to 30L).map(id => (id, v)) ++ Seq((9001L, u), (9002L, u))
    val df = degenerate.toDF("vec_id", "embedding")
    val guarded = VectorOps.nearDupPairs(df, threshold = 0.99, maxBucketSize = 10)
      .collect()
    assert(guarded.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((9001L, 9002L)),
      s"got ${guarded.length} pairs")
    // sanity: the default cap (1024 > 30) DOES pair the identical block —
    // proving the guard (not a bug) removed it above
    val unguarded = VectorOps.nearDupPairs(df, 0.99)
    assert(unguarded.filter(col("vec_a") === 1L && col("vec_b") === 2L).count() == 1)
  }

  test("adaptive band bits: fixture-scale floor, log growth, 32-bit cap") {
    import VectorOps.{adaptiveBandBits, BitsPerBand, TargetBucketOccupancy}
    // at fixture scale the floor keeps the plan identical to the fixed shape
    assert(adaptiveBandBits(0) == BitsPerBand)
    assert(adaptiveBandBits(2000) == BitsPerBand)
    // expected bucket occupancy n / 2^bits stays within [target/2, target]
    // once past the floor: candidate volume is linear in n, not quadratic
    for (e <- 13 to 35; n = 1L << e) {
      val bits = adaptiveBandBits(n)
      if (bits > BitsPerBand && bits < 32) {
        val occupancy = n.toDouble / (1L << bits)
        assert(occupancy <= TargetBucketOccupancy && occupancy >= TargetBucketOccupancy / 2.0,
          s"n=$n bits=$bits occupancy=$occupancy")
      }
    }
    // monotone in n, capped at 32 so at least two 64-bit bands remain
    val sizes = Seq(1L, 1000L, 100000L, 10000000L, Long.MaxValue)
    assert(sizes.map(adaptiveBandBits) == sizes.map(adaptiveBandBits).sorted)
    assert(adaptiveBandBits(Long.MaxValue) == 32)
  }

  test("simhash near-dup: pigeonhole recall is exact within the hamming budget") {
    // hamming(a,b)=0 (identical), hamming(a,c)=5 (<= 7: MUST be found by
    // pigeonhole — 5 flipped bits can't touch all 8 bands), hamming(a,d)=64
    val a = 0x0123456789abcdefL
    val c = a ^ 0x8421080000000000L // 5 bits across 3 bands
    val hashes = Seq((1L, a), (2L, a), (3L, c), (4L, ~a))
      .toDF("doc_id", "simhash")
    val pairs = TextOps.simhashPairs(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 5), (2L, 3L, 5)))
    val plan = TextOps.simhashPairs(hashes).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("ivf search: self-hit invariant, bounded candidates, recall floor vs exact") {
    val ivf = VectorOps.ivfCosineTopk(spark, sf).collect()
    // contract shape: 5 probes x top-5
    assert(ivf.length == 25)
    // a probe's own cell is its nearest centroid -> top-1 is always itself
    ivf.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
    // recall@5 vs the exact brute-force path: probing 4/16 cells must
    // recover a solid majority of the true neighbors on this corpus
    val exact = VectorOps.knnCosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = ivf.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.6, s"ivf recall@5 = $recall")
  }

  /** The one-slice layout `_0` a sharded build at S=1 stored before the
    * single index became the one-slice case: serving and appending it
    * must match the single index.
    */
  private def asOneSlice(db: String, f: AnnFamily): Unit =
    AnnIndexSpec.moveSlice(spark, db, f, "", "_0")

  test("ivf index persists as warehouse tables and serves a fresh session") {
    val db = "ivf_index_db"
    VectorOps.build(AnnFamily.Ivf, Tables.t(spark, sf, "embeddings"), db)
    assert(spark.catalog.tableExists(s"$db.${VectorOps.IvfAssignmentsTable}"))
    assert(spark.catalog.tableExists(s"$db.${VectorOps.IvfCentroidsTable}"))

    // a NEW session (fresh session state — no PlanCache entries, no trained
    // quantizer in memory) serves the search purely from the stored tables
    val s2 = spark.newSession()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"))).toSeq
    val served = key(VectorOps.topkFromIndex(AnnFamily.Ivf, s2, sf, db).collect())
    // deterministic training → the stored index answers exactly like an
    // in-session retrain
    val retrained = key(VectorOps.ivfCosineTopk(spark, sf).collect())
    assert(served == retrained && served.length == 25)

    // the scheduled refresh entry rebuilds the stored index on its cron fire
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    spark.sql(s"DROP TABLE $db.${VectorOps.IvfAssignmentsTable}")
    val entry = VectorOps.refreshEntry(AnnFamily.Ivf, "ivf-refresh", "0 3 * * *", db,
      s => Tables.t(s, sf, "embeddings"))
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)
    assert(runner.tick(spark, t0.plusHours(3)) == Seq("ivf-refresh"))
    // a long-lived serving session refreshes its relation cache after an
    // index rebuild replaced the table files underneath it
    s2.catalog.refreshTable(s"$db.${VectorOps.IvfAssignmentsTable}")
    s2.catalog.refreshTable(s"$db.${VectorOps.IvfCentroidsTable}")
    assert(key(VectorOps.topkFromIndex(AnnFamily.Ivf, s2, sf, db).collect()) == served)

    // semantic dedup served from the SAME stored index equals an
    // in-session retrain at the stored cell count (deterministic quantizer)
    val fromIdx = VectorOps.ivfSemanticDedupFromIndex(s2, db)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inSession = VectorOps.ivfSemanticDedupPairs(
      Tables.t(spark, sf, "embeddings"), 0.45, nCells = Some(VectorOps.IvfCells))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fromIdx == inSession)
  }

  test("pq index persists as warehouse tables and serves a fresh session " +
      "with no training jobs") {
    val db = "pq_index_db"
    VectorOps.build(AnnFamily.Pq, Tables.t(spark, sf, "embeddings"), db)
    assert(spark.catalog.tableExists(s"$db.${VectorOps.PqCodesTable}"))
    assert(spark.catalog.tableExists(s"$db.${VectorOps.PqCodebooksTable}"))
    // codes table is the compressed scan: vec_id + M small ints, NO raw
    // vectors (the memory-bound contract — re-rank point-reads the corpus)
    val codeCols = spark.table(s"$db.${VectorOps.PqCodesTable}").columns.toSet
    assert(codeCols == (Set("vec_id") ++
      (0 until VectorOps.PqSubspaces).map(m => s"code_$m")),
      s"codes table must hold only codes: $codeCols")

    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"))).toSeq
    // a NEW session serves purely from the stored tables...
    val s2 = spark.newSession()
    val servedDf = VectorOps.topkFromIndex(AnnFamily.Pq, s2, sf, db)
    // ...with NO quantizer training anywhere in the query path: Lloyd's
    // is the only vec_sqdist consumer, the serving scan is ADC (vec_dot)
    val plan = servedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("vec_sqdist"),
      s"serving path must not train (vec_sqdist = Lloyd's argmin):\n${plan.take(800)}")
    val served = key(servedDf.collect())
    // deterministic training → stored index answers like an in-session
    // retrain (pqTopkFrame trains + searches in one go)
    val retrained = key(VectorOps.pqTopkFrame(spark, sf)
      .orderBy("probe_id", "rnk").collect())
    assert(served == retrained && served.length == 25)

    // scheduled refresh rebuilds the stored index on its cron fire
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    spark.sql(s"DROP TABLE $db.${VectorOps.PqCodesTable}")
    val entry = VectorOps.refreshEntry(AnnFamily.Pq, "pq-refresh", "0 4 * * *", db,
      s => Tables.t(s, sf, "embeddings"))
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)
    assert(runner.tick(spark, t0.plusHours(4)) == Seq("pq-refresh"))
    s2.catalog.refreshTable(s"$db.${VectorOps.PqCodesTable}")
    s2.catalog.refreshTable(s"$db.${VectorOps.PqCodebooksTable}")
    assert(key(VectorOps.topkFromIndex(AnnFamily.Pq, s2, sf, db).collect()) == served)
  }

  test("codebooks past the literal threshold ride broadcast joins: " +
      "identical results at fixture K, bounded plan at K=256") {
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"))).toSeq
    val litKey = key(VectorOps.pqTopkFrame(spark, sf)
      .orderBy("probe_id", "rnk").collect())
    val prev = VectorOps.PqCodebookLiteralMaxDoubles
    // 1. equivalence: force the broadcast path at fixture K — the lookup
    // is exact either way, so the top-k must be IDENTICAL
    try {
      VectorOps.PqCodebookLiteralMaxDoubles = 0
      val bc = VectorOps.pqTopkFrame(spark, sf).orderBy("probe_id", "rnk")
      assert(bc.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "forced-broadcast path must join the codebook relations")
      assert(key(bc.collect()) == litKey,
        "broadcast-codebook lookup diverged from the literal path")
    } finally VectorOps.PqCodebookLiteralMaxDoubles = prev

    // 2. a production-sized K=256 codebook (16k doubles) crosses the
    // threshold on its own and must keep the plan string bounded — the
    // literal form embeds every centroid in the plan
    val k256 = (0 until VectorOps.PqSubspaces).map(m => m ->
      (0 until 256).map(k => (0 until 8).map(d =>
        ((m * 31 + k * 7 + d) % 997).toDouble / 997).toSeq).toSeq).toMap
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val codes = emb.select(col("vec_id") +: (0 until VectorOps.PqSubspaces)
      .map(m => pmod(col("vec_id") * (m + 3), lit(256)).cast("int")
        .as(s"code_$m")): _*)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), x => x.cast("double")).as("probe_vec"))
    val bcDf = VectorOps.searchPq(codes, k256, emb, probes, subDim = 8)
    val bcLen = bcDf.queryExecution.executedPlan.toString.length
    assert(bcDf.collect().length == 25, "K=256 broadcast search must run")
    VectorOps.PqCodebookLiteralMaxDoubles = Int.MaxValue
    try {
      val litLen = VectorOps.searchPq(codes, k256, emb, probes, subDim = 8)
        .queryExecution.executedPlan.toString.length
      assert(bcLen * 4 < litLen,
        s"broadcast plan ($bcLen chars) should be far smaller than the " +
          s"literal-inlined plan ($litLen chars) at K=256")
    } finally VectorOps.PqCodebookLiteralMaxDoubles = prev
  }

  test("sq8: quantization maps the corpus range exactly onto [0,255], " +
      "reconstruction error bounded by one level, recall beats the pq floor") {
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val (mins, widths) = VectorOps.sqParams(emb)
    val codes = VectorOps.sqEncode(emb, mins, widths)
    // every code in [0,255]; corpus min hits 0 and corpus max hits 255 in
    // every non-degenerate dim (the range is mapped exactly, not padded)
    val ex = codes.select(explode(col("codes")).as("c"))
    assert(ex.filter(col("c") < 0 || col("c") > 255).count() == 0)
    val dimStats = codes
      .select(posexplode(col("codes")).as(Seq("dim", "c")))
      .groupBy("dim").agg(min("c").as("lo"), max("c").as("hi"))
      .collect()
    dimStats.foreach { r =>
      // lo is exactly 0 (x=mn ⇒ 0·255/w = 0 exactly); hi is 255 up to one
      // ulp of slack — (w·255)/w can round to 254.999…, flooring to 254
      if (widths(r.getInt(0)) > 0)
        assert(r.getInt(1) == 0 && r.getInt(2) >= 254,
          s"dim ${r.getInt(0)} codes span [${r.getInt(1)}, ${r.getInt(2)}]")
    }
    // reconstruction law: |x̂_i − x_i| ≤ w_i/255 for every in-range value
    // (floor quantization loses at most one level)
    val wLit = typedLit(widths)
    val mnLit = typedLit(mins)
    val decoded = zip_with(
      zip_with(col("codes"), wLit, (c, w) => (c.cast("double") * w) / lit(255.0)),
      mnLit, (d, mn) => mn + d)
    val slack = zip_with(
      zip_with(transform(col("embedding"), x => x.cast("double")), decoded,
        (x, xh) => abs(xh - x)),
      wLit, (e, w) => e - w / lit(255.0))
    val err = emb.join(codes, "vec_id")
      .select(array_max(slack).as("slack"))
      .agg(max("slack")).head.getDouble(0)
    assert(err <= 1e-12, s"reconstruction error exceeded one level by $err")
    // self-hit + recall@5 vs exact brute force: 8 bits per dim is
    // near-exact, so SQ must beat PQ's 0.6 floor comfortably
    val rows = VectorOps.sqCosineTopk(spark, sf).collect()
    assert(rows.length == 25)
    rows.filter(_.getAs[Int]("rnk") == 1).foreach(r =>
      assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("probe_id")))
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = key(VectorOps.knnCosineTopk(spark, sf).collect())
    val recall = (exact intersect key(rows)).size.toDouble / exact.size
    assert(recall >= 0.8, s"sq recall@5 = $recall")
  }

  test("sq_adc_dot: fused native score bit-equal to the HOF decode-dot " +
      "chain over every fixture pair, interpreted ≡ codegen, null on " +
      "length mismatch") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val (mins, widths) = VectorOps.sqParams(emb)
    val codes = VectorOps.sqEncode(emb, mins, widths)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), x => x.cast("double")).as("probe_vec"))
    val both = codes.crossJoin(broadcast(probes)).select(
      call_function("sq_adc_dot", col("probe_vec"), col("codes"),
        typedLit(mins), typedLit(widths)).as("native"),
      call_function("vec_dot", col("probe_vec"),
        VectorOps.sqDecode(col("codes"), mins, widths)).as("hof"))
      .collect()
    assert(both.length > 100)
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
    // interpreted eval agrees with the codegen'd collect() path above
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    def dArr(v: Seq[Double]) =
      Literal(new GenericArrayData(v.toArray), ArrayType(DoubleType))
    val p = Seq(0.5, -1.25, 2.0)
    val cs = Seq(0, 128, 255)
    val mn = Seq(-1.0, 0.25, 0.125)
    val wd = Seq(2.0, 1.5, 0.75)
    val cLit = Literal(new GenericArrayData(cs.toArray), ArrayType(IntegerType))
    val got = graft.functions.SqAdcDot(dArr(p), cLit, dArr(mn), dArr(wd))
      .eval(null).asInstanceOf[Double]
    var expect = 0.0
    for (i <- 0 until 3)
      expect += p(i) * (mn(i) + (cs(i).toDouble * wd(i)) / 255.0)
    assert(got == expect)
    // mismatched length → null (the HOF chain's contract)
    val short = Literal(new GenericArrayData(Array(1, 2)), ArrayType(IntegerType))
    assert(graft.functions.SqAdcDot(dArr(p), short, dArr(mn), dArr(wd))
      .eval(null) == null)
  }

  test("sq index persists as warehouse tables and serves a fresh session " +
      "with no training aggregation; frozen-param appends are exact") {
    val db = "sq_index_db"
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    VectorOps.build(AnnFamily.Sq, emb.filter(col("vec_id") <= t0), db)
    assert(spark.catalog.tableExists(s"$db.${VectorOps.SqCodesTable}"))
    assert(spark.catalog.tableExists(s"$db.${VectorOps.SqParamsTable}"))
    // codes table is the compressed scan: (vec_id, codes), no raw vectors
    assert(spark.table(s"$db.${VectorOps.SqCodesTable}").columns.toSet ==
      Set("vec_id", "codes"))

    // frozen-parameter append: grown table bit-equal to encoding the
    // union with the STORED params (never the union-trained ones)
    VectorOps.append(AnnFamily.Sq, spark, db, emb.filter(col("vec_id") > t0))
    val (mins, widths) = VectorOps.loadSqParams(spark, db)
    def codeKey(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq
    assert(codeKey(spark.table(s"$db.${VectorOps.SqCodesTable}")) ==
      codeKey(VectorOps.sqEncode(emb, mins, widths)),
      "appended codes diverged from a frozen-parameter encode of the union")
    // the append is row-level idempotent (range-pruned anti-join)
    val before = spark.table(s"$db.${VectorOps.SqCodesTable}").count()
    VectorOps.append(AnnFamily.Sq, spark, db, emb.filter(col("vec_id") > t0))
    assert(spark.table(s"$db.${VectorOps.SqCodesTable}").count() == before)

    // a NEW session serves purely from the stored tables, with no
    // training aggregation anywhere in the plan (the min/max pass is the
    // only posexplode consumer on the SQ path)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"))).toSeq
    val s2 = spark.newSession()
    val servedDf = VectorOps.topkFromIndex(AnnFamily.Sq, s2, sf, db)
    val plan = servedDf.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"),
      s"serving path must not train (posexplode = min/max pass):\n${plan.take(800)}")
    val served = key(servedDf.collect())
    assert(served.length == 25)
    // the full-corpus index was appended under the SLICE-trained params —
    // out-of-range values saturate, ranking may differ from a full
    // retrain; a full REBUILD must serve exactly like the in-session path
    VectorOps.build(AnnFamily.Sq, emb, db)
    s2.catalog.refreshTable(s"$db.${VectorOps.SqCodesTable}")
    s2.catalog.refreshTable(s"$db.${VectorOps.SqParamsTable}")
    val rebuilt = key(VectorOps.topkFromIndex(AnnFamily.Sq, s2, sf, db).collect())
    assert(rebuilt == key(VectorOps.sqTopkFrame(spark, sf)
      .orderBy("probe_id", "rnk").collect()))

    // scheduled refresh rebuilds the stored index on its cron fire
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    spark.sql(s"DROP TABLE $db.${VectorOps.SqCodesTable}")
    val entry = VectorOps.refreshEntry(AnnFamily.Sq, "sq-refresh", "0 4 * * *", db,
      s => Tables.t(s, sf, "embeddings"))
    val tt = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = tt)
    assert(runner.tick(spark, tt.plusHours(4)) == Seq("sq-refresh"))
    s2.catalog.refreshTable(s"$db.${VectorOps.SqCodesTable}")
    s2.catalog.refreshTable(s"$db.${VectorOps.SqParamsTable}")
    assert(key(VectorOps.topkFromIndex(AnnFamily.Sq, s2, sf, db).collect()) == rebuilt)
  }

  test("ivf-sq: cell-pruned SQ scan at the bare IVF probe budget holds " +
      "the exact-scoring recall floor; stored index serves partition-" +
      "pruned; composed appends are exact") {
    val frame = VectorOps.ivfSqTopkFrame(spark, sf)
    val rows = frame.orderBy("probe_id", "rnk").collect()
    assert(rows.length == 25)
    // self-hit: a probe's own cell is always its nearest, and the
    // near-exact SQ score keeps self inside the cut
    rows.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("probe_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
    // the SQ scan joins on the cell key — never all-codes × all-probes
    assert(frame.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      frame.queryExecution.executedPlan.toString.take(600))
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = key(VectorOps.knnCosineTopk(spark, sf).collect())
    // recall at the BARE adaptiveProbe budget (no PQ-style slack): the
    // 8-bit score is near-exact, so cell pruning is the only recall
    // loss — the plain-IVF floor must hold
    val recall = (exact intersect key(rows)).size.toDouble / exact.size
    assert(recall >= 0.6, s"ivf-sq recall@5 = $recall")

    // stored index: deterministic training → identical serve; the code
    // scan is STATICALLY pruned to the probed cells' partitions
    val db = "ivfsq_index_db"
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    VectorOps.build(AnnFamily.IvfSq, emb.filter(col("vec_id") <= t0), db)
    // composed frozen-parameter append: stored-range encode +
    // stored-centroid assignment over the remainder
    VectorOps.append(AnnFamily.IvfSq, spark, db, emb.filter(col("vec_id") > t0))
    val (mins, widths) = VectorOps.loadSqParams(spark, db,
      VectorOps.IvfSqParamsTable)
    val expect = VectorOps.sqEncode(emb, mins, widths)
      .join(VectorOps.assignToCells(
        emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vec")),
        spark.table(s"$db.${VectorOps.IvfSqCentroidsTable}")), "vec_id")
    def codeKey(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).sortBy(_._1).toSeq
    assert(codeKey(spark.table(s"$db.${VectorOps.IvfSqCodesTable}")) ==
      codeKey(expect),
      "appended composed index diverged from frozen-parameter encode+assign")

    val s2 = spark.newSession()
    val served = VectorOps.topkFromIndex(AnnFamily.IvfSq, s2, sf, db)
    val codeScans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith(
            VectorOps.IvfSqCodesTable)) => f
    }
    assert(codeScans.size == 1, s"expected 1 code scan, got ${codeScans.size}")
    codeScans.foreach { f =>
      val pruning = f.partitionFilters.filter(e =>
        e.references.exists(_.name == "cell") &&
          !e.toString.toLowerCase.startsWith("isnotnull"))
      assert(pruning.nonEmpty,
        s"code scan not partition-pruned: ${f.partitionFilters}")
    }
    assert(served.collect().length == 25)
  }

  test("sharded ANN appends: hash-slice routing runs each shard's " +
      "frozen-parameter append; grown index serves training-free; " +
      "S=1 ≡ the single-index append") {
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    val base = emb.filter(col("vec_id") <= t0)
    val rest = emb.filter(col("vec_id") > t0)

    val db = "shard_append_db"
    VectorOps.build(AnnFamily.Pq, base, db, 3)
    VectorOps.build(AnnFamily.Ivf, base, db, 3)
    VectorOps.append(AnnFamily.Pq, spark, db, rest)
    VectorOps.append(AnnFamily.Ivf, spark, db, rest)
    def codesKey(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
    }
    for (sh <- 0 until 3) {
      val slice = emb.filter(pmod(xxhash64(col("vec_id")), lit(3L)) === sh)
      // PQ shard: grown codes ≡ frozen-codebook encode of ITS hash slice
      // of the union corpus (membership never drifts — same pmod law)
      val books = VectorOps.loadPqBooks(spark, db,
        s"${VectorOps.PqCodebooksTable}_$sh")
      assert(codesKey(spark.table(s"$db.${VectorOps.PqCodesTable}_$sh")) ==
        codesKey(VectorOps.pqEncode(slice, books, books(0).head.size)),
        s"pq shard $sh diverged from frozen-parameter encode")
      // IVF shard: grown assignments ≡ stored-centroid assignment
      val cents = spark.table(s"$db.${VectorOps.IvfCentroidsTable}_$sh")
      val expect = VectorOps.assignToCells(
        slice.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vec")), cents)
        .select("vec_id", "cell")
      assert(codesKey(spark.table(s"$db.${VectorOps.IvfAssignmentsTable}_$sh")
          .select("vec_id", "cell")) == codesKey(expect),
        s"ivf shard $sh diverged from stored-centroid assignment")
    }
    // the grown sharded index serves with zero training jobs
    val served = VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, db)
    assert(!served.queryExecution.executedPlan.toString.contains("vec_sqdist"))
    assert(served.collect().length == 25)

    // S=1 sharded append lands the exact single-index append state
    val db1 = "shard_append_s1_db"
    val dbS = "shard_append_single_db"
    VectorOps.build(AnnFamily.Pq, base, db1)
    asOneSlice(db1, AnnFamily.Pq)
    VectorOps.append(AnnFamily.Pq, spark, db1, rest)
    VectorOps.build(AnnFamily.Pq, base, dbS)
    VectorOps.append(AnnFamily.Pq, spark, dbS, rest)
    assert(codesKey(spark.table(s"$db1.${VectorOps.PqCodesTable}_0")) ==
      codesKey(spark.table(s"$dbS.${VectorOps.PqCodesTable}")))
  }

  test("sharded ivf-sq: S=1 bit-equal to the single composed index; " +
      "S=3 serving scans partition-pruned; composed sharded appends exact") {
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    def full(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
    // S=1 ≡ single composed index, full rows incl. cosines (the
    // sharded-band equality standard; shardTopkBudget(1, ·) is exactly
    // the single-index adaptiveProbe budget)
    val db0 = "ivfsq_shard_single_db"
    VectorOps.build(AnnFamily.IvfSq, emb, db0)
    val single = full(VectorOps.topkFromIndex(AnnFamily.IvfSq, spark, sf, db0).collect())
    val db1 = "ivfsq_shard_s1_db"
    VectorOps.build(AnnFamily.IvfSq, emb, db1)
    asOneSlice(db1, AnnFamily.IvfSq)
    assert(full(VectorOps.topkFromIndex(AnnFamily.IvfSq, spark, sf, db1)
      .collect()) == single,
      "S=1 sharded IVF-SQ diverged from the single composed index")

    // S=3 grown by the composed sharded append: per shard, stored state ≡
    // frozen-parameter encode+assign of ITS hash slice of the union
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    val dbS = "ivfsq_shard_s3_db"
    VectorOps.build(AnnFamily.IvfSq, emb.filter(col("vec_id") <= t0), dbS, 3)
    VectorOps.append(AnnFamily.IvfSq, spark, dbS, emb.filter(col("vec_id") > t0))
    def key(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    for (sh <- 0 until 3) {
      val slice = emb.filter(pmod(xxhash64(col("vec_id")), lit(3L)) === sh)
      val (mins, widths) = VectorOps.loadSqParams(spark, dbS,
        s"${VectorOps.IvfSqParamsTable}_$sh")
      val expect = VectorOps.sqEncode(slice, mins, widths)
        .join(VectorOps.assignToCells(
          slice.select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("vec")),
          spark.table(s"$dbS.${VectorOps.IvfSqCentroidsTable}_$sh")), "vec_id")
      assert(key(spark.table(s"$dbS.${VectorOps.IvfSqCodesTable}_$sh")) ==
        key(expect), s"ivf-sq shard $sh diverged after the sharded append")
    }
    // every shard's serving scan is statically pruned to its probed cells
    val served = VectorOps.topkFromIndex(AnnFamily.IvfSq, spark, sf, dbS)
    val codeScans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith(
            VectorOps.IvfSqCodesTable)) => f
    }
    assert(codeScans.size == 3, s"expected 3 shard code scans, got ${codeScans.size}")
    codeScans.foreach { f =>
      val pruning = f.partitionFilters.filter(e =>
        e.references.exists(_.name == "cell") &&
          !e.toString.toLowerCase.startsWith("isnotnull"))
      assert(pruning.nonEmpty,
        s"shard code scan not partition-pruned: ${f.partitionFilters}")
    }
    val rows = served.collect()
    assert(rows.length == 25)
    rows.filter(_.getAs[Int]("rnk") == 1).foreach(r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id")))

    // scheduled sharded refresh rebuilds a dropped shard and serves
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    spark.sql(s"DROP TABLE $dbS.${VectorOps.IvfSqCodesTable}_1")
    val entry = VectorOps.refreshEntry(AnnFamily.IvfSq, "ivfsq-sh",
      "0 4 * * *", dbS, s => Tables.t(s, sf, "embeddings"), nShards = 3)
    val tt = LocalDateTime.parse("2026-01-01T00:00:00")
    assert(new ScheduleRunner(Seq(entry), startAt = tt)
      .tick(spark, tt.plusHours(4)) == Seq("ivfsq-sh"))
    assert(VectorOps.topkFromIndex(AnnFamily.IvfSq, spark, sf, dbS)
      .collect().length == 25)
  }

  test("ivf-pq: cell-pruned ADC scan, self-hit via exact re-rank, recall " +
      "holds the flat-pq floor") {
    val frame = VectorOps.ivfPqTopkFrame(spark, sf)
    val rows = frame.orderBy("probe_id", "rnk").collect()
    assert(rows.length == 25)
    // exact re-rank restores the self-hit guarantee (cosine(self)=1)
    rows.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
    // recall@5 vs exact brute force: must hold the flat-PQ floor — the
    // cell pruning may only cut candidates the re-rank wouldn't keep
    val exact = VectorOps.knnCosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = rows.map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.6, s"ivf-pq recall@5 = $recall")
    // the code scan is CELL-PRUNED: the candidate join is a hash join on
    // the cell key — never a cross join of all codes against all probes
    val plan = frame.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[cell#".r.findFirstIn(plan).isDefined,
      s"ADC scan must join on the probed-cell key:\n${plan.take(1500)}")
  }

  test("ivf-pq index persists (codes partitioned by cell) and serves a " +
      "fresh session identically to the in-session composition") {
    val db = "ivfpq_index_db"
    VectorOps.build(AnnFamily.IvfPq, Tables.t(spark, sf, "embeddings"), db)
    for (t <- Seq(VectorOps.IvfPqCodesTable, VectorOps.IvfPqCentroidsTable,
        VectorOps.IvfPqCodebooksTable))
      assert(spark.catalog.tableExists(s"$db.$t"))
    // the code table is partitioned by the coarse cell — the probed-cell
    // pruning becomes FILE-level pruning in the serving scan
    val parts = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        VectorOps.IvfPqCodesTable, Some(db))).partitionColumnNames
    assert(parts == Seq("cell"), s"codes must partition by cell: $parts")

    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"))).toSeq
    val s2 = spark.newSession()
    val served = key(VectorOps.topkFromIndex(AnnFamily.IvfPq, s2, sf, db).collect())
    val inSession = key(VectorOps.ivfPqTopkFrame(spark, sf)
      .orderBy("probe_id", "rnk").collect())
    assert(served == inSession && served.length == 25,
      "stored IVF-PQ index must answer exactly like the in-session composition")
  }

  test("sharded pq serving index: S=1 reproduces the single index " +
      "bit-for-bit, self-hit and recall hold at S=4") {
    val emb = Tables.t(spark, sf, "embeddings")
    def full(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
    val db1 = "pq_shard_single_db"
    VectorOps.build(AnnFamily.Pq, emb, db1)
    val single = full(VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, db1).collect())
    // S=1: the hash slice keeps every row, training is identical, and the
    // exact-cosine merge of one shard's top-5 IS that top-5 — bit-equal
    // (the sharded-band-index equality standard)
    val dbS1 = "pq_shard_s1_db"
    VectorOps.build(AnnFamily.Pq, emb, dbS1)
    asOneSlice(dbS1, AnnFamily.Pq)
    assert(full(VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, dbS1)
      .collect()) == single,
      "S=1 sharded PQ diverged from the single index")
    // S=4: disjoint covering slices; self-hit survives the merge (the
    // probe's own shard re-ranks it exactly); recall holds the PQ floor
    val dbS4 = "pq_shard_s4_db"
    VectorOps.build(AnnFamily.Pq, emb, dbS4, 4)
    val counts = (0 until 4).map(sh =>
      spark.table(s"$dbS4.${VectorOps.PqCodesTable}_$sh").count())
    assert(counts.forall(_ > 0) && counts.sum == emb.count())
    val s4 = VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, dbS4).collect()
    assert(s4.length == 25)
    s4.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
    val exact = VectorOps.knnCosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val mine = s4.map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect mine).size.toDouble / exact.size
    assert(recall >= 0.6, s"S=4 sharded PQ recall@5 = $recall")
  }

  test("sharded index refresh entry rebuilds every shard on its cron fire") {
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    val db = "pq_shard_refresh_db"
    VectorOps.build(AnnFamily.Pq, Tables.t(spark, sf, "embeddings"), db, 2)
    spark.sql(s"DROP TABLE `$db`.`${VectorOps.PqCodesTable}_1`")
    val entry = VectorOps.refreshEntry(AnnFamily.Pq, "pqs", "0 4 * * *", db,
      s => Tables.t(s, sf, "embeddings"), nShards = 2)
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)
    assert(runner.tick(spark, t0.plusHours(4)) == Seq("pqs"))
    assert(spark.catalog.tableExists(s"$db.${VectorOps.PqCodesTable}_1"),
      "refresh must rebuild the dropped shard")
    assert(VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, db)
      .collect().length == 25)
  }

  test("sharded ivf-pq serving index: S=1 bit-equal to single, per-shard " +
      "scans partition-pruned to probed cells, recall holds at S=4") {
    val emb = Tables.t(spark, sf, "embeddings")
    def full(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
    val db1 = "ivfpq_shard_single_db"
    VectorOps.build(AnnFamily.IvfPq, emb, db1)
    val single = full(VectorOps.topkFromIndex(AnnFamily.IvfPq, spark, sf, db1).collect())
    val dbS1 = "ivfpq_shard_s1_db"
    VectorOps.build(AnnFamily.IvfPq, emb, dbS1)
    asOneSlice(dbS1, AnnFamily.IvfPq)
    assert(full(VectorOps.topkFromIndex(AnnFamily.IvfPq, spark, sf, dbS1)
      .collect()) == single,
      "S=1 sharded IVF-PQ diverged from the single composed index")
    val dbS4 = "ivfpq_shard_s4_db"
    VectorOps.build(AnnFamily.IvfPq, emb, dbS4, 4)
    val served = VectorOps.topkFromIndex(AnnFamily.IvfPq, spark, sf, dbS4)
    // every shard's code scan is statically pruned to the probed cells:
    // the partition-column IN-list lands in the scan's PartitionFilters
    // (file-level pruning at plan time, not runtime DPP)
    val codeScans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith(
            VectorOps.IvfPqCodesTable)) => f
    }
    assert(codeScans.size == 4, s"expected 4 shard code scans, got ${codeScans.size}")
    codeScans.foreach { f =>
      val pruning = f.partitionFilters.filter(e =>
        e.references.exists(_.name == "cell") &&
          !e.toString.toLowerCase.startsWith("isnotnull"))
      assert(pruning.nonEmpty,
        s"shard code scan not partition-pruned: ${f.partitionFilters}")
    }
    val rows = served.collect()
    assert(rows.length == 25)
    rows.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
    val exact = VectorOps.knnCosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val mine = rows.map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect mine).size.toDouble / exact.size
    assert(recall >= 0.6, s"S=4 sharded IVF-PQ recall@5 = $recall")
  }

  test("incremental ANN appends: frozen-parameter append is bit-equal to " +
      "assignment of the union corpus, and the grown index serves " +
      "without retraining") {
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val base = emb.filter(col("vec_id") <= maxId * 2 / 3)
    val batch = emb.filter(col("vec_id") > maxId * 2 / 3)
    assert(base.count() > 0 && batch.count() > 0)
    val db = "ann_append_db"
    VectorOps.build(AnnFamily.Ivf, base, db)
    VectorOps.build(AnnFamily.Pq, base, db)
    VectorOps.build(AnnFamily.IvfPq, base, db)
    VectorOps.append(AnnFamily.Ivf, spark, db, batch)
    VectorOps.append(AnnFamily.Pq, spark, db, batch)
    VectorOps.append(AnnFamily.IvfPq, spark, db, batch)
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))

    // IVF: appended inverted lists == frozen-centroid assignment of the
    // UNION corpus (cell by cell, bit-equal)
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(cellsOf(spark.table(s"$db.${VectorOps.IvfAssignmentsTable}")) ==
      cellsOf(VectorOps.assignToCells(vecs,
        spark.table(s"$db.${VectorOps.IvfCentroidsTable}"))),
      "appended IVF assignments diverged from frozen-centroid rebuild")

    // PQ: appended codes == stored-codebook encode of the union corpus
    val books = VectorOps.loadPqBooks(spark, db)
    def codesOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id") +: (0 until VectorOps.PqSubspaces)
        .map(m => col(s"code_$m")): _*)
      .collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(codesOf(spark.table(s"$db.${VectorOps.PqCodesTable}")) ==
      codesOf(VectorOps.pqEncode(emb, books, books(0).head.size)),
      "appended PQ codes diverged from frozen-codebook encode")

    // IVF-PQ: the composed rows carry both the frozen cell and codes
    val ipBooks = VectorOps.loadPqBooks(spark, db, VectorOps.IvfPqCodebooksTable)
    val expectIp = VectorOps.pqEncode(emb, ipBooks, ipBooks(0).head.size)
      .join(VectorOps.assignToCells(vecs,
        spark.table(s"$db.${VectorOps.IvfPqCentroidsTable}")), "vec_id")
    assert(cellsOf(spark.table(s"$db.${VectorOps.IvfPqCodesTable}")) ==
      cellsOf(expectIp),
      "appended IVF-PQ cells diverged from frozen-centroid rebuild")

    // the grown index serves the full corpus with zero training jobs:
    // every corpus vector is a candidate (row counts) and the serving
    // plan stays Lloyd's-free
    assert(spark.table(s"$db.${VectorOps.IvfAssignmentsTable}").count() == emb.count())
    assert(spark.table(s"$db.${VectorOps.PqCodesTable}").count() == emb.count())
    val servedDf = VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, db)
    assert(!servedDf.queryExecution.executedPlan.toString.contains("vec_sqdist"),
      "serving an appended index must not retrain")
    assert(servedDf.collect().length == 25)
    assert(VectorOps.topkFromIndex(AnnFamily.Ivf, spark, sf, db).collect().length == 25)
    assert(VectorOps.topkFromIndex(AnnFamily.IvfPq, spark, sf, db).collect().length == 25)
  }

  test("sharded ivf index: self-hit survives the shard merge, recall composes (S=2, S=4)") {
    val exact = VectorOps.knnCosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    for (nShards <- Seq(2, 4)) {
      val db = s"ivf_shard_db_$nShards"
      VectorOps.build(AnnFamily.Ivf, Tables.t(spark, sf, "embeddings"), db, nShards)
      // shards hold non-empty disjoint slices covering the corpus
      val counts = (0 until nShards).map { sh =>
        assert(spark.catalog.tableExists(s"$db.${VectorOps.IvfAssignmentsTable}_$sh"))
        spark.table(s"$db.${VectorOps.IvfAssignmentsTable}_$sh").count()
      }
      assert(counts.forall(_ > 0), s"S=$nShards: empty shard in $counts")
      assert(counts.sum == Tables.t(spark, sf, "embeddings").count())
      val got = VectorOps.topkFromIndex(AnnFamily.Ivf, spark, sf, db)
        .collect()
      assert(got.length == 25)
      // a probe lives in exactly one shard, whose index must surface it at
      // rank 1 (same self-hit argument as the single index)
      got.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
        assert(r.getAs[Long]("probe_id") == r.getAs[Long]("neighbor_id"))
        assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
      }
      // merged recall holds the single-index floor vs exact brute force
      val mine = got.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = (exact intersect mine).size.toDouble / exact.size
      assert(recall >= 0.6, s"S=$nShards sharded recall@5 = $recall")
      // the merge never concentrates candidates on one probe: per-probe
      // candidate volume stays within the probed-cell occupancy sum
      val cands = VectorOps.shardedCandidatesPerProbe(spark, sf, db)
        .collect().map(r => r.getAs[Long]("n_cands"))
      assert(cands.length == 5 && cands.max <= counts.sum,
        s"S=$nShards candidate concentration: ${cands.toSeq}")
    }
  }

  test("sharded ivf recall floor holds where quantization bites (10x corpus, S=4)") {
    // The fixture-scale floor above can pass while a bigger corpus
    // regresses: a shard's quantizer trains on n/S samples, so a FIXED
    // per-shard probe budget loses recall exactly when sharding is reached
    // for (observed before the √S budget scaling: recall@5 0.52 at S=4 vs
    // 0.60 single-index on a 5× probe corpus). 10× the fixture puts the
    // single index past the adaptive-cell floor (~19 cells) while S=4
    // shards sit at the 16-cell floor — the same structure as the probe
    // regression, big enough for quantization to bite.
    val scaled = TempDirs.create("graft-emb-scaled-spec")
    PerfProbe.buildScaledEmbeddings(spark, sf, scaled, 10)
    val exact = SparkEntry.queries("q_knn_cosine_topk")(spark, scaled).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      (exact intersect rows.map(r =>
        (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet)
        .size.toDouble / exact.size
    val singleRecall = recallOf(
      SparkEntry.queries("q_ivf_cosine_topk")(spark, scaled).collect())
    val db = "ivf_shard_floor_db"
    VectorOps.build(AnnFamily.Ivf, Tables.t(spark, scaled, "embeddings"), db, 4)
    val shardRecall = recallOf(
      VectorOps.topkFromIndex(AnnFamily.Ivf, spark, scaled, db).collect())
    // sharding exists for driver relief — it must not silently pay for it
    // in recall (deterministic quantizer: this is reproducible, not flaky)
    assert(shardRecall >= singleRecall,
      s"sharded recall@5 $shardRecall fell below single-index $singleRecall")
    assert(singleRecall >= 0.5, s"single-index recall collapsed: $singleRecall")
  }

  test("sharded semantic dedup: cross-shard exact dup pairs; S=1 equals single index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val base = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    // plant an exact duplicate of vector 0 under an id that hash-slices
    // into the OTHER shard — the pair only exists across shard boundaries
    def shardOf(id: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(id)), lit(2L))).head.getLong(0)
    val dupId = (100000L to 100050L).find(shardOf(_) != shardOf(0L)).get
    val dup = base.filter($"vec_id" === 0L)
      .select(lit(dupId).as("vec_id"), $"embedding")
    val db = "ivf_shard_dedup"
    VectorOps.build(AnnFamily.Ivf, base.unionByName(dup), db, nShards = 2)
    val pairs = VectorOps.ivfSemanticDedupFromIndex(spark, db)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val planted = pairs.find(p => p._1 == 0L && p._2 == dupId)
    assert(planted.isDefined,
      s"cross-shard exact duplicate (0, $dupId) not found in ${pairs.length} pairs")
    assert(math.abs(planted.get._3 - 1.0) < 1e-12)
    // S=1 reproduces the single-index dedup bit-for-bit (same quantizer,
    // same adaptive cell count, exact in-order cosine folds)
    val db1 = "ivf_shard_dedup_s1"
    VectorOps.build(AnnFamily.Ivf, base, db1)
    asOneSlice(db1, AnnFamily.Ivf)
    val sharded1 = VectorOps.ivfSemanticDedupFromIndex(spark, db1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = VectorOps.ivfSemanticDedupPairs(base, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sharded1 == single,
      s"S=1 sharded dedup diverged from the single index: " +
        s"${(sharded1 diff single).take(3)} vs ${(single diff sharded1).take(3)}")
  }

  test("connected components: chains, singletons, log-round convergence") {
    import graft.ops.GraphOps
    // a 1000-long chain: plain propagation would need ~1000 rounds; the
    // pointer-jumping variant must land the single component well inside
    // maxIter=50 (log2(1000) ≈ 10 label-halving rounds)
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("src", "dst")
    val verts = (0L to 1001L).toDF("id") // 0..1000 chained; 1001 isolated
    val cc = GraphOps.connectedComponents(chain, verts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L to 1000L).foreach(i => assert(cc(i) == 0L, s"vertex $i"))
    assert(cc(1001L) == 1001L) // isolated vertex keeps itself
    // two components + self-loop + duplicate edges stay separate
    val e2 = Seq((1L, 2L), (2L, 1L), (3L, 3L), (4L, 5L)).toDF("src", "dst")
    val cc2 = GraphOps.connectedComponents(e2, Seq(1L, 2L, 3L, 4L, 5L).toDF("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc2 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
  }

  test("near-dup pairs compose with connected components into keep/drop sets") {
    import graft.ops.GraphOps
    // three chained near-identical vectors (1~2 and 2~3 pair, 1~3 may or
    // may not — transitivity must come from the component step) + one far
    // vector
    val base = Seq.tabulate(64)(i => ((i * 11) % 13 - 6).toFloat)
    def nudge(seed: Int) = base.zipWithIndex.map { case (v, i) =>
      v + (if (i == seed) 0.001f else 0f)
    }
    val far = Seq.tabulate(64)(i => ((i * 5) % 17 - 8).toFloat)
    val vecs = Seq((1L, base), (2L, nudge(3)), (3L, nudge(7)), (9L, far))
      .toDF("vec_id", "embedding")
    val pairs = VectorOps.nearDupPairs(vecs, threshold = 0.999)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val clusters = GraphOps.connectedComponents(pairs,
        vecs.select(col("vec_id").as("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(9L) == 9L)
    // survivors = cluster minima: exactly one per duplicate cluster
    assert(clusters.values.toSet == Set(1L, 9L))
  }

  test("multimodal meta: real header parse end-to-end, deterministic and batched") {
    val media = MultimodalOps.mediaFromDocuments(spark, sf).limit(20)
    val meta = MultimodalOps.extractMeta(media).collect()
    assert(meta.length == 20)
    assert(meta.forall(m => m.nBytes > 0 && m.features.length == 8))
    // the fixture payloads carry REAL crafted headers; extractMeta must
    // report the true container dimensions, not stub pseudo-metadata
    meta.foreach { m =>
      val expectFmt = MultimodalOps.FixtureFormats((m.docId % 6).toInt)
      assert(m.format == expectFmt, s"doc ${m.docId}")
      assert(m.width == 16 + (m.docId * 7 % 2048).toInt)
      assert(m.height == 16 + (m.docId * 13 % 2048).toInt)
    }
    val again = MultimodalOps.extractMeta(media).collect()
    assert(meta.map(_.width).toSeq == again.map(_.width).toSeq) // deterministic
    val frames = MultimodalOps.sampleFrames(media, n = 3)
    assert(frames.count() == 60)
    assert(frames.groupBy("doc_id").count().filter(col("count") =!= 3).count() == 0)
  }

  test("a crafted header claiming a huge raster never reaches ImageIO") {
    // 26-byte BMP header claiming 20000x20000 (~1.6 GB decoded): the
    // parsed dims must gate the decode BEFORE any allocation — features
    // fall back to the stub (same refuse-before-allocation contract as
    // PngCodec's inflater bound)
    val bb = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(26).putInt(0).putInt(54)
      .putInt(40).putInt(20000).putInt(20000) // BITMAPINFOHEADER dims
    val payload = bb.array()
    val parsed = MultimodalOps.parseHeader(payload)
    assert(parsed.exists(p => p._1 == "bmp" && p._2 == 20000),
      s"fixture header should parse as a huge bmp: $parsed")
    val out = MultimodalOps.extractMeta(
      Seq(MultimodalOps.MediaRow(1L, payload)).toDS()).collect().head
    assert(out.width == 20000 && out.format == "bmp")
    assert(out.features.length == 8,
      "huge-raster payload must take the 8-dim stub, never a decode")
  }

  test("extractMeta takes the REAL jpeg decode leg for decodable payloads") {
    // a genuine ImageIO-encoded JPEG through the distributed path: the
    // features must equal the direct jpegFeatures decode, not the stub's
    // FNV fold (fixture containers are header-only, so they keep the
    // stub — this payload has real entropy data)
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val payload = bos.toByteArray
    val viaMeta = MultimodalOps.extractMeta(
      Seq(MultimodalOps.MediaRow(1L, payload)).toDS()).collect().head
    assert(viaMeta.format == "jpeg" && viaMeta.width == 16)
    assert(viaMeta.features.toSeq ==
      MultimodalOps.jpegFeatures(payload).get.toSeq)
    assert(viaMeta.features.length == 3) // RGB means, not the 8-dim stub
  }

  test("header parser: PNG/BMP/JPEG layouts on crafted payloads, stub fallback") {
    import MultimodalOps.{craftHeader, parseHeader}
    // round-trips through the real container layouts
    assert(parseHeader(craftHeader("png", 640, 480)) == Some(("png", 640, 480)))
    assert(parseHeader(craftHeader("bmp", 12, 34)) == Some(("bmp", 12, 34)))
    assert(parseHeader(craftHeader("jpeg", 1920, 1080)) == Some(("jpeg", 1920, 1080)))
    // headers survive an arbitrary body appended after them
    assert(parseHeader(craftHeader("jpeg", 7, 9) ++ Array.fill(100)(0x55.toByte))
      == Some(("jpeg", 7, 9)))
    // BMP top-down rows: negative stored height parses as its magnitude
    val bmpTopDown = craftHeader("bmp", 12, 34).clone()
    val hb = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-34).array()
    System.arraycopy(hb, 0, bmpTopDown, 22, 4)
    assert(parseHeader(bmpTopDown) == Some(("bmp", 12, 34)))
    // truncation mid-header and non-media bytes fall through to None
    assert(parseHeader(craftHeader("png", 640, 480).take(15)).isEmpty)
    assert(parseHeader("just some text".getBytes("UTF-8")).isEmpty)
    assert(parseHeader(Array.empty[Byte]).isEmpty)
    // a text payload starting "BM" must NOT sniff as BMP (DIB-size check)
    assert(parseHeader("BMW recall notice: bring your vehicle in soon"
      .getBytes("UTF-8")).isEmpty)
    // GIF / WebP(VP8X) / TIFF round-trips through the real layouts
    assert(parseHeader(craftHeader("gif", 320, 200)) == Some(("gif", 320, 200)))
    assert(parseHeader(craftHeader("webp", 1024, 768)) == Some(("webp", 1024, 768)))
    assert(parseHeader(craftHeader("tiff", 2000, 1500)) == Some(("tiff", 2000, 1500)))
    assert(parseHeader(craftHeader("gif", 320, 200) ++ Array.fill(64)(0x2a.toByte))
      == Some(("gif", 320, 200)))
    // a text payload starting "GIF89a" with NUL dims must NOT sniff
    assert(parseHeader(("GIF89a" + "\u0000" * 8).getBytes("US-ASCII")).isEmpty)
    // WebP lossless (VP8L): 14-bit dims-minus-one packed bit-first
    def vp8l(w: Int, h: Int): Array[Byte] = {
      val wb = w - 1; val hb = h - 1
      val packed = (wb.toLong & 0x3fff) | ((hb.toLong & 0x3fff) << 14)
      val b = java.nio.ByteBuffer.allocate(30)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(22).put("WEBP".getBytes)
      b.put("VP8L".getBytes).putInt(9).put(0x2f.toByte)
      (0 until 5).foreach(i => b.put(((packed >> (8 * i)) & 0xff).toByte))
      b.array()
    }
    assert(parseHeader(vp8l(800, 600)) == Some(("webp", 800, 600)))
    assert(parseHeader(vp8l(16383, 1)) == Some(("webp", 16383, 1)))
    // WebP lossy (VP8 ): sync code + 14-bit dims in le16
    def vp8(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(30)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(22).put("WEBP".getBytes)
      b.put("VP8 ".getBytes).putInt(10)
      b.put(Array[Byte](0, 0, 0)) // frame tag
      b.put(0x9d.toByte).put(0x01.toByte).put(0x2a.toByte)
      b.putShort(w.toShort).putShort(h.toShort)
      b.array()
    }
    assert(parseHeader(vp8(640, 360)) == Some(("webp", 640, 360)))
    // big-endian TIFF with SHORT-typed dims (value left-justified)
    val beTiff = {
      val b = java.nio.ByteBuffer.allocate(38) // big-endian by default
      b.put('M'.toByte).put('M'.toByte).putShort(42).putInt(8)
      b.putShort(2)
      b.putShort(256).putShort(3).putInt(1).putShort(77.toShort).putShort(0)
      b.putShort(257).putShort(3).putInt(1).putShort(55.toShort).putShort(0)
      b.putInt(0)
      b.array()
    }
    assert(parseHeader(beTiff) == Some(("tiff", 77, 55)))
    // TIFF with an IFD offset past the payload must not crash or sniff
    val truncTiff = craftHeader("tiff", 10, 10).take(8)
    assert(parseHeader(truncTiff).isEmpty)
    // WAV/MP4 container round-trips (AV leg): WAV duration is the data
    // size over the byte rate; MP4 duration is mvhd units over timescale
    import MultimodalOps.{craftAvHeader, parseAvHeader}
    val wav = craftAvHeader("wav", 16000, 2, dataLen = 64000) ++
      Array.fill(64000)(0x11.toByte)
    assert(parseAvHeader(wav) == Some(("wav", 1000L, 16000, 2))) // 64000/(16000*2*2)=1s
    val mp4 = craftAvHeader("mp4", 1000, 2500)
    assert(parseAvHeader(mp4) == Some(("mp4", 2500L, 0, 0)))
    // trailing junk after the boxes is never parsed
    assert(parseAvHeader(mp4 ++ "some trailing text".getBytes("UTF-8"))
      == Some(("mp4", 2500L, 0, 0)))
    // truncation and non-AV payloads fall through
    assert(parseAvHeader(craftAvHeader("wav", 16000, 2, 64).take(20)).isEmpty)
    assert(parseAvHeader("RIFFxxxxWEBP".getBytes("US-ASCII")).isEmpty)
    assert(parseAvHeader("plain text".getBytes("UTF-8")).isEmpty)
    // crafted/corrupt WAV chunk sizes must fail cleanly — a size field of
    // 0xFFFFFFF8 truncates to -8 and would stall the cursor forever
    val evilWav = {
      val b = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(16).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(0xFFFFFFF8)
      b.array()
    }
    assert(parseAvHeader(evilWav).isEmpty)
    // header-only mvhd ending exactly at the buffer, and a short mvhd
    // whose declared size can't hold the fields: None, not a crash or a
    // sibling-bytes misparse
    val tinyMvhd = {
      val b = java.nio.ByteBuffer.allocate(32)
      b.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      b.putInt(16).put("moov".getBytes)
      b.putInt(8).put("mvhd".getBytes)
      b.array()
    }
    assert(parseAvHeader(tinyMvhd).isEmpty)
    val shortMvhd = {
      val b = java.nio.ByteBuffer.allocate(16 + 8 + 12 + 16)
      b.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      b.putInt(8 + 12 + 16).put("moov".getBytes)
      b.putInt(12).put("mvhd".getBytes).putInt(0) // too short for fields
      b.putInt(16).put("free".getBytes).putInt(1000).putInt(2500)
      b.array()
    }
    assert(parseAvHeader(shortMvhd).isEmpty)
    // non-media payloads reach the (labeled) deterministic stub, whose
    // sentinel format is disjoint from genuinely parsed containers
    val m = MultimodalOps.MediaRow(1L, "plain text payload".getBytes("UTF-8"))
    import spark.implicits._
    val out = MultimodalOps.extractMeta(Seq(m).toDS()).collect().head
    assert(out.format == "unknown")
  }

  test("aHash: invariant under constant brightness shift, sensitive to " +
      "pattern change") {
    import graft.ops.PngCodec
    def gray(w: Int, h: Int, f: (Int, Int) => Int): PngCodec.Raster =
      PngCodec.Raster(w, h, 1, Array.tabulate(w * h)(i =>
        f(i % w, i / w).toByte))
    val a = gray(16, 16, (x, y) => x + y)
    val b = gray(16, 16, (x, y) => x + y + 40) // same pattern, brighter
    val c = gray(16, 16, (x, y) => if (x < 8) 0 else 200) // different pattern
    assert(MultimodalOps.aHash(a) == MultimodalOps.aHash(b),
      "a constant brightness shift must not change the hash")
    assert(MultimodalOps.aHash(a) != MultimodalOps.aHash(c))
    // a flat raster has no brighter-than-mean cell: the all-zeros hash
    assert(MultimodalOps.aHash(gray(8, 8, (_, _) => 77)) == ((0L, 0L)))
  }

  test("image near-dup: banded candidates are pigeonhole-exact at the " +
      "hamming budget; band-keyed join, never image pairs") {
    val out = MultimodalOps.imageNearDup(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // all-pairs reference over the exact-dup SURVIVORS (the query's
    // scope): banding must change only the join volume
    val hs = MultimodalOps.imageHashes(spark, sf)
      .filter(col("ahash_hi") >= 0)
      .groupBy("ahash_hi", "ahash_lo").agg(min("doc_id").as("doc_id"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
    val expect = (for {
      (a, ha, la) <- hs
      (b, hb, lb) <- hs if a < b
      dist = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if dist <= MultimodalOps.ImageHammingMax
    } yield (a, b, dist)).sortBy(t => (t._1, t._2)).toSeq
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got.nonEmpty && got == expect,
      s"banded result (${got.length}) != all-pairs reference (${expect.length})")
  }

  test("nb quality classifier: positive-evidence tokens raise the score " +
      "monotonically, the keep rule tracks the stored threshold, unseen " +
      "tokens score the neutral smoothing ratio") {
    val db = "graft_qc_spec"
    // doc 7 is the positive seed (eval convention); its tokens become
    // positive evidence, the junk tokens negative evidence
    val docs = Seq(
      (7L, "clean prose tokens clean prose tokens"),
      (1L, "junk junk junk junk junk junk"),
      (2L, "junk junk junk clean junk junk"),
      (3L, "clean prose tokens junk junk junk"))
      .toDF("doc_id", "text")
    TextOps.buildQualityClassifier(docs, db)
    val scores = TextOps.qualityScoresFor(docs, db).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    // monotone in positive-token share: all-seed > half-seed > one-clean > all-junk
    assert(scores(7L)._1 > scores(3L)._1)
    assert(scores(3L)._1 > scores(2L)._1)
    assert(scores(2L)._1 > scores(1L)._1)
    // the seed doc must clear the corpus-mean keep rule; all-junk must not
    assert(scores(7L)._2 == 1 && scores(1L)._2 == 0)
    // unseen tokens: a brand-new doc scores exactly the neutral smoothing
    // ratio Scale·(t_neg+v) div (t_pos+v) — never dropped, never extreme
    val unseen = TextOps.qualityScoresFor(
      Seq((99L, "wholly unseen vocabulary here")).toDF("doc_id", "text"), db)
      .head()
    val tot = spark.table(s"`$db`.`${TextOps.QcTotalsTable}`").head()
    val (tPos, tNeg, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    assert(unseen.getLong(2) ==
      TextOps.QcScale * (tNeg + v) / (tPos + v))
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("mp4 sample-table walk: crafted track round-trips the run-length/" +
      "chunk arithmetic; corrupt and truncated tables refused loudly") {
    // doc 7: n=12, spc=0? 2+7%3=0 → spc=3, tsc=1007, d1=107, base=55,
    // run1=6, k=4 — hand-verify the first samples
    val p = MultimodalOps.craftMp4Track(7L)
    val (tsc, samples) = MultimodalOps.mp4SampleTable(p).get
    assert(tsc == 1007)
    assert(samples.length == 12)
    val sizes = (0 until 12).map(i => (100 + (7 + i) % 37).toInt)
    // pts: run-length two-run decode
    val pts = (0 until 12).map(i =>
      if (i < 6) i * 107L else 6 * 107L + (i - 6) * 132L)
    // offsets: chunk bases every 3 samples, contiguous layout
    val offs = (0 until 12).map(i => 55L + sizes.take(i).sum)
    // doc 7: stss present with stride j = 2+7%4 = 5 → sync at i % 5 == 0
    assert(samples ==
      pts.indices.map(i => (pts(i), sizes(i), offs(i), i % 5 == 0)))
    // doc 8: stss stride j = 2 → sync exactly at even sample indices
    val (_, s8) = MultimodalOps.mp4SampleTable(
      MultimodalOps.craftMp4Track(8L)).get
    assert(s8.zipWithIndex.forall { case ((_, _, _, sy), i) => sy == (i % 2 == 0) })
    // doc 10: NO stss box — the ISO default makes every sample sync
    val (_, s10) = MultimodalOps.mp4SampleTable(
      MultimodalOps.craftMp4Track(10L)).get
    assert(s10.forall(_._4))
    // truncation anywhere inside the table boxes is refused, not guessed
    assert(MultimodalOps.mp4SampleTable(p.dropRight(6)).isEmpty)
    // a corrupt stsz count (≠ stts sample count) is refused
    val bad = p.clone()
    val szIdx = {
      var i = -1
      for (j <- 0 until bad.length - 4)
        if (i < 0 && new String(bad.slice(j, j + 4), "US-ASCII") == "stsz")
          i = j
      i
    }
    assert(szIdx > 0)
    bad(szIdx + 12 + 3) = 99.toByte // sample count low byte
    assert(MultimodalOps.mp4SampleTable(bad).isEmpty)
    // non-mp4 bytes
    assert(MultimodalOps.mp4SampleTable("not a box".getBytes).isEmpty)
    // a version-1 mdhd (64-bit times, timescale at +20) must be refused,
    // not read through the v0 layout as a garbage timescale
    val v1 = p.clone()
    val mdhdIdx = {
      var i = -1
      for (j <- 0 until v1.length - 4)
        if (i < 0 && new String(v1.slice(j, j + 4), "US-ASCII") == "mdhd")
          i = j
      i
    }
    assert(mdhdIdx > 0)
    v1(mdhdIdx + 4) = 1 // version byte of the full box
    assert(MultimodalOps.mp4SampleTable(v1).isEmpty,
      "a version-1 mdhd must be refused loudly, not misread as v0")
  }

  test("mp4 walk generality: multi-run stsc chunk mapping and 64-bit " +
      "co64 offsets past 4 GiB decode exactly") {
    import java.nio.ByteBuffer
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    def full(ints: Seq[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + 4 * ints.length)
      bb.putInt(0); ints.foreach(bb.putInt); bb.array()
    }
    val sizes = (0 until 6).map(10 + _)
    // chunks 1-2 hold 2 samples each, chunks 3+ hold 1 (two stsc runs);
    // chunk 2 sits past the 32-bit boundary — co64 carries it
    val offs = Seq(0x40L, 0x100000010L, 0x200L, 0x300L)
    val stts = box("stts", full(Seq(1, 6, 10)))
    val stsc = box("stsc", full(Seq(2, 1, 2, 1, 3, 1, 1)))
    val stsz = box("stsz", full(Seq(0, 6) ++ sizes))
    val co64 = {
      val bb = ByteBuffer.allocate(8 + 8 * offs.length)
      bb.putInt(0).putInt(offs.length); offs.foreach(bb.putLong)
      box("co64", bb.array())
    }
    val mdhd = box("mdhd", full(Seq(0, 0, 1000, 0)))
    val stbl = box("stbl", stts ++ stsc ++ stsz ++ co64)
    val mdia = box("mdia", mdhd ++ box("minf", stbl))
    val moov = box("moov",
      box("mvhd", full(Seq(0, 0, 1000, 0))) ++ box("trak", mdia))
    val ftyp = {
      val bb = ByteBuffer.allocate(16)
      bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
        .put("isom".getBytes("US-ASCII")).putInt(0x200)
      bb.array()
    }
    val (tsc, samples) = MultimodalOps.mp4SampleTable(ftyp ++ moov).get
    assert(tsc == 1000)
    val expOffs = Seq(offs(0), offs(0) + 10, offs(1), offs(1) + 12,
      offs(2), offs(3))
    assert(samples == (0 until 6).map(i =>
      (i * 10L, sizes(i), expOffs(i), true)))
  }

  test("wav pcm extraction: signed 16-bit LE pairs, odd trailing byte " +
      "dropped, corrupt containers refused") {
    // 5 payload bytes → 2 full frames, the odd trailing byte dropped
    val payload = Array[Byte](0x01, 0x80.toByte, 0xff.toByte, 0x7f, 0x33)
    val wav = MultimodalOps.craftAvHeader("wav", 8000, 1, payload.length) ++ payload
    assert(MultimodalOps.wavPcm(wav).get.toSeq == Seq(-32767, 32767))
    // energy/peak/zero-cross semantics over a crafted sign pattern:
    // +1, -1, 0, +2 → crossings only at strict sign flips (the zero
    // breaks the -1 → +2 run)
    val pat = Array[Byte](1, 0, -1, -1, 0, 0, 2, 0)
    val wav2 = MultimodalOps.craftAvHeader("wav", 8000, 1, pat.length) ++ pat
    assert(MultimodalOps.wavPcm(wav2).get.toSeq == Seq(1, -1, 0, 2))
    // non-wav bytes and a data size past the payload are refused
    assert(MultimodalOps.wavPcm("not a riff".getBytes("US-ASCII")).isEmpty)
    val bad = wav.clone()
    bad(40) = 0x7f; bad(41) = 0x7f; bad(42) = 0x7f; bad(43) = 0x7f
    assert(MultimodalOps.wavPcm(bad).isEmpty)
    // EOF-truncated data chunk: declared size exceeds the REMAINING
    // bytes while staying <= the total file length — refused loudly,
    // never silently shortened to the bytes present
    val trunc = wav.dropRight(2)
    assert(MultimodalOps.wavPcm(trunc).isEmpty,
      "an EOF-truncated data chunk must be refused, not shortened")
  }

  test("sampling/mixing push WindowGroupLimit; packing never single-partitions") {
    import graft.ops.SamplingOps
    // per-stratum top-k compiles to map-side group limits, not a full sort
    val p1 = SamplingOps.stratifiedSample(spark, sf).queryExecution.executedPlan.toString
    assert(p1.contains("WindowGroupLimit"), p1.take(600))
    // the constant max-quota bound preserves the pushdown under a
    // per-group variable quota
    val p2 = SamplingOps.weightedMix(spark, sf).queryExecution.executedPlan.toString
    assert(p2.contains("WindowGroupLimit"), p2.take(600))
    // two-phase prefix sum: the corpus-wide running sum must never route
    // through an Exchange SinglePartition (the naive global-window shape)
    val p3 = SamplingOps.packSequences(spark, sf).queryExecution.executedPlan.toString
    assert(!p3.contains("SinglePartition"), p3.take(800))
    // contamination probes broadcast; the corpus is never shuffled
    val p4 = TextOps.contamination(spark, sf).queryExecution.executedPlan.toString
    assert(p4.contains("BroadcastNestedLoopJoin"), p4.take(600))
  }

  test("stored LM: serve ≡ in-session filter on the training corpus; " +
      "unseen transitions score smoothing mass, never drop; count " +
      "appends are exact; cron rebuild re-anchors the threshold") {
    val db = "lm_model_db"
    val docs = Tables.t(spark, sf, "documents")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

    // parity law: deterministic training ⇒ the warehouse round-trip
    // (counts, vocab, threshold) reproduces the in-session filter exactly
    TextOps.buildLmModel(docs, db)
    assert(key(TextOps.perplexityFilterFromModel(spark, sf, db).collect()) ==
      key(TextOps.perplexityFilter(spark, sf).collect()))

    // train on a slice, serve the FULL corpus: docs with unseen bigrams
    // still score every transition (n_trans = tokens − 1 for every doc —
    // an inner-join serve would silently shrink the mean's denominator)
    val dbS = "lm_model_slice_db"
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    TextOps.buildLmModel(docs.filter(col("doc_id") <= maxId / 2), dbS)
    val servedAll = TextOps.perplexityFilterFromModel(spark, sf, dbS)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectTrans = docs
      .withColumn("tokens", split(trim(col("text")), "\\s+"))
      .filter(size(col("tokens")) >= 2)
      .select(col("doc_id"), (size(col("tokens")) - 1).cast("long").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(servedAll == expectTrans,
      "serve must score every transition of every doc, seen or unseen")

    // count appends are exact: merged counts ≡ a retrain's counts on the
    // union corpus (bigram counts are additive), vocab ≡ union distinct
    TextOps.appendToLmModel(spark, dbS, docs.filter(col("doc_id") > maxId / 2))
    val dbU = "lm_model_union_db"
    TextOps.buildLmModel(docs, dbU)
    def counts(db: String) = spark.table(s"$db.${TextOps.LmCountsTable}")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(counts(dbS) == counts(dbU), "merged counts diverged from retrain")
    assert(spark.table(s"$dbS.${TextOps.LmVocabTable}").count() ==
      spark.table(s"$dbU.${TextOps.LmVocabTable}").count())
    // the threshold deliberately stays as trained (scores shift with the
    // counts — only a rebuild can re-anchor the mean); the cron rebuild
    // does exactly that
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    val entry = TextOps.lmRefreshEntry("lm-refresh", "0 4 * * *", dbS,
      s => Tables.t(s, sf, "documents"))
    val tt = LocalDateTime.parse("2026-01-01T00:00:00")
    assert(new ScheduleRunner(Seq(entry), startAt = tt)
      .tick(spark, tt.plusHours(4)) == Seq("lm-refresh"))
    for (t <- Seq(TextOps.LmCountsTable, TextOps.LmVocabTable,
        TextOps.LmThresholdTable))
      spark.catalog.refreshTable(s"$dbS.$t")
    assert(key(TextOps.perplexityFilterFromModel(spark, sf, dbS).collect()) ==
      key(TextOps.perplexityFilterFromModel(spark, sf, dbU).collect()))
  }

  test("qc classifier appends: merged counts bit-equal to a union retrain; " +
      "threshold frozen until the cron rebuild re-anchors it; cluster and " +
      "bpe rebuild entries fire on their crons") {
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    val docs = Tables.t(spark, sf, "documents")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val (dbS, dbU) = ("qc_model_split_db", "qc_model_union_db")
    Seq(dbS, dbU).foreach(db =>
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
    TextOps.buildQualityClassifier(docs.filter(col("doc_id") <= maxId / 2), dbS)
    val thrBefore = spark.table(s"$dbS.${TextOps.QcThresholdTable}")
      .head.getLong(0)
    TextOps.appendToQualityClassifier(spark, dbS,
      docs.filter(col("doc_id") > maxId / 2))
    TextOps.buildQualityClassifier(docs, dbU)
    def counts(db: String) = spark.table(s"$db.${TextOps.QcTokenTable}")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(counts(dbS) == counts(dbU), "merged counts diverged from retrain")
    def totals(db: String) = spark.table(s"$db.${TextOps.QcTotalsTable}")
      .head match { case r => (r.getLong(0), r.getLong(1), r.getLong(2)) }
    assert(totals(dbS) == totals(dbU), "merged totals diverged from retrain")
    // threshold frozen across the append (the LM contract)...
    assert(spark.table(s"$dbS.${TextOps.QcThresholdTable}").head.getLong(0)
      == thrBefore)
    // ...until the cron rebuild re-anchors it to the union's
    val tt = LocalDateTime.parse("2026-01-01T00:00:00")
    assert(new ScheduleRunner(
      Seq(TextOps.qcRefreshEntry("qc-refresh", "0 4 * * *", dbS,
        s => Tables.t(s, sf, "documents"))), startAt = tt)
      .tick(spark, tt.plusHours(4)) == Seq("qc-refresh"))
    for (t <- Seq(TextOps.QcTokenTable, TextOps.QcTotalsTable,
        TextOps.QcThresholdTable))
      spark.catalog.refreshTable(s"$dbS.$t")
    assert(spark.table(s"$dbS.${TextOps.QcThresholdTable}").head.getLong(0)
      == spark.table(s"$dbU.${TextOps.QcThresholdTable}").head.getLong(0))
    // rebuild entries for the other round-11 states fire on their crons
    import graft.ops.{BpeOps, IncrementalClusters}
    spark.sql("DROP DATABASE IF EXISTS `bpe_cron_db` CASCADE")
    spark.sql("DROP DATABASE IF EXISTS `clusters_cron_db` CASCADE")
    val fired = new ScheduleRunner(Seq(
      BpeOps.bpeRefreshEntry("bpe-refresh", "0 4 * * *", "bpe_cron_db",
        s => Tables.t(s, sf, "documents")),
      IncrementalClusters.clusterRebuildEntry("cluster-rebuild", "0 4 * * *",
        s => Tables.t(s, sf, "documents"), "clusters_cron_db")),
      startAt = tt).tick(spark, tt.plusHours(4))
    assert(fired.toSet == Set("bpe-refresh", "cluster-rebuild"))
    assert(spark.table(s"bpe_cron_db.${BpeOps.BpeMergesTable}").count() > 0)
    assert(spark.table(
      s"clusters_cron_db.${IncrementalClusters.LabelsTable}").count() ==
      docs.count())
    Seq(dbS, dbU, "bpe_cron_db", "clusters_cron_db").foreach(db =>
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
  }

  test("split assignment: total, disjoint, deterministic, and shuffle-free " +
      "up to the presentation sort") {
    import graft.ops.SamplingOps
    val out = SamplingOps.splitAssign(spark, sf)
    val rows = out.collect()
    val docs = Tables.t(spark, sf, "documents")
    // every document gets exactly one split
    assert(rows.length == docs.count())
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    val bySplit = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // expected 98% train on the hash grid; the fixture is small, so the
    // binomial bound is loose — train must still dominate
    assert(bySplit("train").toDouble / rows.length >= 0.9,
      s"train fraction ${bySplit("train").toDouble / rows.length}")
    // buckets agree with the split boundaries row by row
    rows.foreach { r =>
      val (b, s) = (r.getAs[Int]("bucket"), r.getAs[String]("split"))
      val expect = if (b < SamplingOps.TrainPerMille) "train"
        else if (b < SamplingOps.ValPerMille) "val" else "test"
      assert(s == expect, s"bucket $b labeled $s")
    }
    // deterministic: a second run is bit-identical
    assert(SamplingOps.splitAssign(spark, sf).collect().toSeq == rows.toSeq)
    // per-row hash arithmetic: the ONLY exchange is the presentation
    // orderBy's range partitioning — no hash shuffle anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan.take(800))
  }

  test("bloom blocklist: no false negatives, exact under forced FPs, empty list") {
    import graft.ops.BlocklistOps
    graft.functions.GraftFunctions.register(spark)
    val docs = (1L to 200L).map(i => (i, s"document number $i body"))
      .toDF("doc_id", "text").withColumn("digest", sha2(col("text"), 256))
    val block = docs.filter(col("doc_id") % 7 === 0).select("digest").distinct()
    // no false negatives: every blocklisted key probes positive
    val bloom = BlocklistOps.buildBloom(
      block.select(xxhash64(col("digest")).as("key")))
    val misses = block
      .filter(!call_function("bloom_might_contain",
        lit(bloom), xxhash64(col("digest"))))
      .count()
    assert(misses == 0, "bloom dropped a blocklisted key (false negative)")
    // exactness: result equals the plain anti-join reference...
    val expected = docs.join(block, Seq("digest"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = BlocklistOps.cleanAgainst(docs, block)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected)
    // ...even with a deliberately undersized bloom (1 bit/key, k=1 → FP
    // rate way up; the confirm join must absorb every false positive)
    val gotTiny = BlocklistOps.cleanAgainst(docs, block, bitsPerKey = 1, k = 1)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotTiny == expected)
    // empty blocklist: the probe is constant-false, everything survives
    val empty = block.filter(lit(false))
    val all = BlocklistOps.cleanAgainst(docs, empty).count()
    assert(all == docs.count())
  }

  test("bloom_might_contain: codegen matches interpreted eval") {
    import graft.ops.BlocklistOps
    graft.functions.GraftFunctions.register(spark)
    val keys = (-50L to 50L).map(i => Tuple1(i * 0x9e3779b97f4a7c15L))
      .toDF("key")
    val bloom = BlocklistOps.buildBloom(keys.filter(col("key") % 3 === 0))
    val probed = keys.select(col("key"),
      call_function("bloom_might_contain", lit(bloom), col("key")).as("c"))
    val viaCodegen = probed.collect().map(r => r.getLong(0) -> r.getBoolean(1))
    viaCodegen.foreach { case (k, c) =>
      val interpreted = graft.functions.BloomMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bloom),
        org.apache.spark.sql.catalyst.expressions.Literal(k))
        .eval(null).asInstanceOf[Boolean]
      assert(interpreted == c, s"key $k: eval=$interpreted codegen=$c")
    }
    // degenerate bitmaps contain nothing
    val hdrOnly = graft.functions.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(Array[Byte](7)),
      org.apache.spark.sql.catalyst.expressions.Literal(42L))
      .eval(null).asInstanceOf[Boolean]
    assert(!hdrOnly)
  }

  test("word_ngrams: parity with the HOF formulation, codegen == eval") {
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq("a b c d e", "  padded   spaces  ", "tab\tsep\nlines",
      "short", "", "x x x x", "a b", "singleword", "a  b   c", "a b a b a b")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val hof = df.withColumn("tokens", split(trim(col("text")), "\\s+"))
        .withColumn("g", expr(
          s"""CASE WHEN size(tokens) < $n THEN slice(tokens, 1, 0)
             |ELSE array_distinct(transform(sequence(0, size(tokens) - $n),
             |     i -> concat_ws(' ', slice(tokens, i + 1, $n)))) END""".stripMargin))
        .select("doc_id", "g").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val native = df.select(col("doc_id"),
        call_function("word_ngrams", col("text"), lit(n)).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native == hof, s"n=$n: $native vs $hof")
    }
    // interpreted eval agrees with the codegen'd collect() path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val viaEval = graft.functions.WordNgrams(
      Literal(UTF8String.fromString("a b a b a b"), org.apache.spark.sql.types.StringType), 2)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until viaEval.numElements())
      .map(viaEval.getUTF8String(_).toString) == Seq("a b", "b a"))
  }

  test("unicode_tokens: whitespace parity on plain text, script-boundary splits on CJK") {
    graft.functions.GraftFunctions.register(spark)
    // parity law: on space-delimited letter/digit text the unicode mode
    // agrees exactly with the oracle-contract whitespace splitter
    val plain = Seq("key agg row scan", "a1 b2  c3", "singleword",
      "x x x x", "a  b   c", "0 1 22 333")
    val pdf = plain.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val ws = pdf.withColumn("t", split(trim(col("text")), "\\s+"))
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val uni = pdf.withColumn("t", call_function("unicode_tokens", col("text")))
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(uni == ws, s"unicode mode diverged on plain text: $uni vs $ws")
    // CJK refinement: one whitespace token, split at every script
    // transition; Hangul words segment, Han runs stay single tokens
    val cjk = Seq((1L, "word 안녕 세계中中tail end"), (2L, "세계中tail"),
      (3L, "punct, stays. out!"), (4L, ""))
      .toDF("doc_id", "text")
      .withColumn("t", call_function("unicode_tokens", col("text")))
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(cjk(1L) == Seq("word", "안녕", "세계", "中中", "tail", "end"))
    assert(cjk(2L) == Seq("세계", "中", "tail"))
    assert(cjk(3L) == Seq("punct", "stays", "out")) // punctuation not a token
    assert(cjk(4L) == Seq.empty)
    // interpreted eval agrees with the codegen'd collect() path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val viaEval = graft.functions.UnicodeTokens(
      Literal(UTF8String.fromString("세계中tail"),
        org.apache.spark.sql.types.StringType))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until viaEval.numElements())
      .map(viaEval.getUTF8String(_).toString) == Seq("세계", "中", "tail"))
  }

  test("best-of-cluster dedup: same partition as min-id survivors, rep is argmax") {
    val minId = TextOps.dedupSurvivors(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val best = TextOps.dedupBestOfCluster(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // identical cluster PARTITION: two docs share a min-id cluster iff
    // they share a best-of cluster (same pairs, same closure)
    val bestCanon = best.map(t => t._1 -> t._2).toMap
    assert(minId.keySet == bestCanon.keySet)
    assert(minId.groupBy(_._2).values.map(_.keys.toSet).toSet ==
      bestCanon.groupBy(_._2).values.map(_.keys.toSet).toSet,
      "cluster partition structure diverged between survivor variants")
    // exactly one survivor per cluster, and it IS its own canonical
    val survivors = best.filter(_._3 == 1)
    assert(survivors.map(_._2).distinct.length == survivors.length)
    assert(survivors.forall(t => t._1 == t._2))
    // the representative maximizes token count within its cluster
    // (doc_id tie-break ascending)
    val nTokens = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    bestCanon.groupBy(_._2).foreach { case (canon, members) =>
      val memberIds = members.keys.toSeq
      val bestTok = memberIds.map(nTokens).max
      val expected = memberIds.filter(nTokens(_) == bestTok).min
      assert(canon == expected,
        s"cluster of $memberIds picked $canon, expected $expected")
    }
  }

  test("script-histogram lang id: counts and argmax on crafted scripts") {
    val docs = Seq(
      (1L, "中文文本没有空格也没有停用词"),            // Han-dominant
      (2L, "한국어 텍스트 입니다"),                    // Hangul-dominant
      (3L, "ひらがなとカタカナのテキスト"),            // kana-dominant
      (4L, "plain english text"),                      // Latin-dominant
      (5L, "中文 and english 均分"),                   // compare mixed
      (6L, ""))                                        // empty → und
      .toDF("doc_id", "enriched")
    val got = TextOps.langIdScriptFor(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5))).toMap
    assert(got(1L) == ((14, 0, 0, 0, "han")))
    assert(got(2L)._5 == "hangul" && got(2L)._2 == 9)
    assert(got(3L)._5 == "kana" && got(3L)._3 == 14)
    assert(got(4L) == ((0, 0, 0, 16, "latin")))
    assert(got(5L)._1 == 4 && got(5L)._4 == 10 && got(5L)._5 == "latin")
    assert(got(6L) == ((0, 0, 0, 0, "und")))
    // per-row only: the scoring plan must contain no shuffle
    val plan = TextOps.langIdScriptFor(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.contains("rangepartitioning"),
      s"script lang-id shuffled beyond the output sort:\n$plan")
  }

  test("cjk fixture shape: base text is non-empty lowercase [a-z0-9 ]") {
    // The CJK oracles reconstruct the unicode token list from a whitespace
    // split of the base text — exact only under this precondition (the
    // unicode-token legs are empty-filter-normalized on the oracle side,
    // but q_token_count_cjk's whitespace-count leg still assumes it). Pin
    // the fixture shape so a future testdata change fails HERE, loudly,
    // instead of as an opaque oracle hash mismatch.
    val bad = Tables.t(spark, sf, "documents")
      .filter(length(trim(col("text"))) === 0 ||
        col("text").rlike("[^a-z0-9 ]"))
      .count()
    assert(bad == 0, s"$bad documents violate the CJK-oracle fixture " +
      "precondition (empty or non-[a-z0-9 ] base text)")
  }

  test("cjk salient terms and decontamination see through fused CJK runs") {
    // A corpus where the whitespace tokenizer fuses the CJK segment into
    // one per-doc token: the unicode variants must still surface the
    // shared terms. Uses the PUBLIC entry points over the fixture corpus:
    // the enriched docs (doc_id % 3 = 0) share '안녕' and '세계' across
    // sources, so those tokens must appear in the unicode token stream's
    // df counts (df > 1), which the whitespace mode cannot produce.
    val cjkTf = TextOps.salientTermsCjk(spark, sf)
    // deterministic and non-empty; every source gets exactly 3 ranks
    val rows = cjkTf.collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.nonEmpty && bySource.values.forall(_.length == 3))
    // decontamination: the unicode gram stream must flag strictly more
    // (or equal) corpus docs than the whitespace stream on the enriched
    // corpus — the fused run hides eval grams from the whitespace mode,
    // and the appended enrichment creates real cross-set CJK grams
    val uniFlagged = TextOps.decontaminateCjk(spark, sf).count()
    val wsFlagged = TextOps.decontaminateNgram(spark, sf).count()
    assert(uniFlagged >= wsFlagged,
      s"unicode decontamination flagged $uniFlagged < whitespace $wsFlagged")
  }

  test("ngram decontamination: overlap flagged, clean docs survive, eval broadcast") {
    val docs = Seq(
      (107L, "alpha beta gamma delta epsilon"),        // eval doc (107 % 100 = 7)
      (1L,   "xx alpha beta gamma yy"),                // shares trigram "alpha beta gamma"
      (2L,   "beta gamma delta AND gamma delta epsilon zz"), // shares two distinct trigrams
      (3L,   "completely different words here"),       // clean
      (4L,   "alpha beta"))                            // shorter than n — no grams
      .toDF("doc_id", "text")
    val flagged = TextOps.decontaminateNgramFor(docs, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == Map(1L -> 1L, 2L -> 2L))
    val plan = TextOps.decontaminateNgramFor(docs, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    // survivors: everything except eval docs and flagged docs
    import graft.Tables
    val survivors = TextOps.decontaminatedCorpus(spark, sf)
    val all = Tables.t(spark, sf, "documents")
    val evalCnt = all.filter(col("doc_id") % 100 === 7).count()
    val flaggedCnt = TextOps.decontaminateNgram(spark, sf).count()
    assert(survivors.count() == all.count() - evalCnt - flaggedCnt)
  }

  test("temperature mixing: sqrt quotas, pushdown kept, quota respected") {
    import graft.ops.SamplingOps
    val out = SamplingOps.temperatureMix(spark, sf)
    val rows = out.collect()
    // every source's contribution is min(quota, |source|), quota = floor(sqrt(w)*5)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val w = 1 + src.drop(3).toInt % 9
      val quota = math.floor(math.sqrt(w.toDouble) * SamplingOps.MixUnit).toInt
      assert(rs.map(_.getInt(2)).distinct.toSeq == Seq(quota), src)
      assert(rs.length <= quota, s"$src exceeded quota")
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length), src)
    }
    // T=2 damps the spread: quotas range over floor(5*sqrt(1..9)) = 5..15,
    // narrower than the T=1 proportional 5..45 would be
    val quotas = rows.map(_.getInt(2)).distinct
    assert(quotas.min >= SamplingOps.MixUnit && quotas.max <= 3 * SamplingOps.MixUnit)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(600))
  }

  test("semantic survivors: every vector mapped, canons are minima and self-survivors") {
    val out = VectorOps.semanticSurvivors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val n = Tables.t(spark, sf, "embeddings").count()
    assert(out.length == n)
    val canons = out.map(_._2).distinct.toSet
    val survivors = out.filter(_._3 == 1).map(_._1).toSet
    assert(survivors == canons)
    out.foreach { case (id, canon, _) => assert(canon <= id) }
    // the fixture has known near-dup groups: at least one multi-member
    // cluster must form (pairs exist → closure is non-trivial)
    assert(survivors.size < n, "no cluster formed — pairs lost in closure")
  }

  test("dedup survivors: one canon per cluster, exact dups collapse, total preserved") {
    val out = TextOps.dedupSurvivors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val docs = Tables.t(spark, sf, "documents")
    assert(out.length == docs.count()) // every doc mapped, none invented
    // survivors are exactly the distinct canonical ids, each its own canon
    val canons = out.map(_._2).distinct.toSet
    val survivors = out.filter(_._3 == 1).map(_._1).toSet
    assert(survivors == canons)
    out.foreach { case (id, canon, _) => assert(canon <= id) } // min-label law
    // exact duplicate texts always share a canonical id (minhash bands
    // collide on identical content by construction)
    val exactDupGroups = docs
      .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
      .agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1)
      .collect().map(_.getSeq[Long](1))
    val canonOf = out.map(t => t._1 -> t._2).toMap
    exactDupGroups.foreach { ids =>
      assert(ids.map(canonOf).distinct.length == 1,
        s"exact dups split across clusters: $ids")
    }
  }

  test("mixing fails loudly on a non-numeric source name (no silent drop)") {
    import graft.ops.SamplingOps
    val dir = TempDirs.create("graft-badsrc")
    Seq((1L, "some text body", "en", "weird_name", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val e1 = intercept[Exception](SamplingOps.weightedMix(spark, dir).collect())
    assert(messages(e1).contains("numeric suffix"), messages(e1).take(300))
    val e2 = intercept[Exception](SamplingOps.temperatureMix(spark, dir).collect())
    assert(messages(e2).contains("numeric suffix"), messages(e2).take(300))
    // negative suffix: try_cast succeeds, but -4 % 3 would zero the quota
    // (silent drop) / reach sqrt(negative) — the guard must fire instead
    Seq((1L, "some text body", "en", "src-4", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e3 = intercept[Exception](SamplingOps.weightedMix(spark, dir).collect())
    assert(messages(e3).contains("non-negative"), messages(e3).take(300))
    val e4 = intercept[Exception](SamplingOps.temperatureMix(spark, dir).collect())
    assert(messages(e4).contains("non-negative"), messages(e4).take(300))
  }

  test("export shuffle: a permutation partitioned by shard, no global sort") {
    import graft.ops.SamplingOps
    val docs = Tables.t(spark, sf, "documents")
    val out = SamplingOps.exportShuffle(spark, sf)
    val rows = out.collect()
    assert(rows.length == docs.count()) // every doc exactly once
    assert(rows.map(_.getLong(2)).distinct.length == rows.length)
    val byShard = rows.groupBy(_.getInt(0))
    assert(byShard.keySet.subsetOf((0 until SamplingOps.ExportShards).toSet))
    byShard.foreach { case (sh, rs) => // dense ranks per shard
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length), s"shard $sh")
    }
    // the window partitions by shard — never an Exchange SinglePartition
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(800))
  }

  test("csv/jsonl landing sources: explicit-schema round-trip, FAILFAST on corrupt rows") {
    import graft.source.{CsvSource, JsonlSource}
    import graft.config.TableSpec
    val spec = TableSpec("docs", "", "documents", Seq("doc_id"),
      Seq("doc_id", "text"), None, None, "full")
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text", "lang")
    val dir = TempDirs.create("graft-landing")
    docs.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/csv_stage")
    docs.coalesce(1).write.mode("overwrite").json(s"$dir/json_stage")
    // landing drops arrive as single files named <table>.<ext>
    def promote(stage: String, ext: String): Unit = {
      val part = new java.io.File(s"$dir/$stage").listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/documents.$ext"))
    }
    promote("csv_stage", "csv"); promote("json_stage", "jsonl")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    val viaCsv = new CsvSource(dir, schema).scan(spark, spec)
    val viaJsonl = new JsonlSource(dir, schema).scan(spark, spec)
    val want = docs.orderBy("doc_id").collect().toSeq
    assert(viaCsv.orderBy("doc_id").collect().toSeq == want)
    assert(viaJsonl.orderBy("doc_id").collect().toSeq == want)
    // FAILFAST: a corrupt line is an ERROR, not a silent null row — on
    // BOTH formats (reading all columns: CSV FAILFAST only validates the
    // fields a query parses, see the CsvSource boundary note)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/documents.jsonl"),
      "this is not json\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    intercept[Exception](new JsonlSource(dir, schema).scan(spark, spec).count())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/documents.csv"),
      "not-a-long,too,many,fields,here\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    intercept[Exception](
      new CsvSource(dir, schema).scan(spark, spec).select("doc_id", "text", "lang")
        .collect())
    // PERMISSIVE salvage mode still reads the clean rows
    val salvaged = new JsonlSource(dir, schema, mode = "PERMISSIVE")
      .scan(spark, spec).filter(col("doc_id").isNotNull).count()
    assert(salvaged == docs.count())
  }

  test("orc landing source: self-describing round-trip with predicate pushdown") {
    import graft.source.OrcSource
    import graft.config.TableSpec
    val spec = TableSpec("docs", "", "documents", Seq("doc_id"),
      Seq("doc_id", "text"), None, None, "full")
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text", "lang")
    val dir = TempDirs.create("graft-orc-landing")
    docs.write.mode("overwrite").orc(s"$dir/documents.orc")
    val src = new OrcSource(dir)
    assert(src.probe(spark))
    val got = src.scan(spark, spec)
    assert(got.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    // the columnar contract travels: a filter reaches the ORC scan's
    // PushedFilters (stripe/row-group stats pruning), projection prunes
    // the ReadSchema
    val plan = got.filter(col("doc_id") > 100L).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(doc_id"),
      plan.take(800))
    assert(!plan.contains("text:"), s"projection must prune text:\n${plan.take(800)}")
  }

  test("csv multiLine reads RFC-4180 quoted newlines (non-splittable tradeoff)") {
    import graft.source.CsvSource
    import graft.config.TableSpec
    val dir = TempDirs.create("graft-csv-ml")
    val multi = Seq((1L, "line one\nline two", "en"), (2L, "plain", "de"))
      .toDF("doc_id", "text", "lang")
    multi.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/stage")
    val part = new java.io.File(s"$dir/stage").listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/docs.csv"))
    val schema = multi.schema
    val spec = TableSpec("docs", "", "docs", Seq("doc_id"),
      Seq("doc_id", "text", "lang"), None, None, "full")
    val got = new CsvSource(dir, schema, multiLine = true).scan(spark, spec)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "line one\nline two"), (2L, "plain")))
  }

  test("jsonl export lands self-contained shards in permutation order") {
    import graft.ops.SamplingOps
    val dir = TempDirs.create("graft-export-jsonl")
    SamplingOps.exportShuffledJsonl(spark, sf, dir)
    val back = spark.read.json(dir)
    val docs = Tables.t(spark, sf, "documents")
    assert(back.count() == docs.count())
    assert(back.columns.toSet == Set("shard", "shard_rank", "doc_id", "text"))
    // no exported text may be null (a null-vacuous =!= compare would hide
    // a bug that nulls the payload)
    assert(back.filter(col("text").isNull).count() == 0)
    // text rides along untouched — null-safe equality, every row must match
    val joined = back.join(docs.withColumnRenamed("text", "orig"), "doc_id")
    assert(joined.filter(!(col("text") <=> col("orig"))).count() == 0)
    // permutation order is PHYSICAL inside each shard dir
    val shardDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(shardDirs.nonEmpty)
    val one = spark.read.json(s"$dir/${shardDirs.head}")
      .select("shard_rank").collect().map(_.getLong(0)).toSeq
    assert(one == one.sorted, "rows not written in permutation order")
  }

  test("export shuffled write lands one directory per shard in rank order") {
    import graft.ops.SamplingOps
    val dir = TempDirs.create("graft-export")
    SamplingOps.exportShuffledWrite(spark, sf, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == Tables.t(spark, sf, "documents").count())
    val shardDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(shardDirs.nonEmpty && shardDirs.length <= SamplingOps.ExportShards)
    // within one shard file, rows are physically in rank order
    val one = spark.read.parquet(s"$dir/${shardDirs.head}")
      .select("shard_rank").collect().map(_.getInt(0)).toSeq
    assert(one == one.sorted, "rows not written in permutation order")
  }

  test("distributed prefix-sum packing is invariant to bucket count") {
    import graft.ops.SamplingOps
    def rows(n: Int) = SamplingOps.packSequences(spark, sf, nBuckets = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // nBuckets=1 IS the sequential reference; any parallel bucketing must
    // produce identical sequence assignments
    assert(rows(1) == rows(32))
    assert(rows(7) == rows(32)) // non-divisor bucket count too
  }

  test("mean token freq: integer bounds and totals line up with text stats") {
    val rows = TextOps.meanTokenFreq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every occurrence's corpus count ≥ its own contribution → freq_sum
    // ≥ n_tokens, with equality iff every token is a corpus hapax
    assert(rows.forall { case (_, n, f) => n >= 1 && f >= n })
    // denominator column IS the whitespace token count (shared tokenizer)
    val stats = TextOps.textStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    rows.foreach { case (id, n, _) => assert(n == stats(id)) }
    // global identity: Σ_doc freq_sum = Σ_token cf² (count each token's
    // occurrences once per occurrence of itself)
    val cf = Tables.t(spark, sf, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("token").count().collect().map(_.getLong(1))
    assert(rows.map(_._3).sum == cf.map(c => c * c).sum)
  }

  test("token-budget select: quality-prefix, fits budget, bucket-invariant") {
    import graft.ops.SamplingOps
    val budget = 20000L
    val got = SamplingOps.tokenBudgetSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // fits, and is maximal: the next doc in quality order would overflow
    val total = got.map(_._2).sum
    assert(total <= budget)
    val all = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        expr("greatest(n_chars div 4, 1)").as("tokens"),
        expr("""size(filter(split(trim(text), '\\s+'),
                 tk -> tk IN ('the','a','of','to','and'))) * 1000000L
                div size(split(trim(text), '\\s+'))""").as("qm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (id, _, q) => (-q, id) }
    val selected = got.map(_._1).toSet
    // the selection is exactly the maximal fitting PREFIX of quality order
    val prefix = all.scanLeft(0L)(_ + _._2).tail.zip(all)
      .takeWhile(_._1 <= budget).map(_._2._1).toSet
    assert(selected == prefix,
      s"selection is not the quality prefix: ${selected.size} vs ${prefix.size}")
    // cum_tokens replays the running sum in (qm desc, id) order
    val cums = all.scanLeft(0L)(_ + _._2).tail.zip(all)
      .map { case (c, (id, _, _)) => id -> c }.toMap
    got.foreach { case (id, _, c) => assert(c == cums(id)) }
    // parallel two-phase prefix sum ≡ the nBuckets=1 sequential reference
    val seq1 = SamplingOps.tokenBudgetSelect(spark, sf, nBuckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.toSeq == seq1)
  }

  test("incremental dedup: joined ≡ gated form, corpus side never re-shuffles") {
    import graft.ops.IncrementalDedup
    val joined = IncrementalDedup.dedupIncrementJoined(spark, sf)
    // the whole point of the persisted bucketed index: probing it shuffles
    // only the batch side — the index scan carries no exchange. At fixture
    // scale AQE broadcasts the batch (also corpus-exchange-free); disable
    // broadcast to pin the 100 TB shape: bucketed SMJ, ONE band exchange.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = IncrementalDedup.dedupIncrementJoined(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
      val bandExchanges = "Exchange hashpartitioning\\(band_idx".r
        .findAllIn(plan).size
      assert(bandExchanges == 1,
        s"expected only the batch-side band exchange, got $bandExchanges:\n${plan.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // and the gate (checkpointed) form computes identical verdicts
    val a = joined.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val b = IncrementalDedup.dedupIncrement(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(a == b, "gate plumbing changed the verdicts")
    // every match cites a real corpus doc (never a batch id)
    a.filter(_._4 == 0).foreach { case (id, n, m, _) =>
      assert(n >= 1 && m % 3 != 0, s"doc $id matched non-corpus id $m")
    }
  }

  test("incremental dedup: appending the batch makes it self-match") {
    import graft.ops.IncrementalDedup
    IncrementalDedup.dedupIncrementJoined(spark, sf) // ensure index
    val batch = IncrementalDedup.batchDocs(spark, sf)
    IncrementalDedup.appendBatch(spark, sf, batch)
    try {
      val after = IncrementalDedup.dedupIncrementJoined(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      val banded = graft.ops.TextOps.bandsOfDocs(batch)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      after.foreach { case (id, n, m, sv) =>
        if (banded(id)) {
          // its own bands are now in the index: must match, and the lowest
          // matching id can only be ≤ itself
          assert(sv == 0 && n >= 1 && m <= id, s"doc $id: n=$n m=$m sv=$sv")
        } else {
          assert(sv == 1 && m == id, s"band-less doc $id should survive")
        }
      }
    } finally {
      // rebuild the pristine index so later tests in this session see the
      // corpus-only state (the WeakHashMap would otherwise skip the build)
      spark.sql(s"DROP TABLE IF EXISTS `${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`")
    }
  }

  test("sharded band index: verdicts bit-equal to the single index at " +
      "S=1 and S=3, probe reads every shard in place, appends preserve " +
      "per-shard specs") {
    import graft.ops.{IncrementalDedup, TextOps}
    val db = "graft_shard_dedup"
    val corpus = IncrementalDedup.corpusDocs(spark, sf)
    val batch = IncrementalDedup.batchDocs(spark, sf)
    val batchBands = TextOps.bandsOfDocs(batch).localCheckpoint()
    // reference: single index verdicts
    IncrementalDedup.buildIndexFrom(corpus, db = db, table = "single")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val single = key(IncrementalDedup.incrementVerdicts(
      spark.table(s"`$db`.`single`"), batchBands, batch))

    for (nShards <- Seq(1, 3)) {
      IncrementalDedup.buildShardedIndexFrom(corpus, nShards, db = db,
        tablePrefix = s"sh$nShards")
      // shards partition the single index's content exactly
      val unionCount = (0 until nShards)
        .map(sh => spark.table(s"`$db`.`sh${nShards}_$sh`").count()).sum
      assert(unionCount == spark.table(s"`$db`.`single`").count(),
        s"S=$nShards shard content must partition the single index")
      val sharded = key(IncrementalDedup.shardedIncrementVerdicts(
        spark, nShards, batchBands, batch, db = db,
        tablePrefix = s"sh$nShards"))
      assert(sharded == single,
        s"S=$nShards sharded verdicts diverged from the single index")
    }

    // plan: every shard scan is a bucketed in-place read — the only band
    // exchange is the (one) batch side feeding the joins
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = IncrementalDedup.shardedIncrementVerdicts(
        spark, 3, TextOps.bandsOfDocs(batch), batch, db = db,
        tablePrefix = "sh3").queryExecution.executedPlan.toString
      val bucketScans = "SelectedBucketsCount".r.findAllIn(plan).size
      assert(bucketScans == 3,
        s"expected 3 in-place bucketed shard scans, got $bucketScans:\n${plan.take(1500)}")
      val indexSideExchanges = "Exchange hashpartitioning\\(band_idx"
        .r.findAllIn(plan).size
      // per-shard joins may each reshuffle the BATCH side, never a shard
      assert(indexSideExchanges <= 3, plan.take(1500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)

    // appends: batch bands land in their id-hash shard, preserving each
    // shard's stored bucket spec; the batch then self-matches
    val specsBefore = (0 until 3).map(sh =>
      IncrementalDedup.currentIndexBuckets(spark, db, s"sh3_$sh"))
    IncrementalDedup.appendBandsSharded(spark, batch, 3, db = db,
      tablePrefix = "sh3")
    val specsAfter = (0 until 3).map(sh =>
      IncrementalDedup.currentIndexBuckets(spark, db, s"sh3_$sh"))
    assert(specsAfter == specsBefore, "append changed a shard's bucket spec")
    val after = key(IncrementalDedup.shardedIncrementVerdicts(
      spark, 3, batchBands, batch, db = db, tablePrefix = "sh3"))
    val banded = batchBands.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    after.foreach { case (id, n, m, sv) =>
      if (banded(id)) assert(sv == 0 && n >= 1 && m <= id,
        s"appended doc $id must self-match: n=$n m=$m sv=$sv")
      else assert(sv == 1 && m == id)
    }
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("budget mix: per-source maximal quality prefix, bucket-invariant") {
    import graft.ops.SamplingOps
    val budget = 1000L
    val got = SamplingOps.budgetMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val all = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        expr("greatest(n_chars div 4, 1)").as("tokens"),
        expr("""size(filter(split(trim(text), '\\s+'),
                 tk -> tk IN ('the','a','of','to','and'))) * 1000000L
                div size(split(trim(text), '\\s+'))""").as("qm"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    all.groupBy(_._2).foreach { case (src, docs) =>
      val ordered = docs.sortBy { case (id, _, _, q) => (-q, id) }
      val prefix = ordered.map(_._3).scanLeft(0L)(_ + _).tail.zip(ordered)
        .takeWhile(_._1 <= budget)
      val expectedIds = prefix.map(_._2._1).toSet
      val gotSrc = got.filter(_._2 == src)
      assert(gotSrc.map(_._1).toSet == expectedIds,
        s"source $src: selection is not its maximal quality prefix")
      // cum_tokens replays the per-source running sum
      val cums = prefix.map { case (c, (id, _, _, _)) => id -> c }.toMap
      gotSrc.foreach { case (id, _, _, c) => assert(c == cums(id)) }
    }
    // a source is represented iff its TOP-QUALITY doc fits the budget
    // (the prefix rule: a huge best doc legitimately empties its source)
    val expectedSources = all.groupBy(_._2).collect {
      case (src, docs)
        if docs.minBy { case (id, _, _, q) => (-q, id) }._3 <= budget => src
    }.toSet
    assert(got.map(_._2).toSet == expectedSources)
    // parallel two-phase ≡ the nBuckets=1 sequential reference
    val seq1 = SamplingOps.budgetMix(spark, sf, nBuckets = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.toSeq == seq1)
  }

  test("cluster-balanced sample: every populated cell keeps ≤k reps, group-limit plan") {
    val k = 5
    val df = VectorOps.clusterBalancedSample(spark, sf, k)
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // ≤ k per cell, ranks dense from 1
    rows.groupBy(_._1).foreach { case (cell, members) =>
      assert(members.length <= k)
      assert(members.map(_._2).sorted.toSeq == (1 to members.length),
        s"cell $cell ranks not dense: ${members.map(_._2).sorted.toSeq}")
    }
    // coverage: the sample spans every populated cell of the SAME index
    val (assignments, _) = VectorOps.ivfIndex(
      Tables.t(spark, sf, "embeddings"))
    val cells = assignments.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(rows.map(_._1).toSet == cells,
      "sample missed a populated cell — uniform-thinning is the bug this op exists to avoid")
    // the per-cell top-k must push down as a group limit (no global sort
    // before the window's single cell-keyed exchange)
    val plan = VectorOps.clusterBalancedSample(spark, sf, k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
  }

  test("pq topk: self-hit after exact re-rank, recall floor vs exact knn, " +
      "deterministic, encode is shuffle-free") {
    val got = VectorOps.pqCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // exact re-rank guarantees the self-hit (cosine(self)=1 is the global
    // max; the approx score ranks self at the top of its own codes)
    got.filter(_._2 == 1).foreach { case (p, _, n, c) =>
      assert(p == n && math.abs(c - 1.0) < 1e-9, s"probe $p top-1 was $n ($c)")
    }
    // recall floor vs brute force (same floor contract as the IVF path)
    val exact = VectorOps.knnCosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val mine = got.map(x => (x._1, x._3)).toSet
    val recall = (exact intersect mine).size.toDouble / exact.size
    assert(recall >= 0.6, s"pq recall@5 $recall below floor")
    // deterministic end to end (codebook training is seeded)
    val again = VectorOps.pqCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == again.toSeq)
    // the PRODUCTION encode pass (scan + literal stored codebooks) is
    // pure codegen expressions: NO exchange at all
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val (trainerCodes, books) = VectorOps.pqIndex(emb, 8)
    val encPlan = VectorOps.pqEncode(emb, books, 8)
      .queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"),
      s"PQ encode must be a shuffle-free scan:\n${encPlan.take(1200)}")
    // the production encode and the trainer's in-session assignment are
    // the SAME argmin (identical dist expression; both tie-break to the
    // lowest cell) — a stored-codebook deployment encodes identically
    def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (1 to VectorOps.PqSubspaces).map(r.getInt))
      .toMap
    val enc = codeRows(VectorOps.pqEncode(emb, books, 8))
    val trained = codeRows(trainerCodes)
    assert(enc == trained, "stored-codebook encode diverged from trainer")
    // codes are the compressed representation: every code in range
    assert(enc.nonEmpty)
    enc.values.flatten.foreach(c =>
      assert(c >= 0 && c < VectorOps.PqCodebookSize, s"code out of range: $c"))
  }

  test("pq quantizer law: nSub=1 training is bit-identical to ivfIndex — " +
      "the shared-recipe claim is enforced, not assumed") {
    val emb = Tables.t(spark, sf, "embeddings")
    // whole-vector "subspace": one codebook over 64 dims must reproduce
    // the IVF quantizer's centroids exactly (same seeds, same argmin,
    // same fixed-point update) — a quantization change to either
    // implementation that misses the other fails here
    val (_, books) = VectorOps.pqIndex(emb, subDim = 64, nSub = 1)
    val ivfCents = VectorOps.ivfIndex(emb, nCells = VectorOps.PqCodebookSize)
      ._2.orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(books(0) == ivfCents,
      "pqIndex's Lloyd's diverged from ivfIndex's — shared recipe broken")
  }

  test("pq small-corpus degrade: fewer vectors than K yields a smaller " +
      "codebook, not a crash") {
    val tiny = (1L to 5L).map(i =>
      (i, Array.tabulate(16)(j => (i * 16 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val (codes, books) = VectorOps.pqIndex(tiny, subDim = 8, nSub = 2)
    assert(books(0).size == 5 && books(1).size == 5)
    val rows = codes.collect()
    assert(rows.length == 5)
    rows.foreach(r => (1 to 2).foreach { i =>
      val c = r.getInt(i)
      assert(c >= 0 && c < 5, s"code out of degraded range: $c")
    })
  }

  test("connected components: reliable checkpoints survive total block loss") {
    import graft.ops.GraphOps
    val ckptDir = TempDirs.create("graft-cc-ckpt")
    // a checkpoint dir flips the CC rounds from localCheckpoint (executor-
    // local blocks — die with the executor) to reliable checkpoint files
    spark.sparkContext.setCheckpointDir(ckptDir)
    try {
      // a 40-vertex chain: long diameter forces several pointer-jump rounds
      val edges = (0L until 39L).map(i => (i, i + 1)).toDF("src", "dst")
      val verts = (0L until 40L).map(Tuple1(_)).toDF("id")
      val labels = GraphOps.connectedComponents(edges, verts)
      // reliable files actually landed
      def files(d: java.io.File): Seq[java.io.File] = {
        val k = Option(d.listFiles()).getOrElse(Array.empty)
        k.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
      }
      val live = files(new java.io.File(ckptDir))
      assert(live.nonEmpty,
        "no reliable checkpoint files written — CC ran in local mode")
      // superseded-round cleanup: only the FINAL round's checkpoint may
      // remain on disk (one rdd-* dir), else scheduled CC runs would grow
      // checkpoint storage by rounds x labels per run
      val rddDirs = live.map(_.getParentFile.getName)
        .filter(_.startsWith("rdd-")).distinct
      assert(rddDirs.size == 1,
        s"superseded rounds' checkpoint files must be deleted: $rddDirs")
      // lost-executor shape: evict EVERY cached block in the cluster; a
      // localCheckpoint'd plan would be unrecoverable (its only copy was
      // block storage), a reliable one recomputes from the durable files
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got.size == 40 && got.values.forall(_ == 0L),
        s"one chain must collapse to cluster 0 after block loss: $got")
    } finally
      // restore local-checkpoint mode for the rest of the shared session
      // (setCheckpointDir(null) resets to None — Option(null))
      spark.sparkContext.setCheckpointDir(null)
  }

  test("graph loops: reliable checkpoint files live only as long as the " +
      "result, and drain reclaims them") {
    import graft.ops.GraphOps
    // every iterative loop over one small graph: a chain into a triangle,
    // a seed at the chain's head, an isolated vertex
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 3L)).toDF("src", "dst")
    val weighted = edges.withColumn("w", lit(2L))
    val verts = (0L to 6L).toDF("id")
    val seeds = Seq(0L).toDF("id")
    val loops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "connectedComponents" -> (() => GraphOps.connectedComponents(edges, verts)),
      "pagerank" -> (() => GraphOps.pagerank(edges, verts, iters = 3)),
      "pagerankSeeded" ->
        (() => GraphOps.pagerankSeeded(edges, verts, seeds, iters = 3)),
      "hits" -> (() => GraphOps.hits(edges, verts, iters = 2)),
      "bfsHops" -> (() => GraphOps.bfsHops(edges, verts, seeds, iters = 3)),
      "allPairsHops" -> (() => GraphOps.allPairsHops(edges, verts, iters = 3)),
      "allPairsGeodesics" ->
        (() => GraphOps.allPairsGeodesics(edges, verts, iters = 3)),
      "weightedHops" ->
        (() => GraphOps.weightedHops(weighted, verts, seeds, iters = 3)),
      "labelPropagation" ->
        (() => GraphOps.labelPropagation(edges, verts, iters = 3)),
      "kcorePeel" -> (() => GraphOps.kcorePeel(edges, verts, k = 2, rounds = 3)))
    def rddDirs(d: java.io.File): Set[String] =
      Option(d.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
        .flatMap(f => if (f.getName.startsWith("rdd-")) Set(f.getName)
          else rddDirs(f)).toSet
    // the checkpoint dirs a frame reads (its LogicalRDD leaves)
    def readBy(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.flatMap(_.getCheckpointFile)
        .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    for ((name, loop) <- loops) {
      val want = rows(loop()) // local-checkpoint mode
      val ckptDir = TempDirs.create("graft-loop-ckpt")
      spark.sparkContext.setCheckpointDir(ckptDir)
      try withClue(s"$name: ") {
        val out = loop()
        val live = rddDirs(new java.io.File(ckptDir))
        assert(live.nonEmpty, s"$name wrote no reliable checkpoint files")
        // only the final round's files remain: the ones the result reads
        assert(live == readBy(out),
          s"$name left superseded rounds' files: ${live -- readBy(out)}")
        assert(GraphOps.drain(out)(rows) == want,
          s"$name diverged between local and reliable checkpoints")
        val left = rddDirs(new java.io.File(ckptDir))
        assert(left.isEmpty, s"$name: drain left checkpoint files $left")
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("band-index bucket law: adaptive count, appends preserve the spec, " +
      "probe parallelism tracks the bucket count") {
    import graft.ops.IncrementalDedup
    // the law itself: clamped constant-occupancy, monotone in band volume
    assert(IncrementalDedup.adaptiveIndexBuckets(0L) ==
      IncrementalDedup.MinIndexBuckets)
    assert(IncrementalDedup.adaptiveIndexBuckets(
      IncrementalDedup.TargetBandsPerBucket * 100) == 100)
    assert(IncrementalDedup.adaptiveIndexBuckets(Long.MaxValue) ==
      IncrementalDedup.MaxIndexBuckets)
    val law = Seq(1L, 1L << 22, 1L << 26, 1L << 30, 1L << 40)
      .map(IncrementalDedup.adaptiveIndexBuckets)
    assert(law == law.sorted, s"bucket law must be monotone: $law")

    // a pinned build stores exactly numBuckets, the probe's index scan
    // reads one task per bucket (SelectedBucketsCount tracks the spec),
    // and an append preserves the STORED spec rather than re-deriving it
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val fqn = s"`${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`"
    try {
      for (n <- Seq(4, 16)) {
        IncrementalDedup.buildIndexFrom(corpus, numBuckets = n)
        assert(IncrementalDedup.currentIndexBuckets(spark) == n)
        val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val probe = Seq((100L, "alpha beta gamma delta epsilon"))
            .toDF("doc_id", "text")
          val plan = spark.table(fqn)
            .join(graft.ops.TextOps.bandsOfDocs(probe)
              .withColumnRenamed("doc_id", "probe_id"),
              Seq("band_idx", "band_hash"))
            .queryExecution.executedPlan.toString
          assert(plan.contains(s"SelectedBucketsCount: $n out of $n"),
            s"probe parallelism should track numBuckets=$n:\n${plan.take(1500)}")
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        val before = spark.table(fqn).count()
        IncrementalDedup.appendBands(spark, corpus)
        assert(spark.table(fqn).count() == 2 * before)
        assert(IncrementalDedup.currentIndexBuckets(spark) == n,
          "append must preserve the stored bucket spec")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $fqn")
  }

  test("band-index rebuild entry re-anchors the index after appends") {
    import graft.ops.IncrementalDedup
    val corpus = Seq((1L, "alpha beta gamma delta"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val fqn = s"`${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`"
    IncrementalDedup.buildIndexFrom(corpus)
    try {
      val base = spark.table(fqn).count()
      assert(base > 0)
      // a replayed append double-counts bands — verdicts unchanged, size not
      IncrementalDedup.appendBands(spark, corpus)
      assert(spark.table(fqn).count() == 2 * base)
      import java.time.LocalDateTime
      val entry = IncrementalDedup.indexRebuildEntry(
        "band-rebuild", "0 4 * * *", _ => corpus)
      entry.run(spark, graft.pipeline.ScheduleRunner.FireWindow(
        LocalDateTime.parse("2026-01-01T04:00:00"),
        LocalDateTime.parse("2026-01-01T04:00:00")))
      assert(spark.table(fqn).count() == base,
        "rebuild should re-anchor the index to the corpus band count")
      // appending to a missing index fails loudly, never silently creates
      spark.sql(s"DROP TABLE IF EXISTS $fqn")
      intercept[IllegalArgumentException] {
        IncrementalDedup.appendBands(spark, corpus)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $fqn")
  }

  test("packing buckets stay equi-depth under a skewed id distribution") {
    import graft.ops.SamplingOps
    // one far outlier inflates the id SPAN 1000× — range bucketing would
    // put all 400 dense ids in bucket 0 (the whole prefix sum on one task)
    val ids = (1L to 400L) :+ 500000L
    val docs = ids.map(id => (id, 10L)).toDF("doc_id", "tokens")
    val sizes = SamplingOps.equiDepthBucketed(docs, 32)
      .groupBy("bucket").count().collect().map(_.getLong(1))
    assert(sizes.length > 16, s"only ${sizes.length} non-empty buckets")
    assert(sizes.max <= 2 * (ids.length / 32 + 1),
      s"max bucket ${sizes.max} of ${ids.length} rows")
    // and the packed output still equals the single-bucket reference
    def packed(n: Int) = SamplingOps.packTokens(docs, budget = 64, nBuckets = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(packed(32) == packed(1))
  }

  test("nfc_normalize: composes decomposed text, identity on normalized, codegen == eval") {
    graft.functions.GraftFunctions.register(spark)
    val decomposed = "cafe\u0301 nai\u0308ve"
    val composed = "caf\u00e9 na\u00efve"
    val rows = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"), (4L, ""))
      .toDF("id", "s")
      .selectExpr("id", "nfc_normalize(s) AS n", "length(s) AS before",
        "length(nfc_normalize(s)) AS after")
      .orderBy("id").collect()
    assert(rows(0).getString(1) == composed) // composed output
    assert(rows(0).getInt(2) == rows(0).getInt(3) + 2) // two marks folded
    assert(rows(1).getString(1) == composed) // already-NFC passes through
    assert(rows(2).getString(1) == "plain ascii" && rows(3).getString(1) == "")
    // interpreted eval agrees with the codegen path exercised above
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.NfcNormalize.normalize(
      UTF8String.fromString(decomposed)).toString == composed)
  }

  test("range join shuffles on the equi key, range rides as join filter") {
    val plan = graft.ops.EventOps.rangeJoinFollowups(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    // equi-keyed implementation (SMJ / shuffled-hash / broadcast-hash) —
    // candidates bounded per user, never a time-only cross product
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("broadcast star join actually broadcasts the dims (plan audit)") {
    val plan = graft.ops.Relational.joinBroadcastDim(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), "dim joins must not sort-merge")
  }

  test("bucketed join sort-merges with zero exchange on either side (plan audit)") {
    val df = graft.ops.Relational.joinBucketed(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    // the whole point of bucketing: the join keys never re-shuffle
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"lineitem side re-shuffled:\n${plan.take(1200)}")
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"orders side re-shuffled:\n${plan.take(1200)}")
    // and the result equals the plain (unbucketed) join
    val plain = graft.Tables.t(spark, sf, "lineitem")
      .join(graft.Tables.t(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    assert(df.collect().toSeq == plain)
  }

  test("ivf search broadcasts the probe cells — corpus never exchanged on the cell key") {
    // audit the SEARCH frame (the registered query's plan is the oracle-
    // input checkpoint read-back; the search executes during its write)
    val emb = Tables.t(spark, sf, "embeddings")
    val (assignments, centroids) = VectorOps.ivfIndex(emb)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val plan = VectorOps.ivfSearch(assignments, centroids, probes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // a hash exchange on `cell` would funnel the whole corpus into
    // ≤ IvfCells partitions — the r3 scale-killer this shape replaced
    assert(!plan.contains("Exchange hashpartitioning(cell"),
      "assignments must not be hash-partitioned on the nCells-value key")
  }

  test("vec_dot: bit-parity with the HOF fold, null contract, codegen == eval") {
    graft.functions.GraftFunctions.register(spark)
    val a = Seq.tabulate(64)(i => ((i * 7) % 13 - 6).toFloat / 3.0f)
    val b = Seq.tabulate(64)(i => ((i * 11) % 17 - 8).toFloat / 5.0f)
    val df = Seq((1L, a, b), (2L, a, a)).toDF("id", "x", "y")
    val rows = df.selectExpr("id", "vec_dot(x, y) AS native",
      """aggregate(zip_with(x, y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
        |CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS hof""".stripMargin)
      .orderBy("id").collect()
    // bit-identical fold (same multiply, same accumulation order)
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2))))
    // interpreted eval path agrees with the codegen path exercised above
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    val lit_a = Literal.create(a, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))
    val lit_b = Literal.create(b, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))
    val evald = graft.functions.VecDot(lit_a, lit_b).eval(null)
    assert(java.lang.Double.doubleToLongBits(evald.asInstanceOf[Double]) ==
      java.lang.Double.doubleToLongBits(rows(0).getDouble(1)))
    // vec_sqdist: bit-parity with its zip_with chain (the k-means fold)
    val sq = df.selectExpr("id", "vec_sqdist(x, y) AS native",
      """aggregate(zip_with(x, y, (p, q) -> (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))
        |  * (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))),
        |CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS hof""".stripMargin)
      .orderBy("id").collect()
    sq.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2))))
    assert(sq(1).getDouble(1) == 0.0) // identical vectors: exactly zero
    // null contract mirrors the HOF chain: length mismatch / null element
    val edge = Seq((1L, Seq(1.0f, 2.0f), Seq(1.0f))).toDF("id", "x", "y")
    assert(edge.selectExpr("vec_dot(x, y)").head().isNullAt(0))
    assert(edge.selectExpr("vec_sqdist(x, y)").head().isNullAt(0))
    assert(spark.sql("SELECT vec_dot(array(1.0D, NULL), array(1.0D, 2.0D))")
      .head().isNullAt(0))
    assert(spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .head().isNullAt(0))
  }

  test("ivfSearch auto-threshold keeps the broadcast plan for small probe sets") {
    val emb = Tables.t(spark, sf, "embeddings")
    val (assignments, centroids) = VectorOps.ivfIndex(emb)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val df = VectorOps.ivfSearch(assignments, centroids, probes)
    val plan = df.queryExecution.executedPlan.toString
    // below the probe limit: the corpus must stream against broadcast
    // probe cells, never hash-partition on the nCells-value key
    assert(!plan.contains("Exchange hashpartitioning(cell"), plan.take(800))
    val viaAuto = df.collect().map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"), r.getAs[Long]("neighbor_id"))).toSeq
    val viaTopk = VectorOps.ivfCosineTopk(spark, sf).collect().map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"), r.getAs[Long]("neighbor_id"))).toSeq
    assert(viaAuto == viaTopk)
  }

  test("ivf semantic dedup: probes == corpus rides the salted shuffle, not a broadcast") {
    // emulate scale: with auto-broadcast off (as it would be for two
    // corpus-sized sides), the probe-corpus join must shuffle on the
    // SALTED key — only the hinted metadata tables (centroids, salt
    // factors) may broadcast
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the PAIR frame, not the registered query (whose plan is the oracle-
    // input checkpoint read-back)
    val plan =
      try VectorOps.ivfSemanticDedupPairs(Tables.t(spark, sf, "embeddings"),
        VectorOps.CosineDupThreshold).queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert("hashpartitioning\\(cell#\\d+, salt#\\d+".r.findFirstIn(plan).isDefined,
      "search join must shuffle on the salted cell key\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("ivf semantic dedup: no false positives, recall floor, exact-dup guarantee") {
    val vecs = Tables.t(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      c = cos(va, vb) if c >= 0.45
    } yield (ia, ib)).toSet
    val got = VectorOps.ivfSemanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact-cosine confirm means zero false positives (1-ulp slack for the
    // fold living in different engines' register scheduling)
    got.foreach { case (a, b, c) =>
      assert(c >= 0.45 && truth.contains((a, b)), s"false positive ($a,$b,$c)")
    }
    // the two probing directions were deduplicated
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    if (truth.nonEmpty) {
      val recall = got.count(p => truth((p._1, p._2))).toDouble / truth.size
      assert(recall >= 0.5, s"semantic-dedup recall = $recall over ${truth.size} pairs")
    }
    // identical vectors share their cell assignment and every probe visits
    // its own cell first -> an exact duplicate can NEVER be missed
    import spark.implicits._
    val v = Seq.tabulate(64)(i => ((i * 11) % 13 - 6).toFloat)
    val u = Seq.tabulate(64)(i => ((i * 5) % 17 - 8).toFloat)
    val synth = (Seq((1L, v), (2L, v), (900L, u)) ++
      (10L to 40L).map(id => (id, Seq.tabulate(64)(j => ((id * 31 + j * 7) % 19 - 9).toFloat))))
      .toDF("vec_id", "embedding")
    val pairs = VectorOps.ivfSemanticDedupPairs(synth, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact dup missed: $pairs")
  }

  test("pseudonymize: stable surrogates, raw values gone, no-op rows " +
      "untouched, nesting handled by sorted fold") {
    val docs = Seq(
      (1L, "mail a@x.com twice a@x.com end"),     // repeats inside one doc
      (2L, "also a@x.com and b@y.org here"),      // repeats ACROSS docs
      (3L, "no pii at all"),
      // one address a substring-suffix of the other — the sorted-fold case
      (4L, "pair ops1@corp.org and xops1@corp.org done"))
      .toDF("doc_id", "text2")
    val out = TextOps.pseudonymizeFor(docs).orderBy("doc_id").collect()
    val p = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // join-ability: a@x.com maps to ONE surrogate in both docs
    val tokA1 = p(1L).getAs[String]("tokens_cat")
    assert(p(1L).getAs[Long]("n_pii") == 1 && p(1L).getAs[Int]("n_matches") == 2)
    assert(p(2L).getAs[String]("tokens_cat").split(" ").contains(tokA1))
    // masking: no raw address survives anywhere
    out.foreach(r => assert(!r.getAs[String]("pseudo_text").contains("@")))
    // both occurrences in doc 1 rewrote to the same token
    assert(p(1L).getAs[String]("pseudo_text")
      .sliding(tokA1.length).count(_ == tokA1) == 2)
    // clean rows pass through byte-identical
    assert(p(3L).getAs[String]("pseudo_text") == "no pii at all" &&
      p(3L).getAs[String]("tokens_cat") == "")
    // the substring pair (ops1@corp.org ⊂ xops1@corp.org): length-desc
    // fold rewrites the longer first, so BOTH surrogates appear and the
    // 'x' prefix survives intact — no corruption
    val toks4 = p(4L).getAs[String]("tokens_cat").split(" ")
    assert(toks4.length == 2 && toks4.distinct.length == 2)
    val pt4 = p(4L).getAs[String]("pseudo_text")
    assert(toks4.forall(pt4.contains), s"surrogate lost to nesting: $pt4")
    assert(pt4.matches("pair <EMAIL_[0-9a-f]{10}> and <EMAIL_[0-9a-f]{10}> done"),
      s"unexpected rewrite shape: $pt4")
    // per-row only: no shuffle in the plan
    val plan = TextOps.pseudonymizeFor(docs).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), plan.toString)
  }

  test("randomized response: coins replay the salted md5 exactly, " +
      "reports deterministic across runs, estimates in range") {
    import graft.ops.PrivacyOps
    def flipOf(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest((PrivacyOps.RrSalt + id.toString).getBytes("UTF-8"))
      if ("048c".contains("%02x".format(h(0)).charAt(0))) 1 else 0
    }
    val docs = (0L until 64L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val rows = PrivacyOps.withReports(docs).collect()
    assert(rows.map(_.getAs[Int]("flip")).sum > 0, "no coin ever flipped")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val truth = if (id % 3 == 0) 1 else 0
      assert(r.getAs[Int]("flip") == flipOf(id), s"coin mismatch at $id")
      assert(r.getAs[Int]("truth") == truth)
      assert(r.getAs[Int]("reported") ==
        (if (flipOf(id) == 1) 1 - truth else truth))
    }
    // budget discipline: a re-release reports IDENTICAL bits (fresh coins
    // would average the noise away and leak)
    val again = PrivacyOps.withReports(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("reported")).toMap
    rows.foreach(r => assert(
      again(r.getAs[Long]("doc_id")) == r.getAs[Int]("reported")))
    // fixture release: clamped range, group counts foot to the corpus
    val est = graft.ops.PrivacyOps.rrPrivatize(spark, sf).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val e = r.getAs[Long]("est_permille")
      assert(e >= 0L && e <= 1000L, s"estimate out of range: $r")
      assert(r.getAs[Long]("n_reported") <= r.getAs[Long]("n"))
    }
    assert(est.map(_.getAs[Long]("n")).sum ==
      graft.Tables.t(spark, sf, "documents").count())
  }

  test("k-anonymity: released classes satisfy k and l, suppression masks " +
      "all quasi-identifiers together") {
    import graft.ops.PrivacyOps
    val rows = PrivacyOps.kAnonymize(spark, sf).collect()
    assert(rows.nonEmpty)
    // non-vacuous in both directions on the fixture
    assert(rows.exists(_.getAs[Int]("suppress") == 1), "nothing suppressed")
    assert(rows.exists(_.getAs[Int]("suppress") == 0), "all suppressed")
    rows.foreach { r =>
      val sup = r.getAs[Int]("suppress")
      assert((r.getAs[String]("rel_lang") == "*") == (sup == 1),
        s"partial suppression: $r")
      assert((r.getAs[Long]("rel_decile") == -1L) == (sup == 1))
      if (sup == 0)
        assert(r.getAs[Long]("class_n") >= PrivacyOps.KAnon &&
          r.getAs[Long]("class_l") >= PrivacyOps.LDiv, s"leaky release: $r")
    }
    // THE guarantee, checked on the release itself: every non-masked
    // equivalence class has >= k members and >= l distinct sensitive
    // values (the homogeneity attack)
    rows.filter(_.getAs[Int]("suppress") == 0)
      .groupBy(r => (r.getAs[String]("rel_lang"),
        r.getAs[Long]("rel_decile")))
      .foreach { case (k, g) =>
        assert(g.length >= PrivacyOps.KAnon, s"class $k has ${g.length}")
        assert(g.map(_.getAs[String]("sensitive_source")).distinct.length
          >= PrivacyOps.LDiv, s"homogeneous class $k")
      }
  }

  test("knn plan is broadcast-probe, not corpus x corpus shuffle") {
    val plan = VectorOps.knnCosineTopk(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("scan projection prunes columns down to the parquet reader") {
    val ex = graft.ops.Parity.scanProjection(spark, sf).queryExecution
    val scan = ex.executedPlan.toString
    assert(scan.contains("ReadSchema"), scan.take(500))
    assert(!scan.contains("l_shipdate"), "unused column must be pruned from scan")
  }

  test("priority sample: exact score arithmetic, u range, top-k order, " +
      "TakeOrdered plan (never a global sort)") {
    import graft.ops.SamplingOps
    val q = SamplingOps.prioritySample(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    val rows = q.collect()
    assert(rows.length == SamplingOps.PriorityK)
    rows.foreach { r =>
      val (w, u, sc) = (r.getAs[Long]("w"), r.getAs[Long]("u"),
        r.getAs[Long]("score_fp"))
      assert(u >= 1L && u <= 65536L)
      assert(sc == w * 65536L / u, s"score mismatch for $r")
    }
    // ranks 1..k, scores non-increasing, doc_id tie-break ascending
    assert(rows.map(_.getAs[Int]("sample_rank")).toSeq ==
      (1 to SamplingOps.PriorityK))
    val keys = rows.map(r =>
      (-r.getAs[Long]("score_fp"), r.getAs[Long]("doc_id"))).toSeq
    assert(keys == keys.sorted)
    // weighted, not uniform: the sample's mean weight must exceed the
    // corpus mean (heavy docs win more often)
    import org.apache.spark.sql.functions._
    val corpusMean = Tables.t(spark, sf, "documents")
      .select(avg(size(split(trim(col("text")), "\\s+")))).head().getDouble(0)
    val sampleMean = rows.map(_.getAs[Long]("w")).sum.toDouble / rows.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("dataset card: totals foot to the corpus, shares sum within " +
      "truncation, dup counts bounded") {
    import org.apache.spark.sql.functions._
    val card = graft.ops.TextOps.datasetCard(spark, sf).collect()
    val docs = Tables.t(spark, sf, "documents")
    val n = docs.count()
    assert(card.map(_.getAs[Long]("n_docs")).sum == n)
    // per-million shares sum to 1e6 minus at most one truncation unit
    // per source row
    val shareSum = card.map(_.getAs[Long]("share_ppm")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - card.length)
    card.foreach { r =>
      val (nd, dup) = (r.getAs[Long]("n_docs"), r.getAs[Long]("dup_docs"))
      assert(dup >= 0L && dup < nd)
      assert(r.getAs[Long]("mean_tokens_x100") ==
        r.getAs[Long]("tokens_total") * 100L / nd)
    }
    val tokensTotal = docs
      .select(sum(size(split(trim(col("text")), "\\s+")))).head().getLong(0)
    assert(card.map(_.getAs[Long]("tokens_total")).sum == tokensTotal)
  }

  test("card drift: share shifts, new and vanished sources all flag") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.TextOps
    def frame(rows: (Long, String, String)*) =
      rows.toSeq.map { case (id, src, text) => (id, text, "en", src) }
        .toDF("doc_id", "text", "lang", "source")
    // old: a=2 docs, b=2 docs (50/50); new: a=6, c=2 (75/25) — b vanished,
    // c new, a's share moved 250_000 ppm
    val oldDocs = frame((1L, "a", "x x"), (2L, "a", "y"),
      (3L, "b", "z"), (4L, "b", "w"))
    val newDocs = frame((1L, "a", "x x"), (2L, "a", "y"), (5L, "a", "p"),
      (6L, "a", "q"), (7L, "a", "r"), (8L, "a", "s"),
      (9L, "c", "t"), (10L, "c", "u"))
    val out = TextOps.compareCards(
        TextOps.cardOver(oldDocs), TextOps.cardOver(newDocs))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("a").getAs[Long]("share_delta_ppm") == 250000L)
    assert(out("a").getAs[Int]("drift") == 1)
    assert(out("b").getAs[Long]("docs_new") == 0L &&
      out("b").getAs[Int]("drift") == 1)
    assert(out("c").getAs[Long]("docs_old") == 0L &&
      out("c").getAs[Int]("drift") == 1)
    // no-shift control: identical snapshots never flag
    val same = TextOps.compareCards(
        TextOps.cardOver(oldDocs), TextOps.cardOver(oldDocs))
      .agg(sum("drift")).head().getLong(0)
    assert(same == 0L)
  }

  test("card drift stored lifecycle: serve bit-equal to the in-query gate") {
    import graft.ops.TextOps
    val db = "card_drift_spec"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    TextOps.buildDatasetCard(
      Tables.t(spark, sf, "documents")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0), db)
    val served = TextOps.cardDriftFromModel(spark, sf, db).collect().map(_.toSeq)
    val gate = TextOps.cardDrift(spark, sf).collect().map(_.toSeq)
    assert(served.sameElements(gate))
  }

  test("funnel: strict first-touch ordering, monotone step counts") {
    import spark.implicits._
    import graft.ops.EventOps
    val wk = EventOps.WeekNs / 7 / 24  // one hour in ns
    // u1 completes in order; u2 clicks after signup (step 2 converts) but
    // their purchase PRECEDES the click (must not convert step 3); u3
    // clicks before signup (click after signup absent -> stops at step
    // 1); u4 never signs up (not in funnel at all)
    val ev = Seq(
      (1L, "signup", 1 * wk), (1L, "click", 2 * wk), (1L, "purchase", 3 * wk),
      (2L, "signup", 1 * wk), (2L, "purchase", 2 * wk), (2L, "click", 3 * wk),
      (3L, "click", 1 * wk), (3L, "signup", 2 * wk),
      (4L, "purchase", 1 * wk))
      .toDF("user_id", "event_type", "ts")
    val out = graft.ops.EventOps.funnelOver(ev).orderBy("step").collect()
    assert(out.map(_.getAs[Long]("n_users")).toSeq == Seq(3L, 2L, 1L))
    assert(out.map(_.getAs[Long]("conv_ppm")).toSeq ==
      Seq(1000000L, 666666L, 333333L))
  }

  test("retention: offset-0 counts every cohort member; a returning " +
      "user lands in their cohort's later offset") {
    import spark.implicits._
    import graft.ops.EventOps
    val w = EventOps.WeekNs
    // u1: weeks 0,2; u2: week 0 only; u3: week 1
    val ev = Seq((1L, 100L), (1L, 2 * w + 5L), (2L, 200L), (3L, w + 9L))
      .toDF("user_id", "ts")
    val out = EventOps.retentionOver(ev).collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("week_offset"))
        -> r.getAs[Long]("n_users")).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 2L) -> 1L, (1L, 0L) -> 1L))
  }

  test("chi-square: hand-computed 2x2 lands exactly (12.5 ppm-scaled), " +
      "complement outcome carries the same statistic") {
    // arm0: 30 error / 70 view; arm1: 10 error / 90 view
    //   chi2 = 200·(30·90 − 70·10)² / (100·100·40·160) = 12.5 exactly
    val dir = TempDirs.create("graft-chi2-spec")
    val rows = Seq.tabulate(30)(i => (0L, i.toLong, "error")) ++
      Seq.tabulate(70)(i => (0L, (100 + i).toLong, "view")) ++
      Seq.tabulate(10)(i => (1L, (200 + i).toLong, "error")) ++
      Seq.tabulate(90)(i => (1L, (300 + i).toLong, "view"))
    rows.toDF("user_id", "event_id", "event_type")
      .withColumn("ts", col("event_id") * 1000000000L)
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ops.EventOps.abChiSquare(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"),
          r.getAs[Long]("d"), r.getAs[Long]("chi2_ppm"),
          r.getAs[Int]("significant"))).toMap
    assert(got("error") == ((30L, 70L, 10L, 90L, 12500000L, 1)), got)
    // testing the complement outcome is the SAME 2x2 up to row swap —
    // identical statistic, the classic invariance check
    assert(got("view") == ((70L, 30L, 90L, 10L, 12500000L, 1)), got)
  }

  test("kaplan-meier: hand-computed curve with censoring — risk sets, " +
      "factors and the day-ordered prefix product land exactly") {
    // 3 signups at day 0; user 1 converts day 1, user 2 day 3, user 3
    // never (censored at the day-5 observation end):
    //   day 1: n_risk 3, d 1 → factor 666666, S 666666
    //   day 3: n_risk 2, d 1 → factor 500000, S 666666·5e5 div 1e6 = 333333
    val dir = TempDirs.create("graft-km-spec")
    val day = graft.ops.EventOps.DayNs
    Seq(
      (1L, 0L, 1L, "signup", "{\"k\": 1}"),
      (2L, 0L, 2L, "signup", "{\"k\": 1}"),
      (3L, 0L, 3L, "signup", "{\"k\": 1}"),
      (1L, day + day / 2, 4L, "purchase", "{\"k\": 7}"),   // qualifies
      (2L, 3 * day + 7L, 5L, "purchase", "{\"k\": 14}"),   // qualifies
      (3L, 2 * day, 6L, "purchase", "{\"k\": 3}"),         // non-qualifying
      (3L, 5 * day, 7L, "view", "{\"k\": 1}"))
      .toDF("user_id", "ts", "event_id", "event_type", "props")
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ops.EventOps.kaplanMeier(spark, dir).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_events"), r.getAs[Long]("factor_fp"),
        r.getAs[Long]("surv_fp"))).toSeq
    assert(got == Seq((1L, 3L, 1L, 666666L, 666666L),
      (3L, 2L, 1L, 500000L, 333333L)), got)
  }

  test("luhn scan: validator separates crafted valid/invalid 100%/0%, " +
      "agrees with an independent JVM Luhn, redaction is checksum-gated") {
    def jvmLuhn(s: String): Boolean = {
      val sum = s.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      sum % 10 == 0
    }
    val rows = graft.ops.PrivacyOps.luhnScan(spark, sf).collect()
    assert(rows.nonEmpty && rows.length % 2 == 0)
    for (r <- rows) {
      val digits = r.getAs[String]("digits")
      val valid = r.getAs[Int]("luhn_valid")
      assert(valid == (if (jvmLuhn(digits)) 1 else 0),
        s"engine vs JVM Luhn disagree on $digits")
      assert(valid == (if (r.getAs[Int]("candidate_idx") == 0) 1 else 0),
        s"crafted candidate parity broken: $r")
      val red = r.getAs[String]("redacted")
      if (valid == 1) assert(red.contains("[PAN]") && !red.contains(digits))
      else assert(red.contains(digits) && !red.contains("[PAN]"))
    }
  }

  test("session sequences: gap cut, ordered assembly, tie-break by " +
      "event_id at equal ts") {
    val dir = TempDirs.create("graft-sess-spec")
    val m = 60L * 1000000000L // minute in ns
    Seq(
      (1L, 0L * m, 10L, "view"), (1L, 10L * m, 11L, "click"),
      (1L, 50L * m, 12L, "purchase"),              // 40-min gap → new session
      (2L, 0L * m, 20L, "b_second"), (2L, 0L * m, 19L, "a_first"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ops.EventOps.sessionSequences(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("session_idx"))
        -> (r.getAs[Long]("n_events"), r.getAs[String]("seq"),
            r.getAs[Long]("duration_ms"))).toMap
    assert(got == Map(
      (1L, 0) -> ((2L, "view>click", 10L * 60000L)),
      (1L, 1) -> ((1L, "purchase", 0L)),
      (2L, 0) -> ((2L, "a_first>b_second", 0L))), got)
  }

  test("collocations: hand-computed lift, min-count guard, descending " +
      "rank order") {
    // "x y x y x y x y x y": c2(x,y)=5 survives, c2(y,x)=4 is guarded
    // out; c(x)=c(y)=5, T=10 → lift = 1e6·5·10/(5·5) = 2,000,000
    val dir = TempDirs.create("graft-colloc-spec")
    Seq((1L, "x y x y x y x y x y")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.ops.TextOps.collocations(spark, dir).collect()
    assert(rows.length == 1, rows.toSeq)
    assert(rows(0).getAs[String]("w1") == "x"
      && rows(0).getAs[String]("w2") == "y"
      && rows(0).getAs[Long]("c2") == 5L
      && rows(0).getAs[Long]("lift_fp") == 2000000L, rows(0))
    // fixture: ranks descend in lift, every pair clears the guard
    val fx = graft.ops.TextOps.collocations(spark, sf).collect()
    assert(fx.nonEmpty && fx.forall(_.getAs[Long]("c2") >=
      graft.ops.TextOps.CollocMinCount))
    val lifts = fx.map(_.getAs[Long]("lift_fp")).toSeq
    assert(lifts == lifts.sortBy(-_))
  }

  test("proportional split: allocations sum to exactly N, within one " +
      "seat of the real quota, filled by the per-stratum permutation") {
    val rows = graft.ops.SamplingOps.proportionalSplit(spark, sf).collect()
    assert(rows.length == graft.ops.SamplingOps.ApportionN,
      s"fixture strata are all thick enough — got ${rows.length}")
    val alloc = rows.map(r => r.getAs[String]("lang") ->
      (r.getAs[Long]("n_i"), r.getAs[Long]("alloc"))).toMap
    assert(alloc.values.map(_._2).sum == graft.ops.SamplingOps.ApportionN)
    val nTot = alloc.values.map(_._1).sum
    for ((lang, (ni, a)) <- alloc) {
      // Hamilton: every stratum lands within one seat of its exact quota
      val lo = graft.ops.SamplingOps.ApportionN * ni / nTot
      assert(a == lo || a == lo + 1, s"$lang: alloc $a vs floor $lo")
    }
    // seats are the permutation's first `alloc` docs per stratum
    for ((lang, picks) <- rows.groupBy(_.getAs[String]("lang"))) {
      val ranks = picks.map(_.getAs[Int]("pick_rank")).sorted
      assert(ranks.toSeq == (1 to alloc(lang)._2.toInt).toSeq,
        s"$lang ranks: $ranks")
    }
  }

  test("bpe_pieces native expression: bit-equal to the HOF reference " +
      "formulation on the fixture corpus and crafted edge cases") {
    import graft.ops.BpeOps
    // crafted edges: empty, single char, untrimmed, tab/newline splits
    // (trim strips only 0x20 — leading \t must keep its empty word), CJK,
    // surrogate-pair emoji, repetitive merge chains, the wrap sentinels
    // chr(2)/chr(3) INSIDE the text, and NULL text
    val edges = Seq(
      1000L -> "", 1001L -> "x", 1002L -> "  leading and trailing  ",
      1003L -> "tab\tseparated\nnewline words",
      1004L -> "한글 텍스트와 English가 섞인 문서입니다",
      1005L -> "emoji 😀 inside 😀😀 the text",
      1006L -> ("ab " * 200 + "abab ababab abb"),
      1007L -> "\u0002sentinel\u0003 chars \u0002\u0003",
      1008L -> null.asInstanceOf[String])
      .toDF("doc_id", "text")
    val fixture = Tables.t(spark, sf, "documents").select("doc_id", "text")
    // merges trained on the fixture corpus — real multi-char merge chains
    val merges = BpeOps.trainBpe(fixture, 24)
    assert(merges.nonEmpty)
    for (docs <- Seq(fixture, edges);
         ms <- Seq(merges, Seq.empty[(Int, String, String)])) {
      val native = BpeOps.applyBpe(docs, ms)
        .select("doc_id", "pieces").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val hof = BpeOps.applyBpeHof(docs, ms)
        .select("doc_id", "pieces").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(native == hof,
        s"native bpe_pieces diverged from the HOF reference " +
          s"(${ms.size} merges): " +
          native.zip(hof).filter(p => p._1 != p._2).take(3).toString)
    }
  }
}
