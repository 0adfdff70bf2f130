package graft

/** Dumps formatted physical plans for the headline queries into PLANS.md —
  * the auditable evidence for the scale-design claims in DESIGN.md
  * (pushdown reaching the scan, broadcasts on dims, no cartesian products).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", TempDirs.create("graft-audit-wh"))
      // explain truncates scan metadata at 100 chars by default — the
      // PlanPolicy pushdown pins need the full PushedFilters list
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    // The audit enumerates the FULL registry (round-12 verdict #1): every
    // query in SparkEntry.queries gets a read-path section, so a new —
    // possibly expensive — query cannot ship without plan evidence. The
    // enforcement below (registry-coverage require before the write)
    // makes the guarantee structural rather than reviewed-for.
    // Historical per-group audit notes (what evidence each family's plan
    // carries) lived in the hand-maintained list this replaced — see git
    // history at round 11 — and remain in the operators' scaladoc.
    // Per-name (lazy): the `only` iteration mode must audit the SAME
    // frame the full audit enforces (a Map literal would also build
    // every override frame eagerly, paying the small index/probe setups
    // even for a one-query run).
    def overrideFrame(n: String): Option[org.apache.spark.sql.DataFrame] = n match {
      case "q_embedding_near_dup" => Some(ops.VectorOps.nearDupPairs(
        Tables.t(spark, d, "embeddings"), 0.45,
        bandBits = Some(ops.VectorOps.BitsPerBand)))
      // the gated query's executed plan is only the oracle-checkpoint
      // read-back — audit the SEARCH frame instead (training collects
      // are unavoidable, the plan's codebooks are trained literals)
      case "q_pq_cosine_topk" => Some(ops.VectorOps.pqTopkFrame(spark, d))
      case "q_ivfpq_cosine_topk" => Some(ops.VectorOps.ivfPqTopkFrame(spark, d))
      case "q_ivfsq_cosine_topk" => Some(ops.VectorOps.ivfSqTopkFrame(spark, d))
      // explicit nCells skips the corpus-count job (the index TRAINING
      // jobs are unavoidable — the plan's centroid side is trained data)
      case "q_ivf_semantic_dedup" => Some(ops.VectorOps.ivfSemanticDedupPairs(
        Tables.t(spark, d, "embeddings"), 0.45,
        nCells = Some(ops.VectorOps.IvfCells)))
      // the bloom bitmap is a plan LITERAL, so the shape is content-
      // independent: a layout-valid dummy keeps the audit lazy (no
      // blocklist count, no bitmap collect)
      case "q_blocklist_bloom" =>
        val docs = Tables.t(spark, d, "documents")
          .withColumn("digest",
            org.apache.spark.sql.functions.sha2(
              org.apache.spark.sql.functions.col("text"), 256))
        val block = docs
          .filter(org.apache.spark.sql.functions.expr("doc_id % 11 = 3"))
          .select("digest").distinct()
        Some(ops.BlocklistOps.cleanAgainstBloom(docs, block,
          Array[Byte](7, -1, -1, -1, -1, -1, -1, -1, -1)))
      // the scalar source count would otherwise run before the plan exists
      case "q_salient_terms" => Some(ops.TextOps.salientTermsPerSource(
        spark, d, nSourcesHint = Some(20L)))
      case "q_salient_terms_cjk" => Some(ops.TextOps.salientTermsCjk(
        spark, d, nSourcesHint = Some(20L)))
      // q_ivf_cosine_topk's registered form returns its oracle-input
      // checkpoint READ-BACK (the search executes during the write); the
      // plan worth auditing is the search frame itself. The mid-pipeline
      // checkpoints (minhash bands, simhash frame) need no override — the
      // join/confirm stages still sit in the registered plans.
      case "q_ivf_cosine_topk" =>
        val emb = Tables.t(spark, d, "embeddings")
        val (assignments, centroids) = ops.VectorOps.ivfIndex(emb)
        val probes = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
          .select(org.apache.spark.sql.functions.col("vec_id").as("probe_id"),
            org.apache.spark.sql.functions.col("embedding").as("probe_vec"))
        Some(ops.VectorOps.ivfSearch(assignments, centroids, probes))
      // the registered form materializes gate inputs; the plan worth
      // auditing is the PRODUCTION probe against the persisted bucketed
      // band index (one small index build — same unavoidable-
      // materialization class as the bucketed-join tables)
      case "q_dedup_incremental" =>
        Some(ops.IncrementalDedup.dedupIncrementJoined(spark, d))
      // the vocab scalar is a literal in the score expression; the hint
      // keeps the audit lazy with an identical plan shape (salientTerms'
      // nSourcesHint contract)
      case "q_perplexity_filter" =>
        Some(ops.TextOps.perplexityFilter(spark, d, vocabHint = Some(1L)))
      case "q_corpus_clean_ppx" =>
        Some(ops.TextOps.corpusCleanPerplexity(spark, d, vocabHint = Some(1L)))
      case _ => None
    }

    // `PlanAudit only q_a,q_b`: iterate on one query's plan + policy
    // verdict without paying the full-registry run (no PLANS.md write).
    // Goes through the SAME overrideFrame the full audit enforces — the
    // iterate tool must never print a verdict for a different plan than
    // the one the audit would fail on (review finding).
    args.headOption.filter(_ == "only").foreach { _ =>
      val list = args.lift(1).getOrElse {
        println("usage: PlanAudit only q_a,q_b"); spark.stop(); sys.exit(2)
      }
      list.split(',').map(_.trim).filter(_.nonEmpty).foreach { n =>
        val df = overrideFrame(n).getOrElse(SparkEntry.queries(n)(spark, d))
        val full = PlanPolicy.planText(df)
        val v = PlanPolicy.violations(n, full) ++ PlanPolicy.sortAboveProjection(n, df)
        println(s"== $n: ${if (v.isEmpty) "CLEAN" else v.mkString("; ")}")
        println(full)
      }
      spark.stop(); sys.exit(0)
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Registry completeness means some gates' frame CONSTRUCTION executes
    // eager work (training collects, stored-model builds, the corpus
    // pipeline's staged materialization) — the same work Verify pays; the
    // audit run is a few minutes at sf0.01, the price of plan evidence
    // for every registry row.
    // Plan-only overrides: q_embedding_near_dup's default construction
    // sizes its adaptive banding with a Spark job (persist + count of the
    // sketch); an explicit bandBits keeps the audit lazy and the plan
    // shape identical (sf0.01 sits at the BitsPerBand floor anyway).
    // Round-11 stored-model SERVE audits (the registered gates pay
    // training so the oracle can replay it; the plan worth auditing is
    // the serve — stored-table scans + the codegen application fold, no
    // training aggregate). Same unavoidable-materialization class as
    // q_perplexity_serve: the audit pays one small build.
    lazy val servedOverrides: Map[String, org.apache.spark.sql.DataFrame] = {
      ops.BpeOps.buildBpeModel(Tables.t(spark, d, "documents"), "audit_bpe")
      ops.TextOps.buildQualityClassifier(
        Tables.t(spark, d, "documents"), "audit_qc")
      Map(
        "q_bpe_tokenize" ->
          ops.BpeOps.bpeTokenizeFromModel(spark, d, "audit_bpe"),
        "q_quality_classifier" ->
          ops.TextOps.qualityClassifierFromModel(spark, d, "audit_qc"))
    }
    // q_join_bucketed stays un-overridden BY DESIGN: a bucketed-join plan
    // cannot exist without bucketed tables in the catalog (the layout IS
    // catalog metadata), so the audit pays the two small writes — same
    // unavoidable-materialization class as the IVF training jobs.
    val sb = new StringBuilder
    sb.append("# PLANS — physical plan audits (generated by graft.PlanAudit at sf0.01)\n\n")
    sb.append("What to look for per DESIGN.md: `PushedFilters`/pruned `ReadSchema` on scans,\n")
    sb.append("`BroadcastHashJoin` on dimension joins, single hash-partition exchanges on\n")
    sb.append("group/window keys, `BroadcastNestedLoopJoin` only for the blocked knn probe,\n")
    sb.append("and no `CartesianProduct` anywhere.\n\n")
    sb.append("MACHINE-ENFORCED (graft.PlanPolicy, round 13; extended round 14): this\n")
    sb.append("file exists only if every registry plan passed the policy scan — no\n")
    sb.append("CartesianProduct; Exchange SinglePartition only above a partial\n")
    sb.append("aggregate or with a PlanPolicy allowlist entry pinning the occurrence\n")
    sb.append("count and the boundedness argument; per-query pushdown/pruning/\n")
    sb.append("bucketing pins (PlanPolicy.mustMatch) and the star-lookup broadcast\n")
    sb.append("floor with zero shuffle joins (PlanPolicy.broadcastOnlyJoins). The\n")
    sb.append("scan runs on FULL plan text INCLUDING subquery plans (SimpleMode\n")
    sb.append("alone omits them); the sections below stay truncated for readability.\n")
    // Machine policy scan (round-12 verdict #1): collected over the FULL
    // explain string of every registry plan (the PLANS.md sections are
    // truncated for readability; the policy is not) and enforced by the
    // require after the loop — a CartesianProduct or an unallowlisted
    // data-funneling SinglePartition exchange fails the audit outright.
    val policyViolations = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      val df = overrideFrame(n).getOrElse(SparkEntry.queries(n)(spark, d))
      val full = PlanPolicy.planText(df)
      policyViolations ++= PlanPolicy.violations(n, full) ++
        PlanPolicy.sortAboveProjection(n, df)
      sb.append(s"\n## $n\n\n```\n")
      sb.append(full.take(6000))
      sb.append("\n```\n")
    }
    servedOverrides.toSeq.sortBy(_._1).foreach { case (n, df) =>
      val full = PlanPolicy.planText(df)
      policyViolations ++= PlanPolicy.violations(s"$n (serve)", full) ++
        PlanPolicy.sortAboveProjection(s"$n (serve)", df)
      sb.append(s"\n## $n — SERVE path (stored model, training paid in build)\n\n```\n")
      sb.append(full.take(6000))
      sb.append("\n```\n")
    }
    require(policyViolations.isEmpty,
      s"PlanAudit: ${policyViolations.size} plan-policy violation(s) — " +
        "no CartesianProduct ever; Exchange SinglePartition only above a " +
        "partial aggregate or with a PlanPolicy allowlist entry:\n  " +
        policyViolations.mkString("\n  "))
    // Incremental-cluster append WRITE-path audit (round 11): the rewrite
    // must READ only the affected id-range partitions. Evidence: the
    // affected-slice scan below carries the part IN-list as a
    // PartitionFilters entry — untouched partitions are never scanned,
    // and the spec additionally asserts their files stay bit-identical
    // across an append (OpsPropertySpec incremental-cluster test).
    locally {
      val db = "audit_inc_clusters"
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      ops.IncrementalClusters.buildClusterState(spark,
        ops.IncrementalClusters.corpusDocsRange(spark, d), db)
      val slice = spark.table(s"`$db`.`${ops.IncrementalClusters.LabelsTable}`")
        .filter(org.apache.spark.sql.functions.col("part").isin(0, 3))
      sb.append("\n## q_dedup_clusters_incremental — WRITE path (affected-partition pruned read)\n\n```\n")
      sb.append(slice.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(3000))
      sb.append("\n```\n\nAppend mechanics: contracted CC over (batch ids ∪ touched labels)\n")
      sb.append("only; affected parts = parts of relabeled canons ∪ batch canons (driver\n")
      sb.append("metadata, bounded by the adaptive block law near 256 partitions); the\n")
      sb.append("read above prunes to exactly those (PartitionFilters); dynamic partition\n")
      sb.append("overwrite rewrites them and explicitly drops fully-emptied ones.\n")
      sb.append("Untouched partitions: never scanned, never rewritten — file-bit-identity\n")
      sb.append("asserted in OpsPropertySpec.\n")
    }
    // Backfill WRITE-path audit (q_partition_backfill's cost center): the
    // ranged re-run must touch only the DECLARED range. Evidence: the
    // write batch below pushes its date range into the parquet scan
    // (PushedFilters on the date column); partition replacement is a
    // metadata partition drop (Warehouse.dropPartitions) with no table
    // scan, followed by an append of this batch only. Untouched
    // partitions are never read or rewritten (no read-filter-rewrite, no
    // dynamic-overwrite pass over the table).
    locally {
      import java.time.LocalDate
      val src = Tables.t(spark, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val batch = pipeline.PartitionedMaterializer.rangedBatch(src,
        "o_orderdate", pipeline.PartitionGrain.Monthly,
        LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
      sb.append("\n## q_partition_backfill — WRITE path (ranged batch scan)\n\n```\n")
      sb.append(batch.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(3000))
      sb.append("\n```\n\nReplacement mechanics: a metadata-only partition drop (no scan;\n")
      sb.append("graft.store.Warehouse.dropPartitions) + append of exactly this batch —\n")
      sb.append("partitions outside the declared range are never read or rewritten\n")
      sb.append("(graft.pipeline.PartitionedMaterializer.backfill).\n")
    }
    // Partition-scoped merge WRITE-path audit (q_mode_merge_partitioned's
    // cost center): a CDC batch against a partitioned table must rewrite
    // ONLY the partitions it touches. Evidence: the current-slice read
    // below carries the affected partition value as a PartitionFilters
    // entry — untouched partitions are never SCANNED (directory pruning at
    // plan time), and the merged slice replaces them through the staged
    // swap (metadata-only partition drop + append). The audit pays one
    // small partitioned write — same catalog-metadata class as the
    // bucketed-join tables.
    locally {
      val (db, table) = ("graft_audit_merge", "orders_by_month_cur")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
      spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
      val base = Tables.t(spark, d, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderdate") >=
          org.apache.spark.sql.functions.lit("1996-01-01").cast("timestamp") &&
          org.apache.spark.sql.functions.col("o_orderdate") <
            org.apache.spark.sql.functions.lit("1996-04-01").cast("timestamp"))
        .select(org.apache.spark.sql.functions.col("o_orderkey"),
          org.apache.spark.sql.functions.col("o_totalprice"),
          org.apache.spark.sql.functions.lit(1L).as("v"),
          org.apache.spark.sql.functions.date_format(
            org.apache.spark.sql.functions.col("o_orderdate"), "yyyy-MM")
            .as("part_key"))
      store.Warehouse.saveModel(base, db, table, Seq("part_key"))
      val slice = spark.table(s"`$db`.`$table`").filter(
        org.apache.spark.sql.functions.col("part_key") === "1996-02")
      sb.append("\n## q_mode_merge_partitioned — WRITE path (pruned current-slice scan)\n\n```\n")
      sb.append(slice.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(3000))
      sb.append("\n```\n\nMerge mechanics: affected partitions = the batch's distinct partition\n")
      sb.append("values; the current slice above prunes to exactly those (PartitionFilters\n")
      sb.append("— untouched partitions never scanned); one latest-wins window over\n")
      sb.append("union(slice, batch) replaces them through the staged swap: the merged\n")
      sb.append("slice lands in the swap tmp, a manifest on the tmp commits the swap,\n")
      sb.append("then a metadata-only partition drop + append. Unaffected partition\n")
      sb.append("files are bit-untouched (file-level asserted in\n")
      sb.append("ExtractWarehouseSpec); unpartitioned targets fall back to the full\n")
      sb.append("table swap (graft.store.Warehouse.mergeUpsert).\n")
    }
    // Grain-evolution WRITE-path audit (round 7): the ranged rebuild's
    // read side must prune to exactly the old-grain partitions of the
    // range (PartitionFilters IN over the literal keys) — a 100 TB table
    // evolves month-by-month reading only each month's partitions.
    locally {
      import java.time.LocalDate
      val (db, table) = ("graft_audit_evolve", "orders_by_day")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
      spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
      val src = Tables.t(spark, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      pipeline.PartitionedMaterializer.backfill(spark, src, "o_orderdate",
        pipeline.PartitionGrain.Daily, db, table,
        LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
      val oldKeys = pipeline.PartitionGrain.Daily.keys(
        LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
      val slice = spark.table(s"`$db`.`$table`")
        .filter(org.apache.spark.sql.functions.col("part_key")
          .isin(oldKeys: _*))
        .withColumn("part_key", pipeline.PartitionGrain.Monthly.key(
          org.apache.spark.sql.functions.col("o_orderdate")))
      sb.append("\n## grain evolution — WRITE path (pruned old-grain read)\n\n```\n")
      sb.append(slice.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(3000))
      sb.append("\n```\n\nEvolve mechanics: the slice above reads ONLY the range's old-grain\n")
      sb.append("partitions (PartitionFilters IN over the literal keys), re-derives the\n")
      sb.append("key at the new grain, and swaps in through the staged swap: the slice\n")
      sb.append("lands in the swap tmp, whose manifest lists the old-grain keys to drop\n")
      sb.append("(recovery cannot derive them from the new-grain rows), then a\n")
      sb.append("metadata-only partition drop + append — Warehouse.recover finishes\n")
      sb.append("a stamped tmp or discards an unstamped one at every window\n")
      sb.append("(graft.pipeline.PartitionedMaterializer.evolveGrain).\n")
    }
    // Corpus-increment WRITE-path audit (round 10): the three
    // scale-critical plans of runIncrement, reconstructed over a tiny
    // synthetic corpus through the same private[graft] helpers the
    // pipeline composes — the pruning/exchange properties are asserted in
    // CorpusPipelineSpec (zero-exchange self-probe, file-bit-identical
    // unaffected shards, emptied-shard drop); this section is the plan
    // evidence.
    locally {
      import org.apache.spark.sql.functions.{col, length}
      import pipeline.CorpusPipeline
      val db = "graft_audit_inc"
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      import spark.implicits._
      def text(id: Long) = s"the quick document $id of a series to index " +
        s"and measure with twenty or more unique tokens alpha$id beta$id " +
        s"gamma$id delta$id epsilon$id zeta$id eta$id theta$id"
      val docs = (1L to 30L).filterNot(_ % 100 == 7).map(i =>
          (i, text(i), "en", s"src${(i % 3).toInt}"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
      CorpusPipeline.runFresh(spark, docs.filter(col("doc_id") <= 20),
        "audit#base<=20", db)
      val batch = docs.filter(col("doc_id") > 20)

      val batchClean = ops.TextOps.corpusCleanSurvivorsAgainst(batch,
        spark.table(CorpusPipeline.fq(db, CorpusPipeline.HashIndexTable)))
      val bands = ops.IncrementalDedup.pruneHot(
        ops.TextOps.bandsOfDocs(batchClean))
      val verdicts = ops.IncrementalDedup.incrementVerdicts(
        spark.table(CorpusPipeline.fq(db, CorpusPipeline.IndexTable)),
        bands, batchClean)
      sb.append("\n## corpus increment — s2 probe+append (batch bands vs bucketed index)\n\n```\n")
      sb.append(verdicts.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(4000))
      sb.append("\n```\n\nAppend mechanics: the batch's pruned bands land via insertInto\n")
      sb.append("preserving the index's bucket spec; the keep-lowest probe above reads\n")
      sb.append("the corpus-sized index IN PLACE (bucketed scan — the zero-exchange\n")
      sb.append("band-key contract CorpusPipelineSpec asserts) while only the\n")
      sb.append("batch-sized side shuffles. The corpus is never re-signed.\n")

      val addFlagged = ops.TextOps.cjkFlaggedAgainst(
        spark.table(CorpusPipeline.fq(db, CorpusPipeline.EvalGramsTable)),
        batchClean, CorpusPipeline.DecontamNgram).select("doc_id")
      val added = batchClean.filter(col("doc_id") % 100 =!= 7)
        .join(addFlagged, Seq("doc_id"), "left_anti")
      sb.append("\n## corpus increment — s3 append-only fast path\n\n```\n")
      sb.append(added.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(3000))
      sb.append("\n```\n\nWhen the batch carries no eval grams that retro-flag stored docs,\n")
      sb.append("s3 is a PURE batch-sized append: the batch probes the BROADCAST\n")
      sb.append("stored-gram set (plan above — no corpus scan anywhere) and appends.\n")
      sb.append("The corpus-sized s3 rewrite is paid only when new eval grams actually\n")
      sb.append("bite (retro-flag eviction), and the s4/s5 suffix then recomputes only\n")
      sb.append("affected sources/shards.\n")

      val replacement = CorpusPipeline.packShards(
        spark.table(CorpusPipeline.fq(db, "s4_mix"))
          .filter(ops.SamplingOps.shardOfDocId.isin(Seq(0, 1): _*)))
      sb.append("\n## corpus increment — s5 affected-shard repack\n\n```\n")
      sb.append(replacement.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(3000))
      sb.append("\n```\n\nRepack mechanics: only shards holding an s4 delta re-pack — the\n")
      sb.append("replacement frame above scans s4 FILTERED to the affected shards (the\n")
      sb.append("same md5 shard law the window applies) and lands via DYNAMIC partition\n")
      sb.append("overwrite, which rewrites only partitions present in the frame\n")
      sb.append("(unaffected shard partitions keep their files byte-for-byte —\n")
      sb.append("spec-asserted); an affected shard whose s4 membership vanished is\n")
      sb.append("dropped through the partition-scoped delete (fully-emptied partitions\n")
      sb.append("stay dropped — the r10 stale-partition fix, spec-asserted).\n")
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    }
    // plan dumps can carry raw control chars (the mojibake regex ranges,
    // the BPE chr(2)/chr(3) delimiters) — escape them so PLANS.md stays a
    // text file a reviewer's grep/pager treats as one
    val sanitized = sb.toString.flatMap {
      case c if c != '\n' && c != '\t' && (c < ' ' || (c >= '\u007f' && c <= '\u009f')) =>
        f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // Self-enforcement (round-12 verdict #1): the audit FAILS — no
    // PLANS.md written — if any registry query lacks a section. `names`
    // derives from the registry above, so this can only fire if the
    // emission loop regresses (e.g. someone reintroduces a hand list);
    // the require documents the contract where it's checked.
    val missing = SparkEntry.queries.keys.filterNot(n =>
      sanitized.contains(s"\n## $n\n")).toSeq.sorted
    require(missing.isEmpty,
      s"PlanAudit: ${missing.size} registry queries have no plan section " +
        s"— a query cannot ship without plan evidence: " +
        missing.take(10).mkString(", "))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sanitized)
    println(s"wrote PLANS.md (${SparkEntry.queries.size} registry sections" +
      " + write-path/serve extras)")
    spark.stop()
  }
}
