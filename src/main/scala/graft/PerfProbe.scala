package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Performance probes beyond the per-round Bench:
  *
  *  - default mode: run the round's hot queries twice each at sf0.1
  *    (second run exercises warm caches / reused plans);
  *  - `scale` mode: synthesize a K× corpus from sf0.1 and record each
  *    heavy-tail query's scaling ratio — the nonlinear-blowup detector
  *    local[32] at small sf can't provide. A bucketed/linear operator
  *    should land near ratio≈K; superlinear ratios mean a shape that
  *    dies at 100 TB even though small-sf wall-times look fine.
  *
  * The K× corpus replicates sf0.1 with per-copy bijections that keep each
  * copy's INTERNAL structure identical while decorrelating copies from
  * each other — so candidate sets and outputs scale ~linearly instead of
  * quadratically in K, and the measured ratio reflects the engine, not a
  * degenerate workload:
  *  - documents.text: per-copy AFFINE letter cipher σ(c) = a·c + b mod 26
  *    (translate(); a bijection on shingles — minhash/simhash relations
  *    within a copy are preserved exactly, cross-copy shingles share
  *    nothing). Affine, not rotation: the rotation group wraps at 26, so
  *    a K=100 sweep gave copies i and i+26 IDENTICAL vocabularies and
  *    every term-keyed probe (phrase anchors, bm25 postings) saw
  *    cross-copy candidate volume grow ×(K/26) on top of linear — the
  *    measured q_phrase_search match volume was 385× at K=100, the
  *    3.85 ≈ 100/26 signature exactly. 12 units × 26 shifts = 312
  *    distinct bijections cover any K this box can hold;
  *  - embeddings: per-copy circular dimension shift (L2 and within-copy
  *    cosines exact; cross-copy cosines ≈ random);
  *  - part: plain key offset (pipeline CTAS volume).
  */
object PerfProbe {

  private val ScaledTables = Set("documents", "embeddings", "part", "orders",
    "events", "lineitem")
  private val Dims = 64

  def buildScaled(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    for (t <- Tables.all if !ScaledTables(t)) {
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      val to = java.nio.file.Paths.get(s"$dst/$t.parquet")
      java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def copies(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(df, i)).reduce(_ unionByName _)

    val az = "abcdefghijklmnopqrstuvwxyz"
    // affine cipher per copy: i=0 is (a=1, b=0) = identity; (a, b) pairs
    // stay distinct for i < 312, so no two copies share a vocabulary
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def affine(i: Int): String = {
      val a = units((i / 26) % units.length)
      val b = i % 26
      (0 until 26).map(x => ('a' + ((a * x + b) % 26)).toChar).mkString
    }

    val docs = Tables.t(spark, src, "documents")
    val docStride = docs.agg(max("doc_id")).head.getLong(0) + 1
    copies(docs, (d, i) => d.select(
      (col("doc_id") + lit(i * docStride)).as("doc_id"),
      (if (i == 0) col("text")
       else translate(col("text"), az + az.toUpperCase,
         affine(i) + affine(i).toUpperCase)).as("text"),
      col("lang"), col("source"), col("n_chars")))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    buildScaledEmbeddings(spark, src, dst, k)

    val part = Tables.t(spark, src, "part")
    val partStride = part.agg(max("p_partkey")).head.getLong(0) + 1
    copies(part, (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * partStride)))
      .write.mode("overwrite").parquet(s"$dst/part.parquet")

    // orders/events: plain key offsets, event times and dates unchanged —
    // the partitioned-backfill and watermark-append probes measure K× data
    // through the SAME partition/watermark structure
    val orders = Tables.t(spark, src, "orders")
    val orderStride = orders.agg(max("o_orderkey")).head.getLong(0) + 1
    copies(orders, (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderStride)))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")

    val events = Tables.t(spark, src, "events")
    val eventStride = events.agg(max("event_id")).head.getLong(0) + 1
    copies(events, (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * eventStride)))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // lineitem rides the SAME key offset as orders so fact-fact joins
    // (bucketed join probe) keep their within-copy match structure
    val li = Tables.t(spark, src, "lineitem")
    val liOrderStride = orderStride // join key domain is orders' keys
    copies(li, (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * liOrderStride)))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
  }

  /** Embeddings-only K× replica (per-copy circular dimension shift — L2
    * and within-copy cosines exact, cross-copy cosines ≈ random). Factored
    * out of [[buildScaled]] so the sharded-IVF probe can scale just the
    * table it reads.
    */
  def buildScaledEmbeddings(spark: SparkSession, src: String, dst: String,
                            k: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    def copies(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(df, i)).reduce(_ unionByName _)
    val emb = Tables.t(spark, src, "embeddings")
    val vecStride = emb.agg(max("vec_id")).head.getLong(0) + 1
    copies(emb, (d, i) => d.select(
      (col("vec_id") + lit(i * vecStride)).as("vec_id"),
      (if (i % Dims == 0) col("embedding")
       else concat(slice(col("embedding"), i % Dims + 1, Dims - i % Dims),
         slice(col("embedding"), 1, i % Dims))).as("embedding"),
      col("label")))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  /** Min-of-`runs` wall time with cold plan state per pass (the Bench
    * methodology — one loaded-host spike must not read as a regression).
    */
  private def time(spark: SparkSession, name: String, d: String,
                   runs: Int = 2): Double =
    (1 to runs).map { _ =>
      graft.ops.PlanCache.release(spark)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).count()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Stored-model build/serve split rows (round-11 verdict #7, lifted to
    * the bench JSON itself in round 12): the registry gates time
    * build+serve as ONE number because the oracle must replay training,
    * so a serving regression hides under training cost. This pays each
    * family's training once and times the hot serving path alone — serve
    * timed on a cold plan after one warm run (JIT + file cache), like
    * the ANN serving probe. Shared by `PerfProbe models` (human table)
    * and [[Bench]] (the `models` JSON object in BENCH_r*.json, so the
    * driver record itself carries the split).
    *
    * Returns (family, phases) where phases are ("build_s"/"append_s"/
    * "serve_s", seconds) — nine families: LM, BPE, NB quality, NB
    * domain, BM25, phrase, domain authority, CDC chunk index, and the
    * incremental-cluster state (build/append/serve three-way).
    */
  def modelSplitRows(spark: SparkSession, d: String)
      : Seq[(String, Seq[(String, Double)])] = {
    import graft.ops.{BpeOps, TextOps}
    val docs = Tables.t(spark, d, "documents")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def row(name: String, db: String, build: => Unit, serve: => Long)
        : (String, Seq[(String, Double)]) = {
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      val b = timed(build)
      serve // warm
      val s1 = timed(serve)
      (name, Seq("build_s" -> b, "serve_s" -> s1))
    }
    val eight = Seq(
      row("lm_perplexity", "model_probe_lm",
        TextOps.buildLmModel(docs, "model_probe_lm"),
        TextOps.perplexityFilterFromModel(spark, d, "model_probe_lm").count()),
      row("bpe_tokenizer", "model_probe_bpe",
        BpeOps.buildBpeModel(docs, "model_probe_bpe"),
        BpeOps.bpeTokenizeFromModel(spark, d, "model_probe_bpe").count()),
      row("nb_quality_classifier", "model_probe_qc",
        TextOps.buildQualityClassifier(docs, "model_probe_qc"),
        TextOps.qualityClassifierFromModel(spark, d, "model_probe_qc").count()),
      row("nb_domain_classifier", "model_probe_dc",
        graft.ops.DomainOps.buildDomainClassifier(docs, "model_probe_dc"),
        graft.ops.DomainOps.domainClassifyFromModel(spark, d,
          "model_probe_dc").count()),
      row("bm25_index", "model_probe_bm25",
        graft.ops.RetrievalOps.buildBm25Index(docs, "model_probe_bm25"),
        graft.ops.RetrievalOps.bm25TopKFromIndex(spark, d,
          "model_probe_bm25").count()),
      row("phrase_index", "model_probe_ph",
        graft.ops.RetrievalOps.buildPhraseIndex(docs, "model_probe_ph"),
        graft.ops.RetrievalOps.phraseSearchFromIndex(spark, d,
          "model_probe_ph").count()),
      row("domain_authority", "model_probe_auth",
        graft.ops.LinkOps.buildDomainAuthority(spark, d, "model_probe_auth"),
        graft.ops.LinkOps.authorityMixFromModel(spark, d,
          "model_probe_auth").count()),
      row("cdc_chunk_index", "model_probe_cdc",
        graft.ops.ChunkOps.buildChunkIndex(
          graft.ops.IncrementalClusters.corpusDocsRange(spark, d),
          "model_probe_cdc"),
        graft.ops.ChunkOps.cdcRewriteAgainst(
          graft.ops.IncrementalClusters.batchDocsRange(spark, d), spark,
          "model_probe_cdc").count()),
      // round-12 continued: the quantile-alignment histogram family
      row("qa_hist", "model_probe_qa",
        TextOps.buildQaModel(docs, "model_probe_qa"),
        TextOps.quantileAlignFromStore(spark, "model_probe_qa").count()))
    // incremental-cluster split: the registry gate times the full
    // build + append lifecycle (the oracle proves the maintenance
    // invariant); production pays the BUILD on the rebuild cadence and
    // the APPEND per batch — time them apart
    import graft.ops.{IncrementalClusters, IncrementalDedup}
    spark.sql("DROP DATABASE IF EXISTS `model_probe_cl` CASCADE")
    val corpus = IncrementalClusters.corpusDocsRange(spark, d)
    val batch = IncrementalClusters.batchDocsRange(spark, d)
    val tb = timed {
      IncrementalDedup.buildIndexFrom(corpus, db = "model_probe_cl",
        table = "bands")
      IncrementalClusters.buildClusterState(spark, corpus, "model_probe_cl")
    }
    val ta = timed {
      IncrementalClusters.appendBatchClusters(spark, batch,
        spark.table("`model_probe_cl`.`bands`"), "model_probe_cl")
    }
    IncrementalClusters.clusterState(spark, "model_probe_cl").count() // warm
    val ts = timed {
      IncrementalClusters.clusterState(spark, "model_probe_cl").count()
    }
    eight :+ ("cluster_state" -> Seq(
      "build_s" -> tb, "append_s" -> ta, "serve_s" -> ts))
  }

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_SHUFFLE: scale-probe partition override. The bench
    // contract pins 32, but a K=100 corpus through 32 partitions carries
    // 100× per partition and starts measuring SPILL I/O instead of the
    // operator — production scales partition count with data; the probe
    // must be able to as well, or at-linear rows read as super-linear.
    // SPARK_GRAFT_CPUS: thread-count override (default 32 — the bench
    // contract). The spill probe runs with it REDUCED to model executor
    // sizing: a 4 GiB executor runs 2-8 cores in any real deployment
    // (~0.5-2 GiB/core), never 32 — task concurrency is the memory
    // knob clusters actually turn.
    val nCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$nCpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", TempDirs.create("graft-probe-wh"))
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "1024"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same contract as Bench: the probe measures the ENGINE, so the
    // oracle-gate checkpoints degrade to executor-local (scale ratios were
    // already gate-consistent on both sides, but absolute times shouldn't
    // carry verify-only I/O either). Scoped like Bench: the process-global
    // flag must not leak past the probe.
    OracleInputs.withDurability(false) {
    val d = "/root/testdata/sf0.1"

    if (args.headOption.contains("time")) {
      // Ad-hoc isolation timer: `PerfProbe time q_a,q_b [reps]` times each
      // named query in its own steady state — every rep resets PlanCache +
      // the relation cache like a Bench pass boundary, and each rep prints
      // separately so cold-vs-warm structure is visible instead of folded
      // into a min. The bisect tool for "query X regressed with unchanged
      // code": compare this number (no neighbors) against the Bench number
      // (runs after whatever the query map ordered before it).
      val qnames = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val reps = args.lift(2).map(_.toInt).getOrElse(5)
      val sfd = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d)
      for (n <- qnames; i <- 1 to reps) {
        graft.ops.PlanCache.release(spark)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfd).count()
        println(f"$n%-26s rep$i ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      }
    } else if (args.headOption.contains("jobs")) {
      // Per-JOB wall breakdown of one query (guide §1/§7: decide whether a
      // gate's seconds are compute or scheduling before touching code): a
      // listener records every job's duration while the query runs once
      // warm (one untimed run first — codegen/JIT must not smear the
      // profile), then prints jobs slowest-first plus the count × overhead
      // summary. The iterative walks' per-round jobs show up individually.
      val qn = args(1)
      val sfd = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val done = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(js.jobId, (js.time,
            Option(js.properties.getProperty("spark.job.description"))
              .getOrElse("")))
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
            done.synchronized {
              done += ((je.jobId, (je.time - t0) / 1e3, desc)) }
          }
        }
      }
      graft.ops.PlanCache.release(spark); spark.catalog.clearCache()
      SparkEntry.queries(qn)(spark, sfd).count() // warm, unprofiled
      graft.ops.PlanCache.release(spark); spark.catalog.clearCache()
      spark.sparkContext.addSparkListener(listener)
      // in-process driver-thread sampler (external attach is blocked in
      // the sandbox): aggregate the main thread's top frames every 10 ms
      // while the query runs — the poor-man's async-profiler for the
      // driver-gap half of the wall time.
      val mainThread = Thread.currentThread()
      val frames = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = mainThread.getStackTrace
          if (st.nonEmpty) {
            // skip sleep/park frames; take the topmost INTERESTING frame
            // plus one caller for context
            val useful = st.dropWhile(f =>
              f.getClassName.startsWith("java.lang.Thread") ||
                f.getClassName.startsWith("jdk.internal"))
            val key = useful.take(2).map(f =>
              f.getClassName.split('.').takeRight(2).mkString(".") + "." +
                f.getMethodName).mkString(" <- ")
            frames.merge(key, 1, (a, b) => a + b)
          }
          Thread.sleep(10)
        }
      })
      sampler.setDaemon(true); sampler.start()
      val t0 = System.nanoTime()
      SparkEntry.queries(qn)(spark, sfd).count()
      val wall = (System.nanoTime() - t0) / 1e9
      sampling = false
      Thread.sleep(500) // listener bus drain (private API in Spark 4)
      spark.sparkContext.removeSparkListener(listener)
      val snap = done.synchronized { done.toList }
      println(f"$qn: wall $wall%.3f s, ${snap.size} jobs, " +
        f"job-sum ${snap.map(_._2).sum}%.3f s")
      snap.sortBy(-_._2).take(25).foreach { case (id, s, desc) =>
        println(f"  job $id%4d $s%8.3f s  ${desc.take(90)}") }
      // driver-gap timeline: how much wall time has NO job running at all
      // (planning/codegen/catalog work between jobs — invisible in any
      // per-job metric). Intervals merged; the biggest gaps print with the
      // job id that follows them.
      val iv = jobs.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, (Long, String)]])
        .flatMap { en =>
          snap.find(_._1 == en.getKey).map(j =>
            (en.getValue._1, en.getValue._1 + (j._2 * 1000).toLong, en.getKey))
        }.sortBy(_._1)
      if (iv.nonEmpty) {
        var covered = 0L; var cursor = iv.head._1
        val gaps = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
        for ((s0, e0, id) <- iv) {
          if (s0 > cursor) gaps += ((s0 - cursor, id))
          cursor = math.max(cursor, e0)
          covered += math.max(0, e0 - math.max(s0, cursor.min(s0)))
        }
        val gapSum = gaps.map(_._1).sum / 1e3
        println(f"  idle-driver gaps: ${gapSum}%.3f s across ${gaps.size} gaps")
        gaps.sortBy(-_._1).take(15).foreach { case (ms, id) =>
          println(f"    gap ${ms / 1e3}%7.3f s before job $id%4d") }
      }
      val fr = frames.entrySet().toArray(
        Array.empty[java.util.Map.Entry[String, Integer]])
        .map(e => (e.getValue.intValue, e.getKey)).sortBy(-_._1)
      val nSamples = fr.map(_._1).sum
      println(s"  driver main-thread samples ($nSamples):")
      fr.take(18).foreach { case (c, k) =>
        println(f"    $c%4d  ${k.take(110)}") }
    } else if (args.headOption.contains("models")) {
      // SPARK_GRAFT_SF_DIR override: point the split at a `buildscale`d
      // K× corpus to read each family's build-vs-serve slope separately
      // (the q_phrase_search 100×-octave investigation's tool)
      val md = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d)
      println(s"stored-model build/serve split at $md (local[32])")
      modelSplitRows(spark, md).foreach { case (name, phases) =>
        println(f"$name%-22s " + phases.map { case (p, v) =>
          f"$p%s $v%7.2f s" }.mkString("   "))
      }
    } else if (args.headOption.contains("buildscale")) {
      // Persist a K× corpus at args(1) for ad-hoc split probes (the
      // `scale` mode's TempDirs corpus dies with the JVM by design).
      val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "5").toInt
      val dst = args(1)
      println(s"building ${k}x corpus at $dst ...")
      buildScaled(spark, d, dst, k)
    } else if (args.headOption.contains("writefanout")) {
      // Labels-table write fan-out evidence (round-14 verdict #5): build
      // the cluster state at $SPARK_GRAFT_SF_DIR (point it at a
      // buildscale'd K× corpus for the scale half) and report parquet
      // files per partition dir — clusterForWrite's claim is ~1 file per
      // touched dir at any scale below [[graft.ops.IncrementalClusters
      // .labelRowsPerFile]] rows per dir.
      val sfd = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d)
      val db = "graft_probe_fanout"
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      val corpus = graft.ops.IncrementalClusters.corpusDocsRange(spark, sfd)
      graft.ops.IncrementalClusters.buildClusterState(spark, corpus, db)
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED `$db`.`cluster_labels`")
        .filter(col("col_name") === "Location").head.getString(1)
      val root = new java.io.File(new java.net.URI(loc))
      val dirs = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("part="))
      val counts = dirs.map(dir => Option(dir.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet")))
      def report(tag: String): Unit = {
        val cs = Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("part="))
          .map(dir => Option(dir.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".parquet")))
        println(s"$tag: ${cs.length} partition dirs, " +
          s"files/dir min=${if (cs.isEmpty) 0 else cs.min} " +
          s"max=${if (cs.isEmpty) 0 else cs.max} total=${cs.sum}")
      }
      println(s"labels table at $loc")
      report("after build")
      // the append leg rewrites every AFFECTED dir through the dynamic
      // overwrite — the historical tasks × touched-dirs fan-out site
      graft.ops.IncrementalDedup.buildIndexFrom(corpus, db = db,
        table = "bands")
      graft.ops.IncrementalClusters.appendBatchClusters(spark,
        graft.ops.IncrementalClusters.batchDocsRange(spark, sfd),
        spark.table(s"`$db`.`bands`"), db)
      report("after append")
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    } else if (args.headOption.contains("gramindex")) {
      // State-compaction evidence for the hashed gram index: build both
      // layouts over sf0.1 and report on-disk bytes. The claim under test
      // is the ~4× shrink that makes exact-substring-dedup state
      // carryable at 100 TB.
      import graft.ops.TextOps
      val docs = Tables.t(spark, d, "documents")
      spark.sql("DROP DATABASE IF EXISTS `gs_str` CASCADE")
      spark.sql("DROP DATABASE IF EXISTS `gs_hash` CASCADE")
      TextOps.buildGramIndex(docs, "gs_str")
      TextOps.buildGramIndex(docs, "gs_hash", hashGrams = true)
      def sz(db: String): Long = {
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            TextOps.GramIndexTable, Some(db))).location
        def walk(x: java.io.File): Long =
          if (x.isFile) x.length
          else Option(x.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(loc))
      }
      val (a, b) = (sz("gs_str"), sz("gs_hash"))
      println(f"gram index bytes: string $a%d, hashed $b%d, " +
        f"shrink ${a.toDouble / b}%.2f×")
    } else if (args.headOption.contains("serving")) {
      // Serving scale law (r10): a FromIndex serve against a K× corpus.
      // The cell-pruned composition (IVF-PQ) reads only the probed
      // partitions — with the adaptive quantizer holding occupancy near
      // constant, serve cost grows ~√K (the probe-budget law), while the
      // flat SQ serve scans every code row (~K). Training is paid in the
      // BUILD column (the refresh-cadence cost), serves are timed alone.
      val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "5").toInt
      val scaled = TempDirs.create(s"graft-emb-serve-k$k")
      println(s"building ${k}x embeddings at $scaled ...")
      buildScaledEmbeddings(spark, d, scaled, k)
      import graft.ops.{AnnFamily, VectorOps}
      def measure(dir: String, label: String): (Double, Double, Double) = {
        val db = s"serve_probe_$label"
        spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
        val emb = Tables.t(spark, dir, "embeddings")
        val tb0 = System.nanoTime()
        VectorOps.build(AnnFamily.IvfPq, emb, db)
        VectorOps.build(AnnFamily.Sq, emb, db)
        val build = (System.nanoTime() - tb0) / 1e9
        def t(f: => Unit): Double = {
          // warm run: JIT + file-cache warmth only. Each invocation
          // deliberately rebuilds the serve from scratch — the FromIndex
          // constructors run real serve work at construction time (the
          // probed-cell collect IS the coarse scoring), so both the warm
          // and timed runs measure the FULL serve latency, uniformly at
          // both scales.
          f
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        (build,
          t(VectorOps.topkFromIndex(AnnFamily.IvfPq, spark, dir, db).count()),
          t(VectorOps.topkFromIndex(AnnFamily.Sq, spark, dir, db).count()))
      }
      val (b1, p1, s1) = measure(d, "1x")
      val (bk, pk, sk) = measure(scaled, s"${k}x")
      println(f"${"serve"}%-22s ${"1x"}%8s ${s"${k}x"}%8s ${"ratio"}%7s" +
        f"  (flat scan ≈ $k, cell-pruned ≪ $k)")
      println(f"${"build (both indexes)"}%-22s $b1%8.2f $bk%8.2f ${bk / b1}%7.2f")
      println(f"${"ivfpq_from_index"}%-22s $p1%8.2f $pk%8.2f ${pk / p1}%7.2f")
      println(f"${"sq_from_index"}%-22s $s1%8.2f $sk%8.2f ${sk / s1}%7.2f")
    } else if (args.headOption.contains("shards")) {
      // Sharded-IVF law probe (round-6 verdict #5): at a K× corpus, does
      // sharding past S=2 keep recall while relaxing the per-shard driver
      // bound (centroid matrix rows) S-fold, without concentrating merged
      // candidates on one probe? S=1 is the single-index baseline.
      val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "5").toInt
      val scaled = TempDirs.create(s"graft-emb-scaled-k$k")
      println(s"building ${k}x embeddings at $scaled ...")
      buildScaledEmbeddings(spark, d, scaled, k)
      val emb = Tables.t(spark, scaled, "embeddings")
      val nVecs = emb.count()
      // exact brute-force top-5 of the probe set — the recall reference
      val exact = SparkEntry.queries("q_knn_cosine_topk")(spark, scaled)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"))).toSet
      println(f"${"S"}%3s ${"recall@5"}%9s ${"build_s"}%8s ${"search_s"}%9s " +
        f"${"maxCells"}%9s ${"maxCands"}%9s  (n=$nVecs)")
      import graft.ops.{AnnFamily, VectorOps}
      for (s <- Seq(1, 2, 4, 8)) {
        val db = s"ivf_shard_probe_$s"
        val t0 = System.nanoTime()
        VectorOps.build(AnnFamily.Ivf, emb, db, s)
        val buildS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val got = VectorOps.topkFromIndex(AnnFamily.Ivf, spark, scaled, db)
          .collect()
        val searchS = (System.nanoTime() - t1) / 1e9
        val mine = got.map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"))).toSet
        val recall = (exact intersect mine).size.toDouble / exact.size
        // driver bound: largest per-shard centroid matrix (rows = cells)
        val maxCells = VectorOps.layout(spark, db, AnnFamily.Ivf).map(sfx =>
          spark.table(s"`$db`.`${VectorOps.IvfCentroidsTable}$sfx`").count()).max
        // merge skew: per-probe candidate volume across the shard union
        val cands = VectorOps.shardedCandidatesPerProbe(spark, scaled, db)
          .agg(max("n_cands"), min("n_cands")).head
        println(f"$s%3d $recall%9.2f $buildS%8.2f $searchS%9.2f " +
          f"$maxCells%9d ${cands.getLong(0)}%9d  (min ${cands.getLong(1)})")
      }
      // cross-shard CORPUS dedup over the same stored indexes: every
      // vector probes every shard (S× fan-out) — wall and pair volume vs
      // the single-index dedup baseline
      val t2 = System.nanoTime()
      val basePairs = VectorOps.ivfSemanticDedupPairs(emb,
        VectorOps.CosineDupThreshold).count()
      println(f"dedup S=1 (in-session): $basePairs%6d pairs " +
        f"${(System.nanoTime() - t2) / 1e9}%8.2f s")
      for (s <- Seq(2, 4, 8)) {
        val t3 = System.nanoTime()
        val n = VectorOps
          .ivfSemanticDedupFromIndex(spark, s"ivf_shard_probe_$s").count()
        println(f"dedup S=$s:              $n%6d pairs " +
          f"${(System.nanoTime() - t3) / 1e9}%8.2f s")
      }
    } else if (args.headOption.contains("pipeline")) {
      // Corpus-pipeline scale probe: FRESH runs (resume would skip every
      // stage after the first materialization and time the skip path),
      // base vs K× corpus. A staged pipeline of linear operators should
      // scale ~linearly; the stage tables' write volume is the one cost
      // the standalone query sweep doesn't carry.
      val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "5").toInt
      val scaled = TempDirs.create(s"graft-sf-pipe-k$k")
      println(s"building ${k}x corpus at $scaled ...")
      buildScaled(spark, d, scaled, k)
      def timeFresh(dir: String): Double = (1 to 2).map { _ =>
        graft.ops.PlanCache.release(spark)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.pipeline.CorpusPipeline.run(spark, dir, resume = false)
        (System.nanoTime() - t0) / 1e9
      }.min
      val base = timeFresh(d)
      val big = timeFresh(scaled)
      println(f"corpus_pipeline fresh       $base%8.2f $big%8.2f ${big / base}%7.2f  (linear ≈ $k)")
    } else if (args.headOption.contains("increment")) {
      // Incremental-assembly probe: the cost the increment AVOIDS is the
      // fresh full recompute. Base state in place (yesterday's scheduled
      // run, untimed here), batch = the top ~10% of ids — the timed
      // append should cost a small fraction of the fresh run (batch-sized
      // stage work + fixed per-stage overhead + one broadcast-gram pass
      // over retained s3; nothing corpus-sized recomputes).
      val sfd = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d)
      val docs = Tables.t(spark, sfd, "documents")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val threshold = maxId * 9L / 10L
      val db = "graft_probe_inc"
      def timeIt(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      val fresh = timeIt(
        graft.pipeline.CorpusPipeline.runFresh(spark, docs, "probe-full", db))
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      graft.pipeline.CorpusPipeline.runFresh(spark,
        docs.filter(col("doc_id") <= threshold),
        s"$sfd#base<=$threshold", db)
      val inc = timeIt(
        graft.pipeline.CorpusPipeline.runIncrementFrom(spark, docs, sfd, db))
      println(f"corpus fresh-full $fresh%8.2f s | increment (10%% batch, " +
        f"base in place) $inc%8.2f s | ratio ${inc / fresh}%5.2f")
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    } else if (args.headOption.contains("ckptab")) {
      // Round-checkpoint strategy A/B (round-14 verdict #5): the
      // iterative gates' per-round localCheckpoint was named as the
      // disk-contention exposure; the candidate replacement is
      // persist(MEMORY_AND_DISK) + count + a fresh-LogicalRDD re-wrap
      // (the only other way to bound plan growth — a bare persist leaves
      // the logical plan referencing every prior round and plan
      // rendering alone OOMs past ~10 rounds, the GraphOps scaladoc's
      // original measurement). This mode isolates the CHECKPOINT
      // variable on the exact prod round shape (min-label propagation +
      // pointer jump over symmetrized edges, mirroring
      // GraphOps.connectedComponents) at a round-frame size ~25× the
      // sf0.1 cluster gates', under a quiet disk and under hog-thread
      // disk load, so the decision is measured, not argued.
      // N: vertex count (default 4M ≈ 25× the sf0.1 label frames);
      // chains of length 1024 force ~log2-many pointer-jump rounds.
      val n = sys.env.getOrElse("SPARK_GRAFT_CKPT_N", (1L << 22).toString).toLong
      val chain = 1024L
      def ccLoop(checkpointVia: DataFrame => DataFrame): (Int, Double, Long) = {
        val t0 = System.nanoTime()
        val sym = spark.range(n).toDF("src")
          .filter(col("src") % chain =!= (chain - 1L))
          .select(col("src"), (col("src") + 1L).as("dst"))
          .select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .persist()
        var labels = checkpointVia(spark.range(n)
          .select(col("id"), col("id").as("label")))
        var clusters = 0L
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < 50) {
          val nbrMin = sym.join(labels, sym("src") === labels("id"))
            .select(col("dst").as("id"), col("label"))
            .groupBy("id").agg(min("label").as("nbr_label"))
          val prop = labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"), col("label").as("prev"),
              least(col("label"), coalesce(col("nbr_label"), col("label")))
                .as("label"))
          val hops = prop.select(col("id").as("label"), col("label").as("hop"))
          val jumped = checkpointVia(prop.join(hops, Seq("label"), "left")
            .select(col("id"), col("prev"),
              least(col("label"), coalesce(col("hop"), col("label")))
                .as("label")))
          changed = jumped.filter(col("label") =!= col("prev")).count()
          labels = jumped.select("id", "label")
          iter += 1
        }
        clusters = labels.select("label").distinct().count()
        sym.unpersist()
        (iter, (System.nanoTime() - t0) / 1e9, clusters)
      }
      def localVia(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
      def persistVia(): DataFrame => DataFrame = {
        // one mutable slot per LOOP RUN: the previous round's blocks are
        // safe to drop once the current round is fully materialized
        // (count below) — the prod loop deletes reliable files at the
        // same point
        var prev: Option[DataFrame] = None
        df => {
          val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          p.count()
          val flat = p.sparkSession.createDataFrame(p.rdd, p.schema)
          prev.foreach(_.unpersist(false))
          prev = Some(p)
          flat
        }
      }
      def withDiskLoad[A](nThreads: Int)(f: => A): A = {
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val buf = Array.fill[Byte](64 << 20)(0x33)
        val ts = (1 to nThreads).map(i => new Thread(() => {
          while (!stop.get) {
            try {
              val p = java.nio.file.Files.createTempFile(s"graft-hog-$i", ".bin")
              java.nio.file.Files.write(p, buf)
              java.nio.file.Files.readAllBytes(p)
              java.nio.file.Files.deleteIfExists(p)
            } catch { case _: Throwable => () }
          }
        }))
        ts.foreach { t => t.setDaemon(true); t.start() }
        try f finally { stop.set(true); ts.foreach(_.join(5000)) }
      }
      println(s"round-checkpoint A/B: n=$n chain=$chain " +
        s"(strategy x {quiet, 4-thread disk hog}; min of 2 runs each)")
      println(f"${"strategy"}%-16s ${"disk"}%-7s ${"rounds"}%6s ${"wall_s"}%8s ${"clusters"}%9s")
      def run(label: String, via: () => DataFrame => DataFrame): Unit = {
        for (loaded <- Seq(false, true)) {
          val (it, w, c) = (1 to 2).map { _ =>
            spark.catalog.clearCache()
            if (loaded) withDiskLoad(4)(ccLoop(via())) else ccLoop(via())
          }.minBy(_._2)
          println(f"$label%-16s ${if (loaded) "loaded" else "quiet"}%-7s " +
            f"$it%6d $w%8.2f $c%9d")
        }
      }
      run("localCheckpoint", () => localVia)
      run("persist+rewrap", () => persistVia())
    } else if (args.headOption.contains("spill")) {
      // Constrained-heap completion probe (round-12 verdict #5): every
      // scale sweep runs with -Xmx32g on a 128 GiB box, so nothing on
      // record proved the heavy-state gates COMPLETE under memory
      // pressure by SPILLING rather than dying. Launch this mode with a
      // small heap (BENCHLOG protocol: -Xmx4g) and it runs the heavy
      // tail at K× (default 25), recording wall seconds plus the
      // executor spill counters from a stage listener — completion with
      // nonzero spill bytes IS the evidence that the operators degrade
      // to disk instead of OOM. An OOM propagates and fails the probe
      // loudly (the point of running it).
      val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "25").toInt
      val scaled = TempDirs.create(s"graft-sf-spill-k$k")
      // Broadcast thresholds scaled to the heap — the production sizing
      // rule this probe models: the default 10 MB threshold assumes a
      // multi-GiB executor (the deserialized build of a 10 MB-estimated
      // string relation is far larger), and the first 4 GiB run died
      // building a planner-chosen broadcast in q_containment_join
      // ("Not enough memory to build and broadcast"). A memory-sized
      // cluster sets the threshold per executor heap; heap/1024 gives
      // the default 10 MB back at ~10 GiB and 4 MB at 4 GiB. The
      // correctness of every join is threshold-independent (broadcast
      // is a physical strategy choice; SMJ replaces it) — explicit
      // broadcast() hints on dimension/scalar frames are unaffected.
      val bcBytes = math.max(Runtime.getRuntime.maxMemory / 1024L, 1L << 20)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcBytes.toString)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
        bcBytes.toString)
      println(s"building ${k}x corpus at $scaled (heap " +
        f"${Runtime.getRuntime.maxMemory / (1L << 30)}%d GiB, " +
        s"autoBroadcast $bcBytes B) ...")
      buildScaled(spark, d, scaled, k)
      // the heavy-state tail: the gates whose intermediate state (CC
      // frontiers, gram indexes, postings, pair graphs, bigram tables)
      // is the thing that must spill — plus the heaviest plain bench
      // rows, so the probe covers both state-heavy and volume-heavy
      val names = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq(
          "q_dedup_clusters", "q_dedup_clusters_incremental",
          "q_substring_dedup", "q_bm25_topk", "q_brand_communities",
          "q_brand_modularity", "q_link_graph_incremental",
          "q_minhash_recall", "q_containment_join", "q_kneser_ney",
          "q_kneser_ney_pruned", "q_source_similarity"))
      val spillMem = new java.util.concurrent.atomic.AtomicLong
      val spillDisk = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            spillMem.addAndGet(e.stageInfo.taskMetrics.memoryBytesSpilled)
            spillDisk.addAndGet(e.stageInfo.taskMetrics.diskBytesSpilled)
          }
        })
      println(f"${"query"}%-28s ${"wall_s"}%8s ${"spill_mem_gb"}%13s ${"spill_disk_gb"}%14s")
      names.foreach { n =>
        graft.ops.PlanCache.release(spark)
        spark.catalog.clearCache()
        spillMem.set(0L); spillDisk.set(0L)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, scaled).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1000) // listener bus drain — probe-grade attribution
        println(f"$n%-28s $wall%8.2f ${spillMem.get / 1073741824.0}%13.2f " +
          f"${spillDisk.get / 1073741824.0}%14.2f")
      }
    } else if (args.headOption.contains("scale")) {
      val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "5").toInt
      // TempDirs: the K× corpus is a full replicated copy of sf0.1 — it
      // must not accumulate in /tmp across probe runs
      val scaled = TempDirs.create(s"graft-sf-scaled-k$k")
      println(s"building ${k}x corpus at $scaled ...")
      buildScaled(spark, d, scaled, k)
      // the heavy tail per BENCH: corpus-bound LLM-pipeline operators plus
      // the full materialization pipeline
      // q_contamination is deliberately absent: its fixture probe set
      // (doc_id % 100) grows with K, so the ratio would measure the
      // quadratic workload growth, not the engine.
      val allNames = Seq("q_dedup_minhash", "q_embedding_near_dup",
        "q_ivf_cosine_topk", "q_ivf_semantic_dedup", "q_simhash_near_dup",
        "q_top_terms_per_lang", "q_ngram_jaccard", "q_mode_full_snapshot",
        "q_sample_stratified", "q_mix_weighted", "q_pack_sequences",
        "q_partition_backfill", "q_mode_watermark_append",
        "q_multimodal_header", "q_av_meta", "q_corpus_clean",
        "q_dedup_clusters",
        // round-5 additions: decontamination joins K× corpus grams against
        // a K×-grown broadcast eval set (hash join — linear per side);
        // blocklist bloom rebuilds a K×-sized filter and confirm-joins the
        // FP sliver; export shuffle is one exchange + per-shard sort
        "q_repetition_stats", "q_mix_temperature", "q_export_shuffle",
        "q_decontaminate_ngram", "q_blocklist_bloom",
        "q_join_bucketed", "q_salient_terms", "q_mode_merge_upsert",
        "q_dedup_survivors", "q_semantic_survivors",
        // round-6 additions: partition-scoped merge (write volume bounded
        // by the touched partition, not the table) and unicode tokenization
        // (per-row expression — linear by construction)
        "q_mode_merge_partitioned", "q_token_count_cjk",
        // round-7 additions: rarity signal (explode + two aggs + AQE join),
        // budget selection (two-phase prefix sum on the quality key),
        // best-of-cluster (CC + one window), incremental probe against the
        // in-session band index (batch-side-only shuffle)
        "q_mean_token_freq", "q_token_budget_select",
        "q_dedup_best_of_cluster", "q_dedup_incremental",
        "q_cluster_sample", "q_budget_mix",
        // round-9 additions: the composed IVF-PQ (both quantizers train
        // on the K× corpus; ADC scans only the probed cells) and the
        // per-row VP8L entropy decode (linear by construction)
        "q_ivfpq_cosine_topk", "q_vp8l_pixel_stats",
        // round-10 additions: bigram-LM training is two aggregations over
        // the K× transition set (vocab-sized outputs); the score probe is
        // one fine-keyed join — linear per side, like decontamination;
        // span coverage is gram explode + per-doc distinct + one
        // gram-keyed semi join — linear like the decontam pair
        "q_perplexity_filter", "q_corpus_clean_ppx", "q_span_coverage",
        // broadcast-eval cosine probe — n x |eval| per-row codegen, no shuffle
        "q_semantic_decontam",
        // round-10 additions: SQ8 trains on one min/max agg and scans
        // decoded codes per probe (linear per side); the IVF composition
        // scans only the probed cells; split assignment is per-row hash
        // arithmetic (linear by construction)
        "q_sq_cosine_topk", "q_ivfsq_cosine_topk", "q_split_assign",
        // round-10 additions: per-row decode legs (resize, audio DSP, GIF
        // LZW, aHash — linear by construction) and the stored-LM serve
        // (vocab-sized join + one fine-keyed probe, like the filter)
        "q_image_resize_stats", "q_audio_features", "q_gif_pixel_stats",
        "q_image_dedup_phash", "q_perplexity_serve",
        // round-11 additions: substring dedup (gram-keyed count + one
        // doc_id window partitioning — linear like span coverage); BPE
        // (one word-count shuffle, then vocab-sized merge rounds); NB
        // classifier (one token shuffle + vocab-sized joins); incremental
        // clusters (corpus CC build + a batch-fan-out contracted append);
        // frame sampling (per-row box walk — linear by construction)
        "q_substring_dedup", "q_bpe_tokenize", "q_quality_classifier",
        "q_corpus_clean_qc", "q_dedup_clusters_incremental",
        "q_frame_sample",
        // round-11 late additions: bm25 (probe count grows ×K but each
        // copy's rotated vocabulary keeps a query's candidates inside its
        // own copy — per-query work constant, total linear; unlike
        // q_contamination the probe×corpus product does NOT explode);
        // domain classifier (source classes stay K-invariant in the
        // scaled corpus, so the ×K-class fan-out is constant); heavy
        // ngrams (fixed grid + fixed top-k over a ×K token stream)
        "q_bm25_topk", "q_domain_classify", "q_heavy_ngrams",
        // their compositions inherit the same shapes (eval-probe
        // retrieval agg; classifier + one stratum window); CDC is a
        // per-row let-bound fold + one chunk-hash shuffle — linear
        "q_bm25_decontam", "q_domain_mix", "q_cdc_chunks",
        "q_cdc_dedup_rewrite", "q_cdc_rewrite_incremental",
        "q_phrase_search", "q_approx_percentile",
        // round-11 web-provenance additions: html/url/link crafting +
        // regex extraction are per-row (linear by construction); domain
        // stats is one domain-keyed agg; the PageRank walk runs over the
        // DOMAIN graph, whose size is K-invariant in the scaled corpus
        // (sources don't multiply), so only the extraction leg scales
        "q_html_extract", "q_url_normalize", "q_domain_stats",
        "q_link_extract", "q_anchor_text", "q_pagerank_domains",
        // quota table is domain-sized (broadcast); the draw is one
        // WindowGroupLimit under a constant bound — output K-invariant
        "q_authority_mix",
        // second iterative walk — same K-invariant domain graph
        "q_hits_domains",
        // full build + streamed fold lifecycle: fact append is
        // batch-proportional, the per-fold walk domain-sized
        "q_link_graph_incremental",
        // per-row bit arithmetic, zero shuffle — linear by construction
        "q_zorder_key",
        // round-11 fifth-session additions: expectations is one agg pass
        // per table + a broadcast anti-join (linear); the exact Jaccard
        // join's candidates come from prefix buckets (replicas are
        // salted, so true-pair count scales ~linearly); hashed TF-IDF is
        // two keyed aggs; its kNN probes are a FIXED set over the K×
        // corpus; authority survivors = banded CC + K-invariant walk;
        // robots is a domain-sized broadcast + one corpus scan
        "q_expectations", "q_jaccard_join_exact", "q_hashed_tfidf",
        "q_tfidf_knn", "q_authority_survivors", "q_robots_filter",
        // round-11 sixth-session additions: SCD2 is user-keyed window
        // collapse (events ×K on the SAME users → runs ×K, linear); the
        // fuzzy join is vocabulary-bounded (each copy's rotated alphabet
        // decorrelates vocabularies, so |V| grows ~linearly and residue
        // buckets keep their constant cap); winnowing is one doc-keyed
        // window + a print-keyed capped join; gap-fill output is span-
        // bounded (users constant → grid constant while input ×K);
        // histogram MAD serves from the bounded (type, cents) table; the
        // power iteration is a fixed number of corpus-linear rounds; RAG
        // chunks and mojibake are per-row; the incremental copy probe
        // shuffles only its batch's buckets
        "q_scd2_history", "q_scd2_incremental", "q_fuzzy_vocab_edit1",
        "q_winnow_fingerprint", "q_copy_candidates", "q_copy_incremental",
        "q_gapfill_locf", "q_outlier_mad", "q_outlier_mad_incremental",
        "q_power_direction", "q_spectral_order", "q_rag_chunks",
        "q_mojibake_repair",
        // round-11 seventh-session additions: theta sketch is one
        // (tag,key) distinct shuffle + sample-bounded tails; DSIR is one
        // bucket-keyed feature shuffle + a B-sized broadcast + a top-k
        // draw; KN is the perplexity shape plus vocab-sized enrichment;
        // curriculum is one token shuffle + a value-bounded boundary
        // window; the AC scan is per-row DFA stepping (match volume
        // scales with the corpus); the Hamilton split draws a CONSTANT
        // N over strata-bounded windows (output K-invariant)
        "q_theta_sketch", "q_dsir_select", "q_kneser_ney",
        // round-13: the pruned-model variant — same (prev,w) shuffle,
        // hapax-free enrichment/probe tables (the production KN shape)
        "q_kneser_ney_pruned",
        "q_curriculum_order", "q_ac_scan", "q_split_proportional",
        // collocations is the KN count shape minus the probe join (two
        // vocab-sized outputs + a fixed top-k); session sequences is ONE
        // user-keyed exchange shared by the gap window and the group
        // (users constant in the scaled corpus → sessions lengthen, the
        // SCD2 run-growth shape)
        "q_collocations", "q_session_sequences",
        // luhn is a per-row constant fold (linear by construction); the
        // triangle walk runs over the K-invariant domain graph
        "q_pii_luhn", "q_triangle_count",
        // KM grids are day-bounded (events ×K fold into the same days);
        // LPA rounds run over the K-invariant domain graph; chi-square
        // is one count agg + constant-row math
        "q_survival_km", "q_communities_lpa", "q_ab_chisquare",
        // daily theta folds K× events into the same day grid (sample
        // tails constant); containment candidates follow the jaccard
        // join's prefix-bucket growth
        "q_theta_daily", "q_containment_join",
        // round-11 eighth-session additions: OLS joins K× orders against
        // the unscaled customer dim and folds into the same month grid;
        // CUSUM/EWMA fold K× events into the same day grid; association
        // rules pair within K× baskets over the SAME brand vocabulary
        // (pairs per basket constant → linear); skyline is one sort over
        // K× parts; entity resolution blocks K× listings against the
        // K-INVARIANT canon name set (copies share names — only keys
        // offset); reservoir caps every tail at K samples per day;
        // cohort LTV folds into the constant user×week grid; k-core
        // peels the K-invariant domain graph.
        // q_attribution_linear is deliberately absent for the
        // q_contamination reason: replication multiplies BOTH each
        // user's clicks and purchases ×K, so in-window pairs grow ×K² —
        // the ratio would measure the degenerate workload, not the
        // engine (production user counts grow with data; per-user
        // candidate sets stay bounded).
        "q_ols_trend", "q_cusum_changepoint", "q_ewma_smooth",
        "q_assoc_rules", "q_skyline", "q_entity_resolution",
        "q_reservoir_daily", "q_reservoir_incremental", "q_cohort_ltv",
        "q_kcore_domains",
        // interval sweep emits exactly 2 delta rows per K× order onto
        // the constant day grid; the windowed funnel is min-aggregates
        // per step (never click×purchase pairs); islands are one global
        // sort over K× ids; the skyline lifecycle sorts K× parts twice
        "q_interval_concurrency", "q_funnel_windowed", "q_id_islands",
        "q_skyline_incremental",
        // classifier eval: training + scoring are the q_quality_classifier
        // shape; the AUC window rides the score-distinct histogram
        "q_classifier_auc", "q_classifier_prf",
        // TWAP segments x K on the same users (linear, one exchange);
        // P-o-P folds K x orders into the same month grid; the sliding
        // rate's RANGE frame is a two-pointer (O(1)/row amortized even
        // as frames lengthen x K); WAU's (user, day) distinct set is
        // K-invariant under replication; ABC aggregates K x lineitem
        // onto the constant part catalog
        "q_time_weighted_avg", "q_period_over_period", "q_sliding_rate",
        "q_trailing_wau", "q_abc_classification",
        // snapshot diff is one key join over K x orders; triples pair
        // within K x baskets over the constant brand vocabulary (output
        // capped at C(|brands|,3)); masking is per-row; ANN recall runs
        // the two existing probe-bounded searches
        "q_snapshot_diff", "q_frequent_triples", "q_mask_spans",
        "q_ann_recall",
        // weighted paths relax over the K-invariant domain graph; vocab
        // stats shuffle K x tokens onto the ~linearly-growing rotated
        // vocabulary; key skew is one key count + count-histogram math
        "q_weighted_paths", "q_vocab_stats", "q_key_skew",
        // PPR walks the K-invariant domain graph; drop reasons and
        // debounce are the corpus-clean / session shapes; calibration
        // ranks K x scored rows (one range exchange); trending joins
        // K x facts onto the constant brand set
        "q_pagerank_seeded", "q_drop_reasons", "q_calibration_bins",
        "q_event_debounce", "q_trending_brands",
        // LSH recall runs the banded + exact-jaccard shapes (prefix
        // buckets, salted replicas); periodicity/interp fold K x events
        // through user-keyed windows (grid output span-bounded);
        // agreement is the lang-id scan + a K-cell agg
        "q_minhash_recall", "q_bot_periodicity", "q_gapfill_interp",
        "q_langid_agreement",
        // TVD folds K x events into the bounded (type, cents) histogram;
        // the session funnel is the session-assembly + funnel shapes
        "q_histogram_drift", "q_session_funnel",
        // the decayed-counter fold pays the batch's fact join + a
        // brand-sized shift; cluster stats add one rollup to the CC cost
        "q_trending_incremental", "q_dedup_cluster_stats",
        // trigrams ride the transitions shape (one user window);
        // spearman ranks the K x part catalog off value histograms
        "q_event_trigrams", "q_spearman",
        // benford is one digit agg over K x orders
        "q_benford",
        // round-12 additions: readability/KWIC/line-quality are per-row
        // crafted-view expressions (linear by construction; KWIC's term
        // matches only copy 0 under the rotation cipher — the probe
        // measures the K x token scan, output K-invariant); RFM joins
        // K x orders onto value-histogram broadcasts; Theil-Sen pairs
        // within the constant month grid; Kendall's cell histogram is
        // catalog-bounded; harmonic centrality walks the K-invariant
        // domain graph
        "q_readability", "q_kwic", "q_line_quality", "q_rfm_segments",
        "q_theil_sen", "q_kendall_tau", "q_harmonic_centrality",
        // round-12 later additions: C4 is per-row line rules; the
        // centrality walks ride the K-invariant domain graph; MRR is
        // the bm25 serve shape (probes grow with K, candidates stay
        // per-copy-bounded under the affine cipher); isotonic is the
        // classifier-train shape + bin-frame math; the A/B tests and
        // concentration are one value/cell histogram each; trimmed
        // stats is one region-keyed exchange; novelty is the
        // decontamination anti-join shape
        "q_c4_filters", "q_stress_centrality", "q_retrieval_mrr",
        "q_acf_lags", "q_isotonic_calibration", "q_trimmed_stats",
        "q_cramers_v", "q_mann_whitney", "q_ks_test",
        "q_source_concentration", "q_ngram_novelty",
        // round-12 continued: gini folds K× orders onto the constant
        // customer set (histogram ≤ customers); the FD profile is one
        // two-phase distinct agg per candidate onto constant key
        // domains; burstiness folds K× events into the (type, day)
        // grid; the Markov chain lag-windows K× events on the SAME
        // users (runs lengthen — the SCD2 shape) into a |types|²
        // matrix; modularity tallies the K-invariant domain graph
        "q_gini_spend", "q_fd_profile", "q_burstiness",
        "q_markov_stationary", "q_modularity",
        // skip-gram pairs are a per-row zip expression + one count agg
        // (fixed top-k output); Zipf ranks the ~linearly-growing rotated
        // vocabulary; quantile alignment runs on length HISTOGRAMS
        // (fixed 101-point grid output); Holt folds K× orders into the
        // constant month grid; eccentricity walks the K-invariant
        // domain graph
        "q_skipgram_pairs", "q_zipf_profile", "q_quantile_align",
        "q_holt_smooth", "q_eccentricity",
        // assortativity/reciprocity ride the K-invariant domain graph;
        // brand communities pair K× baskets over the constant brand
        // vocabulary (the assoc-rules shape) then LPA a brand-bounded
        // graph; funnel latency is the funnel's user-keyed aggregates
        // + a latency histogram
        "q_assortativity", "q_reciprocity", "q_brand_communities",
        "q_funnel_latency",
        // the histogram family's build+fold+serve lifecycle (histogram
        // state is source×length-bounded); source similarity is the
        // decontamination gram-shuffle shape with C(|sources|,2)
        // pair fan-out per gram
        "q_quantile_align_incremental", "q_source_similarity",
        // the curve is 4 broadcast-probe candidate joins over the K×
        // code table (the ivf serve shape ×4); weekday profile is one
        // bounded-grid count agg
        "q_ivf_nprobe_curve", "q_weekday_profile",
        // coverage ranks the ~linearly-growing rotated vocabulary;
        // OOV is the decontamination token-keyed join shape
        "q_vocab_coverage", "q_oov_rate",
        // the forget fold pays one build + one negative-delta histogram
        // append (both histogram-agg shapes); brand modularity is the
        // community gate's graph + the tally rollups
        "q_quantile_align_forget", "q_brand_modularity",
        // rfm migration is two custkey aggs + value-histogram quintiles.
        // q_attribution_position is deliberately absent for the
        // q_attribution_linear reason: replication multiplies each
        // user's clicks AND purchases ×K, so in-window pairs grow ×K² —
        // the probe would measure the degenerate workload, not the
        // engine (its plan shape IS the linear gate's)
        "q_rfm_migration")
      // q_hybrid_search is deliberately absent for the q_contamination
      // reason: its semantic leg is probe-set x corpus and BOTH grow with
      // K here, so the ratio would measure the quadratic workload growth,
      // not the engine (production replaces the flat leg with the IVF/PQ
      // serving indexes)
      // SPARK_GRAFT_SCALE_ONLY=a,b,c re-probes a subset after a targeted fix
      // without paying the full sweep
      val names = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(allNames)
      println(f"${"query"}%-26s ${"sf0.1"}%8s ${s"${k}x"}%8s ${"ratio"}%7s  (linear ≈ $k)")
      val bigTimes = names.map { n =>
        val base = time(spark, n, d)
        val big = time(spark, n, scaled)
        println(f"$n%-26s $base%8.2f $big%8.2f ${big / base}%7.2f")
        n -> big
      }.toMap

      // Skewed-id packing probe (only when the sweep covers packing — a
      // SPARK_GRAFT_SCALE_ONLY subset without it skips the corpus rewrite):
      // one far-outlier doc_id inflates the id SPAN 1000× while the data
      // volume is unchanged — equi-depth bucketing must hold the wall time
      // ≈ the uniform corpus (range bucketing would serialize the whole
      // prefix sum into one task). The uniform-corpus time is reused from
      // the sweep above; the packing query reads only `documents`, so the
      // skew dir holds just the remapped corpus.
      if (names.contains("q_pack_sequences")) {
        val skewed = TempDirs.create(s"graft-sf-skew-k$k")
        val sdocs = Tables.t(spark, scaled, "documents")
        val mxId = sdocs.agg(max("doc_id")).head.getLong(0)
        sdocs.withColumn("doc_id",
          when(col("doc_id") === mxId, lit(mxId * 1000L)).otherwise(col("doc_id")))
          .write.mode("overwrite").parquet(s"$skewed/documents.parquet")
        val uni = bigTimes("q_pack_sequences")
        val skw = time(spark, "q_pack_sequences", skewed)
        println(f"q_pack_sequences skew-id   $uni%8.2f $skw%8.2f ${skw / uni}%7.2f  (vs uniform ${k}x — ≈1 is balanced)")
      }
    } else {
      val names = Seq("q_dedup_exact_text", "q_dedup_minhash", "q_except_intersect",
        "q_knn_cosine_topk", "q_concat_partition_key", "q_join_equi",
        "q_doc_fingerprint", "q_ngram_jaccard", "q_embedding_near_dup",
        "q_ivf_cosine_topk", "q_simhash_near_dup", "q_doc_chunking")
      for (n <- names; i <- 1 to 2) {
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, d).count()
        println(f"$n%-26s run$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    } // end withDurability(false)
    spark.stop()
  }
}
