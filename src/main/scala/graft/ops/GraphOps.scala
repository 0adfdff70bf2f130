package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Graph operators for dedup canonicalization: near-dup/exact-dup PAIRS
  * only say "a duplicates b" — a pipeline needs the TRANSITIVE cluster
  * (a~b, b~c ⇒ {a,b,c}) and one canonical survivor per cluster to decide
  * what to keep. That is connected components over the duplicate-pair
  * edge set.
  */
object GraphOps {

  /** The round driver every iterative loop below runs on, one instance per
    * call. It owns what the loops share:
    *
    *  - CHECKPOINT MODE. Each round's frame is checkpointed, not merely
    *    persisted: a persist caches the data but the LOGICAL plan still
    *    references every prior round (CC's labels feed three branches per
    *    round, so its plan quadruples each iteration and plan rendering
    *    alone OOMs past ~10 rounds); a checkpoint flattens the plan to the
    *    materialized rows. When the session has a checkpoint dir
    *    (`sc.setCheckpointDir` — the cluster deployment) rounds use
    *    RELIABLE `checkpoint()`, whose files survive executor loss (tested
    *    under total block eviction); without one (ephemeral local runs)
    *    they degrade to `localCheckpoint` — same shape, executor-local
    *    blocks.
    *  - EAGER OR LAZY ROUNDS. [[round]] materializes at once;
    *    [[lazyRound]] leaves it to the caller's next action, so a round
    *    that must also compute a driver scalar (CC's changed-label count,
    *    the seed round's row count) pays ONE job instead of two: the
    *    scalar's action computes the rows, the checkpoint's persist caches
    *    them, and the post-job hook truncates the lineage. The caller MUST
    *    run an action that consumes a lazy round before reading it as
    *    materialized. Reliable rounds are always eager: their files are
    *    written by a job of their own that would recompute an unpersisted
    *    lazy round, and a lazy round no job reaches before its inputs'
    *    files are deleted (a [[kcorePeel]] degree round) could not be read
    *    back at all.
    *  - FILE RECLAMATION. The ContextCleaner reclaims localCheckpoint
    *    blocks once unreferenced, but reliable checkpoint files are only
    *    auto-deleted under `spark.cleaner.referenceTracking
    *    .cleanCheckpoints` (default false) — a scheduled loop would grow
    *    checkpoint storage by rounds × frame size per run, unbounded.
    *    [[loop]] deletes every superseded round's files and, at the end,
    *    every file the returned frame does not read; [[drain]] deletes the
    *    rest once the caller has consumed the result.
    *  - BROADCAST GATE. Round frames are checkpointed LogicalRDDs with no
    *    stats, so the planner falls back to sort-merge and AQE must
    *    materialize both exchanges per join before it can convert them —
    *    several shuffle-file-writing stages per round. [[bc]] plans the
    *    broadcast statically when the round frame's row count (`rows`: V
    *    for vertex frames, V² for the all-pairs frames) is within
    *    [[broadcastVertexBound]]; above it frames take the shuffle-join
    *    path and AQE keeps its runtime adaptivity. Decided once per call
    *    from a count the loop takes anyway ([[Rounds.seeded]]: the seed
    *    round's own materializing job).
    */
  private final class Rounds(rows: Long) {
    val bc: DataFrame => DataFrame =
      if (rows <= broadcastVertexBound) broadcast else identity

    def round(df: DataFrame): DataFrame = Rounds.checkpointed(df, eager = true)
    def lazyRound(df: DataFrame): DataFrame =
      Rounds.checkpointed(df, eager = false)

    /** Runs `n` rounds of `step` over a state of checkpointed frames. After
      * each round the files only the superseded state read are deleted;
      * after `result` every state file it does not read.
      */
    def loop(seed: Seq[DataFrame], n: Int)
            (step: (Seq[DataFrame], Int) => Seq[DataFrame])
            (result: Seq[DataFrame] => DataFrame): DataFrame = {
      var state = seed
      for (i <- 1 to n) {
        val next = step(state, i)
        release(state, keep = next)
        state = next
      }
      val out = result(state)
      release(state, keep = Seq(out))
      out
    }

    /** [[loop]] over one frame: each round is `step`'s frame, eagerly
      * materialized.
      */
    def iterate(seed: DataFrame, n: Int)
               (step: (DataFrame, Int) => DataFrame): DataFrame =
      loop(Seq(seed), n)((s, i) => Seq(round(step(s.head, i))))(_.head)

    /** Rounds of `step` until a fixpoint, at most `maxIter`: `step` emits
      * each row's `label` next to its input value `prev`, and the round's
      * changed-row count is its own materializing job. Returns the
      * fixpoint without `prev`; throws (leaking no files) when `maxIter`
      * rounds do not converge.
      */
    def converge(seed: DataFrame, maxIter: Int, what: String)
                (step: DataFrame => DataFrame): DataFrame = {
      var cur = seed
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val next = lazyRound(step(cur))
        changed = next.filter(col("label") =!= col("prev")).count()
        release(Seq(cur), keep = Seq(next))
        cur = next.drop("prev")
        iter += 1
      }
      if (changed != 0) {
        release(Seq(cur))
        throw new IllegalStateException(
          s"$what did not converge within $maxIter rounds")
      }
      cur
    }
  }

  private object Rounds {
    /** Checkpoints the seed round lazily and counts it in that one job;
      * the broadcast gate reads `rows` of the count.
      */
    def seeded(seed: DataFrame, rows: Long => Long = identity)
        : (Rounds, DataFrame) = {
      val s = checkpointed(seed, eager = false)
      (new Rounds(rows(s.count())), s)
    }

    def checkpointed(df: DataFrame, eager: Boolean): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager)
  }

  /** Row-count bound of the round driver's broadcast gate (4M rows of a
    * 16-byte vertex frame ≈ 64 MB built relation — the comfortable
    * broadcast range). It gates on a MEASURED row count, not on local core
    * count, and is env-overridable for deployments with small executors.
    */
  private def broadcastVertexBound: Long =
    sys.env.getOrElse("SPARK_GRAFT_WALK_BCAST_VERTS", "4000000").toLong

  /** V² for the all-pairs gate, saturated where it would overflow. */
  private def squared(n: Long): Long =
    if (n > Int.MaxValue) Long.MaxValue else n * n

  /** ALL reliable-checkpoint files under a frame (none in local mode) —
    * [[hits]] returns a JOIN of two checkpointed rounds and [[kcorePeel]]
    * a union over every round.
    */
  private def checkpointFilesOf(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.flatMap(r => Option(r.getCheckpointFile.orNull))

  /** Deletes the reliable-checkpoint files of `frames` that no frame in
    * `keep` reads. Best-effort: a failed delete leaves the file behind.
    */
  private def release(frames: Seq[DataFrame],
                      keep: Seq[DataFrame] = Nil): Unit = {
    val kept = keep.flatMap(checkpointFilesOf).toSet
    for (df <- frames; path <- checkpointFilesOf(df) if !kept(path))
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case NonFatal(_) => () }
  }

  /** Loan for SCHEDULED/materializing callers of the iterative operators:
    * runs `consume` (write the result to a sink, collect a summary, …) and
    * then deletes every reliable checkpoint file under `df` — the files a
    * loop must leave alive because they back its returned frame. A
    * scheduled job calling a loop without draining grows checkpoint
    * storage by one round per run, unbounded across runs; draining keeps
    * it at zero. (The alternative for deployments that can't restructure
    * callers: `spark.cleaner.referenceTracking.cleanCheckpoints=true`,
    * which lets the ContextCleaner reclaim the files when the frame is
    * GC'd.) `consume` must fully materialize what it needs — the frame is
    * not recomputable after the files are gone.
    */
  def drain[A](df: DataFrame)(consume: DataFrame => A): A =
    try consume(df) finally release(Seq(df))

  /** The simple undirected graph of a directed edge set: self-loops
    * dropped, each edge in both directions, parallel and reversed
    * duplicates collapsed.
    */
  private def simpleSymmetric(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** Connected components over an undirected edge set — every vertex maps
    * to its component's minimum vertex id (the canonical "keep" id of a
    * duplicate cluster).
    *
    * Shape: each round combines MIN-LABEL PROPAGATION (adopt the smallest
    * label among yourself and your neighbors — one keyed join + one
    * map-side-combinable min aggregate) with POINTER JUMPING (adopt your
    * label's own label — one self-join), so convergence is O(log diameter)
    * rounds instead of O(diameter) for plain propagation over long chains.
    * Per round the driver sees ONE scalar (the changed-label count for the
    * fixpoint test), computed by the round's own materializing job.
    * Deterministic: min is order-independent.
    *
    * `edges`: (src, dst) — symmetrized internally, self-loops harmless.
    * `vertices`: (id) — vertices with no edges become singleton clusters.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    // symmetrize in ONE pass over the edge frame: the union form computes
    // the (possibly expensive, e.g. banded-minhash) edges subtree twice —
    // once per branch — while explode duplicates each row after a single
    // computation. persist() then holds the symmetric set across rounds.
    val sym = edges.select(explode(array(
        struct(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")),
        struct(col("dst").cast("long").as("src"),
          col("src").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    try {
      val (drv, seed) = Rounds.seeded(vertices.select(
        col("id").cast("long").as("id"),
        col("id").cast("long").as("label")))
      val bc = drv.bc
      drv.converge(seed, maxIter, "connectedComponents") { in =>
        val nbrMin = sym.join(bc(in), sym("src") === in("id"))
          .select(col("dst").as("id"), col("label"))
          .groupBy("id").agg(min("label").as("nbr_label"))
        val prop = in.join(bc(nbrMin), Seq("id"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nbr_label"), col("label")))
              .as("label"))
        // pointer jump: every label is a real vertex id, so look up that
        // vertex's own label and take the smaller (halves chain depth)
        val hops = prop.select(col("id").as("label"), col("label").as("hop"))
        prop.join(bc(hops), Seq("label"), "left")
          .select(col("id"), col("prev"),
            least(col("label"), coalesce(col("hop"), col("label")))
              .as("label"))
      }.select(col("id"), col("label").as("cluster_id"))
    } finally sym.unpersist()
  }

  /** The canonical survivor shape shared by the text and embedding
    * one-call dedups (TextOps.dedupSurvivors / VectorOps
    * .semanticSurvivors): duplicate pairs → transitive closure →
    * (id, canonical_id = cluster minimum, survives flag), ordered by id.
    * One definition so the two "mirror" queries cannot drift.
    */
  private[graft] def survivorsOf(pairs: DataFrame, vertices: DataFrame,
                                 idName: String): DataFrame =
    connectedComponents(pairs, vertices)
      .select(col("id").as(idName), col("cluster_id").as("canonical_id"))
      .withColumn("survives",
        (col(idName) === col("canonical_id")).cast("int"))
      .orderBy(idName)

  /** PageRank over a directed edge set in EXACT integer fixed point — the
    * domain-authority signal a web-corpus pipeline feeds into source
    * weighting ([[LinkOps.pagerankDomains]] wires the crafted link graph
    * in). Floating-point PageRank is not oracle-checkable (sum order
    * changes the bits); this one is: all arithmetic is Long fixed point at
    * `scale` total mass with truncating division, so every sum is
    * order-independent and a declarative replay lands on identical values.
    *
    * Per iteration (fixed `iters` rounds — no convergence test, so the
    * round count is part of the deterministic contract):
    * {{{
    * r'(v) = base + (damp * (contrib(v) + dang div n)) div 100
    *   base       = ((100-damp) * scale div 100) div n
    *   contrib(v) = Σ_{u→v} (r(u) div outdeg(u))
    *   dang       = Σ_{u: outdeg(u)=0} r(u)   (dangling mass, spread
    *                                           uniformly like the teleport)
    * }}}
    *
    * Shape: the edge set (the big table at web scale) is joined ONCE with
    * out-degrees and persisted; each round is one src-keyed join + one
    * map-side-combinable sum by dst, and the dangling mass rides the round
    * plan as a broadcast 1-row aggregate column.
    *
    * `edges`: (src, dst) directed, pre-deduplicated by the caller if
    * multiplicity must not weight the walk. `vertices`: (id) — must cover
    * every edge endpoint; isolated vertices hold base + teleport share.
    */
  def pagerank(edges: DataFrame, vertices: DataFrame, iters: Int = 10,
               scale: Long = 1000000000000L, damp: Int = 85): DataFrame = {
    require(iters >= 1 && damp >= 0 && damp <= 100)
    val verts = vertices.select(col("id")).distinct().persist()
    val outd = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg"))
    val ewd = edges.join(outd.withColumnRenamed("id", "src"), "src").persist()
    val dangVerts = verts.join(edges.select("src").distinct()
      .withColumnRenamed("src", "id"), Seq("id"), "left_anti").persist()
    try {
      val n = verts.count()
      require(n > 0, "pagerank over an empty vertex set")
      val base = (100L - damp) * scale / 100 / n
      val drv = new Rounds(n)
      val bc = drv.bc
      val seed = drv.round(verts.select(col("id"), lit(scale / n).as("r")))
      drv.iterate(seed, iters) { (r, _) =>
        // The dangling mass rides the round plan as a broadcast 1-row
        // aggregate COLUMN instead of a per-round driver `.head()` literal
        // (r14 optimization, guide §1.2/§7.3): the synchronous driver
        // round-trip per round goes away, and — because the embedded
        // literal changed every round — so does a whole-stage-codegen
        // recompile per round (identical round bodies now hit the Janino
        // cache). Arithmetic unchanged: `dang_sum div n` is the same Long
        // truncating division the collected literal carried.
        val dang = r.join(bc(dangVerts), Seq("id"), "left_semi")
          .agg(coalesce(sum("r"), lit(0L)).as("dang_sum"))
        val contrib = ewd.join(bc(r), ewd("src") === r("id"))
          .select(col("dst").as("id"), expr("r div outdeg").as("share"))
          .groupBy("id").agg(sum("share").as("contrib"))
        verts.join(bc(contrib), Seq("id"), "left")
          .crossJoin(broadcast(dang))
          .select(col("id"),
            (lit(base) + expr(s"($damp * (coalesce(contrib, 0L) + " +
              s"dang_sum div ${n}L)) div 100")).as("r"))
      }.select(col("id"), col("r").as("rank_fp"))
    } finally { verts.unpersist(); ewd.unpersist(); dangVerts.unpersist() }
  }

  /** Personalized PageRank (Page et al.'s topic-sensitive variant): the
    * SAME exact-integer recurrence as [[pagerank]], but ALL teleport
    * mass — the (100−damp)% restart AND the dangling redistribution —
    * lands on the SEED set instead of uniformly, so rank_fp reads
    * "random-walk affinity to the seeds", the trusted-seed relevance
    * prior a crawl scheduler mixes with global authority. Initial mass
    * sits on the seeds; a vertex unreachable from them holds exactly 0
    * forever (the spec pins this).
    *
    * Scale shape: identical to [[pagerank]] — per round one src-keyed
    * join + one dst-keyed sum + a 1-row dangling scalar; the seed flag
    * rides the vertex frame.
    */
  def pagerankSeeded(edges: DataFrame, vertices: DataFrame,
                     seeds: DataFrame, iters: Int = 10,
                     scale: Long = 1000000000000L, damp: Int = 85)
      : DataFrame = {
    require(iters >= 1 && damp >= 0 && damp <= 100)
    val verts = vertices.select(col("id")).distinct().persist()
    val seedIds = verts.join(seeds.select(col("id")).distinct(),
      Seq("id"), "left_semi").persist()
    val flagged = verts.join(seedIds.withColumn("is_seed", lit(1L)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .persist()
    val outd = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg"))
    val ewd = edges.join(outd.withColumnRenamed("id", "src"), "src").persist()
    val dangVerts = verts.join(edges.select("src").distinct()
      .withColumnRenamed("src", "id"), Seq("id"), "left_anti").persist()
    try {
      val nS = seedIds.count()
      require(nS > 0, "pagerankSeeded needs at least one seed in the graph")
      val base = (100L - damp) * scale / 100 / nS
      // the seed round is vertex-sized: the gate counts VERTICES, not seeds
      val (drv, seed) = Rounds.seeded(flagged.select(col("id"),
        (col("is_seed") * lit(scale / nS)).as("r")))
      val bc = drv.bc
      drv.iterate(seed, iters) { (r, _) =>
        // dangling mass as a broadcast column, not a per-round collected
        // literal — see [[pagerank]]'s round body for the rationale
        val dang = r.join(bc(dangVerts), Seq("id"), "left_semi")
          .agg(coalesce(sum("r"), lit(0L)).as("dang_sum"))
        val contrib = ewd.join(bc(r), ewd("src") === r("id"))
          .select(col("dst").as("id"), expr("r div outdeg").as("share"))
          .groupBy("id").agg(sum("share").as("contrib"))
        flagged.join(bc(contrib), Seq("id"), "left")
          .crossJoin(broadcast(dang))
          .select(col("id"),
            (col("is_seed") * lit(base) +
              expr(s"($damp * (coalesce(contrib, 0L) + " +
                s"is_seed * (dang_sum div ${nS}L))) div 100")).as("r"))
      }.select(col("id"), col("r").as("rank_fp"))
    } finally {
      verts.unpersist(); seedIds.unpersist(); flagged.unpersist()
      ewd.unpersist(); dangVerts.unpersist()
    }
  }

  /** HITS (Kleinberg) hubs/authorities in EXACT integer fixed point — the
    * mutually-recursive complement of [[pagerank]]: per round, authority
    * mass is the sum of in-linking hub scores, hub mass the sum of
    * out-linked authority scores, each half-step renormalized to `scale`
    * total so the iteration can't diverge:
    * {{{
    * aRaw(v) = Σ_{u→v} h(u);  a(v) = (aRaw(v) · scale) div Σ aRaw
    * hRaw(v) = Σ_{v→w} a(w);  h(v) = (hRaw(v) · scale) div Σ hRaw
    * }}}
    * All Long arithmetic with truncating division → order-independent and
    * declaratively replayable, like [[pagerank]]. `scale` defaults to 1e6
    * (not pagerank's 1e12) because the pre-normalization product
    * `raw · scale` must stay inside Long: raw ≤ n·scale, so the bound is
    * n·scale² < 2⁶³ — at 1e6 that admits ~9·10⁶ vertices, the
    * registered-domain range; a larger graph needs a smaller scale or a
    * two-level normalization, refused loudly rather than wrapped. (The
    * normalization sums themselves are bounded by E·scale — Long-safe to
    * ~9·10¹² edges — guarded by an explicit edge-count `require` below,
    * since the session does not run ANSI mode and a wrap would otherwise
    * be silent.)
    *
    * Shape: per round two keyed join+sum passes over the edge set, each
    * half-step its own checkpointed round. The returned frame joins the
    * last hub and authority rounds. A graph with NO edges has no
    * hub/authority structure: refused.
    */
  def hits(edges: DataFrame, vertices: DataFrame, iters: Int = 5,
           scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale > 0)
    val verts = vertices.select(col("id")).distinct().persist()
    val e = edges.select("src", "dst").persist()
    try {
      val n = verts.count()
      require(n > 0, "hits over an empty vertex set")
      require(n <= Long.MaxValue / scale / scale,
        s"hits: n=$n vertices overflow the $scale fixed point")
      val eCnt = e.count()
      require(eCnt > 0, "hits over an edgeless graph")
      // normalization sums are bounded by E·scale; past this the Long
      // sum would wrap silently (non-ANSI session) and corrupt scores
      require(eCnt <= Long.MaxValue / scale,
        s"hits: $eCnt edges overflow the $scale fixed point's " +
          "normalization sum; use a smaller scale")
      val drv = new Rounds(n)
      val bc = drv.bc
      def half(src: DataFrame, scoreCol: String, from: String, to: String,
               outName: String): DataFrame = {
        val raw = e.join(bc(src.withColumnRenamed("id", from)), from)
          .groupBy(col(to).as("id")).agg(sum(scoreCol).as("raw"))
        // normalization total as a broadcast column, not a per-half-round
        // collected literal (see [[pagerank]]'s round body): the raw
        // subtree feeds both branches through ONE exchange (ReusedExchange
        // dedupes it), one plan per half-round instead of two, and the
        // round bodies codegen-cache across rounds. Same truncating
        // `div`; a zero/absent total divides to NULL exactly as the
        // collected-literal form would have.
        val tot = raw.agg(sum("raw").as("tot"))
        drv.round(verts.join(bc(raw), Seq("id"), "left")
          .crossJoin(broadcast(tot))
          .select(col("id"), expr(
            s"(coalesce(raw, 0L) * $scale) div tot").as(outName)))
      }
      val seed = drv.round(verts.select(col("id"), lit(scale).as("h")))
      // state: (hubs, authorities) — the seed round has hubs only
      drv.loop(Seq(seed), iters) { (s, _) =>
        val a = half(s.head, "h", "src", "dst", "a")
        Seq(half(a, "a", "dst", "src", "h"), a)
      } { case Seq(h, a) =>
        h.select(col("id"), col("h").as("hub_fp"))
          .join(a.select(col("id"), col("a").as("auth_fp")), "id")
      }
    } finally { verts.unpersist(); e.unpersist() }
  }

  /** Multi-source BFS hop distance over a directed edge set — the
    * crawl-depth primitive (how many link hops separate each vertex from a
    * seed set; crawl schedulers budget fetch depth on it, and
    * quality-weighting pipelines use "distance from trusted seeds" as a
    * spam prior).
    *
    * Exact and declaratively replayable: distances are Longs and each
    * round is `dist'(v) = min(dist(v), min_{u→v} dist(u)+1)` over the
    * REACHED set only — min is order-independent, so an unrolled
    * recurrence lands on identical values. Runs a FIXED `iters` rounds
    * (part of the deterministic contract, like [[pagerank]]'s 10):
    * vertices first reached after `iters` hops report -1 (unreached), and
    * converged rounds are idempotent no-ops.
    *
    * Shape: per round one src-keyed join (reached ⋈ edges) + one
    * map-side-combinable min by id — the reached set only ever GROWS
    * toward vertex-sized, never corpus-sized fan-out; zero driver scalars.
    *
    * `edges`: (src, dst) directed. `vertices`: (id) covering every
    * endpoint. `seeds`: (id) — distance-0 set; seeds outside `vertices`
    * are ignored (the left-semi anchors the walk to the graph).
    */
  def bfsHops(edges: DataFrame, vertices: DataFrame, seeds: DataFrame,
              iters: Int = 6): DataFrame = {
    require(iters >= 1, "bfsHops needs at least one round")
    val verts = vertices.select(col("id")).distinct().persist()
    val e = edges.select("src", "dst").persist()
    try {
      // reached grows toward vertex-sized: the gate counts VERTICES
      val drv = new Rounds(verts.count())
      val bc = drv.bc
      val reached = drv.iterate(drv.round(
        verts.join(seeds.select(col("id")).distinct(), Seq("id"), "left_semi")
          .select(col("id"), lit(0L).as("dist"))), iters) { (reached, _) =>
        val fringe = e.join(bc(reached.withColumnRenamed("id", "src")), "src")
          .select(col("dst").as("id"), (col("dist") + lit(1L)).as("dist"))
        reached.unionByName(fringe).groupBy("id").agg(min("dist").as("dist"))
      }
      verts.join(reached, Seq("id"), "left")
        .select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
    } finally { verts.unpersist(); e.unpersist() }
  }

  /** ALL-PAIRS bounded BFS — [[bfsHops]] with the walk keyed by its
    * source: state is (s, id, dist), one row per (source, reached)
    * pair, so the frame is V²-bounded. ONLY for K-bounded graphs (the
    * registered-domain graph — the [[hits]] scoping rule): on a
    * document-sized graph V² is the wrong primitive and the caller
    * should be running seeded BFS or PageRank instead; the bound is the
    * caller's contract, documented here rather than guessed at with a
    * magic threshold. Per round one src-keyed join + one (s, id) min —
    * min is order-independent, declaratively replayable.
    */
  def allPairsHops(edges: DataFrame, vertices: DataFrame,
                   iters: Int = 6): DataFrame = {
    require(iters >= 1, "allPairsHops needs at least one round")
    val verts = vertices.select(col("id")).distinct().persist()
    val e = edges.select("src", "dst").persist()
    try {
      val (drv, seed) = Rounds.seeded(
        verts.select(col("id").as("s"), col("id"), lit(0L).as("dist")),
        squared)
      val bc = drv.bc
      drv.iterate(seed, iters) { (reached, _) =>
        val fringe = e.join(bc(reached.withColumnRenamed("id", "src")), "src")
          .select(col("s"), col("dst").as("id"),
            (col("dist") + lit(1L)).as("dist"))
        reached.unionByName(fringe)
          .groupBy("s", "id").agg(min("dist").as("dist"))
      }
    } finally { verts.unpersist(); e.unpersist() }
  }

  /** [[allPairsHops]] carrying GEODESIC COUNTS — state (s, id, dist,
    * sigma) where sigma = number of distinct shortest s→id paths. The
    * count rides the walk-count identity σ(s,v) = W_{d(s,v)}(s,v): any
    * walk whose length equals the shortest distance is necessarily a
    * shortest path, and W_i = W_{i-1}·A is one src-keyed join + sum per
    * round — so each round extends the walk matrix and first-discovery
    * freezes (dist, sigma) for the newly reached pairs (sum is
    * order-independent, declaratively replayable). Same K-bounded
    * contract as [[allPairsHops]]: V²-bounded state, ONLY for the
    * registered-domain graph. Walk counts grow ≤ Δ^iters; the CALLER
    * owning the downstream arithmetic must bound σ products
    * (see [[graft.ops.LinkOps.stressCentrality]]'s explicit require).
    */
  def allPairsGeodesics(edges: DataFrame, vertices: DataFrame,
                        iters: Int = 6): DataFrame = {
    require(iters >= 1, "allPairsGeodesics needs at least one round")
    val verts = vertices.select(col("id")).distinct().persist()
    val e = edges.select("src", "dst").persist()
    try {
      val (drv, seed) = Rounds.seeded(verts.select(col("id").as("s"),
        col("id"), lit(0L).as("dist"), lit(1L).as("sigma")), squared)
      val bc = drv.bc
      val walks0 = drv.round(seed.select(col("s"), col("id"),
        col("sigma").as("w")))
      // state: (frozen geodesics, walk matrix); only the first is returned
      drv.loop(Seq(seed, walks0), iters) { case (Seq(state, walks), i) =>
        val stepped = drv.round(
          bc(walks.withColumnRenamed("id", "src")).join(e, "src")
            .groupBy(col("s"), col("dst").as("id"))
            .agg(sum("w").as("w")))
        val fresh = stepped.join(bc(state.select("s", "id")),
            Seq("s", "id"), "left_anti")
          .select(col("s"), col("id"), lit(i.toLong).as("dist"),
            col("w").as("sigma"))
        Seq(drv.round(state.unionByName(fresh)), stepped)
      }(_.head)
    } finally { verts.unpersist(); e.unpersist() }
  }

  /** Weighted shortest paths by bounded Bellman-Ford rounds — the
    * min-plus sibling of [[bfsHops]] (hop counts become integer edge
    * COSTS; `iters` rounds certify exact distances for every path of
    * ≤ iters edges, the bounded-round contract every iterative operator
    * here carries). Each round is one relax: dist' = min(dist, min over
    * in-edges (dist[src] + w)) — min is order-independent, so the
    * declarative oracle lands on the same Longs. Unreached vertices
    * emit −1. Negative weights are refused (a negative cycle would make
    * bounded rounds silently wrong rather than just short).
    *
    * `edges`: (src, dst, w: Long ≥ 0), directed; parallel edges are fine
    * (min absorbs them). Scale shape: per round one src-keyed join + one
    * dst-keyed min aggregation — the BFS shape with a cost column.
    */
  def weightedHops(edges: DataFrame, vertices: DataFrame, seeds: DataFrame,
                   iters: Int = 6): DataFrame = {
    require(iters >= 1, "weightedHops needs at least one round")
    val verts = vertices.select(col("id")).distinct().persist()
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .persist()
    try {
      val negs = e.filter(col("w") < 0).limit(1).count()
      require(negs == 0, "weightedHops: negative edge weights are refused " +
        "(bounded rounds cannot certify distances under negative cycles)")
      // the [[bfsHops]] gate: reached grows toward vertex-sized
      val drv = new Rounds(verts.count())
      val bc = drv.bc
      val reached = drv.iterate(drv.round(
        verts.join(seeds.select(col("id")).distinct(), Seq("id"), "left_semi")
          .select(col("id"), lit(0L).as("dist"))), iters) { (reached, _) =>
        val fringe = e.join(bc(reached.withColumnRenamed("id", "src")), "src")
          .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        reached.unionByName(fringe).groupBy("id").agg(min("dist").as("dist"))
      }
      verts.join(reached, Seq("id"), "left")
        .select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
    } finally { verts.unpersist(); e.unpersist() }
  }

  /** SYNCHRONOUS label propagation (Raghavan, Albert & Kumara 2007) —
    * community detection where CC is too coarse (CC fuses everything
    * reachable; LPA splits a connected graph into densely-linked
    * neighborhoods): every vertex starts as its own label; each round,
    * every vertex adopts the label holding the MAJORITY among its
    * neighbors, ties broken by the SMALLEST label — the deterministic
    * rendering (asynchronous random-order LPA is the published default;
    * synchronous + lexicographic tie-break makes the whole run
    * replayable, so the oracle can unroll the rounds declaratively, the
    * HITS posture). Fixed `iters` rounds, no convergence test — LPA
    * oscillates on bipartite structures, and a fixed-round contract is
    * what an oracle can replay.
    *
    * Works on the UNWEIGHTED simple graph ([[simpleSymmetric]] — a
    * doubled edge must not double a vote). Per round: one src-keyed edge
    * join + one (id, label) count agg + a per-id WindowGroupLimit pick —
    * the CC shuffle class.
    *
    * `vertices`: (id). Returns (id, label) — label = the community's
    * lexicographically-least member seen through the propagation.
    */
  def labelPropagation(edges: DataFrame, vertices: DataFrame,
                       iters: Int = 4): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one round")
    val sym = simpleSymmetric(edges).persist()
    try {
      val (drv, seed) = Rounds.seeded(vertices.select(col("id"))
        .distinct().withColumn("label", col("id")))
      val bc = drv.bc
      drv.iterate(seed, iters) { (labels, _) =>
        val votes = sym.join(bc(labels.withColumnRenamed("id", "src")), "src")
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("c"))
        val pick = votes.withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("id")
              .orderBy(col("c").desc, col("label").asc)))
          .filter(col("rk") === 1)
          .select(col("id"), col("label").as("new_label"))
        labels.join(bc(pick), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("new_label"), col("label")).as("label"))
      }
    } finally sym.unpersist()
  }

  /** Bounded-round k-core peel (Seidman 1983's coreness; the
    * synchronous-round distributed rendering): each round removes every
    * vertex whose degree in the REMAINING symmetrized simple graph is
    * < k and drops its incident edges; `rounds` is fixed by contract
    * (the [[labelPropagation]] posture — a deterministic bounded unroll
    * the declarative oracle replays round for round, so the iterative
    * engine hash-checks against materialized CTE stages).
    *
    * Output per vertex: `removed_round` (1-based peel round, −1 for
    * rounds-survivors) and `final_deg` — for a removed vertex the
    * CONDEMNING degree (its degree at the start of its removal round,
    * < k), for a survivor its degree inside the surviving subgraph
    * (which can be < k only when `rounds` stopped short of the
    * fixpoint — the honest bounded-round contract).
    *
    * Scale shape: per round, ONE degree aggregation + two semi-joins
    * keyed on vertex ids over the shrinking edge frame — no all-pairs
    * anything.
    */
  def kcorePeel(edges: DataFrame, vertices: DataFrame,
                k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, "kcorePeel needs at least one round")
    val (drv, verts) = Rounds.seeded(vertices.select(col("id")).distinct())
    val bc = drv.bc
    val sym = drv.round(simpleSymmetric(edges))
    // state: (alive vertices, remaining edges, removed rows of each round)
    drv.loop(Seq(verts, sym), rounds) {
      case (alive +: cur +: removed, r) =>
        val deg = cur.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        // ONE materialized frame per round (r15, guide §1.2/§7): the degree
        // aggregate is LAZY-checkpointed and everything else derives from
        // it — curNext's eager materialization computes degd once (cached
        // + lineage-truncated by the post-job hook) and aliveNext through
        // it; rm stays a plain filter over the cached degd — no job of its
        // own, and the final union reads it from the round's cached blocks
        // (so degd's files outlive the loop and are reclaimed by [[drain]]).
        val degd = drv.lazyRound(alive.join(deg, Seq("id"), "left")
          .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
        val rm = degd.where(col("deg") < k)
          .select(col("id"), lit(r.toLong).as("removed_round"),
            col("deg").as("final_deg"))
        val aliveNext = drv.lazyRound(degd.where(col("deg") >= k)
          .select("id"))
        val curNext = drv.round(cur
          .join(bc(aliveNext.select(col("id").as("src"))), Seq("src"),
            "left_semi")
          .join(bc(aliveNext.select(col("id").as("dst"))), Seq("dst"),
            "left_semi"))
        aliveNext +: curNext +: rm +: removed
    } { case alive +: cur +: removed =>
      val degF = cur.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val survivors = alive.join(degF, Seq("id"), "left")
        .select(col("id"), lit(-1L).as("removed_round"),
          coalesce(col("deg"), lit(0L)).as("final_deg"))
      (survivors +: removed).reduce(_ unionByName _)
    }
  }

  /** Cluster-size distribution over [[dedupClusters]] — the dedup
    * observability panel: how many singletons, how many mega-clusters
    * (a sudden mega-cluster means boilerplate or a broken shingle rule
    * before anyone reads survivor rows). One (cluster)-keyed count +
    * one (size)-keyed rollup on top of the CC cost.
    * Gate `q_dedup_cluster_stats`.
    */
  def dedupClusterStats(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Oracle-gated cluster query: deterministic block-chain edges over the
    * documents table (doc_id → doc_id+1 within each 10-id block, plus a
    * +2 skip edge in the block's lower half), so components are exactly
    * the 10-id blocks and DuckDB's recursive-CTE closure reproduces the
    * same (doc_id, cluster_id = block minimum) assignment — a rare chance
    * to hash-check an iterative distributed algorithm against a
    * declarative oracle.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"))
    val bounds = docs.agg(max("doc_id")).head()
    if (bounds.isNullAt(0)) // empty corpus → empty clusters, like the oracle
      return docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
    val maxId = bounds.getLong(0)
    val e1 = docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
    val e2 = docs.filter(col("doc_id") % 10 < 5)
      .select(col("doc_id").as("src"), (col("doc_id") + 2).as("dst"))
    // both endpoints must be real documents — with id gaps, an edge into a
    // phantom id would let a declarative closure hop THROUGH it while the
    // label-propagation engine (correctly) cannot
    val edges = e1.union(e2).filter(col("dst") <= maxId)
      .join(docs.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    connectedComponents(edges, docs.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Newman-Girvan MODULARITY tallies of a vertex partition (Newman &
    * Girvan 2004) — the quality score that says whether a community
    * assignment (here: [[labelPropagation]]'s labels) actually captures
    * denser-than-chance structure:
    *
    *   Q = Σ_c ( e_c/m − (d_c / 2m)² )
    *
    * with m = undirected simple-graph edges, e_c = intra-community edges
    * and d_c = the community's degree sum. Emitted SQRT- and
    * DIVISION-free so both engines land on identical integers: per
    * community the NUMERATOR `contrib_num = 4·m·e_c − d_c²` plus the
    * shared denominator `four_m2 = 4m²` (Q = Σ contrib_num / four_m2 —
    * the consumer's one division; a per-row ppm would need floor
    * semantics on NEGATIVE numerators, where Spark `div` truncates and
    * DuckDB `//` floors, so the division is deliberately not taken).
    * DECIMAL(38) holds the products to 10¹⁸ edges.
    *
    * Works on the symmetrized simple graph ([[labelPropagation]]'s
    * convention exactly): self-loops dropped, parallel/reversed
    * duplicates collapse.
    *
    * Scale shape: one distinct over the edge set, one vertex-keyed
    * degree agg, TWO label lookups on the edge frame (community labels
    * are vertex-sized — broadcast when they fit, shuffle-keyed
    * otherwise; Spark's planner picks via AQE) and bounded
    * community-keyed rollups — the triangle-count shuffle class, never
    * all-pairs.
    *
    * `edges`: directed (src, dst); `labels`: (id, label). Returns one
    * row per community: (community, n_nodes, e_intra, d_sum,
    * contrib_num, four_m2).
    */
  def modularityOver(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().persist()
    try {
      val m = und.agg(count(lit(1)).as("m"))
      val deg = und.select(col("a").as("v"))
        .unionAll(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val la = labels.select(col("id").as("a"), col("label").as("la"))
      val lb = labels.select(col("id").as("b"), col("label").as("lb"))
      val intra = und.join(la, "a").join(lb, "b")
        .where(col("la") === col("lb"))
        .groupBy(col("la").as("community")).agg(count(lit(1)).as("e_intra"))
      val dsum = labels.join(deg, labels("id") === deg("v"), "left")
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("deg"), lit(0L))).as("d_sum"))
      dsum.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(m))
        .select(col("community"), col("n_nodes"),
          coalesce(col("e_intra"), lit(0L)).as("e_intra"), col("d_sum"),
          expr("CAST(4 * CAST(m AS DECIMAL(38,0)) * coalesce(e_intra, 0)" +
            " - CAST(d_sum AS DECIMAL(38,0)) * d_sum AS BIGINT)")
            .as("contrib_num"),
          expr("CAST(4 * CAST(m AS DECIMAL(38,0)) * m AS BIGINT)")
            .as("four_m2"))
        .localCheckpoint(eager = true)
    } finally und.unpersist()
  }
}
