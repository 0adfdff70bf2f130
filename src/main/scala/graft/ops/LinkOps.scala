package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Hyperlink-graph operators — the third leg of the web-provenance family
  * ([[WebTextOps]] extracts the text, [[UrlOps]] canonicalizes the page's
  * own address; this extracts the OUTLINKS): anchor extraction with
  * relative-reference resolution, per-target-domain anchor-text term
  * aggregation (the classic off-page retrieval signal), and
  * domain-authority PageRank over the induced domain graph
  * ([[GraphOps.pagerank]] — exact integer fixed point, so the iterative
  * walk is oracle-checkable).
  *
  * The fixture has no hyperlinks, so the link queries run over a
  * DETERMINISTIC crafted page ([[craftedLinkHtml]]) whose outlink structure
  * exercises the real cases: relative links (resolve against the page
  * base, land on the page's own domain → internal), messy absolute links
  * (upper-cased scheme/host, explicit default port, tracking params,
  * fragments — the [[UrlOps]] normalization surface), cross-suffix targets
  * (`.com` pages link into `.co.uk` and vice versa), and a structurally
  * asymmetric graph: `.co.uk` pages (doc_id % 7 == 0) emit NO cross-domain
  * links except the every-5th-doc promo, so most `.co.uk` domains are
  * DANGLING PageRank sinks — the case the dangling-mass redistribution
  * exists for. The crafting is the fixture; extraction, resolution,
  * normalization and the walk are the product.
  *
  * Scale posture: extraction/resolution/normalization are per-row
  * (regexp_extract_all + one explode — link rows ≈ a few × page rows,
  * never quadratic); the anchor aggregation is one (domain, term)-keyed
  * shuffle with a per-domain WindowGroupLimit; PageRank is
  * [[GraphOps.pagerank]]'s one-join-one-agg-per-round shape over the
  * domain-sized (not corpus-sized) graph.
  */
object LinkOps {

  /** Deterministic crafted page body shared by the link queries and their
    * oracles. Per document:
    *  - always: a RELATIVE link `/about` (anchor carries the source name);
    *  - `doc_id % 7 != 0` (the `.com` pages): a messy absolute link to
    *    `src((3·id+1) mod 20).com` (upper-cased scheme/host, `:443`, a
    *    tracking param) and a clean absolute link to
    *    `src((id+11) mod 20).co.uk` (trailing slash + fragment);
    *  - `doc_id % 5 == 0`: a promo link to `src((7·id+3) mod 20).com` with
    *    a `ref` tracking param — the only cross-domain edges `.co.uk`
    *    pages (id ≡ 0 mod 35) ever emit.
    * On the FIXTURE (where source = src(doc_id mod 20)) no crafted choice
    * produces a self-loop: 3id+1 ≡ id and 7id+3 ≡ id are both unsolvable
    * mod 20 (parity), and cross-suffix targets differ by suffix. A frame
    * whose source is decoupled from doc_id (a streamed batch) CAN
    * self-loop — such a link is simply internal (is_external = 0) and
    * never becomes a graph edge.
    */
  private[graft] def craftedLinkHtml: Column = {
    val id = col("doc_id")
    def k(e: Column): Column = e.cast("string")
    concat(
      lit("<html><body><p>read more</p><a href=\"/about\">About "),
      col("source"), lit("</a>"),
      when(id % 7 =!= 0, concat(
        lit("<a href=\"HTTPS://WWW.Src"), k((id * 3 + 1) % 20),
        lit(".COM:443/p/"), k(id), lit("?utm_source=l&x="), k(id),
        lit("\">jump src"), k((id * 3 + 1) % 20), lit("</a>"),
        lit("<a href=\"https://Sub.src"), k((id + 11) % 20),
        lit(".CO.UK/t/"), k(id), lit("/#s\">uk story src"),
        k((id + 11) % 20), lit("</a>"))).otherwise(lit("")),
      when(id % 5 === 0, concat(
        lit("<a href=\"https://src"), k((id * 7 + 3) % 20),
        lit(".com/x?ref=promo\">promo offer src"), k((id * 7 + 3) % 20),
        lit("</a>"))).otherwise(lit("")),
      lit("</body></html>"))
  }

  /** One row per extracted link for any (doc_id, url, html) frame: raw
    * href, anchor text, the RESOLVED canonical link url (relative
    * references joined to the page's scheme://authority, then the full
    * [[UrlOps]] normalization), the link's registered target domain, the
    * page's own registered domain, and the external flag (registered
    * domains differ — intra-site navigation is not a provenance edge).
    */
  private[graft] def linkExtractFor(pages: DataFrame): DataFrame = {
    val withPageDomain = UrlOps.withNormColumns(pages)
      .select(col("doc_id"), col("url").as("page_url"),
        col("registered_domain").as("page_domain"), col("html"))
    val links = withPageDomain
      .select(col("doc_id"), col("page_url"), col("page_domain"),
        explode(regexp_extract_all(col("html"),
          lit("<a href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0))).as("m"))
      .withColumn("href", regexp_extract(col("m"), "<a href=\"([^\"]*)\"", 1))
      .withColumn("anchor", regexp_extract(col("m"), ">([^<]*)</a>", 1))
      .withColumn("url", when(col("href").startsWith("/"),
        concat(regexp_extract(col("page_url"), "^([A-Za-z]+://[^/?#]*)", 1),
          col("href"))).otherwise(col("href")))
    UrlOps.withNormColumns(links)
      .withColumn("is_external",
        (col("registered_domain") =!= col("page_domain")).cast("int"))
      .select(col("doc_id"), col("href"), col("anchor"),
        col("norm_url").as("link_url"),
        col("registered_domain").as("target_domain"),
        col("page_domain"), col("is_external"))
  }

  /** Crafted-fixture link rows over any (doc_id, source) frame — shared by
    * the corpus queries and the streaming fact ingest.
    */
  private[graft] def craftedLinksOver(docs: DataFrame): DataFrame =
    linkExtractFor(docs
      .withColumn("url", UrlOps.craftedUrl)
      .withColumn("html", craftedLinkHtml))

  private def craftedLinks(s: SparkSession, d: String): DataFrame =
    craftedLinksOver(t(s, d, "documents"))

  /** Link extraction over the crafted corpus — per-row only, ordered for
    * the gate (href is unique within a page by crafting, so the order is
    * total).
    */
  def linkExtract(s: SparkSession, d: String): DataFrame =
    craftedLinks(s, d).orderBy("doc_id", "href")

  /** Per-target-domain anchor-text terms, top 3 by mention count
    * (count-desc, term-asc tie-break) — the aggregated off-page text
    * retrieval systems index a page under. External links only; anchors
    * split on single spaces (the crafted anchors are single-spaced).
    * One (domain, term)-keyed aggregation + a per-domain window.
    */
  def anchorText(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = craftedLinks(s, d)
      .filter(col("is_external") === 1)
      .select(col("target_domain"),
        explode(split(col("anchor"), " ")).as("term"))
      .groupBy("target_domain", "term").agg(count(lit(1)).as("n_mentions"))
    terms
      .withColumn("rnk", row_number().over(Window.partitionBy("target_domain")
        .orderBy(col("n_mentions").desc, col("term"))))
      .filter(col("rnk") <= 3)
      .orderBy("target_domain", "rnk")
  }

  /** Domain-authority PageRank over the crafted link graph: vertices =
    * every page domain ∪ every external-link target domain, edges =
    * DISTINCT external (page_domain → target_domain) pairs (multiplicity
    * deliberately does not weight the walk — one domain spamming many
    * links to one target gains nothing). 10 exact integer rounds at 1e12
    * total mass ([[GraphOps.pagerank]]); in/out-degrees ride along for
    * interpretability. rank_fp-desc order with domain tie-break.
    */
  def pagerankDomains(s: SparkSession, d: String): DataFrame =
    domainRanks(s, d).orderBy(col("rank_fp").desc, col("domain"))

  /** Loan pattern over the crafted DOMAIN graph: persists the link rows
    * and the distinct external (src, dst) edge set, hands (links, edges,
    * verts) to `f`, and releases the cache. `f` MUST return an
    * eagerly-materialized frame (both walk paths checkpoint through their
    * GraphOps loans) — a lazy result would recompute the extraction after
    * the unpersist.
    */
  private def withDomainGraph(s: SparkSession, d: String)
                             (f: (DataFrame, DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    val links = craftedLinks(s, d).persist()
    try {
      val edges = links.filter(col("is_external") === 1)
        .select(col("page_domain").as("src"), col("target_domain").as("dst"))
        .distinct().persist()
      try {
        val verts = links.select(col("page_domain").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        f(links, edges, verts)
      } finally edges.unpersist()
    } finally links.unpersist()
  }

  /** Triangle counting + global clustering coefficient over the domain
    * graph — the degree-ordered orientation algorithm (Schank & Wagner
    * 2005; the MapReduce rendering of Suri & Vassilvitskii 2011): each
    * undirected edge orients toward its (deg, name)-larger endpoint, so
    * every vertex's ORIENTED out-degree is O(√m) no matter how skewed
    * the raw degrees are — the wedge self-join that explodes quadratically
    * on hub vertices under the naive 2-path enumeration stays bounded
    * (the 100 TB story: a celebrity node with 10^8 followers contributes
    * zero wedges as a pivot, because every edge orients INTO it).
    * Each triangle is counted exactly once: its (deg, name)-minimum
    * vertex is the only valid pivot.
    *
    *   gcc_ppm = 10^6 · 3·triangles div Σ_v deg(deg−1)/2
    *
    * — exact integers end-to-end; the oracle replays the orientation,
    * wedge join and closing-edge membership verbatim.
    *
    * Scale shape: one (lo)-keyed self-join over the ORIENTED edge set
    * (bounded fan-out per pivot) + one membership semi-join against the
    * canonical undirected set; degrees are one vertex-keyed agg.
    */
  def triangleCount(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, _) => trianglesOver(edges) }

  /** The algorithm over an explicit (src, dst) edge frame — split out so
    * the spec can pin hand-computed graphs (K4, paths, stars).
    */
  private[graft] def trianglesOver(edges: DataFrame): DataFrame = {
    {
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().persist()
      try {
        val deg = und.select(col("a").as("v"))
          .unionAll(und.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val aFirst = und
          .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
          .withColumn("a_first",
            col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")))
        val oriented = aFirst.select(
          when(col("a_first"), col("a")).otherwise(col("b")).as("lo"),
          when(col("a_first"), col("b")).otherwise(col("a")).as("hi"))
        val w1 = oriented.select(col("lo").as("pivot"), col("hi").as("x"))
        val wedges = w1.join(
            oriented.select(col("lo").as("pivot"), col("hi").as("y")),
            "pivot")
          .filter(col("x") < col("y"))
        val tri = wedges.join(und,
            und("a") === least(col("x"), col("y")) &&
              und("b") === greatest(col("x"), col("y")))
          .agg(count(lit(1)).as("n_triangles"))
        val stats = deg.agg(
          count(lit(1)).as("n_vertices"),
          expr("sum(deg * (deg - 1) div 2)").as("n_wedges"))
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(stats))
          .crossJoin(broadcast(tri))
          .withColumn("gcc_ppm", expr(
            "CASE WHEN n_wedges = 0 THEN 0L " +
              "ELSE 3000000 * n_triangles div n_wedges END"))
          .select("n_vertices", "n_edges", "n_wedges", "n_triangles",
            "gcc_ppm")
      } finally und.unpersist()
    }
  }

  /** Materialized (domain, n_out, n_in, rank_fp) over the crafted graph —
    * shared by the rank query and the authority-weighted mix.
    */
  private[graft] def domainRanks(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) => ranksOver(edges, verts) }

  /** The walk + degree decoration over an explicit (src, dst) edge set and
    * (id) vertex set — shared by the corpus query path and the
    * stored-fact rebuild ([[graft.pipeline.LinkIngest]]). Returns an
    * eagerly-materialized frame; the walk's round checkpoint files are
    * reclaimed through the loan ([[GraphOps.drain]]), so repeated
    * rebuilds can't grow reliable-checkpoint storage.
    */
  private[graft] def ranksOver(edges: DataFrame,
                               verts: DataFrame): DataFrame =
    GraphOps.drain(GraphOps.pagerank(edges, verts)) { ranks =>
      val outd = edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("n_out"))
      val ind = edges.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("n_in"))
      ranks.join(outd, Seq("id"), "left").join(ind, Seq("id"), "left")
        .select(col("id").as("domain"),
          coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("n_in"), lit(0L)).as("n_in"),
          col("rank_fp"))
        .localCheckpoint(eager = true)
    }

  /** HITS hubs/authorities over the crafted graph ([[GraphOps.hits]]) —
    * the complementary walk to PageRank: a domain is a good AUTHORITY when
    * good hubs link TO it and a good HUB when it links to good
    * authorities. The crafted `.com` pages are the hub side, the `.co.uk`
    * sinks pure authorities. auth-desc order, hub/domain tie-breaks.
    */
  def hitsDomains(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) =>
      GraphOps.drain(GraphOps.hits(edges, verts)) { hv =>
        hv.select(col("id").as("domain"), col("hub_fp"), col("auth_fp"))
          .localCheckpoint(eager = true)
      }
    }.orderBy(col("auth_fp").desc, col("hub_fp").desc, col("domain"))

  /** LPA rounds for [[communitiesLpa]] — fixed by contract (see
    * [[GraphOps.labelPropagation]]: a fixed-round synchronous run is what
    * the oracle can unroll).
    */
  val LpaIters = 4

  /** Community detection over the domain graph
    * ([[GraphOps.labelPropagation]], [[LpaIters]] synchronous rounds,
    * smallest-label tie-break): where connected components answer "what
    * is reachable" (one giant blob on a crawl graph), LPA answers "which
    * domains form densely-linked neighborhoods" — the crawl-cluster /
    * link-farm signal. Emits each domain's community label (the
    * community's least member) and the community size.
    */
  def communitiesLpa(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) =>
      GraphOps.drain(
          GraphOps.labelPropagation(edges, verts, LpaIters)) { labels =>
        val sizes = labels.groupBy("label")
          .agg(count(lit(1)).as("community_size"))
        labels.join(sizes, Seq("label"))
          .select(col("id").as("domain"), col("label").as("community"),
            col("community_size"))
          .localCheckpoint(eager = true)
      }
    }.orderBy("domain")

  /** k and rounds for [[kcoreDomains]] — fixed by contract (the
    * [[LpaIters]] posture: the oracle unrolls exactly this many
    * materialized stages).
    */
  val KCoreK = 2
  val KCoreRounds = 4

  /** Bounded-round 2-core peel over the domain graph
    * ([[GraphOps.kcorePeel]]) — the dense-web extractor: leaves (domains
    * held in the graph by a single link) peel off round by round, and
    * what survives is the mutually-linked mesh a crawl scheduler treats
    * as the web's core. Gate `q_kcore_domains` — the iterative peel
    * hash-checks against the oracle's unrolled rounds.
    */
  def kcoreDomains(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) =>
      GraphOps.drain(
          GraphOps.kcorePeel(edges, verts, KCoreK, KCoreRounds)) { r =>
        r.select(col("id").as("domain"), col("removed_round"),
          col("final_deg")).localCheckpoint(eager = true)
      }
    }.orderBy("domain")

  /** Rounds for [[weightedPaths]] — fixed by contract ([[LpaIters]]
    * posture).
    */
  val WPathIters = 6

  /** Personalized PageRank from the `.co.uk` trusted seeds
    * ([[GraphOps.pagerankSeeded]], 10 exact-integer rounds) — the
    * seed-affinity prior next to [[domainRanks]]' global authority: a
    * domain the seeds' random surfer never reaches scores exactly 0.
    * Gate `q_pagerank_seeded`.
    */
  def pagerankSeededDomains(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (links, edges, verts) =>
      val seeds = links.filter(col("page_domain").endsWith(".co.uk"))
        .select(col("page_domain").as("id")).distinct()
      GraphOps.drain(GraphOps.pagerankSeeded(edges, verts, seeds)) { r =>
        r.select(col("id").as("domain"), col("rank_fp"))
          .localCheckpoint(eager = true)
      }
    }.orderBy("domain")

  /** Weighted crawl distance ([[GraphOps.weightedHops]], Bellman-Ford
    * rounds): same `.co.uk` seeds as [[domainHops]], but each inter-domain
    * edge costs `10⁶ div link_count` — heavily-linked hops are cheap, so
    * the metric reads "how strongly is this domain tied to the trusted
    * seeds", not just how many hops out it sits (the weighted spam prior;
    * hop count treats a single stray link and a thousand links as the
    * same edge). Exact integer costs; unreached = −1.
    * Gate `q_weighted_paths`.
    */
  def weightedPaths(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (links, _, verts) =>
      val wedges = links.filter(col("is_external") === 1)
        .groupBy(col("page_domain").as("src"),
          col("target_domain").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("src"), col("dst"), expr("1000000L div cnt").as("w"))
      val seeds = links.filter(col("page_domain").endsWith(".co.uk"))
        .select(col("page_domain").as("id")).distinct()
      GraphOps.drain(
          GraphOps.weightedHops(wedges, verts, seeds, WPathIters)) { h =>
        h.select(col("id").as("domain"), col("dist").as("cost"))
          .localCheckpoint(eager = true)
      }
    }.orderBy("domain")

  /** Crawl-depth BFS over the crafted domain graph ([[GraphOps.bfsHops]],
    * 6 rounds): seeds = the `.co.uk` registered PAGE domains — the
    * structurally interesting choice on this fixture, because `.co.uk`
    * pages are near-sinks (their only cross-domain edges are the
    * every-35th-doc promo links), so distances genuinely spread: 0 on the
    * seeds, 1 on the promo targets, 2+ across the `.com` mesh they open
    * into, -1 on anything 6+ hops out. The real-pipeline reading is
    * "link distance from a trusted seed list" — the spam prior of
    * crawl-frontier scheduling.
    *
    * Scale: [[GraphOps.bfsHops]]'s one-join-one-min-per-round over the
    * domain-sized graph; the corpus is touched once by the extraction.
    */
  def domainHops(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (links, edges, verts) =>
      val seeds = links.filter(col("page_domain").endsWith(".co.uk"))
        .select(col("page_domain").as("id")).distinct()
      GraphOps.drain(GraphOps.bfsHops(edges, verts, seeds)) { hops =>
        hops.select(col("id").as("domain"), col("dist"))
          .localCheckpoint(eager = true)
      }
    }.orderBy("domain")

  /** Harmonic centrality over the domain graph (Marchiori & Latora
    * 2000; Boldi & Vigna 2014 argue it as the principled closeness
    * variant for DISCONNECTED graphs — unreachable pairs contribute 0
    * instead of poisoning the mean):
    *
    *   H(v) = Σ_{u ≠ v, d(u→v) ≤ iters} (10⁶ div d(u→v))
    *
    * — exact integer fixed point (1/d as a truncated ppm term, the
    * engine's rational posture), distances from 6 bounded BFS rounds
    * keyed per source ([[GraphOps.allPairsHops]] — V²-bounded state,
    * valid ONLY because the registered-domain count is K-bounded; same
    * scoping rule as [[hitsDomains]]). Domains no other domain reaches
    * emit 0 with n_reachers 0 (the left join keeps the full vertex
    * list — a centrality report that silently drops isolated nodes
    * reads as a smaller graph).
    *
    * Scale shape: per round one src-keyed join + one (s, id) min over
    * the V²-bounded frame; the rollup is one id-keyed agg; the
    * returned frame is checkpoint-scan + broadcast verts.
    * Gate `q_harmonic_centrality`.
    */
  def harmonicCentrality(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) =>
      GraphOps.drain(GraphOps.allPairsHops(edges, verts)) { hops =>
        val h = hops.where(col("s") =!= col("id"))
          .groupBy("id")
          .agg(count(lit(1)).as("n_reachers"),
            sum(expr("1000000 div dist")).as("harmonic_fp"))
        verts.join(h, Seq("id"), "left")
          .select(col("id").as("domain"),
            coalesce(col("n_reachers"), lit(0L)).as("n_reachers"),
            coalesce(col("harmonic_fp"), lit(0L)).as("harmonic_fp"))
          .localCheckpoint(eager = true)
      }
    }.orderBy(col("harmonic_fp").desc, col("domain"))

  /** Degree ASSORTATIVITY of the domain graph (Newman 2002) — the
    * Pearson correlation of endpoint degrees over the undirected simple
    * edge set, the hub-wiring diagnostic (r > 0: hubs link hubs, the
    * collaboration-network shape; r < 0: hubs link leaves, the
    * web/crawl shape — which also predicts whether hub removal
    * fragments the graph). SQRT-FREE because the point set is
    * SYMMETRIC (each edge contributes both (dx, dy) and (dy, dx)), so
    * both marginal variances are equal and r is the exact rational
    *
    *   r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²),   M = 2m points
    *
    * emitted as signed ppm with the OLS negative-floor posture
    * (−((−num)·10⁶ div den) — truncation-consistent across engines).
    *
    * Scale shape: one distinct over the edge set, one vertex-keyed
    * degree agg, two degree lookups on edges, ONE 1-row rollup.
    * Gate `q_assortativity`.
    */
  def assortativityDomains(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, _) =>
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct().persist()
      try {
        val deg = und.select(col("a").as("v"))
          .unionAll(und.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        und.join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
          .select(explode(array(
            struct(col("da").as("x"), col("db").as("y")),
            struct(col("db").as("x"), col("da").as("y")))).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
          .agg(count(lit(1)).as("m2"), sum("x").as("sx"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
          .select(col("m2"),
            expr("CAST(m2 AS DECIMAL(38,0)) * sxy " +
              "- CAST(sx AS DECIMAL(38,0)) * sx").as("num"),
            expr("CAST(m2 AS DECIMAL(38,0)) * sxx " +
              "- CAST(sx AS DECIMAL(38,0)) * sx").as("den"))
          .select(expr("CAST(m2 div 2 AS BIGINT)").as("n_edges"),
            expr("CAST(CASE WHEN den = 0 THEN 0 " +
              "WHEN num < 0 THEN -((-num * 1000000) div den) " +
              "ELSE (num * 1000000) div den END AS BIGINT)")
              .as("assort_ppm"))
          .localCheckpoint(eager = true)
      } finally und.unpersist()
    }

  /** Link RECIPROCITY of the domain graph — the share of directed
    * inter-domain edges whose REVERSE edge also exists (mutual linking:
    * organic topical neighborhoods reciprocate, link farms and spam
    * shotguns don't — the classic crawl-prior next to PageRank): exact
    * `recip_ppm = 10⁶·|reciprocated| div |E|` over the distinct
    * self-loop-free edge set.
    *
    * Scale shape: ONE (src, dst)-keyed left-semi self-join against the
    * reversed edge set + two 1-row aggregates. Gate `q_reciprocity`.
    */
  def reciprocityDomains(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, _) =>
      val e = edges.filter(col("src") =!= col("dst")).persist()
      try {
        val rev = e.select(col("dst").as("src"), col("src").as("dst"))
        val nR = e.join(rev, Seq("src", "dst"), "left_semi")
          .agg(count(lit(1)).as("n_reciprocated"))
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(nR))
          .select(col("n_edges"), col("n_reciprocated"),
            expr("CASE WHEN n_edges = 0 THEN 0L ELSE " +
              "n_reciprocated * 1000000L div n_edges END").as("recip_ppm"))
          .localCheckpoint(eager = true)
      } finally e.unpersist()
    }

  /** Per-domain ECCENTRICITY / distance profile over the domain graph
    * (out-direction, the crawl-frontier view): within the bounded
    * 6-round horizon ([[GraphOps.allPairsHops]] — the honest bounded-
    * round contract of the walk family), each domain's reached count,
    * total distance (closeness's denominator) and eccentricity (max
    * geodesic — its rows' max/min are the graph's bounded-horizon
    * diameter/radius). Unreached pairs simply don't count — the same
    * convention as [[harmonicCentrality]], which this completes: the
    * harmonic gate aggregates the IN-direction, this the OUT.
    *
    * Scale shape: the K-invariant domain-graph APSP walk (per round one
    * src-keyed join + min-agg), then ONE s-keyed rollup.
    * Gate `q_eccentricity`.
    */
  def eccentricityDomains(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) =>
      GraphOps.drain(GraphOps.allPairsHops(edges, verts)) { hops =>
        val e = hops.where(col("s") =!= col("id")).groupBy("s")
          .agg(count(lit(1)).as("n_reached"), sum("dist").as("dist_sum"),
            max("dist").as("ecc"))
        verts.join(e, verts("id") === e("s"), "left")
          .select(col("id").as("domain"),
            coalesce(col("n_reached"), lit(0L)).as("n_reached"),
            coalesce(col("dist_sum"), lit(0L)).as("dist_sum"),
            coalesce(col("ecc"), lit(0L)).as("ecc"))
          .localCheckpoint(eager = true)
      }
    }.orderBy("domain")

  /** Stress centrality over the domain graph (Shimbel 1953) — the
    * exact-integer sibling of betweenness: for each domain v the number
    * of shortest s→t paths (within [[GraphOps.allPairsGeodesics]]'s
    * 6-round horizon) passing THROUGH v,
    *
    *   stress(v) = Σ_{s ≠ v ≠ t} σ(s,v) · σ(v,t) · [d(s,v)+d(v,t) = d(s,t)]
    *
    * (betweenness divides each term by σ(s,t) — a fraction the bit-exact
    * oracle contract can't carry; the UNDIVIDED path count is the same
    * ranking signal and stays in integers). All σ come from one geodesic
    * walk; the triple condition is two joins of the V²-bounded frame on
    * its middle/endpoint keys — V³ candidate rows, valid ONLY on the
    * K-bounded registered-domain graph (the [[hitsDomains]] scoping
    * rule). Overflow is refused loudly: σ_max²·V² must fit Long (an
    * explicit require — the [[GraphOps.hits]] posture), never wrapped.
    * Isolated domains emit 0 via the verts left join.
    *
    * Scale shape: per round one src-keyed join + sum; the stress rollup
    * is two keyed joins + one id-keyed agg over K-bounded frames; fact
    * volume only enters through the link-extraction leg.
    * Gate `q_stress_centrality`.
    */
  def stressCentrality(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) =>
      GraphOps.drain(GraphOps.allPairsGeodesics(edges, verts)) { geo =>
        val bounds = geo.agg(max("sigma"), count(lit(1))).head
        val (sigMax, nPairs) = (bounds.getLong(0), bounds.getLong(1))
        require(sigMax <= Long.MaxValue / math.max(sigMax, 1L) /
          math.max(nPairs, 1L),
          s"stressCentrality: sigma_max=$sigMax over $nPairs reachable " +
            "pairs cannot be summed in Long without wrap — graph too " +
            "dense for the exact integer fold, refusing")
        val g1 = geo.where(col("dist") > 0).select(col("s"),
          col("id").as("v"), col("dist").as("d1"), col("sigma").as("s1"))
        val g2 = geo.where(col("dist") > 0).select(col("id").as("t"),
          col("s").as("v"), col("dist").as("d2"), col("sigma").as("s2"))
        val g3 = geo.select(col("s"), col("id").as("t"),
          col("dist").as("d3"))
        val through = g1.join(g2, "v")
          .join(g3, Seq("s", "t"))
          .where(col("d1") + col("d2") === col("d3"))
          .groupBy("v")
          .agg(count(lit(1)).as("n_routes"),
            sum(expr("s1 * s2")).as("stress"))
        verts.join(through, col("id") === col("v"), "left")
          .select(col("id").as("domain"),
            coalesce(col("n_routes"), lit(0L)).as("n_routes"),
            coalesce(col("stress"), lit(0L)).as("stress"))
          .localCheckpoint(eager = true)
      }
    }.orderBy(col("stress").desc, col("domain"))

  /** Authority-weighted source mixing — the provenance composition the
    * link graph exists for (RefinedWeb-style domain weighting): each
    * registered domain's sampling quota scales with its PageRank mass,
    * `quota = 1 + (rank_fp · 100) div 1e12` (exact integer — 1 doc for a
    * no-authority domain, up to 101 if one domain held ALL mass), and
    * documents are drawn per domain by the same deterministic md5
    * permutation as every mix operator. One broadcast join against the
    * domain-sized rank table + one domain-keyed WindowGroupLimit under the
    * constant rank bound — the corpus is never shuffled twice.
    */
  def authorityMix(s: SparkSession, d: String): DataFrame =
    authorityMixWith(s, d, domainRanks(s, d))

  /** Authority-ranked dedup survivor selection — the composition the two
    * families exist for: near-dup clusters (minhash pairs → connected
    * components, the [[TextOps.dedupBestOfCluster]] machinery) keep the
    * member whose REGISTERED DOMAIN carries the highest PageRank mass
    * (tie → lowest doc_id), instead of the longest member. This is the
    * provenance-aware keep rule crawl pipelines actually want: among N
    * copies of a page, keep the authoritative origin, drop the
    * scraper mirrors.
    *
    * Scale shape: the CC cost is the dedup family's (banded pairs, never
    * all-pairs); the authority decoration is ONE broadcast join against
    * the domain-sized rank table + the per-cluster WindowGroupLimit the
    * best-of-cluster rule already pays. Gate `q_authority_survivors`: the
    * oracle replays the closure from the materialized pair set AND the
    * 10-round exact-integer walk, then the same argmax.
    */
  def authoritySurvivors(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.OracleInputs.checkpoint(
      TextOps.minhashCandidatePairs(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      d, "text_pairs_auth")
    val docs = t(s, d, "documents")
    val comps = GraphOps.connectedComponents(pairs,
      docs.select(col("doc_id").as("id")))
    val ranks = domainRanks(s, d).select(col("domain"), col("rank_fp"))
    // page domains are always walk vertices, so the left join's 0-fill is
    // for form; it becomes load-bearing the day a doc set outgrows the
    // crafted graph (new domains must rank lowest, never drop)
    val da = UrlOps.withNormColumns(docs.withColumn("url", UrlOps.craftedUrl))
      .select(col("doc_id"), col("registered_domain").as("domain"))
      .join(broadcast(ranks), Seq("domain"), "left")
      .select(col("doc_id"), col("domain"),
        coalesce(col("rank_fp"), lit(0L)).as("rank_fp"))
    val joined = comps.join(da, comps("id") === da("doc_id"))
      .select(col("cluster_id"), col("id"), col("domain"), col("rank_fp"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("rank_fp").desc, col("id").asc)
    val reps = joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("cluster_id"), col("id").as("canonical_id"))
    joined.join(reps, "cluster_id")
      .select(col("id").as("doc_id"), col("domain"), col("rank_fp"),
        col("canonical_id"),
        (col("id") === col("canonical_id")).cast("int").as("survives"))
      .orderBy("doc_id")
  }

  private def authorityMixWith(s: SparkSession, d: String,
                               ranks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotas = ranks.select(col("domain"),
      (lit(1L) + expr("(rank_fp * 100) div 1000000000000")).as("quota"))
    val docs = UrlOps.withNormColumns(
        t(s, d, "documents").withColumn("url", UrlOps.craftedUrl))
      .select(col("doc_id"), col("registered_domain").as("domain"))
    val w = Window.partitionBy("domain")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    docs.join(broadcast(quotas), "domain")
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= 101 && col("mix_rank") <= col("quota"))
      .select("domain", "doc_id", "quota", "mix_rank")
      .orderBy("domain", "mix_rank")
  }

  // ---- stored-authority lifecycle (the build/serve/refresh posture every
  // model family carries: the walk is paid by the scheduled rebuild, the
  // hot paths join the domain-sized stored table) ----

  val AuthorityTable = "link_domain_authority"

  /** Run the full extraction + walk and store (domain, n_out, n_in,
    * rank_fp) — the scheduled-rebuild half. PageRank has no exact
    * incremental form (one new edge can move every rank), so authority is
    * a REBUILD family like IVF centroids, not an append family like the
    * count models; between rebuilds serving uses the frozen table.
    */
  def buildDomainAuthority(s: SparkSession, d: String, db: String): Unit =
    graft.store.Warehouse.saveModel(domainRanks(s, d), db, AuthorityTable)

  /** Per-document authority serve: page domain (per-row derivation) joined
    * against the STORED broadcast authority table — zero training jobs,
    * zero iterations in the query path (plan-asserted in the spec).
    * Domains the stored walk never saw (new since the rebuild) surface
    * with authority 0, never drop.
    */
  def docAuthorityFromModel(s: SparkSession, d: String,
                            db: String): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db) // cross-session rebuild visibility
    val auth = s.table(s"`$db`.`$AuthorityTable`")
      .select(col("domain"), col("rank_fp"))
    UrlOps.withNormColumns(
        t(s, d, "documents").withColumn("url", UrlOps.craftedUrl))
      .select(col("doc_id"), col("registered_domain").as("domain"))
      .join(broadcast(auth), Seq("domain"), "left")
      .select(col("doc_id"), col("domain"),
        coalesce(col("rank_fp"), lit(0L)).as("rank_fp"))
      .orderBy("doc_id")
  }

  /** [[authorityMix]] served from the stored table — bit-equal to the
    * in-query gate for an unchanged corpus (spec-asserted), without
    * re-running the walk.
    */
  def authorityMixFromModel(s: SparkSession, d: String,
                            db: String): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db)
    authorityMixWith(s, d, s.table(s"`$db`.`$AuthorityTable`"))
  }

  /** Registry gate for the streaming maintenance invariant: build the
    * fact table from the front 2/3 of the corpus, fold the back 1/3
    * through [[graft.pipeline.LinkIngest.linkIngestBatch]], output the
    * stored authority table — the oracle replays the walk over the FULL
    * corpus declaratively, so a green row proves streamed state ≡ a
    * from-scratch build.
    */
  def linkGraphIncrement(s: SparkSession, d: String): DataFrame = {
    val db = "graft_links_inc_q"
    graft.pipeline.LinkIngest.buildLinkFacts(s,
      IncrementalClusters.corpusDocsRange(s, d), db)
    graft.pipeline.LinkIngest.linkIngestBatch(s, "gate",
      IncrementalClusters.batchDocsRange(s, d), db)
    s.table(s"`$db`.`$AuthorityTable`")
      .orderBy(col("rank_fp").desc, col("domain"))
  }

  /** Modularity tallies of the [[communitiesLpa]] partition over the
    * domain graph ([[GraphOps.modularityOver]]) — the gate that scores
    * the LPA communities instead of merely listing them: a community
    * whose `contrib_num` ≤ 0 is no denser than the configuration-model
    * chance baseline (the link-farm / crawl-cluster adjudicator). Same
    * [[LpaIters]] synchronous rounds, so the oracle replays label
    * assignment AND score. Gate `q_modularity`.
    */
  def modularityCommunities(s: SparkSession, d: String): DataFrame =
    withDomainGraph(s, d) { (_, edges, verts) =>
      GraphOps.drain(
          GraphOps.labelPropagation(edges, verts, LpaIters)) { labels =>
        GraphOps.modularityOver(edges, labels)
      }
    }.orderBy("community")

  /** Cron posture: re-extract, re-walk, overwrite the stored table. */
  def authorityRebuildEntry(id: String, cronExpr: String, d: String,
                            db: String): graft.pipeline.ScheduleRunner.Entry =
    graft.pipeline.ScheduleRunner.Entry(id,
      graft.pipeline.CronSchedule.parse(cronExpr),
      (s, _) => buildDomainAuthority(s, d, db),
      name = "domain_authority_rebuild", target = s"$db.$AuthorityTable",
      tags = Map("pipeline" -> "web-provenance"))
}
