package graft

import org.apache.spark.sql.functions._
import graft.ops.{GraphOps, LinkOps}

/** Link-graph laws: anchor extraction + relative-reference resolution,
  * exact integer PageRank hand-checks (fixed point on a cycle, dangling
  * redistribution, mass conservation), and fixture-level structure.
  */
class LinkOpsSpec extends SparkSpec {

  import spark.implicits._

  private val Scale = 1000000000000L

  test("extraction: hrefs, anchors, relative resolution, external flag") {
    val pages = Seq((1L,
      "https://www.Ex.COM:443/a",
      """<html><body><a href="/about">About ex</a>""" +
        """<a href="HTTPS://Other.ORG/p/1?utm_x=1&q=2">read other</a>""" +
        """<a href="https://sub.ex.com/deep/">deep</a></body></html>"""))
      .toDF("doc_id", "url", "html")
    val out = LinkOps.linkExtractFor(pages).collect()
      .map(r => r.getAs[String]("href") -> r).toMap
    assert(out.size == 3)
    // relative: joined to the page authority, then normalized (www + :443
    // stripped, host lowered)
    val rel = out("/about")
    assert(rel.getAs[String]("link_url") == "https://ex.com/about")
    assert(rel.getAs[String]("page_domain") == "ex.com")
    assert(rel.getAs[Int]("is_external") == 0)
    assert(rel.getAs[String]("anchor") == "About ex")
    // absolute external: tracking param dropped, surviving param kept
    val ext = out("HTTPS://Other.ORG/p/1?utm_x=1&q=2")
    assert(ext.getAs[String]("link_url") == "https://other.org/p/1?q=2")
    assert(ext.getAs[String]("target_domain") == "other.org")
    assert(ext.getAs[Int]("is_external") == 1)
    // subdomain of the page's registered domain is INTERNAL
    val sub = out("https://sub.ex.com/deep/")
    assert(sub.getAs[String]("target_domain") == "ex.com")
    assert(sub.getAs[Int]("is_external") == 0)
    assert(sub.getAs[String]("link_url") == "https://sub.ex.com/deep")
  }

  private def ranksOf(edges: Seq[(String, String)], verts: Seq[String],
                      iters: Int): Map[String, Long] =
    GraphOps.pagerank(edges.toDF("src", "dst"), verts.toDF("id"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("pagerank: a 2-cycle is an exact fixed point of the recurrence") {
    // n=2: r0 = 5e11 each; contrib = r (outdeg 1); no dangling;
    // r' = 75e9 + (85 * 5e11) div 100 = 75e9 + 425e9 = 5e11 — unchanged
    val r = ranksOf(Seq("a" -> "b", "b" -> "a"), Seq("a", "b"), 10)
    assert(r == Map("a" -> Scale / 2, "b" -> Scale / 2))
  }

  test("pagerank: dangling mass redistributes exactly (hand-computed)") {
    // a -> b, b dangling, n=2. Round 1: dang = r(b) = 5e11, dang div n =
    // 25e10; r'(a) = 75e9 + (85 * 25e10) div 100      = 287_500_000_000
    //         r'(b) = 75e9 + (85 * (5e11+25e10)) div 100 = 712_500_000_000
    val r = ranksOf(Seq("a" -> "b"), Seq("a", "b"), 1)
    assert(r("a") == 287500000000L, s"got ${r("a")}")
    assert(r("b") == 712500000000L, s"got ${r("b")}")
    assert(r("a") + r("b") == Scale) // exact conservation here
  }

  test("pagerank: isolated vertex holds base + teleport share only") {
    // c has no edges at all: contrib = 0, it only ever receives the base
    // plus its share of the dangling mass it itself emits
    val r = ranksOf(Seq("a" -> "b"), Seq("a", "b", "c"), 3)
    assert(r("b") > r("a") && r("a") > 0 && r("c") > 0)
    assert(r("c") < Scale / 3) // strictly below the uniform start
  }

  test("pagerank domains: mass conserved within truncation, sinks ranked") {
    val rows = LinkOps.pagerankDomains(spark, sf).collect()
    val n = rows.length.toLong
    assert(n > 20, "both suffix families must appear as vertices")
    val total = rows.map(_.getAs[Long]("rank_fp")).sum
    // every truncating div loses < 1 unit per vertex per round (plus the
    // damp div): allow 3 units × vertices × rounds of slack
    assert(total <= Scale && total >= Scale - 3 * n * 10,
      s"mass drifted: $total vs $Scale")
    // the crafted graph has dangling .co.uk sinks with inlinks — they must
    // exist and hold more than an isolated vertex would
    val sinks = rows.filter(r => r.getAs[Long]("n_out") == 0 &&
      r.getAs[Long]("n_in") > 0)
    assert(sinks.nonEmpty, "crafting must produce dangling sinks")
    // output order is rank-desc with domain tie-break
    val pairs = rows.map(r =>
      (r.getAs[Long]("rank_fp"), r.getAs[String]("domain")))
    assert(pairs.sameElements(pairs.sortBy { case (rf, d) => (-rf, d) }))
  }

  test("anchor text: top-3 per domain, count-desc term-asc, external only") {
    val rows = LinkOps.anchorText(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("target_domain")).foreach { case (_, g) =>
      assert(g.length <= 3)
      assert(g.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to g.length))
      val ordered = g.sortBy(_.getAs[Int]("rnk"))
        .map(r => (-r.getAs[Long]("n_mentions"), r.getAs[String]("term")))
      assert(ordered.sameElements(ordered.sorted), "tie-break violated")
    }
    // internal 'About srcN' anchors must not leak in
    assert(!rows.exists(_.getAs[String]("term") == "About"))
  }

  test("hits: two-hub one-authority graph reaches its exact fixed point") {
    // a→b, c→b at scale 1e6: round 1 gives a(b)=1e6 (all authority mass),
    // h(a)=h(c)=500000 (hub mass split), h(b)=a(a)=a(c)=0 — and that is a
    // fixed point of the normalized recurrence, so 5 rounds land there
    val out = GraphOps.hits(
        Seq("a" -> "b", "c" -> "b").toDF("src", "dst"),
        Seq("a", "b", "c").toDF("id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a") == (500000L, 0L))
    assert(out("c") == (500000L, 0L))
    assert(out("b") == (0L, 1000000L))
  }

  test("hits domains: sinks are pure authorities, mass renormalized") {
    val degrees = LinkOps.pagerankDomains(spark, sf).collect()
      .map(r => r.getAs[String]("domain") ->
        (r.getAs[Long]("n_out"), r.getAs[Long]("n_in"))).toMap
    val rows = LinkOps.hitsDomains(spark, sf).collect()
    assert(rows.length == degrees.size)
    val n = rows.length
    val (hubs, auths) = (rows.map(_.getAs[Long]("hub_fp")),
      rows.map(_.getAs[Long]("auth_fp")))
    // each half-step renormalizes to 1e6 with ≤1 unit truncation/vertex
    assert(hubs.sum <= 1000000L && hubs.sum >= 1000000L - n)
    assert(auths.sum <= 1000000L && auths.sum >= 1000000L - n)
    rows.foreach { r =>
      val (nOut, nIn) = degrees(r.getAs[String]("domain"))
      if (nOut == 0) assert(r.getAs[Long]("hub_fp") == 0L,
        s"${r.getAs[String]("domain")} is a sink but scored as a hub")
      if (nIn == 0) assert(r.getAs[Long]("auth_fp") == 0L)
    }
    // the crafted graph is non-degenerate on both sides
    assert(hubs.count(_ > 0) > 1 && auths.count(_ > 0) > 1)
  }

  test("authority mix: quota tracks rank exactly, draws bounded by quota") {
    val ranks = LinkOps.pagerankDomains(spark, sf).collect()
      .map(r => r.getAs[String]("domain") -> r.getAs[Long]("rank_fp")).toMap
    val rows = LinkOps.authorityMix(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDomain = rows.groupBy(_.getAs[String]("domain"))
    byDomain.foreach { case (dom, g) =>
      val quota = g.head.getAs[Long]("quota")
      assert(quota == 1L + ranks(dom) * 100 / Scale, dom)
      assert(g.map(_.getAs[Int]("mix_rank")).max <= quota)
      assert(g.map(_.getAs[Int]("mix_rank")).sorted
        .sameElements(1 to g.length), s"$dom ranks not dense")
    }
    // the weighting is non-vacuous: quotas differ across domains
    assert(byDomain.values.map(_.head.getAs[Long]("quota")).toSet.size > 1)
  }

  test("stored authority: walk-free serve, mix bit-equal to the gate") {
    val db = "graft_auth_spec"
    LinkOps.buildDomainAuthority(spark, sf, db)
    // the stored-table mix must land on exactly the in-query gate rows
    val gate = LinkOps.authorityMix(spark, sf).collect().map(_.toString)
    val served = LinkOps.authorityMixFromModel(spark, sf, db)
      .collect().map(_.toString)
    assert(served.sameElements(gate))
    // per-doc authority: one corpus scan (the page-domain derivation),
    // model side off the stored table — re-running the walk would scan
    // documents again for the link extraction
    val auth = LinkOps.docAuthorityFromModel(spark, sf, db)
    val plan = auth.queryExecution.executedPlan.toString
    assert(plan.sliding("documents.parquet".length)
      .count(_ == "documents.parquet") == 1,
      "authority serve re-ran the extraction/walk")
    assert(plan.contains(LinkOps.AuthorityTable))
    val rows = auth.collect()
    assert(rows.length ==
      Tables.t(spark, sf, "documents").count().toInt)
    val ranks = LinkOps.pagerankDomains(spark, sf).collect()
      .map(r => r.getAs[String]("domain") -> r.getAs[Long]("rank_fp")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("rank_fp") ==
        ranks.getOrElse(r.getAs[String]("domain"), 0L))
    }
  }

  test("authority survivors: canonical is the max-authority member") {
    val out = LinkOps.authoritySurvivors(spark, sf).collect()
    val byCluster = out.groupBy(_.getAs[Long]("canonical_id"))
    assert(byCluster.nonEmpty)
    // non-vacuous: the fixture's near-dups form at least one real cluster
    assert(byCluster.exists(_._2.length > 1))
    byCluster.foreach { case (canon, members) =>
      // exactly one survivor per cluster, and it is the canonical
      val survivors = members.filter(_.getAs[Int]("survives") == 1)
      assert(survivors.length == 1)
      assert(survivors.head.getAs[Long]("doc_id") == canon)
      // keep rule: no member outranks the canonical (rank desc, id asc)
      val c = members.find(_.getAs[Long]("doc_id") == canon).get
      val ck = (-c.getAs[Long]("rank_fp"), c.getAs[Long]("doc_id"))
      members.foreach { m =>
        val mk = (-m.getAs[Long]("rank_fp"), m.getAs[Long]("doc_id"))
        assert(Ordering[(Long, Long)].lteq(ck, mk))
      }
    }
  }

  private def hopsOf(edges: Seq[(String, String)], verts: Seq[String],
                     seeds: Seq[String], iters: Int): Map[String, Long] =
    GraphOps.bfsHops(edges.toDF("src", "dst"), verts.toDF("id"),
        seeds.toDF("id"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("bfs hops: chain distances, round cap, shortest path wins") {
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    // 2 rounds reach exactly 2 hops; d stays unreached
    assert(hopsOf(chain, Seq("a", "b", "c", "d"), Seq("a"), 2) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> -1L))
    // 6 rounds converge past the diameter; extra rounds are no-ops
    assert(hopsOf(chain, Seq("a", "b", "c", "d"), Seq("a"), 6) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    // two paths to c: the direct edge (1 hop) beats the a→b→c detour
    assert(hopsOf(Seq("a" -> "b", "b" -> "c", "a" -> "c"),
      Seq("a", "b", "c"), Seq("a"), 6)("c") == 1L)
    // a seed outside the vertex set is ignored, not invented
    val withGhost = hopsOf(Seq("a" -> "b"), Seq("a", "b"), Seq("a", "z"), 2)
    assert(withGhost == Map("a" -> 0L, "b" -> 1L))
  }

  test("domain hops: seeds at 0, frontier consistent, -1 truly unreached") {
    val edges = LinkOps.craftedLinksOver(graft.Tables.t(spark, sf, "documents"))
      .filter(col("is_external") === 1)
      .select(col("page_domain").as("src"), col("target_domain").as("dst"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1))
    val dist = LinkOps.domainHops(spark, sf).collect()
      .map(r => r.getAs[String]("domain") -> r.getAs[Long]("dist")).toMap
    val seeds = edges.map(_._1).filter(_.endsWith(".co.uk")).toSet
    // every .co.uk PAGE domain is a seed at distance 0 — and on this
    // fixture some .co.uk pages do emit promo links, so seeds exist
    assert(seeds.nonEmpty && seeds.forall(dist(_) == 0L))
    // promo targets sit one hop out
    assert(dist.values.count(_ == 1L) > 0)
    val inEdges = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    dist.foreach { case (v, dv) =>
      if (dv > 0)
        // consistency: a vertex at k ≥ 1 has an in-neighbor at exactly k-1
        assert(inEdges(v).exists(u => dist(u) == dv - 1), s"$v at $dv")
      else if (dv == -1L)
        // unreached means NO in-neighbor inside the 6-round horizon
        assert(inEdges.getOrElse(v, Array.empty[String]).forall(u =>
          dist(u) == -1L || dist(u) >= 6L), s"$v should be reachable")
    }
  }

  test("link plans stay join-sane (no cartesian, no BNLJ)") {
    Seq(LinkOps.linkExtract(spark, sf), LinkOps.anchorText(spark, sf))
      .foreach { df =>
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"), p)
      }
  }

  test("LPA: bridged triangles split into two communities (CC would " +
      "fuse them) — hand-traced synchronous rounds with min tie-break") {
    import spark.implicits._
    // triangles {a,b,c} and {x,y,z} joined by bridge c-x; the 4-round
    // deterministic trace lands abc→'a', xyz→'c'
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
      .toDF("src", "dst")
    val verts = Seq("a", "b", "c", "x", "y", "z").toDF("id")
    val got = graft.ops.GraphOps.labelPropagation(edges, verts, iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"), got)
    // fixture gate: every domain labeled, sizes sum to the vertex count
    val fx = graft.ops.LinkOps.communitiesLpa(spark, sf).collect()
    assert(fx.nonEmpty)
    val perComm = fx.groupBy(_.getAs[String]("community"))
    for ((_, rows) <- perComm)
      assert(rows.map(_.getAs[Long]("community_size")).distinct.toSeq ==
        Seq(rows.length.toLong))
  }

  test("k-core peel: hand-traced rounds, condemning degrees, fixpoint") {
    import spark.implicits._
    def run(edges: Seq[(String, String)], verts: Seq[String],
            k: Int, rounds: Int) =
      graft.ops.GraphOps.kcorePeel(edges.toDF("src", "dst"),
          verts.toDF("id"), k, rounds)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    // K4 + pendant e-a, k=3: e peels round 1 at degree 1; K4 survives
    val k4e = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("e", "a"))
    assert(run(k4e, Seq("a", "b", "c", "d", "e"), 3, 4) === Seq(
      ("a", -1L, 3L), ("b", -1L, 3L), ("c", -1L, 3L), ("d", -1L, 3L),
      ("e", 1L, 1L)))
    // path p1-p2-p3-p4, k=2: ends peel round 1, middle peels round 2 at
    // its post-peel degree 1; nothing survives. Isolated vertex: round 1
    // at degree 0.
    val path = Seq(("p1", "p2"), ("p2", "p3"), ("p3", "p4"))
    assert(run(path, Seq("p1", "p2", "p3", "p4", "iso"), 2, 3) === Seq(
      ("iso", 1L, 0L), ("p1", 1L, 1L), ("p2", 2L, 1L), ("p3", 2L, 1L),
      ("p4", 1L, 1L)))
    // bounded-round honesty: 1 round leaves the middle as survivors
    // whose final degree (1) is below k — the documented contract
    assert(run(path, Seq("p1", "p2", "p3", "p4"), 2, 1) === Seq(
      ("p1", 1L, 1L), ("p2", -1L, 1L), ("p3", -1L, 1L), ("p4", 1L, 1L)))
  }

  test("k-core fixture gate: removed rounds bounded, survivor mesh holds k") {
    val fx = graft.ops.LinkOps.kcoreDomains(spark, sf).collect()
    assert(fx.nonEmpty)
    val rounds = fx.map(_.getAs[Long]("removed_round"))
    assert(rounds.forall(r => r == -1L ||
      (r >= 1L && r <= graft.ops.LinkOps.KCoreRounds)))
    // every removed vertex was condemned by a sub-k degree
    assert(fx.filter(_.getAs[Long]("removed_round") > 0)
      .forall(_.getAs[Long]("final_deg") < graft.ops.LinkOps.KCoreK))
  }

  test("weighted hops: min-plus relaxation beats hop count; refusals") {
    import spark.implicits._
    // a->b (10), b->c (1), a->c (100): cheapest a->c path is THROUGH b
    val edges = Seq(("a", "b", 10L), ("b", "c", 1L), ("a", "c", 100L))
      .toDF("src", "dst", "w")
    val verts = Seq("a", "b", "c", "d").toDF("id")
    val seeds = Seq("a").toDF("id")
    val got = graft.ops.GraphOps
      .weightedHops(edges, verts, seeds, iters = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 0L, "b" -> 10L, "c" -> 11L, "d" -> -1L))
    // negative weights refuse loudly
    val e = intercept[IllegalArgumentException] {
      graft.ops.GraphOps.weightedHops(
        Seq(("a", "b", -1L)).toDF("src", "dst", "w"), verts, seeds, 2)
    }
    assert(e.getMessage.contains("negative"))
  }

  test("personalized pagerank: hand-traced seed teleport; unreachable = 0") {
    import spark.implicits._
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val verts = Seq("a", "b", "c").toDF("id") // c: no edges at all
    val seeds = Seq("a").toDF("id")
    val got = graft.ops.GraphOps
      .pagerankSeeded(edges, verts, seeds, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // r0: a=1e12. r1: a=base=1.5e11 (b dangles with 0 mass);
    //   b=85%*1e12=8.5e11. r2: dang=r1(b)=8.5e11 teleports to the seed:
    //   a=1.5e11+85%*8.5e11=8.725e11; b=85%*r1(a)=1.275e11. c: 0 always.
    assert(got === Map("a" -> 872500000000L, "b" -> 127500000000L,
      "c" -> 0L))
  }

  test("triangles: K4 is all-triangles (gcc = 1e6), paths and stars are " +
      "triangle-free, duplicate/reversed/self edges collapse") {
    import spark.implicits._
    def stats(edges: Seq[(String, String)]) =
      LinkOps.trianglesOver(edges.toDF("src", "dst")).head()
    // K4: 4 triangles, 12 wedges, complete graph → gcc exactly 1e6
    val k4 = stats(for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b
    } yield (a, b))
    assert((k4.getAs[Long]("n_vertices"), k4.getAs[Long]("n_edges"),
      k4.getAs[Long]("n_wedges"), k4.getAs[Long]("n_triangles"),
      k4.getAs[Long]("gcc_ppm")) == ((4L, 6L, 12L, 4L, 1000000L)), k4)
    // path a-b-c-d: 2 wedges, 0 triangles
    val path = stats(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert(path.getAs[Long]("n_triangles") == 0L
      && path.getAs[Long]("n_wedges") == 2L)
    // hub star: high-degree pivot contributes wedges but no triangles;
    // reversed duplicates, self loops and double edges all collapse
    val star = stats(Seq(("h", "x1"), ("x1", "h"), ("h", "x2"), ("h", "x2"),
      ("h", "x3"), ("h", "x4"), ("h", "x5"), ("h", "h")))
    assert(star.getAs[Long]("n_edges") == 5L
      && star.getAs[Long]("n_wedges") == 10L
      && star.getAs[Long]("n_triangles") == 0L)
    // one closing edge turns exactly one wedge into a triangle
    val tri = stats(Seq(("h", "x1"), ("h", "x2"), ("x1", "x2"), ("h", "x3")))
    assert(tri.getAs[Long]("n_triangles") == 1L)
  }

  test("all-pairs hops/geodesics: diamond distances, path counts, freeze " +
    "at first discovery") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("src", "dst")
    val verts = Seq("a", "b", "c", "d", "e").toDF("id")
    val hops = GraphOps.drain(GraphOps.allPairsHops(edges, verts, 4)) { h =>
      h.collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    assert(hops(("a", "d")) === 2L)
    assert(hops(("a", "b")) === 1L)
    assert(hops(("e", "e")) === 0L)
    assert(!hops.contains(("b", "a")), "directed: no back edge")
    assert(!hops.contains(("a", "e")), "isolated vertex unreachable")

    val geo = GraphOps.drain(GraphOps.allPairsGeodesics(edges, verts, 4)) { g =>
      g.collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    }
    assert(geo(("a", "d")) === ((2L, 2L)), "two shortest a->d paths")
    assert(geo(("a", "b")) === ((1L, 1L)))
    assert(geo(("a", "a")) === ((0L, 1L)))

    // shortcut triangle: the length-2 a->c walk must NOT count once the
    // direct edge froze (dist, sigma) at round 1
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val vs = Seq("a", "b", "c").toDF("id")
    val g2 = GraphOps.drain(GraphOps.allPairsGeodesics(tri, vs, 4)) { g =>
      g.collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    }
    assert(g2(("a", "c")) === ((1L, 1L)))
  }
}
