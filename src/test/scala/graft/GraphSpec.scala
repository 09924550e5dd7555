package graft

import graft.graph.Graph

/** Graph family: PageRank (integer fixed-point) and degree profile. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pagerank: hub of a star out-ranks leaves, mass is conserved") {
    // undirected star: hub <-> 9 leaves (both directions, no dangling)
    val edges = (1 to 9).flatMap(i => Seq(("hub", s"leaf$i"), (s"leaf$i", "hub")))
      .toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 10)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank12")).toMap
    assert(out.size == 10)
    val hub = out("hub")
    (1 to 9).foreach(i => assert(hub > 3 * out(s"leaf$i"), s"leaf$i out-ranks hub"))
    // no dangling nodes -> total mass stays ~1 (integer-div loss only:
    // ≤ 1 unit per edge contribution + per-node update, per iteration)
    val total = out.values.sum
    assert(math.abs(total - 1000000000000L) < 10L * (18 + 10 + 1),
      s"mass leaked: $total")
    // all leaves are symmetric -> identical ranks
    assert((1 to 9).map(i => out(s"leaf$i")).toSet.size == 1)
  }

  test("pagerank: a directed chain ranks downstream nodes higher") {
    // a -> b -> c -> a cycle plus d -> a feeder: d only gets teleport
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")).toDF("s", "t")
    val out = Graph.pageRank(edges, "s", "t", iters = 20)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Double]("rank")).toMap
    assert(out("a") > out("d") && out("b") > out("d") && out("c") > out("d"))
    assert(out("a") > out("b"), "a gets d's feed on top of the cycle")
  }

  test("personalized pagerank: mass decays with distance from the seed") {
    // undirected chain s - a - b - c, seed {s}
    val und = Seq(("s", "a"), ("a", "b"), ("b", "c"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("s").toDF("node")
    val out = Graph.personalizedPageRank(edges, "src", "dst", seeds, iters = 20)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank12")).toMap
    // note s itself need not top the list: a degree-1 seed funnels ALL
    // its mass to its neighbor (r_a ≈ 1.19·r_s in the fixed point) — the
    // guaranteed shape is decay AWAY from the seed's neighborhood
    assert(out("a") > out("b") && out("b") > out("c"))
    assert(out("s") > out("b"), "seed outranks everything past its neighbor")
    assert(out("c") > 0L, "mass reaches the far end")
    assert(out("s") + out("a") > out("b") + out("c"),
      "mass concentrates in the seed neighborhood (65/35 in the fixed point)")
  }

  test("pagerank = personalized pagerank from every node = weighted pagerank at w = 1") {
    // a duplicated edge (x→y twice) and a dangling node (z: in-edges only)
    val edges = Seq(("x", "y"), ("x", "y"), ("y", "x"), ("y", "z"), ("x", "z"),
      ("w", "x")).toDF("src", "dst")
    def rank12(df: org.apache.spark.sql.DataFrame) = df.select("node", "rank12")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pr = rank12(Graph.pageRank(edges, "src", "dst", iters = 6))
    val every = edges.select($"src".as("node")).union(edges.select($"dst"))
    val ppr = rank12(Graph.personalizedPageRank(edges, "src", "dst", every, iters = 6))
    // the weighted input is the distinct edge set: a duplicate is one
    // edge to pageRank but a summed weight of 2 to pageRankWeighted
    val unit = edges.distinct().withColumn("w",
      org.apache.spark.sql.functions.lit(1L))
    val wpr = rank12(Graph.pageRankWeighted(unit, "src", "dst", "w", iters = 6))
    assert(pr.keySet == Set("w", "x", "y", "z"))
    assert(pr("z") > 0L && pr("w") > 0L)
    assert(ppr == pr, s"ppr $ppr vs pr $pr")
    assert(wpr == pr, s"weighted $wpr vs pr $pr")
  }

  test("pagerank on an empty graph ranks no nodes") {
    val empty = Seq.empty[(String, String)].toDF("s", "d")
    val out = Graph.pageRank(empty, "s", "d", iters = 3)
    assert(out.columns.toSeq == Seq("node", "rank12", "rank"))
    assert(out.collect().isEmpty)
  }

  test("weighted pagerank with no positive weight ranks no nodes") {
    val empty = Seq.empty[(String, String, Long)].toDF("s", "d", "w")
    val zero = Seq(("a", "b", 0L), ("b", "a", -2L)).toDF("s", "d", "w")
    Seq(empty, zero).foreach { e =>
      val out = Graph.pageRankWeighted(e, "s", "d", "w", iters = 3)
      assert(out.columns.toSeq == Seq("node", "rank12", "rank"))
      assert(out.collect().isEmpty)
    }
  }

  test("reciprocity: one mutual pair of three edges; no countable edge is NULL") {
    // a↔b mutual, a→c one-way, plus a duplicate and a self-loop that
    // do not count
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "c"), ("c", "c"))
      .toDF("s", "d")
    val r = Graph.reciprocity(e, "s", "d").collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("m") == 3L && r(0).getAs[Long]("reciprocal") == 2L)
    assert(r(0).getAs[Double]("reciprocity") == 2.0 / 3.0)
    val empty = Seq.empty[(String, String)].toDF("s", "d")
    val loops = Seq(("a", "a"), ("b", "b")).toDF("s", "d")
    Seq(empty, loops).foreach { e =>
      val z = Graph.reciprocity(e, "s", "d").collect()
      assert(z.length == 1)
      assert(z(0).getAs[Long]("m") == 0L && z(0).getAs[Long]("reciprocal") == 0L)
      assert(z(0).isNullAt(z(0).fieldIndex("reciprocity")))
    }
  }

  test("triangles: K4 corners carry 3 each, a pendant and a square carry 0") {
    val k4 = for (a <- Seq("1", "2", "3", "4"); b <- Seq("1", "2", "3", "4")
      if a < b) yield (a, b)
    val square = Seq(("p", "q"), ("q", "r"), ("r", "t"), ("t", "p"))
    val edges = (k4 ++ square :+ ("4", "pend")).toDF("a", "b")
    val out = Graph.triangles(edges, "a", "b")
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("triangles")).toMap
    Seq("1", "2", "3", "4").foreach(v => assert(out(v) == 3L, s"corner $v"))
    (square.flatMap(e => Seq(e._1, e._2)).distinct :+ "pend")
      .foreach(v => assert(out(v) == 0L, s"node $v"))
  }

  test("degrees: out/in counts and the dangling flag") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val out = Graph.degrees(edges, "src", "dst")
      .collect().map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("outDeg"), r.getAs[Long]("inDeg"),
          r.getAs[Boolean]("dangling")))).toMap
    assert(out("a") == ((2L, 0L, false)))
    assert(out("b") == ((1L, 1L, false)))
    assert(out("c") == ((0L, 2L, true)))
  }

  // two triangles {a,b,c} and {x,y,z} joined by one bridge c-x — the
  // canonical two-community fixture the LPA/modularity pair should split
  private def twoTriangles = Seq(
    ("a", "b"), ("b", "c"), ("a", "c"),
    ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))

  test("label propagation: two bridged triangles settle into two communities") {
    val edges = twoTriangles.toDF("u", "v")
    val out = Graph.labelPropagation(edges, "u", "v", iters = 5)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[String]("label")).toMap
    assert(out.size == 6)
    assert(out("a") == out("b") && out("b") == out("c"), "left triangle together")
    assert(out("x") == out("y") && out("y") == out("z"), "right triangle together")
    assert(out("a") != out("x"), "bridge does not merge the communities")
  }

  test("modularity: the two-community labeling beats the everything-together one") {
    val edges = twoTriangles.toDF("u", "v")
    val lpa = Graph.labelPropagation(edges, "u", "v", iters = 5)
    val q2 = Graph.modularity(edges, "u", "v", lpa).collect()(0)
    assert(q2.getAs[Long]("m_edges") == 7L)
    assert(q2.getAs[Long]("n_communities") == 2L)
    assert(q2.getAs[Double]("q") > 0.3, s"expected community structure, got $q2")
    val one = lpa.select(lpa("node"),
      org.apache.spark.sql.functions.lit("all").as("label"))
    val q1 = Graph.modularity(edges, "u", "v", one).collect()(0)
    assert(q1.getAs[Double]("q") == 0.0, "single community has Q exactly 0")
    assert(q2.getAs[Double]("q") > q1.getAs[Double]("q"))
  }

  test("hits: authorities and hubs separate on a bipartite fan") {
    // h1,h2,h3 all point to auth; h1 also points to a stray leaf
    val edges = Seq(("h1", "auth"), ("h2", "auth"), ("h3", "auth"),
      ("h1", "leaf")).toDF("s", "t")
    val out = Graph.hits(edges, "s", "t", iters = 5)
      .collect().map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("hub6"), r.getAs[Long]("auth6")))).toMap
    assert(out("auth")._2 == 1000000L, "auth is the max authority")
    assert(out("h1")._1 == 1000000L, "h1 (two targets) is the max hub")
    assert(out("h2")._1 < out("h1")._1 && out("h2")._1 > 0L)
    assert(out("auth")._1 == 0L, "auth points at nothing")
    assert(out("h1")._2 == 0L, "nothing points at h1")
  }

  test("kcore: peel rounds strip the pendant chain, keep the K4") {
    // K4 core with a pendant path 4-p1-p2: k=2 peels p2 in round 1,
    // p1 in round 2; the K4 survives with core degree 3
    val k4 = for (a <- Seq("1", "2", "3", "4"); b <- Seq("1", "2", "3", "4")
      if a < b) yield (a, b)
    val edges = (k4 ++ Seq(("4", "p1"), ("p1", "p2"))).toDF("a", "b")
    val out = Graph.kcore(edges, "a", "b", k = 2, rounds = 3)
      .collect().map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("peel_round"), r.getAs[Boolean]("alive"),
          r.getAs[Long]("core_deg")))).toMap
    assert(out("p2") == ((1L, false, 0L)))
    assert(out("p1") == ((2L, false, 0L)))
    Seq("1", "2", "3", "4").foreach(v => assert(out(v) == ((-1L, true, 3L)), s"$v"))
  }

  test("linkpred: wedge endpoints get CN/jaccard/adamic-adar, edges excluded") {
    // path a-w-b plus an edge a-c: (a,b) is the only two-hop non-edge
    // through w; scores are exact
    val edges = Seq(("a", "w"), ("w", "b"), ("a", "c")).toDF("u", "v")
    val rows = Graph.linkPredict(edges, "u", "v").collect()
    val byPair = rows.map(r => (r.getAs[String]("a"), r.getAs[String]("b")) -> r).toMap
    val ab = byPair(("a", "b"))
    assert(ab.getAs[Long]("cn") == 1L)
    assert(ab.getAs[Long]("da") == 2L && ab.getAs[Long]("db") == 1L)
    assert(math.abs(ab.getAs[Double]("jaccard") - 0.5) < 1e-9)
    // deg(w)=2 -> 1/ln 2 = 1.442695 at 6dp fixed point
    assert(math.abs(ab.getAs[Double]("adamic_adar") - 1.442695) < 1e-6)
    // (c,w): two-hop through a
    assert(byPair.contains(("c", "w")))
    assert(rows.length == 2)
    assert(!byPair.contains(("a", "w")), "existing edges excluded")
  }

  test("weighted pagerank: heavy edge pulls rank toward its target") {
    // hub sends 9× the mass to "heavy" vs "light"; both directions so no
    // dangling nodes
    val und = Seq(("hub", "heavy", 9L), ("hub", "light", 1L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val out = Graph.pageRankWeighted(edges, "src", "dst", "w", iters = 10)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank12")).toMap
    // teleport mass floors the light node: the fixed-point ratio is
    // ~4.8, not the raw 9:1 edge ratio
    assert(out("heavy") > 4 * out("light"),
      s"9:1 weights should separate ranks: $out")
    assert(out("hub") > out("heavy"), "hub receives everything back")
  }

  test("connected components: string ids, two components, min label") {
    val edges = Seq(("b", "a"), ("c", "b"), ("y", "z"), ("x", "y"))
      .toDF("s", "t")
    val out = Graph.connectedComponents(edges, "s", "t")
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[String]("component")).toMap
    assert(Seq("a", "b", "c").forall(out(_) == "a"))
    assert(Seq("x", "y", "z").forall(out(_) == "x"))
  }

  test("bipartite projection: co-occurrence counts, hot user capped") {
    // u1 touches {a,b}, u2 {a,b,c}, hot touches everything (capped out)
    val edges = Seq(("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b"),
      ("u2", "c")) ++ Seq("a", "b", "c", "d", "e").map(("hot", _))
    val out = Graph.project(edges.toDF("u", "i"), "u", "i", maxDeg = 4)
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
        r.getAs[Long]("cooc")).toMap
    assert(out(("a", "b")) == 2L)
    assert(out(("a", "c")) == 1L && out(("b", "c")) == 1L)
    assert(!out.contains(("a", "d")), "hot user's pairs are capped out")
    assert(out.size == 3)
  }

  test("random walks: deterministic, edge-following, full coverage") {
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    val edges = und.toDF("s", "t")
    def run() = Graph.randomWalks(edges, "s", "t", walksPerNode = 2,
      walkLen = 3, salt = "w").collect()
      .map(r => (r.getAs[String]("start"), r.getAs[Long]("walk"),
        r.getAs[Long]("step")) -> r.getAs[String]("node")).toMap
    val w1 = run()
    assert(w1 == run(), "hash-driven walks replay identically")
    assert(w1.size == 4 * 2 * 4, "every (start, walk) has steps 0..3")
    // every step follows a real edge
    val adjacent = (und ++ und.map(_.swap)).toSet
    for (start <- Seq("a", "b", "c", "d"); wk <- 0L to 1L; st <- 1L to 3L)
      assert(adjacent((w1((start, wk, st - 1)), w1((start, wk, st)))),
        s"step $st of ($start,$wk) is not an edge")
  }

  test("assortativity: a star is maximally disassortative") {
    val edges = (1 to 5).map(i => ("hub", s"l$i")).toDF("u", "v")
    val r = Graph.assortativity(edges, "u", "v").collect()(0)
    assert(r.getAs[Long]("m") == 5L)
    assert(r.getAs[Double]("assortativity") < -0.999,
      s"star should be ~-1, got $r")
  }

  test("transitivity: triangle-with-tail counts and 3T/W ratio") {
    // triangle a-b-c + tail c-d-e: T=1, wedges = 1+1+3+1 = 6 → C = 1/2
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
      .toDF("u", "v")
    val r = Graph.transitivity(edges, "u", "v").collect()(0)
    assert(r.getAs[Long]("n_nodes") == 5L && r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Long]("n_triangles") == 1L)
    assert(r.getAs[Double]("transitivity") == 0.5)
  }

  test("clustering coefficient: triangle nodes 1.0, chain nodes 0, hub partial") {
    // triangle a-b-c plus a tail c-d-e
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
      .toDF("u", "v")
    val out = Graph.clusteringCoefficient(edges, "u", "v").collect()
      .map(r => r.getAs[String]("node") ->
        (r.getAs[Long]("d"), r.getAs[Double]("coeff"))).toMap
    assert(out("a") == ((2L, 1.0)) && out("b") == ((2L, 1.0)))
    // c: degree 3, one triangle → 2·1/(3·2)
    assert(math.abs(out("c")._2 - 1.0 / 3) < 1e-12)
    assert(out("d") == ((2L, 0.0)) && out("e") == ((1L, 0.0)))
  }

  test("eigenvector centrality: the plan's join count grows at most linearly in iters") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    def joins(iters: Int): Int = Graph.eigenvectorCentrality(edges, "src", "dst", iters = iters)
      .queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val js = (1 to 4).map(joins)
    val steps = js.zip(js.tail).map { case (a, b) => b - a }
    assert(steps.distinct.size == 1 && steps.head >= 0, s"joins by iters: $js")
  }
}
