package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.materialize

/** Distributed max over task-observed longs — lets an iterative operator
  * compute its scalar renorm divisor during the SAME job that
  * materializes the iteration state (see [[Graph.hits]]). Max is
  * idempotent, so speculative/retried tasks cannot corrupt it. */
private[graph] class MaxAccumulator
    extends org.apache.spark.util.AccumulatorV2[Long, Long] {
  private var m = Long.MinValue
  override def isZero: Boolean = m == Long.MinValue
  override def copy(): MaxAccumulator = {
    val a = new MaxAccumulator; a.m = m; a
  }
  override def reset(): Unit = m = Long.MinValue
  override def add(v: Long): Unit = if (v > m) m = v
  override def merge(o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
    if (!o.isZero && o.value > m) m = o.value
  override def value: Long = m
}

/** Graph operators (engine addition — the reference has none): link-based
  * quality weighting for corpus curation. Web-corpus pipelines rank hosts
  * and documents by link structure (the Common Crawl host-level ranking
  * idea) before sampling; this is that primitive, Spark-first.
  *
  * Design: Pregel-shaped iteration expressed as DataFrame joins — state
  * is node-sized, messages are edge-sized, each round is one equi-join
  * (state × edges) plus one hash aggregate. Every operator reads its
  * edges through one private graph value, [[G]]: the distinct
  * string-cast edge set, its node set, the md5-sampled sources, and the
  * one edge cache ([[G.keyed]]: hash-partitioned on the join key once
  * and checkpointed, so only node-sized state moves per round;
  * [[pageRankWeighted]] keeps a lazy persist instead, for the reason
  * given there). Every iterative operator runs one round loop,
  * [[iterate]], with one of two lineage policies fixed per operator:
  * lazy rounds that nest into the consumer's job (each round reads its
  * state once), or a checkpoint leaf after each round (a round reads its
  * state more than once).
  */
object Graph {

  /** A graph as one edge frame `(src, dst, …)`. `both`: every edge is
    * present in both directions, so `src` alone names every node. */
  private final case class G(e: DataFrame, both: Boolean = false) {
    /** Every endpoint once, as `node`. */
    def nodes: DataFrame =
      (if (both) e.select(col("src").as("node"))
       else e.select(col("src").as("node")).union(e.select(col("dst").as("node"))))
        .distinct()

    /** The one edge cache: `e` hash-partitioned on `key`, then
      * checkpointed, so every round's join reuses that layout. */
    def keyed(key: String): G = copy(e = materialize(e.repartition(col(key))))

    /** The `n` md5-smallest nodes, as `source` — the sampled BFS roots. */
    def sources(n: Int): DataFrame =
      nodes.orderBy(md5(col("node")), col("node")).limit(n)
        .select(col("node").as("source"))
  }

  /** `edges` as string-cast `(src, dst)` rows, plus `extra` columns —
    * where every edge build starts. */
  private def endpoints(edges: DataFrame, srcCol: String, dstCol: String,
      extra: Column*): DataFrame =
    edges.select(Seq(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")) ++ extra: _*)

  /** The directed edge set: duplicates collapsed. */
  private def directed(edges: DataFrame, srcCol: String, dstCol: String): G =
    G(endpoints(edges, srcCol, dstCol).distinct())

  /** The round loop: `init` and the `n` states `step` makes from it
    * (given the round number), in order. `cut` is each operator's one
    * lineage policy: false nests the rounds lazily into the consumer's
    * job; true materializes `init` and every state, so a round that
    * reads its state more than once plans against a constant-size tree. */
  private def iterate(init: DataFrame, n: Int, cut: Boolean)(
      step: (DataFrame, Int) => DataFrame): Seq[DataFrame] = {
    def keep(df: DataFrame) = if (cut) materialize(df) else df
    (1 to n).scanLeft(keep(init))((s, i) => keep(step(s, i)))
  }

  /** PageRank with damping d = 0.85 over integer fixed-point ranks.
    *
    * Semantics match GraphX's `staticPageRank` family: teleport
    * (1−d)/N per node, no dangling-mass redistribution (a node with no
    * out-edges lets its mass decay — with both-direction edge sets, the
    * common corpus-graph construction, no such node exists).
    *
    * Determinism (the fixedPointLong discipline, taken to 12dp because
    * ranks live at the 1/N scale): ranks are LONGS at 10¹² scale; each
    * contribution is an integer division r div outdeg; per-dst sums are
    * order-exact long sums; the update teleport + (85·S) div 100 is pure
    * integer arithmetic. Every engine replays the identical longs — the
    * oracle hash-compares rank12 exactly, no float tolerance anywhere.
    *
    * Scale: per iteration, one shuffle join (node-sized ranks into the
    * src-partitioned edge cache) + one aggregate (map-side combined,
    * dst-keyed). Rank lineage is node-sized all the way; nothing ever
    * collects. `iters` is a user constant (default 10). An empty edge
    * set ranks no nodes.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, scale: Long = 1000000000000L): DataFrame = {
    val g = unitWeighted(edges, srcCol, dstCol)
    val nodes = materialize(g.nodes)
    // every node a seed: the seed constants at |seeds| = N
    rankLoop(g, nodes.withColumn("_seed", lit(true)), nodes.count(), iters, scale)
  }

  /** Personalized PageRank: teleport mass goes ONLY to the `seeds` set
    * instead of uniformly — the corpus-expansion primitive (rank every
    * node by proximity to a trusted seed corpus, then admit the top
    * slice; the classic "seed + expand" curation move). Same integer
    * fixed-point discipline as [[pageRank]]: seeds start with
    * scale/|seeds| each, non-seeds with 0; update is
    * seedTeleport + (85·S) div 100 for seeds and (85·S) div 100
    * otherwise. Exactly replayable — the oracle hash-compares longs.
    *
    * `seeds` is a one-column DataFrame of node ids; it is broadcast
    * (seed sets are small by construction). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int = 10,
      scale: Long = 1000000000000L): DataFrame = {
    val g = unitWeighted(edges, srcCol, dstCol)
    val seedDf = materialize(seeds.select(col(seeds.columns.head).cast("string").as("node"))
      .distinct())
    val nSeeds = seedDf.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    rankLoop(g, materialize(g.nodes
      .join(broadcast(seedDf.withColumn("_seed", lit(true))), Seq("node"), "left")
      .withColumn("_seed", coalesce(col("_seed"), lit(false)))),
      nSeeds, iters, scale)
  }

  /** `e (src, dst, w)` with each edge's source weight total `sw` — the
    * rank loop's edge frame. */
  private def outWeighted(e: DataFrame): G =
    G(e.join(e.groupBy("src").agg(sum("w").as("sw")), "src"))

  /** The directed edge set at w = 1, over the src-keyed edge cache. */
  private def unitWeighted(edges: DataFrame, srcCol: String,
      dstCol: String): G =
    outWeighted(directed(edges, srcCol, dstCol).e.withColumn("w", lit(1L)))
      .keyed("src")

  /** The one integer rank loop of [[pageRank]], [[personalizedPageRank]]
    * and [[pageRankWeighted]] over src-keyed [[outWeighted]] edges: each
    * contribution is (r·w) div sw. pageRank is this loop with w = 1
    * ((r·1) div outdeg = r div outdeg) and every node a seed (scale/N
    * and (15·scale)/(100·N) are the seed constants at |seeds| = N), so
    * the three replay one another's longs. `nodes` is `(node, _seed)`.
    *
    * Lazy rounds: each reads its rank state once, so the `iters` rounds
    * nest into the consumer's one job over the edge cache and `nodes`.
    * No seed (an empty graph) gives no rows. */
  private def rankLoop(g: G, nodes: DataFrame, nSeeds: Long, iters: Int,
      scale: Long): DataFrame = {
    val ranks =
      if (nSeeds == 0) nodes.select(col("node"), lit(0L).as("r"))
      else {
        val teleport = (15L * scale) / (100L * nSeeds)
        iterate(nodes.select(col("node"),
          when(col("_seed"), lit(scale / nSeeds)).otherwise(lit(0L)).as("r")),
          iters, cut = false) { (ranks, _) =>
          val msgs = g.e.join(ranks, g.e("src") === ranks("node"))
            .select(col("dst").as("node"), expr("(r * w) div sw").as("c"))
            .groupBy("node").agg(sum("c").as("s"))
          nodes.join(msgs, Seq("node"), "left")
            .select(col("node"),
              (when(col("_seed"), lit(teleport)).otherwise(lit(0L)) +
                expr("(85 * coalesce(s, 0)) div 100")).as("r"))
        }.last
      }
    ranks.select(col("node"), col("r").as("rank12"),
      (col("r").cast("double") / scale).as("rank"))
  }

  /** Per-node triangle count — the local clustering signal (spam/bot
    * subgraphs are triangle-poor relative to organic communities; a
    * standard web-graph quality feature). Standard distributed shape:
    * canonicalize to a < b undirected edges, join edges-on-shared-lower
    * -vertex to enumerate wedges, close each wedge against the edge set
    * (three hash joins, no cartesian anywhere), then credit each corner.
    * Wedge enumeration is Σ deg(v)² in the worst case — the documented
    * mitigation at web scale is degree-ordering (wedges are only built
    * from each edge's LOWER-degree endpoint), which this implements:
    * work is Σ min-degree², the O(E^1.5) bound. Exact integer output. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = undirectedDegrees(und)
    // orient each edge from its lower-degree endpoint (ties: lower id) —
    // every triangle is then counted exactly once as a wedge at its
    // minimum-degree corner closed by a forward edge
    val dirE = und
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("lo"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("hi"))
      // INTENTIONAL retained cache (r14 measured decision, advice-r13
      // sanctioned documentation): persist, not a checkpoint leaf — the
      // InMemoryRelation's size statistics drive the wedge-closing
      // join's broadcast strategy, and the LAZY result lets count-only
      // consumers prune the wedge join entirely. An eager bounded-
      // lifecycle variant (checkpointed output + finally-unpersist)
      // measured q204 1.0→2.1 s / q241 1.4→2.2 s / q250 1.5→2.3 s.
      // The cache is catalog-managed (clearCache/session end drops it).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = dirE.as("e1").join(dirE.as("e2"),
      col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("w"), col("e1.hi").as("u"), col("e2.hi").as("v"))
    val closed = wedges.join(
      dirE.select(
        least(col("lo"), col("hi")).as("cu"),
        greatest(col("lo"), col("hi")).as("cv")),
      least(col("u"), col("v")) === col("cu") &&
        greatest(col("u"), col("v")) === col("cv"))
      .select("w", "u", "v")
    val credit = closed.select(col("w").as("node"))
      .union(closed.select(col("u").as("node")))
      .union(closed.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.select(col("node")).join(credit, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
  }

  /** Local clustering coefficient: 2·T(v) / (d(v)·(d(v)−1)) on the
    * deduplicated undirected graph — "how clique-like is this node's
    * neighborhood", the standard community-tightness feature next to
    * [[triangles]] (whose per-node counts it consumes) and the
    * assortativity/modularity diagnostics. Nodes with degree < 2 get 0.
    *
    * Determinism: exact integer triangle counts and degrees; one float
    * division. Scale: [[triangles]]' degree-oriented wedge join is the
    * whole cost; the degree agg and node-sized join ride its cache. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val deg = undirectedDegrees(undirected(edges, srcCol, dstCol))
    deg.join(triangles(edges, srcCol, dstCol), "node")
      .select(col("node"), col("d"), col("triangles"),
        when(col("d") >= 2,
          lit(2.0) * col("triangles") / (col("d") * (col("d") - 1)))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Global transitivity C = 3T/W (T distinct triangles, W = Σ d(d−1)/2
    * wedges) plus node/edge/triangle counts — the one-row graph health
    * summary over [[clusteringCoefficient]]'s per-node view: a crawl
    * graph whose transitivity collapses between snapshots changed its
    * link structure, not just its size. Σ_v triangles(v) = 3T, so the
    * numerator is exactly the per-node credit sum.
    *
    * Scale: rides [[triangles]]' degree-oriented wedge join; the final
    * roll-up is one exact-integer aggregate to a single row. */
  def transitivity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val cc = clusteringCoefficient(edges, srcCol, dstCol)
    cc.agg(count(lit(1)).as("n_nodes"),
        (sum(col("d")) / 2).cast("long").as("n_edges"),
        (sum(col("triangles")) / 3).cast("long").as("n_triangles"),
        sum(col("triangles")).as("_credit"),
        sum(col("d") * (col("d") - 1) / 2).cast("long").as("_wedges"))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        when(col("_wedges") > 0,
          col("_credit").cast("double") / col("_wedges")).as("transitivity"))
  }

  /** Per-node degree profile: out/in degree and the dangling flag — the
    * cheap pre-flight before [[pageRank]] (dangling nodes leak mass) and
    * a corpus-graph health check in its own right. One aggregate per
    * direction over the edge table, full-outer-joined node-sized. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = directed(edges, srcCol, dstCol).e
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outDeg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("inDeg"))
    out.join(in, Seq("node"), "full_outer")
      .withColumn("outDeg", coalesce(col("outDeg"), lit(0L)))
      .withColumn("inDeg", coalesce(col("inDeg"), lit(0L)))
      .withColumn("dangling", col("outDeg") === 0L)
  }

  /** Canonical undirected edge set: self-loops dropped, duplicates
    * collapsed, each surviving {a,b} once as (least, greatest). */
  private def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    endpoints(edges, srcCol, dstCol).where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()

  /** Per-node degree `d` over an [[undirected]] edge set. */
  private def undirectedDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** The [[undirected]] edge set with every {a,b} present as both
    * (a→b) and (b→a) — the layout the undirected ops below share so a
    * node's full neighborhood is reachable from one src-keyed join. */
  private def undirectedBoth(edges: DataFrame, srcCol: String,
      dstCol: String): G = {
    val und = undirected(edges, srcCol, dstCol)
    G(und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst"))), both = true)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — the cheap
    * community detector web-corpus pipelines use to group hosts before
    * per-community sampling quotas. Every node starts labeled with its
    * own id; each round it adopts the most frequent label among its
    * neighbors, ties broken toward the smallest label — that tie rule
    * (plus synchronous updates and a fixed round count) makes the run
    * fully deterministic, so the oracle replays it as `iters` chained
    * SQL stages and hash-compares labels exactly.
    *
    * Scale: per round one equi-join of the node-sized label frame into
    * the src-keyed edge cache, then two hash aggregates ((node,label)
    * counts → per-node arg-max via min-struct). Label state never
    * exceeds node size; the edge cache never re-shuffles. Lazy rounds:
    * each reads its labels once, so they nest into the consumer's job. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    val g = undirectedBoth(edges, srcCol, dstCol).keyed("src")
    val nodes = materialize(g.nodes)
    iterate(nodes.withColumn("label", col("node")), iters, cut = false) {
        (labels, _) =>
      val best = g.e.join(labels, g.e("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        // arg-max with min-label tie-break: lexicographic min over
        // (-count, label) — the same struct-min both engines order
        // field-by-field
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("c"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
      nodes.join(best, Seq("node"), "left")
        .withColumn("label", coalesce(col("label"), col("node")))
    }.last
  }

  /** Modularity of a node labeling over the undirected graph:
    * Q = Σ_c [ e_c/m − (d_c/2m)² ] with e_c = intra-community edges,
    * d_c = total degree of community c, m = undirected edge count — the
    * standard "did label propagation find real structure" check (Q≈0:
    * random; Q≳0.3: community structure). Every sum is an exact integer
    * (edge and degree counts); only the final expression is float, so
    * the oracle replays it bit-for-bit. One row out. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame): DataFrame = {
    // edge-sized leaf: feeds the intra-community join, the degree
    // roll-up AND the edge count
    val und = materialize(undirected(edges, srcCol, dstCol))
    // labels may be an expensive lineage (the LPA chain): it feeds both
    // endpoint joins plus the degree roll-up — materialize once
    val lab = materialize(labels.select(col("node"), col("label")))
    val la = lab.withColumnRenamed("node", "a").withColumnRenamed("label", "la")
    val lb = lab.withColumnRenamed("node", "b").withColumnRenamed("label", "lb")
    val perC = und.join(la, "a").join(lb, "b")
      .withColumn("label", col("la"))
      .groupBy("label")
      .agg(sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("ec"))
    // degrees derive from the already-materialized `und`, not a second
    // scan of the raw edge lineage
    val degC = undirectedDegrees(und)
      .join(lab, "node").groupBy("label").agg(sum("d").as("dc"))
    val m = und.agg(count(lit(1)).as("m"))
    // Q = (Σ e_c)/m − (Σ d_c²)/(4m²): both numerator sums are exact
    // integers, so the only float work is the final fixed expression —
    // no order-nondeterministic double sum over communities.
    degC.join(perC, Seq("label"), "left")
      .withColumn("ec", coalesce(col("ec"), lit(0L)))
      .crossJoin(broadcast(m))
      .agg(max(col("m")).as("m_edges"),
        count(lit(1)).as("n_communities"),
        sum(col("ec")).as("sec"),
        sum(col("dc") * col("dc")).as("sdc2"))
      .select(col("m_edges"), col("n_communities"),
        (col("sec").cast("double") / col("m_edges")
          - col("sdc2").cast("double")
            / (lit(4.0) * col("m_edges") * col("m_edges"))).as("q"))
  }

  /** HITS hubs/authorities (Kleinberg 1999) over the directed edge set —
    * the complementary link signal to [[pageRank]]: directory/index
    * pages score as hubs, canonical content as authorities; corpus
    * pipelines use the authority score to prefer primary sources over
    * link farms. Integer fixed-point at 10⁶: each half-step sums exact
    * longs and renormalizes by the max via integer division
    * (v·10⁶ div max), so every engine replays identical longs — the
    * oracle chains 2·iters SQL stages and hash-compares exactly.
    *
    * Scale: per half-step one node-sized join into an edge cache + one
    * hash aggregate, materialized by a single fold action that doubles
    * as the scalar renorm divisor (one eager job per half-step;
    * materializing keeps the iterative lineage linear — an in-plan 1-row
    * crossJoin would re-reference each step twice and grow the lazy plan
    * ~4× per iteration). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, scale: Long = 1000000L): DataFrame = {
    // TWO edge caches, one per join orientation: auth half-steps join on
    // src, hub half-steps on dst — a single src-keyed cache forced a
    // fresh edge-sized exchange on every hub step; with both orientations
    // cached the edge side is stationary and each half-step exchanges
    // only node-sized messages.
    val bySrc = G(directed(edges, srcCol, dstCol).e
      .where(col("src") =!= col("dst"))).keyed("src")
    val byDst = bySrc.keyed("dst")
    val nodes = materialize(bySrc.nodes)
    // ONE eager job per half-step (r7 verdict: the 20-job variant was
    // scheduler-bound at 6 s): the node-sized (node, s) state becomes a
    // checkpoint leaf AND the renorm divisor is computed in the SAME
    // pass. The leaf keeps every half-step's plan constant-size:
    // persist-only variants grow Catalyst re-analysis superlinearly with
    // iteration depth (measured 37 s at sf0.1; leaf form ~0.3 s/half-step).
    // Inside the loop the state is message-SPARSE: a node that received
    // no messages would carry s = 0, and a zero score contributes nothing
    // to the next half-step's sums and can never be the renorm max — so
    // the zero rows are dropped from the iteration entirely (probe:
    // the nodes left-join they required was ~40% of each half-step's
    // materialization job) and re-filled once at the end for the output
    // contract. Identical longs either way: 0·scale div mx = 0.
    def halfStep(e: DataFrame, state: DataFrame, valCol: String,
        joinOn: String, outKey: String, outCol: String): DataFrame = {
      // the renorm divisor rides the SAME eager job as the leaf: a
      // max-accumulator behind an always-true filter observes every sum
      // during materialization (max is idempotent, so task retries are
      // harmless), replacing the per-half-step agg(max).collect() job —
      // one job per half-step instead of two. Empty message set (no
      // edges) leaves the accumulator at its zero → divisor 1 (the
      // advice-r7 NPE case).
      val acc = new MaxAccumulator
      state.sparkSession.sparkContext.register(acc, s"hitsMax_$outCol")
      val see = udf((s: Long) => { acc.add(s); true }).asNondeterministic()
      val raw = materialize(e.join(state, e(joinOn) === state("node"))
        .groupBy(col(outKey).as("node")).agg(sum(valCol).as("s"))
        .filter(see(col("s"))))
      val mx = math.max(1L, acc.value)
      // divisor as a broadcast column, not a literal (core.paramRow
      // discipline): a per-step literal made every half-step's generated
      // code unique — 2·iters Janino compilations per fit
      raw.crossJoin(broadcast(graft.core.paramRowLong(
          state.sparkSession, Seq("_mx" -> mx))))
        .select(col("node"), expr(s"(s * $scale) div _mx").as(outCol))
    }
    val (hub, auth) = (1 to iters).foldLeft(
        (nodes.withColumn("h", lit(scale)), nodes.withColumn("a", lit(0L)))) {
      case ((hub, _), _) =>
        val auth = halfStep(bySrc.e, hub, "h", "src", "dst", "a")
        (halfStep(byDst.e, auth, "a", "dst", "src", "h"), auth)
    }
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub6"),
        coalesce(col("a"), lit(0L)).as("auth6"),
        (coalesce(col("h"), lit(0L)).cast("double") / scale).as("hub"),
        (coalesce(col("a"), lit(0L)).cast("double") / scale).as("auth"))
  }

  /** k-core peeling: `rounds` synchronous rounds of "drop every node
    * whose degree within the surviving set is < k" — the standard
    * degeneracy screen (spam rings and scraped link farms concentrate in
    * shallow cores; organic communities survive deep ones). A node's
    * `peel_round` is the round that removed it (-1 = still alive after
    * `rounds`); with rounds ≥ the peel depth the survivors are exactly
    * the k-core. Fixed `rounds` keeps the run (and the chained-CTE
    * oracle replay) deterministic with no data-dependent loop.
    *
    * Scale: per round one src-keyed join of the node-sized alive set
    * into the edge cache (both-direction layout, so one join covers the
    * neighborhood) + a semi-join filter on dst + one count aggregate.
    * Each round is cut to a leaf: it reads the previous state three
    * times (carry + both endpoint filters). `rounds` is a user constant. */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 3): DataFrame = {
    val g = undirectedBoth(edges, srcCol, dstCol).keyed("src")
    // per-node degree `d` within the state's alive set
    def aliveDegree(state: DataFrame): DataFrame = {
      val alive = state.where(col("peel_round") === -1L).select("node")
      g.e.join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    }
    val state = iterate(g.nodes.withColumn("peel_round", lit(-1L)), rounds,
        cut = true) { (state, i) =>
      state.join(aliveDegree(state), Seq("node"), "left")
        .withColumn("peel_round",
          when(col("peel_round") =!= -1L, col("peel_round"))
            .when(coalesce(col("d"), lit(0L)) < k, lit(i.toLong))
            .otherwise(lit(-1L)))
        .select("node", "peel_round")
    }.last
    state.join(aliveDegree(state), Seq("node"), "left")
      .select(col("node"), col("peel_round"),
        when(col("peel_round") === -1L, coalesce(col("d"), lit(0L)))
          .otherwise(lit(0L)).as("core_deg"),
        (col("peel_round") === -1L).as("alive"))
  }

  /** Link prediction over the undirected graph: for every two-hop pair
    * (a,b) not already an edge, the three classic scores — common
    * neighbors, Jaccard |N∩|/|N∪|, Adamic–Adar Σ 1/ln(deg(w)) — the
    * "which near-dup clusters are about to merge / which hosts belong
    * together" primitive for corpus-graph curation.
    *
    * Determinism: CN and degrees are exact integers; Jaccard is one
    * integer division (bit-identical cross-engine); Adamic–Adar terms
    * are 6dp fixed-point longs (wedge middles have deg ≥ 2 so ln > 0)
    * summed order-exactly — the ln-parity assumption the NB/LM family
    * already carries.
    *
    * Scale: the wedge join is Σ deg(w)² on middle nodes — `maxDeg`
    * drops hub middles above the cap (the link-prediction analogue of
    * the LSH hot-bucket cap; hubs contribute ~0 Adamic–Adar signal per
    * pair anyway). Work is then Σ min(deg, maxDeg)², and the final
    * anti-join against the edge set removes existing edges. */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
      maxDeg: Int = 10000): DataFrame = {
    val e = materialize(undirectedBoth(edges, srcCol, dstCol).e)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val mid = e.join(deg.withColumnRenamed("node", "src"), "src")
      .where(col("d") <= maxDeg)
    val wedges = mid.as("e1").join(mid.as("e2"),
      col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"),
        col("e1.d").as("dw"))
    val scored = wedges
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(graft.core.fixedPointLong(lit(1.0) / log(col("dw").cast("double")), 6))
          .as("aa6"))
    val da = deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da")
    val db = deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db")
    scored
      .join(e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"),
        "left_anti")
      .join(da, "a").join(db, "b")
      .withColumn("jaccard",
        col("cn").cast("double") / (col("da") + col("db") - col("cn")))
      .withColumn("adamic_adar", col("aa6").cast("double") / 1e6)
      .select("a", "b", "cn", "da", "db", "jaccard", "adamic_adar")
  }

  /** Weakly connected components over the undirected graph: label = the
    * component's minimum node id — the generic face of the dedup
    * family's clustering (same kernel: alternating large-star/small-star
    * contraction, O(log² n) rounds on any shape — see
    * [[graft.text.TextOps.ccLargeSmallStar]], here running directly on
    * string node ids). Corpus use: component = mirror-site/link-farm
    * group; sample one representative per component.
    *
    * Scale: per round two groupBy-min exchanges over the edge list,
    * lineage truncated per round; output node-sized. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val und = endpoints(edges, srcCol, dstCol).where(col("src") =!= col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    graft.text.TextOps.ccLargeSmallStar(und, maxIter)
      .select(col("id").as("node"), col("cluster").as("component"))
  }

  /** Bipartite projection: from user→item edges, the item–item
    * co-occurrence graph (weight = distinct users sharing both items) —
    * THE standard construction of every corpus/item graph this family
    * runs on (host graphs from user visits, doc graphs from reader
    * overlap; [[pageRankWeighted]]'s natural input).
    *
    * Scale: the self-join on the shared user is Σ deg(u)² — `maxDeg`
    * drops power-users above the cap (the wedge-cap / LSH hot-bucket
    * analogue; a user who touches everything connects everything and
    * carries no signal). Exact integer counts. */
  def project(edges: DataFrame, srcCol: String, dstCol: String,
      maxDeg: Int = 10000): DataFrame = {
    val e = directed(edges, srcCol, dstCol).e
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val capped = e.join(deg, "src").where(col("d") <= maxDeg)
    capped.as("x").join(capped.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("cooc"))
  }

  /** Weighted PageRank: contribution r·w div Σw per out-edge instead of
    * r div outdeg — on co-occurrence corpus graphs the edge weight (the
    * repeat count the unweighted walk throws away) IS the signal. Same
    * 12dp integer fixed-point discipline as [[pageRank]]; exact as long
    * as rank·weight stays under 2⁶³ (scale 10¹² leaves ~9·10⁶ of weight
    * headroom per edge — rescale weights if a corpus exceeds it).
    *
    * Scale: [[pageRank]]'s rank loop. An edge set with no positive
    * weight ranks no nodes. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 10,
      scale: Long = 1000000000000L): DataFrame = {
    val e = endpoints(edges, srcCol, dstCol, col(weightCol).cast("long").as("w"))
      .where(col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w"))
    // The one edge cache that is not [[G.keyed]]: lazy persists, so only
    // the node count runs while the frame is built and the edge cache
    // fills in the consumer's job (a count-only consumer never fills
    // it). The keyed leaf measured q221 at 12 build jobs against these
    // 7 (sf0.01). Catalog-managed: clearCache/session end reclaims them.
    val nodes = G(e).nodes
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rankLoop(G(outWeighted(e).e.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
      nodes.withColumn("_seed", lit(true)), nodes.count(), iters, scale)
  }

  /** Deterministic random-walk generation (the DeepWalk/node2vec corpus
    * primitive): `walksPerNode` walks of `walkLen` steps from every
    * node, each step choosing neighbor index md5(salt:start:walk:step)
    * mod degree over the dst-sorted adjacency — fully hash-driven, so
    * reruns, retries and the oracle replay the identical walks (the
    * md5-determinism discipline every sampler here follows). Output is
    * one row per (start, walk, step, node) visit — the training-sequence
    * feed for graph embeddings.
    *
    * Scale: the adjacency (with per-src index + degree, one window pass)
    * is computed once as a leaf; each step is one equi-join of the walk
    * frontier (nodes×walks rows) into it, cut to a leaf per step: the
    * frontier would otherwise carry adj's attribute ids into the next
    * step's join with adj (an ambiguous self-join). */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int, walkLen: Int, salt: String = "walk"): DataFrame = {
    val adj = materialize(undirectedBoth(edges, srcCol, dstCol).e
      .withColumn("idx", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))).cast("long"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src")))))
    val start = G(adj, both = true).nodes.select(col("node").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
      .withColumn("step", lit(0L)).withColumn("node", col("start"))
    iterate(start, walkLen, cut = true) { (cur, i) =>
      val h = graft.text.TextOps.hash56(concat_ws(":",
        lit(salt), col("start"), col("walk"), lit((i - 1).toLong)))
      cur.join(adj, adj("src") === cur("node"))
        .where(adj("idx") === (h % adj("deg")) + 1L)
        .select(cur("start"), cur("walk"), lit(i.toLong).as("step"),
          adj("dst").as("node"))
    }.reduce(_ unionByName _)
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over undirected edges — one scalar telling whether
    * the graph is hub-attached (r<0, scraped/star-shaped link farms) or
    * peer-attached (r>0, organic communities); a corpus-graph health
    * number next to [[degrees]]. Endpoint degrees are exact integers, so
    * all five moments (M, Σjk, Σ(j+k), Σ(j²+k²)) accumulate as exact
    * longs; only the final correlation expression is float — replayed
    * bit-for-bit by the oracle. One aggregate over the edge list. */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = undirectedDegrees(und)
    val da = deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da")
    val db = deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db")
    val m = und.join(da, "a").join(db, "b")
      .agg(count(lit(1)).as("m"),
        sum(col("da") * col("db")).as("sjk"),
        sum(col("da") + col("db")).as("sj"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sjj"))
    val mean = col("sj").cast("double") / (lit(2.0) * col("m"))
    // degree-regular graphs have zero variance — correlation undefined,
    // NULL out instead of dividing by zero (ANSI mode would throw)
    m.select(col("m"), mean.as("mean"),
        (col("sjk").cast("double") / col("m") - mean * mean).as("num"),
        (col("sjj").cast("double") / (lit(2.0) * col("m")) - mean * mean)
          .as("den"))
      .select(col("m"),
        when(col("den") =!= 0.0, col("num") / col("den")).as("assortativity"))
  }

  /** Sampled harmonic centrality: BFS distances from the `sources`
    * md5-smallest nodes via min-plus relaxation rounds (dist state is
    * sources×nodes-sized; each round is one edge join + group-min — the
    * Pregel shape, no frontier bookkeeping, and EXACTLY the unrolled
    * round-CTE the oracle replays), then h = Σ_{s: 0<d(s,v)} 1/d(s,v)
    * carried as the exact integer Σ 12/d (maxDepth ≤ 4, so every term
    * divides 12 — no double accumulation). Output per reached node:
    * node, reached, harmonic — the "how close is this node to
    * everything" centrality PageRank's stationary mass doesn't measure.
    *
    * Scale: sampled-source BFS is the standard way to make centrality
    * linear (sources bounds the state); relaxation rounds converge in
    * maxDepth joins; a leaf per round cuts the lineage. */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Int = 8, maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 4,
      s"maxDepth 1..4 (12/d stays integral): $maxDepth")
    require(sources >= 1, s"sources >= 1: $sources")
    sampledDistances(edges, srcCol, dstCol, sources, maxDepth)
      .where(col("d") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("reached"),
        sum((lit(12) / col("d")).cast("long")).as("_h12"))
      .withColumn("harmonic", col("_h12").cast("double") / 12.0)
      .select("node", "reached", "harmonic")
  }

  /** (source, node, d) shortest distances from the `sources`
    * md5-smallest nodes by `maxDepth` min-plus relaxation rounds, each
    * round one edge join + group-min cut to a leaf (a round reads its
    * state twice: the union carry and the join) — the BFS frame of
    * [[harmonicCentrality]] and [[closenessCentrality]]. */
  private def sampledDistances(edges: DataFrame, srcCol: String,
      dstCol: String, sources: Int, maxDepth: Int): DataFrame = {
    val g = directed(edges, srcCol, dstCol).keyed("src")
    iterate(g.sources(sources).select(col("source"),
        col("source").as("node"), lit(0).as("d")), maxDepth, cut = true) {
        (dist, _) =>
      val ext = dist.join(g.e, dist("node") === g.e("src"))
        .select(col("source"), col("dst").as("node"),
          (col("d") + 1).as("d"))
      dist.union(ext).groupBy(col("source"), col("node"))
        .agg(min(col("d")).as("d"))
    }.last
  }

  /** Sampled closeness centrality + eccentricity from ONE min-plus BFS
    * over md5-chosen sources ([[harmonicCentrality]]'s frame with two
    * extra exact-integer aggregates): closeness = reached / Σd (the
    * sampled Wasserman–Faust form), ecc = max observed distance (a
    * lower bound at bounded depth, documented). One row per reached
    * node: node, reached, sum_d, closeness, ecc. */
  def closenessCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Int = 8, maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1 && sources >= 1, s"bad args: $sources, $maxDepth")
    sampledDistances(edges, srcCol, dstCol, sources, maxDepth)
      .where(col("d") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("reached"),
        sum(col("d").cast("long")).as("sum_d"),
        max(col("d").cast("long")).as("ecc"))
      .withColumn("closeness",
        col("reached").cast("double") / col("sum_d").cast("double"))
      .select("node", "reached", "sum_d", "closeness", "ecc")
  }

  /** Katz centrality with the dyadic attenuation α = 1/16 and unit base:
    * x' = ⌊(Σ_in x)/16⌋ + 1 carried as exact 6dp fixed-point longs (the
    * /16 is a power-of-two float division + floor — bit-identical on
    * both engines), `iters` Pregel rounds, each cut to a leaf (a round
    * reads the node set and its state). One row per node: node, katz. */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 6): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters 1..10: $iters")
    val g = directed(edges, srcCol, dstCol).keyed("dst")
    val nodes = g.nodes
    iterate(nodes.withColumn("x", lit(1000000L)), iters, cut = true) {
        (x, _) =>
      val in = x.join(g.e, x("node") === g.e("src"))
        .groupBy(col("dst").as("node2"))
        .agg(sum(col("x")).as("_s"))
      nodes.join(in, nodes("node") === col("node2"), "left")
        .select(col("node"),
          (floor(coalesce(col("_s"), lit(0L)).cast("double") / 16.0)
            .cast("long") + 1000000L).as("x"))
    }.last.select(col("node"), (col("x").cast("double") / 1e6).as("katz"))
  }

  /** Directed-graph reciprocity: the fraction of edges whose reverse
    * edge also exists (self-loops excluded). One row:
    * m, reciprocal, reciprocity — the "is this interaction mutual"
    * one-number health check for follows/reply graphs. With no
    * countable edge (m = 0) the ratio is undefined: NULL. */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = directed(edges, srcCol, dstCol).e.where(col("src") =!= col("dst"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val rec = e.intersect(rev).agg(count(lit(1)).as("reciprocal"))
    e.agg(count(lit(1)).as("m")).crossJoin(rec)
      .withColumn("reciprocity", when(col("m") > 0,
        col("reciprocal").cast("double") / col("m").cast("double")))
      .select("m", "reciprocal", "reciprocity")
  }

  /** Sampled Brandes betweenness (Brandes '01 §4; sampling per
    * Brandes–Pich '07): from `sources` md5-sampled roots, a forward BFS
    * accumulates shortest-path counts σ per level, then the backward
    * dependency pass folds δ(v) = Σ_{w∈succ(v)} (σ_v/σ_w)(1+δ(w)) from
    * the deepest level in. Output per reached node: node, betweenness
    * (the sampled δ mass; the source's own level is excluded, matching
    * Brandes' w ≠ s term).
    *
    * Determinism: σ are exact integer path counts; each δ contribution
    * freezes at 8dp before the per-node long sum (order-free), and
    * every level's δ replays from the previous level's frozen values —
    * the oracle unrolls the identical recursion. Scale: one
    * frontier-join per depth (into the src-keyed edge cache), both
    * passes cut to a leaf per level (each reads its state twice); work
    * per depth is frontier-sized, never all-pairs. */
  def betweennessSampled(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Int = 8, maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1 && sources >= 1, s"bad args: $sources, $maxDepth")
    val g = directed(edges, srcCol, dstCol).keyed("src")
    val vis = iterate(g.sources(sources).select(col("source"),
        col("source").as("node"), lit(0).as("d"), lit(1L).as("sig")),
        maxDepth, cut = true) { (vis, t) =>
      val next = vis.where(col("d") === t - 1)
        .join(g.e, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"), col("sig"))
        .join(vis.select(col("source").as("_vs"), col("node").as("_vn")),
          col("source") === col("_vs") && col("node") === col("_vn"),
          "left_anti")
        .groupBy(col("source"), col("node"))
        .agg(sum(col("sig")).as("sig"))
        .select(col("source"), col("node"), lit(t).as("d"), col("sig"))
      vis.union(next)
    }.last
    def lvl(t: Int) = vis.where(col("d") === t)
      .select(col("source"), col("node"), col("sig"))
    // backward from the deepest level: round i folds level maxDepth − i
    iterate(lvl(maxDepth).withColumn("dl8", lit(0L)), maxDepth - 1,
        cut = true) { (cur, i) =>
      val t = maxDepth - i
      val contrib = lvl(t)
        .select(col("source"), col("node"), col("sig").as("_vsig"))
        .join(g.e, col("node") === col("src"))
        .join(cur.select(col("source").as("_ws"), col("node").as("_wn"),
          col("sig").as("_wsig"), col("dl8").as("_wdl")),
          col("source") === col("_ws") && col("dst") === col("_wn"))
        .groupBy(col("source"), col("node"))
        .agg(sum(graft.core.fixedPointLong(
          (col("_vsig").cast("double") / col("_wsig").cast("double")) *
            (lit(1.0) + col("_wdl").cast("double") / 1e8), 8)).as("_c"))
      lvl(t).join(contrib, Seq("source", "node"), "left")
        .select(col("source"), col("node"), col("sig"),
          coalesce(col("_c"), lit(0L)).as("dl8"))
    }.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg((sum(col("dl8")).cast("double") / 1e8).as("betweenness"))
  }

  /** Eigenvector centrality (Bonacich 1972): the dominant left
    * eigenvector of the adjacency matrix by power iteration, max-
    * normalized each round so the top node reads 1.0. Katz (above)
    * adds the β teleport that keeps ranks alive on DAG tails;
    * eigenvector is the pure "important because pointed at by the
    * important" fixpoint — the PageRank family member WITHOUT degree
    * damping.
    *
    * Integer fixed-point discipline (the pageRank device): ranks are
    * longs at `scale`; each round is one equi-join + hash aggregate,
    * then rank' = (s · scale) div max(s) — exact integer floor
    * division, so the oracle hash-compares longs. Long-overflow
    * contract: Σ in-ranks · scale must fit 63 bits → n·scale² ≤ 9e18
    * (9e6 nodes at the default 1e6 grain; drop `scale` for bigger
    * graphs).
    *
    * Scale: `iters` rounds of (join on src, aggregate on dst, 1-row
    * max broadcast) — the PageRank shuffle shape exactly. A round reads
    * its `joined` frame twice (rows and max), so each round is cut: a
    * lazy round would double the plan. */
  def eigenvectorCentrality(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int = 5, scale: Long = 1000000L)
      : DataFrame = {
    val g = directed(edges, srcCol, dstCol).keyed("src")
    val nodes = materialize(g.nodes)
    iterate(nodes.withColumn("r", lit(scale)), iters, cut = true) { (x, _) =>
      val msgs = g.e.join(x, g.e("src") === x("node"))
        .select(col("dst").as("node"), col("r").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val joined = nodes.join(msgs, Seq("node"), "left")
        .withColumn("s", coalesce(col("s"), lit(0L)))
      joined.crossJoin(broadcast(joined.agg(max(col("s")).as("mx"))))
        .withColumn("r", when(col("mx") > 0,
          expr(s"(s * $scale) div mx")).otherwise(lit(0L)))
        .select("node", "r")
    }.last.select(col("node"), col("r").as("score6"),
      (col("r").cast("double") / scale).as("score"))
  }

  /** SimRank (Jeh & Widom, KDD'02): structural node similarity —
    * s(a,b) = C/(|I(a)||I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i,j), s(a,a)=1 —
    * two nodes are similar when their in-neighborhoods are. The
    * pairwise complement of the local linkPredict scores (common
    * neighbors look ONE hop out; SimRank propagates through `iters`
    * hops).
    *
    * Integer discipline: similarities are 6dp longs; each round is
    * s' = (c10 · Σ s6) div (10 · d_a · d_b) — exact integer floor
    * division, oracle hash-compares longs. The pair frame is the
    * iterated state: O(pairs-with-shared-ancestry) rows — SimRank's
    * documented scale contract is VOCABULARY-sized graphs (event-type
    * transitions, category taxonomies), never user-sized ones: state
    * grows toward |V|² on dense graphs.
    *
    * Output: (a, b, sim6, simrank) for a < b with nonzero score. */
  def simRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, c10: Int = 8): DataFrame = {
    require(c10 >= 1 && c10 <= 9, "decay C = c10/10 in (0,1)")
    val g = G(materialize(directed(edges, srcCol, dstCol).e))
    val deg = materialize(g.e.groupBy("dst").agg(count(lit(1)).as("d")))
    val diagonal = g.nodes.select(col("node").as("a"), col("node").as("b"),
      lit(1000000L).as("s6"))
    // lazy rounds: they fold into one terminal job
    val s = iterate(diagonal, iters, cut = false) { (s, _) =>
      // edge/degree frames are vocab-sized by contract: broadcast them
      val p = s.select(col("a").as("a0"), col("b").as("b0"), col("s6"))
        .join(broadcast(g.e.select(col("src").as("a0"), col("dst").as("na"))),
          "a0")
        .join(broadcast(g.e.select(col("src").as("b0"), col("dst").as("nb"))),
          "b0")
        .groupBy(col("na").as("a"), col("nb").as("b"))
        .agg(sum(col("s6")).as("_t"))
        .where(col("a") =!= col("b"))
        .join(broadcast(deg.select(col("dst").as("a"), col("d").as("_da"))),
          "a")
        .join(broadcast(deg.select(col("dst").as("b"), col("d").as("_db"))),
          "b")
        .select(col("a"), col("b"),
          expr(s"($c10 * _t) div (10 * _da * _db)").as("s6"))
        .where(col("s6") > 0)
      diagonal.unionByName(p)
    }.last
    s.where(col("a") < col("b"))
      .select(col("a"), col("b"), col("s6"),
        (col("s6").cast("double") / 1e6).as("simrank"))
  }
}
