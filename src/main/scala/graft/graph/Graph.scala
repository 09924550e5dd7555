package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * Design: Pregel-shaped iteration expressed as DataFrame joins — rank
  * state is node-sized, messages are edge-sized, each iteration is one
  * equi-join (ranks × out-edges) plus one hash aggregate (sum by dst).
  * At 100 TB the edge table dominates: it is joined on `src` every
  * iteration, so it is repartitioned by src ONCE and persisted — every
  * subsequent iteration reuses that layout and only the node-sized rank
  * frame moves.
  */
object Graph {

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
    * collects. `iters` is a user constant (default 10).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val ew = e.join(deg, "src").repartition(col("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    val n = nodes.count() // scalar action: N feeds the integer constants
    val init = scale / n
    val teleport = (15L * scale) / (100L * n)
    var ranks = nodes.withColumn("r", lit(init))
    (1 to iters).foreach { _ =>
      val msgs = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst").as("node"), expr("r div od").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(msgs, Seq("node"), "left")
        .withColumn("r", lit(teleport) + expr("(85 * coalesce(s, 0)) div 100"))
        .select("node", "r")
    }
    ranks.select(col("node"), col("r").as("rank12"),
      (col("r").cast("double") / scale).as("rank"))
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
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val ew = e.join(deg, "src").repartition(col("src")).localCheckpoint(true)
    val seedDf = seeds.select(col(seeds.columns.head).cast("string").as("node"))
      .distinct().localCheckpoint(true)
    val nSeeds = seedDf.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(broadcast(seedDf.withColumn("_seed", lit(true))), Seq("node"), "left")
      .withColumn("_seed", coalesce(col("_seed"), lit(false)))
      .localCheckpoint(true)
    val seedInit = scale / nSeeds
    val teleport = (15L * scale) / (100L * nSeeds)
    var ranks = nodes.withColumn("r",
      when(col("_seed"), lit(seedInit)).otherwise(lit(0L)))
      .select("node", "r")
    (1 to iters).foreach { _ =>
      val msgs = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst").as("node"), expr("r div od").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(msgs, Seq("node"), "left")
        .withColumn("r",
          when(col("_seed"), lit(teleport)).otherwise(lit(0L)) +
            expr("(85 * coalesce(s, 0)) div 100"))
        .select("node", "r")
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
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
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
    edges.select(col(srcCol).cast("string").as("a"),
      col(dstCol).cast("string").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct()

  /** Per-node degree `d` over an [[undirected]] edge set. */
  private def undirectedDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** The [[undirected]] edge set with every {a,b} present as both
    * (a→b) and (b→a) — the layout the undirected ops below share so a
    * node's full neighborhood is reachable from one src-keyed join. */
  private def undirectedBoth(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
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
    * the src-partitioned persisted edge cache, then two hash aggregates
    * ((node,label) counts → per-node arg-max via min-struct). Label
    * state never exceeds node size; the edge cache never re-shuffles. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    val e = undirectedBoth(edges, srcCol, dstCol)
      .repartition(col("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node")).distinct().localCheckpoint(true)
    var labels = nodes.withColumn("label", col("node"))
    (1 to iters).foreach { _ =>
      val best = e.join(labels, e("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        // arg-max with min-label tie-break: lexicographic min over
        // (-count, label) — the same struct-min both engines order
        // field-by-field
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("c"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
      labels = nodes.join(best, Seq("node"), "left")
        .withColumn("label", coalesce(col("label"), col("node")))
    }
    labels
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
    // eager GC-cleaned materialization (edge-sized); feeds the
    // intra-community join, the degree roll-up AND the edge count —
    // and replaces an unpersist-less persist (advice-r13 leak class)
    val und = undirected(edges, srcCol, dstCol).localCheckpoint(true)
    // labels may be an expensive lineage (the LPA chain): it feeds both
    // endpoint joins plus the degree roll-up — materialize once
    val lab = labels.select(col("node"), col("label")).localCheckpoint(true)
    val la = lab.withColumnRenamed("node", "a").withColumnRenamed("label", "la")
    val lb = lab.withColumnRenamed("node", "b").withColumnRenamed("label", "lb")
    val perC = und.join(la, "a").join(lb, "b")
      .withColumn("label", col("la"))
      .groupBy("label")
      .agg(sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("ec"))
    // degrees derive from the already-materialized `und` (identical to
    // undirectedBoth(edges): that helper IS distinct-least/greatest +
    // both directions), not a third scan of the raw edge lineage (r14,
    // guide §2.4 — modularity previously re-ran the upstream edge
    // builder once for the intra-community join and once for degrees)
    val degC = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
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
    * Scale: per half-step one node-sized join into the persisted edge
    * cache + one hash aggregate, materialized by a single fold action
    * that doubles as the scalar renorm divisor (one eager job per
    * half-step; materializing keeps the iterative lineage linear — an
    * in-plan 1-row crossJoin would re-reference each step twice and
    * grow the lazy plan ~4× per iteration). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, scale: Long = 1000000L): DataFrame = {
    // TWO edge caches, one per join orientation: auth half-steps join on
    // src, hub half-steps on dst — a single src-partitioned cache forced
    // a fresh edge-sized exchange on every hub step (5× the largest
    // frame in the loop); with both orientations cached the edge side is
    // stationary and each half-step exchanges only node-sized messages.
    val eRaw = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
      .where(col("src") =!= col("dst")).distinct().persist()
    // scale-adaptive edge partitioning (r13, guide §2): each half-step's
    // join inherits the edge cache's partition count, so on a small
    // graph 32-partition caches made every half-step a ~100-task
    // scheduling exercise (0.8 s/half-step at 100k edges). ~64k
    // edges/partition, capped at the session parallelism — the row
    // threshold decides, not a host constant.
    val eParts = math.max(1L, math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      (eRaw.count() + 65535L) / 65536L)).toInt
    val eBySrc = eRaw.repartition(eParts, col("src")).persist()
    val eByDst = eRaw.repartition(eParts, col("dst")).persist()
    val nodes = eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    var hub = nodes.withColumn("h", lit(scale))
    var auth = nodes.withColumn("a", lit(0L))
    // ONE eager job per half-step (r7 verdict: the 20-job variant was
    // scheduler-bound at 6 s): materialize the node-sized (node, s)
    // state as a persisted RDD AND compute the renorm divisor in the
    // SAME pass (fold is empty-safe where agg(max).collect() NPE'd on
    // an empty edge set — advice r7). Rebuilding a DataFrame from the
    // materialized RDD gives a LEAF plan, the same lineage cut
    // localCheckpoint provided: persist-only variants grow Catalyst
    // re-analysis superlinearly with iteration depth (measured 37 s at
    // sf0.1; leaf form ~0.3 s/half-step). Intermediate states are
    // unpersisted as soon as the next half-step has materialized; the
    // final hub/auth stay cached for the caller's action and are
    // reclaimed by the ContextCleaner when the result is dropped.
    // Inside the loop the state is message-SPARSE: a node that received
    // no messages would carry s = 0, and a zero score contributes nothing
    // to the next half-step's sums and can never be the renorm max — so
    // the zero rows are dropped from the iteration entirely (probe:
    // the nodes left-join they required was ~40% of each half-step's
    // checkpoint job) and re-filled once at the end for the output
    // contract. Identical longs either way: 0·scale div mx = 0.
    def halfStep(e: DataFrame, state: DataFrame, valCol: String,
        joinOn: String, outKey: String, outCol: String): DataFrame = {
      // the renorm divisor rides the SAME eager job as the checkpoint: a
      // max-accumulator behind an always-true filter observes every sum
      // during materialization (max is idempotent, so task retries are
      // harmless), replacing the per-half-step agg(max).collect() job —
      // one job per half-step instead of two. Empty message set (no
      // edges) leaves the accumulator at its zero → divisor 1 (the
      // advice-r7 NPE case).
      val acc = new MaxAccumulator
      state.sparkSession.sparkContext.register(acc, s"hitsMax_$outCol")
      val see = udf((s: Long) => { acc.add(s); true }).asNondeterministic()
      val raw = e.join(state, e(joinOn) === state("node"))
        .groupBy(col(outKey).as("node")).agg(sum(valCol).as("s"))
        .filter(see(col("s")))
        .localCheckpoint(true)
      val mx = math.max(1L, acc.value)
      // divisor as a broadcast column, not a literal (core.paramRow
      // discipline): a per-step literal made every half-step's generated
      // code unique — 2·iters Janino compilations per fit
      raw.crossJoin(broadcast(graft.core.paramRowLong(
          state.sparkSession, Seq("_mx" -> mx))))
        .select(col("node"), expr(s"(s * $scale) div _mx").as(outCol))
    }
    (1 to iters).foreach { _ =>
      auth = halfStep(eBySrc, hub, "h", "src", "dst", "a")
      hub = halfStep(eByDst, auth, "a", "dst", "src", "h")
    }
    // hub/auth are leaves over their own checkpointed RDDs; after the
    // final zero-fill join below is planned, the edge caches are no
    // longer needed (nodes still backs the lazy output frame — it is
    // node-sized and reclaimed by the ContextCleaner with the result).
    eRaw.unpersist(false)
    eBySrc.unpersist(false)
    eByDst.unpersist(false)
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
    * into the persisted edge cache (both-direction layout, so one join
    * covers the neighborhood) + a semi-join filter on dst + one count
    * aggregate. Alive-set lineage is node-sized; rounds is a user
    * constant. */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 3): DataFrame = {
    val e = undirectedBoth(edges, srcCol, dstCol)
      .repartition(col("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node")).distinct().localCheckpoint(true)
    var state = nodes.withColumn("peel_round", lit(-1L))
    (1 to rounds).foreach { i =>
      val alive = state.where(col("peel_round") === -1L).select("node")
      val deg = e.join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      state = state.join(deg, Seq("node"), "left")
        .withColumn("peel_round",
          when(col("peel_round") =!= -1L, col("peel_round"))
            .when(coalesce(col("d"), lit(0L)) < k, lit(i.toLong))
            .otherwise(lit(-1L)))
        .select("node", "peel_round")
        // each round reads the previous state three times (carry + both
        // endpoint filters): checkpoint to a LogicalRDD leaf so the
        // logical tree stays constant-size across rounds (the
        // ccLargeSmallStar / hits discipline)
        .localCheckpoint(true)
    }
    val aliveFinal = state.where(col("peel_round") === -1L).select("node")
    val coreDeg = e
      .join(aliveFinal.withColumnRenamed("node", "src"), "src")
      .join(aliveFinal.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    state.join(coreDeg, Seq("node"), "left")
      .withColumn("core_deg",
        when(col("peel_round") === -1L, coalesce(col("core_deg"), lit(0L)))
          .otherwise(lit(0L)))
      .withColumn("alive", col("peel_round") === -1L)
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
    val e = undirectedBoth(edges, srcCol, dstCol).localCheckpoint(true)
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
    val und = edges.select(col(srcCol).cast("string").as("a"),
      col(dstCol).cast("string").as("b"))
      .where(col("a") =!= col("b"))
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
    val e = edges.select(col(srcCol).cast("string").as("u"),
      col(dstCol).cast("string").as("i")).distinct()
    val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
    val capped = e.join(deg, "u").where(col("d") <= maxDeg)
    capped.as("x").join(capped.as("y"),
        col("x.u") === col("y.u") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("a"), col("y.i").as("b"))
      .agg(count(lit(1)).as("cooc"))
  }

  /** Weighted PageRank: contribution r·w div Σw per out-edge instead of
    * r div outdeg — on co-occurrence corpus graphs the edge weight (the
    * repeat count the unweighted walk throws away) IS the signal. Same
    * 12dp integer fixed-point discipline as [[pageRank]]; exact as long
    * as rank·weight stays under 2⁶³ (scale 10¹² leaves ~9·10⁶ of weight
    * headroom per edge — rescale weights if a corpus exceeds it).
    *
    * Scale: identical shape to [[pageRank]] — the weighted edge cache is
    * src-partitioned and persisted once, rank state is node-sized. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 10,
      scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"),
      col(weightCol).cast("long").as("w"))
      .where(col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w"))
    val sw = e.groupBy("src").agg(sum("w").as("sw"))
    // INTENTIONAL retained caches (r14 measured decision; the advice-r13
    // documentation option): persists, not checkpoint leaves — the
    // InMemoryRelation statistics keep the per-round rank join
    // broadcastable and the lazy result preserves consumer-side pruning
    // (an eager bounded variant measured q221 1.7→2.3+ s). Catalog-
    // managed: clearCache/session end reclaims them.
    val ew = e.join(sw, "src").repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    val init = scale / n
    val teleport = (15L * scale) / (100L * n)
    var ranks = nodes.withColumn("r", lit(init))
    (1 to iters).foreach { _ =>
      val msgs = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst").as("node"), expr("(r * w) div sw").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(msgs, Seq("node"), "left")
        .withColumn("r", lit(teleport) + expr("(85 * coalesce(s, 0)) div 100"))
        .select("node", "r")
    }
    ranks.select(col("node"), col("r").as("rank12"),
      (col("r").cast("double") / scale).as("rank"))
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
    * is computed once and persisted; each step is one equi-join of the
    * walk frontier (nodes×walks rows) into it. Frontier state is
    * walk-sized, referenced once per step — linear lineage, no
    * checkpoint needed at these depths. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int, walkLen: Int, salt: String = "walk"): DataFrame = {
    val e = undirectedBoth(edges, srcCol, dstCol)
    val wIdx = Window.partitionBy(col("src")).orderBy(col("dst"))
    val adj = e.withColumn("idx", row_number().over(wIdx).cast("long"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node")).distinct()
    var cur = nodes.select(col("node").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
      .withColumn("step", lit(0L)).withColumn("node", col("start"))
      // checkpoint per step: the frontier would otherwise carry adj's
      // attribute ids into the next step's join with adj (ambiguous
      // self-join), and the leaf keeps every step's plan constant-size
      .localCheckpoint(true)
    var out = cur
    (1 to walkLen).foreach { i =>
      val h = graft.text.TextOps.hash56(concat_ws(":",
        lit(salt), col("start"), col("walk"), lit((i - 1).toLong)))
      val nxt = cur.join(adj, adj("src") === cur("node"))
        .where(adj("idx") === (h % adj("deg")) + 1L)
        .select(cur("start"), cur("walk"), lit(i.toLong).as("step"),
          adj("dst").as("node"))
        .localCheckpoint(true)
      cur = nxt
      out = out.unionByName(nxt)
    }
    out
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
    val deg = undirectedBoth(edges, srcCol, dstCol)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
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
    * maxDepth joins; localCheckpoint cuts the per-round lineage. */
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
    * round one edge join + group-min checkpointed to cut the lineage —
    * the BFS frame of [[harmonicCentrality]] and [[closenessCentrality]]. */
  private def sampledDistances(edges: DataFrame, srcCol: String,
      dstCol: String, sources: Int, maxDepth: Int): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
      .repartition(col("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val srcs = nodes.orderBy(md5(col("node")), col("node"))
      .limit(sources)
      .select(col("node").as("source"))
    var dist = srcs.select(col("source"), col("source").as("node"),
      lit(0).as("d")).localCheckpoint(true)
    (1 to maxDepth).foreach { _ =>
      val ext = dist.join(e, dist("node") === e("src"))
        .select(col("source"), col("dst").as("node"),
          (col("d") + 1).as("d"))
      dist = dist.union(ext).groupBy(col("source"), col("node"))
        .agg(min(col("d")).as("d")).localCheckpoint(true)
    }
    dist
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
    * both engines), `iters` Pregel rounds with localCheckpoint lineage
    * cuts. One row per node: node, katz. */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 6): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters 1..10: $iters")
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
      .repartition(col("dst")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var x = nodes.withColumn("x", lit(1000000L)).localCheckpoint(true)
    (1 to iters).foreach { _ =>
      val in = x.join(e, x("node") === e("src"))
        .groupBy(col("dst").as("node2"))
        .agg(sum(col("x")).as("_s"))
      x = nodes.join(in, nodes("node") === col("node2"), "left")
        .select(col("node"),
          (floor(coalesce(col("_s"), lit(0L)).cast("double") / 16.0)
            .cast("long") + 1000000L).as("x"))
        .localCheckpoint(true)
    }
    x.select(col("node"), (col("x").cast("double") / 1e6).as("katz"))
  }

  /** Directed-graph reciprocity: the fraction of edges whose reverse
    * edge also exists (self-loops excluded). One row:
    * m, reciprocal, reciprocity — the "is this interaction mutual"
    * one-number health check for follows/reply graphs. */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val rec = e.intersect(rev).agg(count(lit(1)).as("reciprocal"))
    e.agg(count(lit(1)).as("m")).crossJoin(rec)
      .withColumn("reciprocity",
        col("reciprocal").cast("double") / col("m").cast("double"))
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
    * frontier-join per depth (partitioned on the edge src), frames
    * localCheckpoint'd per step (the closeness/Katz lineage contract);
    * work per depth is frontier-sized, never all-pairs. */
  def betweennessSampled(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Int = 8, maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1 && sources >= 1, s"bad args: $sources, $maxDepth")
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
      .repartition(col("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val srcs = nodes.orderBy(md5(col("node")), col("node"))
      .limit(sources)
      .select(col("node").as("source"))
    var vis = srcs.select(col("source"), col("source").as("node"),
      lit(0).as("d"), lit(1L).as("sig")).localCheckpoint(true)
    (1 to maxDepth).foreach { t =>
      val next = vis.where(col("d") === t - 1)
        .join(e, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"), col("sig"))
        .join(vis.select(col("source").as("_vs"), col("node").as("_vn")),
          col("source") === col("_vs") && col("node") === col("_vn"),
          "left_anti")
        .groupBy(col("source"), col("node"))
        .agg(sum(col("sig")).as("sig"))
        .select(col("source"), col("node"), lit(t).as("d"), col("sig"))
      vis = vis.union(next).localCheckpoint(true)
    }
    def lvl(t: Int) = vis.where(col("d") === t)
      .select(col("source"), col("node"), col("sig"))
    var cur = lvl(maxDepth).withColumn("dl8", lit(0L)).localCheckpoint(true)
    val parts = scala.collection.mutable.ArrayBuffer(cur)
    (maxDepth - 1 to 1 by -1).foreach { t =>
      val contrib = lvl(t)
        .select(col("source"), col("node"), col("sig").as("_vsig"))
        .join(e, col("node") === col("src"))
        .join(cur.select(col("source").as("_ws"), col("node").as("_wn"),
          col("sig").as("_wsig"), col("dl8").as("_wdl")),
          col("source") === col("_ws") && col("dst") === col("_wn"))
        .groupBy(col("source"), col("node"))
        .agg(sum(graft.core.fixedPointLong(
          (col("_vsig").cast("double") / col("_wsig").cast("double")) *
            (lit(1.0) + col("_wdl").cast("double") / 1e8), 8)).as("_c"))
      cur = lvl(t).join(contrib, Seq("source", "node"), "left")
        .select(col("source"), col("node"), col("sig"),
          coalesce(col("_c"), lit(0L)).as("dl8"))
        .localCheckpoint(true)
      parts += cur
    }
    parts.reduce(_ unionByName _)
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
    * max broadcast) — the PageRank shuffle shape exactly. */
  def eigenvectorCentrality(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int = 5, scale: Long = 1000000L)
      : DataFrame = {
    // eager localCheckpoint (GC-cleaned), not an unpersist-less persist:
    // both frames are re-read every round and the result stays lazy
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
      .repartition(col("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    var x = nodes.withColumn("r", lit(scale))
    (1 to iters).foreach { _ =>
      val msgs = e.join(x, e("src") === x("node"))
        .select(col("dst").as("node"), col("r").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val joined = nodes.join(msgs, Seq("node"), "left")
        .withColumn("s", coalesce(col("s"), lit(0L)))
      val mx = broadcast(joined.agg(max(col("s")).as("mx")))
      // stays lazy: 5 rounds nest into ONE job at the terminal action
      // (no per-round materialization — the pageRank discipline)
      x = joined.crossJoin(mx)
        .withColumn("r", when(col("mx") > 0,
          expr(s"(s * $scale) div mx")).otherwise(lit(0L)))
        .select("node", "r")
    }
    x.select(col("node"), col("r").as("score6"),
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
    // eager localCheckpoint (GC-cleaned), not an unpersist-less persist
    val e = edges.select(col(srcCol).cast("string").as("i"),
      col(dstCol).cast("string").as("v")).distinct()
      .localCheckpoint(true)
    val deg = e.groupBy("v").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val nodes = e.select(col("i").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
    var s = nodes.select(col("node").as("a"), col("node").as("b"),
      lit(1000000L).as("s6"))
    (1 to iters).foreach { _ =>
      // edge/degree frames are vocab-sized by contract: broadcast them
      val p = s.select(col("a").as("a0"), col("b").as("b0"), col("s6"))
        .join(broadcast(e.select(col("i").as("a0"), col("v").as("na"))),
          "a0")
        .join(broadcast(e.select(col("i").as("b0"), col("v").as("nb"))),
          "b0")
        .groupBy(col("na").as("a"), col("nb").as("b"))
        .agg(sum(col("s6")).as("_t"))
        .where(col("a") =!= col("b"))
        .join(broadcast(deg.select(col("v").as("a"), col("d").as("_da"))),
          "a")
        .join(broadcast(deg.select(col("v").as("b"), col("d").as("_db"))),
          "b")
        .select(col("a"), col("b"),
          expr(s"($c10 * _t) div (10 * _da * _db)").as("s6"))
        .where(col("s6") > 0)
      // lazy like eigenvector: 3 rounds fold into one terminal job
      s = nodes.select(col("node").as("a"), col("node").as("b"),
        lit(1000000L).as("s6"))
        .unionByName(p)
    }
    s.where(col("a") < col("b"))
      .select(col("a"), col("b"), col("s6"),
        (col("s6").cast("double") / 1e6).as("simrank"))
  }
}
