package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Regression guards on physical plan shape — the engine's performance
  * promises (model joins broadcast, pruned scans, no data-side shuffle in
  * scoring) asserted against the actual planned queries. */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def plan(q: String) = {
    // suite-order isolation: another spec's persisted frame can match a
    // subplan here and Spark's CacheManager substitutes an
    // InMemoryRelation — hiding the parquet scan this spec asserts on
    // (seen as an intermittent q05 ReadSchema failure). Plan shape must
    // be judged cache-free.
    spark.catalog.clearCache()
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
  }

  test("zscore scoring: model broadcast-joined, data side scan is pruned and unshuffled") {
    val p = plan("q05_zscore").toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // data-side scan reads only the needed columns
    assert(p.contains("ReadSchema: struct<event_id:bigint,event_type:string,value:double>"))
  }

  test("stats fit: partial aggregation before the exchange (map-side combine)") {
    val p = plan("q01_stats_fit").toString
    assert(p.contains("partial_avg") || p.contains("partial_"))
  }

  test("trend residuals: one exchange feeds rank, moments and residual sums") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val p = plan("q198_trend_resid")
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.length == 1, s"expected 1 exchange, got ${shuffles.length}")
  }

  test("est-prob scoring: histogram model join is broadcast") {
    val p = plan("q08_est_prob").toString
    assert(p.contains("BroadcastHashJoin"))
  }

  test("top-k windows get the rank-filter pushdown (WindowGroupLimit)") {
    // row_number <= k over a window must NOT sort whole partitions at
    // scale: Spark inserts WindowGroupLimitExec (per-partition top-k heap
    // before the final sort) when the rank filter is statically visible —
    // a property every kNN/top-k path here relies on
    import org.apache.spark.sql.functions._
    val e = core.table(spark, sfDir, "embeddings")
    val p1 = graft.sim.Similarity.bruteForceTopK(
      e.where(col("vec_id") < 5), e, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(p1.contains("WindowGroupLimit"))
    val p2 = graft.multi.Blocked.knn(e, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(p2.contains("WindowGroupLimit"))
    // the per-source quota's rank cap must get the same pushdown
    assert(plan("q101_source_quota").toString.contains("WindowGroupLimit"))
  }

  test("sketch fitters: partial top-k/combine below the exchange") {
    // KMV and the A-ES sampler must cap partitions at k rows per key
    // BEFORE shuffling (WindowGroupLimit under Exchange) — losing that
    // pushdown would shuffle the full token/doc set
    for (q <- Seq("q117_kmv_distinct", "q121_weighted_sample")) {
      val s = plan(q).toString
      // Partial mode runs below the exchange, Final above — both present
      assert("WindowGroupLimit".r.findAllIn(s).size >= 2,
        s"$q lost the partial WindowGroupLimit")
    }
    // CMS fit shuffles only counter partials: partial_count before exchange
    assert(plan("q119_cms_estimate").toString.contains("partial_count"),
      "cms fit lost map-side combine")
    // quantile sketch: same bottom-k contract as KMV — partial
    // WindowGroupLimit below the exchange, Final above
    assert("WindowGroupLimit".r.findAllIn(plan("q123_quantile_sketch").toString)
      .size >= 2, "quantile sketch lost the partial WindowGroupLimit")
  }

  test("skew profile: distributed top-N, no global sort of the key histogram") {
    val s = plan("q126_skew_profile").toString
    assert(s.contains("TakeOrderedAndProject"),
      "skew profile must plan the top-N as TakeOrderedAndProject")
    assert(!s.contains("GlobalSort") && !"Sort \\[cnt".r.findFirstIn(s).isDefined,
      "skew profile must not globally sort the key histogram")
    // per-key counts partially aggregated before their exchange
    assert(s.contains("partial_count"), "skew profile lost map-side combine")
  }

  test("IVF probed-cell joins broadcast the probe side — corpus never shuffles by cell") {
    // the cell key has only nCells distinct values; a shuffled join there
    // would cap the scan's parallelism at nCells and skew on hot cells.
    // The probe side (queries × nProbe rows) must broadcast and the
    // corpus/code-table side must reach the join without a cell exchange.
    for (q <- Seq("q61_ann_ivf", "q98_ann_ivfpq")) {
      val p = plan(q).toString
      assert(p.contains("BroadcastHashJoin"), s"$q lost the probe broadcast")
      assert(!p.contains("Exchange hashpartitioning(cell"),
        s"$q shuffles the corpus by cell")
    }
  }

  test("per-row text ops plan as scan+project — no exchange, no join") {
    // repetition signals and pii redaction are pure per-row expressions;
    // a shuffle or join appearing here would be a plan regression
    for (q <- Seq("q87_repetition", "q89_pii_redact", "q92_chunk_docs")) {
      val p = plan(q).toString
      assert(!p.contains("Exchange"), s"$q grew a shuffle")
      assert(!p.contains("Join"), s"$q grew a join")
    }
    // stratified sampling additionally pushes nothing to a shuffle: the
    // hash-keep filter evaluates at the scan
    val p88 = plan("q88_corpus_mix").toString
    assert(!p88.contains("Exchange"), "q88 grew a shuffle")
  }

  test("decontamination: eval-gram side joins broadcast, never sort-merge") {
    // the eval set is benchmark-sized; shuffling the 100 TB train grams
    // against it would be the scale bug this guard pins out
    val p = plan("q91_decontaminate").toString
    assert(p.contains("BroadcastHashJoin"))
    val beforeFinalJoin = p.substring(p.indexOf("BroadcastHashJoin"))
    assert(beforeFinalJoin.contains("shingle"), "broadcast join must key on the gram")
  }

  test("bloom decontamination: prefilter evaluates below every exchange") {
    // the whole point of decontaminateBloom is dropping train grams
    // executor-side BEFORE any shuffle; the might_contain filter drifting
    // above an exchange (e.g. pushdown through the shingle distinct
    // breaking) would silently restore the full-gram shuffle
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val p = SparkEntry.queries("q91b_decontaminate_bloom")(spark, sfDir)
      .queryExecution.executedPlan
    // anchor the match to the bloom prefilter specifically (a UDF over
    // the shingle column) — a future unrelated UDF filter in this plan
    // must not be swept into the no-shuffle-below assertion
    val filters = collect(p) {
      case f: FilterExec if f.condition.toString.contains("UDF") &&
        f.condition.toString.contains("shingle") => f
    }
    assert(filters.nonEmpty, "bloom might_contain filter missing from the plan")
    filters.foreach { f =>
      val shufflesBelow = f.child.collect { case e: ShuffleExchangeLike => e }
      assert(shufflesBelow.isEmpty,
        s"bloom prefilter must run before any exchange:\n$f")
    }
  }

  test("span dedup: count join keys on the span hash — no cartesian, no text shuffle") {
    val p = plan("q90_span_dedup").toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // the exchanged columns are (id, 56-bit hash) — document text never
    // reaches an exchange
    assert(!p.contains("Exchange hashpartitioning(text"), "text column shuffled")
  }

  test("span rewrite: the dedup-side exchanges never carry document text or tokens") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val p = plan("q139_span_rewrite")
    val ps = p.toString
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoop"))
    // every exchange keyed on the window hash or feeding the keep-set agg
    // must move only (id, widx, hash)-shaped rows: no string column, no
    // token array — text is re-derived map-side from the doc's own row
    val dedupExchanges = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.toString.contains("h#") ||
          e.output.exists(_.name == "widx") => e
    }
    assert(dedupExchanges.nonEmpty, "dedup exchange not found in the plan")
    dedupExchanges.foreach { e =>
      val bad = e.output.filter(a => a.dataType == StringType ||
        a.dataType.isInstanceOf[ArrayType])
      assert(bad.isEmpty, s"dedup exchange carries ${bad.map(_.name)}")
    }
  }

  test("lsh near-dup: pairs only via the bucket equi-join, never cartesian") {
    val p = plan("q60_ann_lsh").toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "q60 must join on bucket, not cross")
  }

  test("temperature mix: quota join is broadcast; no data-sized shuffle") {
    // the only exchange allowed on the doc side is the tiny per-source
    // agg that computes quotas — the keep filter itself must apply as a
    // broadcast join + expression pass over the corpus scan
    val p = plan("q132_temperature_mix").toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("cluster-balanced sample: per-cell bottom-k capped below the exchange") {
    val p = plan("q134_cluster_sample").toString
    // Partial WindowGroupLimit before the exchange, Final above
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "cluster sample lost the partial WindowGroupLimit")
  }

  test("sketch-cut calibration: sketch partials capped pre-exchange, cuts broadcast") {
    import org.apache.spark.sql.functions._
    val d = core.table(spark, sfDir, "documents")
    val scored = d.select(col("doc_id"), col("lang"),
      (length(col("text")) % 97).cast("double").as("score"))
    val p = graft.text.TextOps.scoreBucketsSketch(scored, "lang", "doc_id", "score")
      .queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "sketch lost the partial WindowGroupLimit")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("silhouette: scoring is one narrow pass — no join, one exchange for the k-row agg") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val p = plan("q152_silhouette")
    assert(!p.toString.contains("Join"),
      "silhouette must inline centroids as literals, not join them")
    val shuffles = collect(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1,
      s"silhouette scoring grew extra shuffles: ${shuffles.size}")
  }

  test("source overlap: pair fan-out rides the gram agg — no cartesian, no doc-side join") {
    val p = plan("q153_source_overlap").toString
    assert(!p.contains("CartesianProduct"), "overlap must never cross docs")
    assert(!p.contains("Join"), "sizes must inline as a CASE for small group sets")
  }

  test("source signature: group totals broadcast, rank capped by WindowGroupLimit") {
    val p = plan("q154_source_signature").toString
    assert(p.contains("WindowGroupLimit"), "top-k rank filter lost its pushdown")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("interval join: bucketized equi-join, never a nested-loop over the narrow side") {
    // the whole point of the bucketize trick — a BETWEEN theta-join would
    // plan as BroadcastNestedLoop and stop scaling with the interval side
    val p = plan("q156_interval_join").toString
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop allowed is the wide-outlier residual (empty
    // interval set here): the narrow path must be a hash equi-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "bucketized path lost its equi-join")
  }

  test("rounding parity: roundLikeDuck halves away from zero on the float product") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 705.06/16 = 44.06625 — the case where Spark round() (BigDecimal
    // HALF_UP on the shortest decimal string) disagrees with DuckDB
    // (std::round(x·10⁴)): DuckDB yields 44.0662 because the float product
    // 440662.49999... is below the half
    val x = 705.06 / 16
    val r = Seq(x, -x).toDF("v")
      .select(core.roundLikeDuck(col("v"), 4).as("d"), round(col("v"), 4).as("s"))
      .collect()
    assert(r(0).getDouble(0) == 44.0662) // duck semantics
    assert(r(0).getDouble(1) == 44.0663) // spark round() differs -> why canon exists
    assert(r(1).getDouble(0) == -44.0662) // symmetric
  }

  test("bm25: term filter sits below the posting exchange; top-k is TakeOrdered") {
    val p = plan("q175_bm25").toString
    // global top-k via per-partition heaps, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
    // the df table (<= |terms| rows) joins broadcast, never SMJ/cartesian
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")
      && !p.contains("CartesianProduct"), s"df-table join shape:\n$p")
    // postings filter on the query terms is applied in the scan stage
    // (below the first exchange), so only query-term rows shuffle
    val beforeFirstExchange = p.substring(p.indexOf("Exchange"))
    assert(beforeFirstExchange.contains("INSET") ||
      p.substring(0, p.indexOf("Exchange")).contains("INSET") ||
      p.contains("isin") || p.contains("IN ("), s"term filter missing:\n$p")
  }

  test("line dedup: the frequency exchange carries hashes, not line text") {
    val s = plan("q173_line_dedup").toString
    assert(s.contains("partial_count"), "hot-line count must map-side combine")
    // the count agg groups on the 56-bit hash column named h
    assert(s.contains("hashagg") || s.contains("HashAggregate(keys=[h#")
      || s.contains("keys=[h"), s"hash-keyed agg missing:\n$s")
  }

  test("nb scoring: vocab-table join is hash-keyed, per-doc agg map-side combined") {
    val p = plan("q174_nb_classifier").toString
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc agg must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop joins in NB scoring:\n$p")
  }

  test("wasserstein: ONE exchange — the final roll-up rides the window partitioning") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val p = plan("q244_wasserstein")
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.length == 1, s"expected 1 exchange, got ${shuffles.length}")
  }

  test("lexical diversity: per-row fold — no exchange, no join") {
    val p = plan("q245_lexical").toString
    assert(!p.contains("Exchange"), s"q245 grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"q245 grew a join:\n$p")
  }

  test("centroid drift: dim-agg sides joined broadcast, never sort-merge") {
    val p = plan("q246_centroid_drift").toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"centroid dim join must broadcast (model-sized sides):\n$p")
    assert(p.contains("partial_sum"), "component sums must map-side combine")
  }

  test("jw pairs: the similarity is not the first non-equi join conjunct") {
    // a `.where` on the score is pushed into the join condition AHEAD of
    // the rid test, and then scores every block match — self-matches and
    // both orientations included
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.functions._
    val d = core.table(spark, sfDir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("name"))
    val conds = graft.text.TextOps.jwPairs(d, "doc_id", "name",
        blockChars = 8, minSim = 0.8)
      .queryExecution.optimizedPlan.collect { case j: Join => j.condition }.flatten
    assert(conds.length == 1, s"one pair join: $conds")
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def scores(e: Expression) = e.exists(_.isInstanceOf[graft.expr.JaroWinkler])
    val nonEqui = conjuncts(conds.head).filterNot(_.isInstanceOf[EqualTo])
    assert(nonEqui.exists(scores), s"the score is a join conjunct: ${conds.head}")
    assert(!scores(nonEqui.head), s"the score runs first: ${conds.head}")
  }

  /** `body`'s result and the jobs Spark started while it ran (a local
    * property tags the caller's thread; the listener bus is drained
    * before the jobs are read). */
  private def withJobs[A](body: => A): (A, Seq[org.apache.spark.scheduler.SparkListenerJobStart]) = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val phase = "graft.spec.phase"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(phase) == "traced")
          jobs.add(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phase, "traced")
      val a = try body finally sc.setLocalProperty(phase, null)
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `build`'s frame and the number of jobs Spark started while building it. */
  private def withBuildJobs(build: => DataFrame): (DataFrame, Int) = {
    val (df, jobs) = withJobs(build)
    (df, jobs.size)
  }

  test("entity resolve: one lazy plan — no persisted or cached state, at most 3 build jobs") {
    val sc = spark.sparkContext
    // start from no state (what earlier specs left is not this query's)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    def assertNoState(when: String): Unit = {
      assert(sc.getPersistentRDDs.isEmpty, s"persisted RDDs $when")
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      assert(cm.isEmpty, s"cached relations $when")
    }
    val docs = core.table(spark, sfDir01, "documents")
    val (er, buildJobs) = withBuildJobs(graft.text.TextOps.entityResolve(docs,
      "doc_id", "text", blockChars = 16, maxDist = 20))
    assertNoState("after the frame is built")
    assert(er.count() == docs.count())
    assertNoState("after count()")
    assert(buildJobs >= 1 && buildJobs <= 3,
      s"$buildJobs jobs started while building the frame (the lazy " +
        "plan's only eager step is the edge collect)")
  }

  test("iterative graph operators: build jobs stay under their measured ceilings") {
    import graft.graph.Graph
    import spark.implicits._
    // two triangles bridged by c–d, a tail e–f, and one one-way edge
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "f"))
    val e = (und ++ und.map(_.swap) :+ (("f", "g"))).toDF("src", "dst")
    // ceiling = the most jobs one build took in four builds, measured
    // before the operators shared one graph value and one round loop
    // (kcore and betweenness vary by one job from build to build); a
    // rise above it is a regression
    val ceilings = Seq[(String, Int, () => DataFrame)](
      ("pageRank", 9, () => Graph.pageRank(e, "src", "dst", iters = 5)),
      ("labelPropagation", 5, () => Graph.labelPropagation(e, "src", "dst", iters = 3)),
      ("kcore", 25, () => Graph.kcore(e, "src", "dst", k = 2, rounds = 3)),
      ("hits", 33, () => Graph.hits(e, "src", "dst", iters = 3)),
      ("katzCentrality", 25, () => Graph.katzCentrality(e, "src", "dst", iters = 4)),
      ("betweennessSampled", 34, () => Graph.betweennessSampled(e, "src", "dst",
        sources = 4, maxDepth = 3)))
    val over = ceilings.flatMap { case (op, ceiling, build) =>
      spark.catalog.clearCache()
      val (df, jobs) = withBuildJobs(build())
      assert(df.count() > 0L, op)
      if (jobs > ceiling) Some(s"$op: $jobs build jobs > $ceiling") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("materialize: one build job, and the leaf reports its exact row count and size") {
    import org.apache.spark.sql.functions.{col, sum}
    val df = spark.range(1000).where(col("id") % 7 === 0)
      .select(col("id"), (col("id") * 2).as("x"))
    val (leaf, jobs) = withBuildJobs(core.materialize(df))
    assert(jobs == 1)
    val stats = leaf.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(143)))
    // 8 bytes of row overhead + two 8-byte longs per row
    assert(stats.sizeInBytes == BigInt(143 * 24))
    assert(leaf.count() == 143L && leaf.agg(sum("x")).head().getLong(0) == 2L * 7 * 142 * 143 / 2)
  }

  test("per-entity envelope: keyed on its column, one exchange, the fold on every shuffle partition") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // q197's frame: the Holt twin batch-executed over the events
    val evd = core.table(spark, sfDir, "events")
      .select(col("user_id").cast("string").as("entity"),
        col("event_id").cast("long").as("seq"), col("value").cast("double").as("value"))
      .as[graft.streaming.StreamScorers.ValueEvent]
    val out = graft.streaming.StreamScorers.holtForecastStream(evd)
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val (rows, jobs) = withJobs(out.collect())
    assert(rows.nonEmpty)
    val p = out.queryExecution.executedPlan
    assert(!p.toString.contains("AppendColumns"), s"the key is computed per event:\n$p")
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.length == 1, s"expected 1 exchange, got ${shuffles.length}:\n$p")
    // the fold runs in the action's last stage; AQE must not coalesce it
    val fold = jobs.flatMap(_.stageInfos).maxBy(_.stageId)
    assert(fold.numTasks == core.shufflePartitions(spark),
      s"the fold ran ${fold.numTasks} tasks")
  }
}
