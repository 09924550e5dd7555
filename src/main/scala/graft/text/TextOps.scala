package graft.text

import graft.core.{fixedPointLong, materialize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators — MinHash (Broder, SEQUENCES'97),
  * LSH banding (Indyk/Motwani '98; ch.3 of Mining of Massive Datasets),
  * SimHash (Charikar, STOC'02) for large-scale training-data
  * pipelines (north-star extension beyond the reference surface; see
  * BASELINE.json). All hashing is MD5-derived so every op has an exact
  * cross-engine oracle: hash56(s) = first 14 hex chars of md5 → 56-bit int,
  * identical in Spark (`conv`) and DuckDB (`('0x'||…)::BIGINT`).
  *
  * Scale notes: every op is a single explode → hash-aggregate (map-side
  * combine) or broadcast join; near-dup candidate generation is LSH-banded
  * so only same-bucket pairs materialize (no all-pairs join at 100 TB).
  */
object TextOps {

  /** Mersenne prime modulus for the affine MinHash permutations — keeps
    * a·x+b inside int64 ((2³¹)² < 2⁶³). */
  val P: Long = 2147483647L

  /** Deterministic affine-permutation constants, shared with the oracle
    * SQL (interpolated as literals there). */
  def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (((i + 1).toLong * 1103515245L + 12345L) % P).max(1L)
      val b = ((i + 1).toLong * 69069L + 7L) % P
      (a, b)
    }

  def tokens(c: Column): Column = regexp_extract_all(lower(c), lit("\\S+"), lit(0))

  /** The word n-grams of token array `t`, in order. Gram i is
    * `last(prefix, t[i + n − 1])`, where the prefix is the n − 1 tokens
    * from i joined by spaces; by default `last` joins with a space too.
    * Built from n shifted slices zipped pairwise, so no lambda indexes
    * the array per gram. n = 1 is `t` itself. Empty when `t` is null or
    * has fewer than n tokens. */
  private[graft] def wordGrams(t: Column, n: Int,
      last: (Column, Column) => Column = concat_ws(" ", _, _)): Column = {
    require(n >= 1, s"n-gram order $n must be >= 1")
    def shifted(j: Int) = slice(t, lit(j + 1), size(t) - (n - 1))
    val grams = if (n == 1) t else zip_with((1 until n - 1).foldLeft(shifted(0))(
      (g, j) => zip_with(g, shifted(j), concat_ws(" ", _, _))), shifted(n - 1), last)
    when(size(t) >= n, grams).otherwise(array())
  }

  /** The distinct character n-grams of string column `s` (length ≥ n). */
  private def distinctCharGrams(s: Column, n: Int): Column =
    array_distinct(transform(sequence(lit(1), length(s) - (n - 1)),
      i => s.substr(i, lit(n))))

  /** Token counts per key, `(keys…, tok, cnt)`: one map-side-combined
    * aggregate. `keys` are named columns. */
  private[text] def tokenCounts(docs: DataFrame, keys: Seq[Column],
      textCol: String): DataFrame = {
    val kt = docs.select(keys :+ explode(tokens(col(textCol))).as("tok"): _*)
    kt.groupBy(kt.columns.toIndexedSeq.map(col): _*).agg(count(lit(1)).as("cnt"))
  }

  /** Per-token counts on the two sides of predicate `a`, `(tok, ca, cb)`:
    * `ca` over the docs where `a` holds, `cb` over the others. */
  private def twoSidedCounts(docs: DataFrame, a: Column,
      textCol: String): DataFrame =
    docs.select(a.as("_a"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("cb"))

  /** One row per doc of `docs` with `per`'s columns named in `zeros`,
    * each the given zero where the doc has no `per` row (no tokens, no
    * grams): `(idCol, zeros…)`. */
  private def everyDoc(docs: DataFrame, idCol: String, per: DataFrame,
      zeros: (String, Column)*): DataFrame =
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol) +: zeros.map { case (c, z) => coalesce(col(c), z).as(c) }: _*)

  /** Driver-side 6dp half-away-from-zero round — the scalar twin of
    * core.roundLikeDuck (DuckDB's round() arithmetic), for model
    * constants that must replay exactly in oracle SQL. */
  private[graft] def round6(x: Double): Double = graft.core.fixedPoint(x, 6) / 1e6

  /** 56-bit integer hash from the md5 hex prefix — exact cross-engine.
    * One native codegen'd expression (graft.expr.Hash56: first 7 digest
    * bytes big-endian); the former conv(substring(md5_hex)) chain
    * allocated three intermediate strings per call across the engine's
    * ~70 call sites (Hash56ExprSpec pins value equality). */
  def hash56(c: Column): Column =
    // build the expression directly — no SparkSession.active lookup and
    // no registry round-trip per Column construction (~70 call sites,
    // some in tight query-builder loops), and no failure mode when no
    // session is active on the calling thread (advice r13). SQL-surface
    // use still goes through GraftFunctions.register.
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.Hash56(
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.GraftColumnBridge.expression(c),
          org.apache.spark.sql.types.StringType)))

  /** Exact deduplication: md5-hash groups; `keep` marks the minimum doc id
    * of each content group (the survivor), dupCount the group size. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("h")
    docs.withColumn("h", md5(col(textCol)))
      .withColumn("dupCount", count(lit(1)).over(w))
      .withColumn("keep", col(idCol) === min(col(idCol)).over(w))
      .select(col(idCol), col("h"), col("dupCount"), col("keep"))
  }

  /** Corpus snapshot diff — the ingest-ops view of two corpus versions:
    * full outer join on id, content compared by md5 so the shuffle
    * carries (id, 32-byte hash) pairs, never document text. Status:
    * `added` (only in new), `removed` (only in old), `changed` (both,
    * hash differs), `same`. Drives incremental downstream work — re-run
    * dedup/scoring only over `added`+`changed`, the pattern the model
    * merges (statsMerge/histogramMerge/kmvMerge/iforest merge) consume.
    * Output: idCol, status. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("id"), md5(col(textCol)).as("ho"))
    val n = newDocs.select(col(idCol).as("id"), md5(col(textCol)).as("hn"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("ho").isNull, "added")
          .when(col("hn").isNull, "removed")
          .when(col("ho") =!= col("hn"), "changed")
          .otherwise("same").as("status"))
  }

  /** Incremental-ingest admission — the end-to-end path a periodic corpus
    * refresh runs, composed so every stage touches the FRESH slice plus
    * hash-sized state of the corpus, never the full history: snapshot
    * diff ([[corpusDiff]] — (id, md5) projections only) selects the
    * added/changed docs; the Gopher hard gate ([[gopherRules]]) screens
    * them; the cross-corpus LSH check ([[minhashPairsAcross]] vs the
    * unchanged survivors) rejects near-dups of already-retained content.
    * At 100 TB the diff and band joins shuffle hashes, the gate is a
    * zero-shuffle expression pass, and nothing pairs the corpus with
    * itself. Output: one row per fresh doc —
    * (idCol, status ∈ added|changed, qualityPass, isDup, admitted) with
    * the flags as 0/1 BIGINTs. */
  def incrementalIngest(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 16, bandSize: Int = 4, minWords: Int = 50): DataFrame = {
    // the diff verdict is id-sized but its lineage hashes BOTH corpora
    // (old included) and it feeds every downstream branch (fresh ×3,
    // retained ×1) — materialize it so the old-corpus hash pass runs
    // once. `fresh` itself stays lazy: it carries text, and re-deriving
    // it is one broadcast join against the id-sized leaf (measured
    // cheaper at sf0.1 than materializing the text column).
    val diff = corpusDiff(oldDocs, newDocs, idCol, textCol)
      .transform(materialize)
    val fresh = newDocs.join(
      diff.where(col("status").isin("added", "changed")), Seq(idCol))
    val retained = newDocs.join(
      diff.where(col("status") === "same").select(idCol), Seq(idCol))
    val gate = gopherRules(fresh, idCol, textCol, minWords = minWords)
      .select(col(idCol), col("passed").as("qualityPass"))
    val dups = minhashPairsAcross(fresh, retained, idCol, textCol,
      shingleSize, numHashes, bandSize)
      .select(col("a").as(idCol)).distinct()
      .withColumn("isDup", lit(1L))
    fresh.select(col(idCol), col("status"))
      .join(gate, Seq(idCol))
      .join(dups, Seq(idCol), "left")
      .withColumn("isDup", coalesce(col("isDup"), lit(0L)))
      .withColumn("admitted",
        ((col("qualityPass") === 1L) && (col("isDup") === 0L))
          .cast("int").cast("long"))
  }

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shinglesAll(docs, idCol, textCol, n).distinct()

  /** [[shingles]] WITHOUT the distinct — one explode, zero exchanges.
    * For consumers that dedup downstream on something cheaper than the
    * gram string (KMV dedups on the 8-byte hash), the distinct here would
    * be a redundant corpus-sized exchange of (id, string) pairs. */
  def shinglesAll(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // project the token array once: the gram builder reads it per slice
    docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(wordGrams(col("_toks"), n)).as("shingle"))
  }

  /** MinHash signature: numHashes minima of affine permutations of the
    * 56-bit shingle hashes. Output: id, hashIdx (0-based), minHash.
    *
    * A document's shingles live inside its own row, so the signature is a
    * per-row scalar — computed by the native codegen'd expression
    * [[graft.expr.MinHashSig]] in one pass with ZERO shuffles (the earlier
    * explode → distinct → groupBy formulation exchanged every shingle of
    * every document twice). Documents with fewer than `shingleSize` tokens
    * produce an empty signature array and therefore no rows. */
  def minhash(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame = {
    graft.expr.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol),
      posexplode(call_function("minhash_sig", tokens(col(textCol)),
        lit(shingleSize), lit(numHashes))).as(Seq("hashIdx", "minHash")))
  }

  /** LSH banding of a MinHash signature: band bucket = the band's minhash
    * values joined into one key. Output: id, band, bucket. */
  def lshBuckets(sig: DataFrame, idCol: String, bandSize: Int): DataFrame =
    sig.withColumn("band", (col("hashIdx") / bandSize).cast("int"))
      .groupBy(col(idCol), col("band"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("hashIdx"), col("minHash")))),
          s => s.getField("minHash").cast("string")),
        ":").as("bucket"))

  /** Near-duplicate candidate pairs: documents sharing any LSH band bucket
    * (a < b, distinct). The quadratic blow-up is bounded per bucket —
    * at scale this is the shuffle-friendly alternative to all-pairs. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bandSize: Int): DataFrame = {
    val sig = minhash(docs, idCol, textCol, shingleSize, numHashes)
    val b = lshBuckets(sig, idCol, bandSize)
    val l = b.select(col("band"), col("bucket"), col(idCol).as("a"))
    val r = b.select(col("band"), col("bucket"), col(idCol).as("b"))
    l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** [[minhashPairs]] with the SCALING.md §5 hot-bucket cap made real:
    * buckets holding more than `maxBucket` docs are dropped WHOLE before
    * the pair join. A degenerate bucket (a boilerplate band signature
    * shared corpus-wide — licence headers, templated pages) contributes
    * size² candidate pairs while its members are near-certainly caught by
    * their other, non-degenerate bands; dropping it is standard dedup
    * practice (cf. the postings-cap in suffix/ngram dedup pipelines) and
    * turns the worst-case quadratic bucket into a hard bound: pair work
    * ≤ Σ min(size, maxBucket)². The cap is a pure size predicate — no
    * sampling, no order sensitivity — so the whole pipeline stays
    * engine-replayable (q115 oracle). At 100 TB this is the knob that
    * keeps one viral boilerplate string from serializing the dedup:
    * size the cap to the duplicate multiplicity you intend to collapse
    * (default 10⁴-ish), anything hotter is boilerplate, not duplication. */
  def minhashPairsCapped(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bandSize: Int,
      maxBucket: Int): DataFrame = {
    val sig = minhash(docs, idCol, textCol, shingleSize, numHashes)
    val b = lshBuckets(sig, idCol, bandSize)
    // window count instead of agg+join: one shuffle on (band, bucket),
    // and the members arrive co-partitioned for the self-join below
    val kept = b.withColumn("_n",
        count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .where(col("_n") <= maxBucket).drop("_n")
    val l = kept.select(col("band"), col("bucket"), col(idCol).as("a"))
    val r = kept.select(col("band"), col("bucket"), col(idCol).as("b"))
    l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Cross-corpus near-dup candidates — the incremental-ingest face of
    * [[minhashPairs]]: which docs of a NEW batch collide with the
    * EXISTING corpus (same md5 minhash family, so the two sides' bucket
    * keys are comparable by construction). Every real crawl pipeline
    * runs this batch-vs-corpus shape rather than re-deduping the union
    * from scratch: the corpus side's bands are computed once (persist or
    * write them) and each new batch joins against them. Output: a = new
    * doc id, b = corpus doc id, distinct. */
  def minhashPairsAcross(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleSize: Int, numHashes: Int,
      bandSize: Int): DataFrame = {
    val bn = lshBuckets(minhash(newDocs, idCol, textCol, shingleSize, numHashes),
      idCol, bandSize)
    val bc = lshBuckets(minhash(corpus, idCol, textCol, shingleSize, numHashes),
      idCol, bandSize)
    bn.select(col("band"), col("bucket"), col(idCol).as("a"))
      .join(bc.select(col("band"), col("bucket"), col(idCol).as("b")),
        Seq("band", "bucket"))
      .select("a", "b").distinct()
  }

  /** Duplicate clusters = connected components over candidate pairs.
    * Docs in no pair form singleton clusters; component label = min doc
    * id (the survivor rule).
    *
    * Scale: up to `maxLocalEdges` the edge list resolves by driver
    * union-find in one pass; past it, [[ccLargeSmallStar]] runs the
    * alternating large-star/small-star rounds — O(log² n) rounds
    * regardless of component shape, where plain min-label propagation is
    * O(component diameter) and degenerates on chain-shaped clusters
    * (A≈B≈C≈… transitive near-dups, exactly what shingle overlap
    * produces on boilerplate). Each round shuffles only the edge list,
    * never document content. Output: id, cluster. */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20, maxLocalEdges: Int = 1 << 20): DataFrame =
    docs.select(col(idCol).cast("long").as("id"))
      .join(componentLabels(pairs, maxIter, maxLocalEdges), Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))

  /** Component labels of the (a, b) edge list, label = min id: (id,
    * cluster) rows for the pair-connected nodes; a node with no row is
    * its own label (callers left-join and coalesce). Up to
    * `maxLocalEdges` edges (near-dup edge lists are tiny next to the
    * corpus) this is one collect and a driver-side union-find, returned
    * as a broadcast frame of the non-root nodes — no iterative jobs;
    * past it, [[ccLargeSmallStar]]. */
  private def componentLabels(pairs: DataFrame, maxIter: Int,
      maxLocalEdges: Int): DataFrame = {
    val edges = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    val head = edges.limit(maxLocalEdges + 1).collect()
    if (head.length > maxLocalEdges) return ccLargeSmallStar(edges, maxIter)
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    head.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) { // union by min id = the survivor rule
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    broadcast(parent.keys.map(x => (x, find(x))).toSeq.toDF("id", "cluster")
      .where(col("id") =!= col("cluster")))
  }

  /** Distributed connected components by alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14):
    *
    *  - large-star: every node links its strictly-larger neighbors to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node links its smaller-or-equal neighbors
    *    (and itself) to its minimum neighbor.
    *
    * Both steps preserve connectivity; their fixpoint is a forest of
    * stars rooted at each component's minimum id, reached in O(log² n)
    * rounds on ANY graph shape — the property min-label propagation
    * lacks (O(diameter): a 10k-doc boilerplate chain needs 10k label
    * rounds but ~6 star rounds). Per round: two groupBy-min exchanges
    * over the (deduped, canonicalized) edge list; materializing each
    * round's edges truncates the iterative lineage. Only the
    * pair-connected subgraph participates — callers join singleton
    * nodes back afterwards.
    * Input: (a, b) pair columns. Output: id, cluster — one row per
    * non-root node plus a root self-row per component. */
  def ccLargeSmallStar(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // generic over any ordered id type (long doc ids here, string node
    // ids for graft.graph): only least/greatest/min ordering is used
    var edges = pairs
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct().transform(materialize)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetric view: m = min(closed neighborhood),
      // each neighbor v > u re-links to m (each edge emitted from exactly
      // one endpoint's star — the smaller one, where the mate is larger).
      // Duplicates are left for the small-star distinct: min-aggs are
      // dup-insensitive and one fewer exchange per round matters more
      // than the bounded join fan-out
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(minsL, "u").where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .where(col("u") =!= col("v"))
      // small-star over larger→smaller direction: m = min neighbor; the
      // node and its smaller neighbors all re-link to m
      val dir = large.select(col("v").as("u"), col("u").as("v")) // u > v
      val minsS = dir.groupBy("u").agg(min("v").as("m"))
      val small = dir.join(minsS, "u")
        .select(col("v").as("x"), col("m"))
        .union(minsS.select(col("u").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(least(col("x"), col("m")).as("u"),
          greatest(col("x"), col("m")).as("v"))
        .distinct().transform(materialize)
      // Fixpoint ⟺ the edge set is a star forest rooted at component
      // minima ⟺ every larger endpoint appears exactly once AND no root
      // is also a leaf (roots < leaves by canonicalization, so a star
      // forest passing both tests is min-rooted, and both star steps fix
      // it). One aggregate job — cheaper than a symmetric exceptAll diff
      converged = small
        .groupBy("v").agg(count(lit(1)).as("d"))
        .join(small.select(col("u").as("v")).distinct()
          .withColumn("isRoot", lit(1)), Seq("v"), "left")
        .where(col("d") > 1 || col("isRoot").isNotNull)
        .isEmpty
      edges = small
      i += 1
    }
    // fixpoint edges are stars (v > u = root): v's cluster is u, roots
    // label themselves; the min-agg guards the maxIter-truncated case
    // where a node still carries two candidate roots
    edges.select(col("v").as("id"), col("u").as("cluster"))
      .union(edges.select(col("u").as("id"), col("u").as("cluster")))
      .groupBy("id").agg(min("cluster").as("cluster"))
  }

  /** Survivor view of the clusters: one row per cluster — the kept doc
    * (= min id, the cluster label) and the cluster size. Join back to
    * `docs` on doc_id to materialize the deduplicated corpus. */
  def dedupSurvivors(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster").as("doc_id"))
      .agg(count(lit(1)).as("clusterSize"))

  /** Bigram collocations ranked by pointwise mutual information (engine
    * addition): PMI = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) over the
    * corpus bigram total and p(·) over the token total — the classic
    * collocation extractor ("new york", "machine learning") used to
    * build phrase vocabularies and spot boilerplate n-grams before
    * tokenizer training. `minCount` drops noise pairs.
    *
    * Determinism: all counts are exact integers; PMI is one ln of a
    * ratio of integer-derived doubles (same shape both engines — the
    * ln-parity assumption the NB/LM family carries).
    *
    * Scale: the bigram and unigram aggregates are map-side combined;
    * the joins after are vocabulary-sized (model, not data); totals
    * ride a broadcast 1-row frame. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val big = docs.select(tokens(col(textCol)).as("t"))
      .select(explode(wordGrams(col("t"), 2, (x, y) => struct(x.as("x"), y.as("y"))))
        .as("g"))
      .groupBy(col("g.x").as("x"), col("g.y").as("y")).agg(count(lit(1)).as("cnt"))
    val ug = tokenCounts(docs, Nil, textCol)
    val tot = ug.agg(sum("cnt").as("n"))
      .crossJoin(big.agg(sum("cnt").as("nb")))
    big.where(col("cnt") >= minCount)
      .join(ug.select(col("tok").as("x"), col("cnt").as("cx")), "x")
      .join(ug.select(col("tok").as("y"), col("cnt").as("cy")), "y")
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("cnt"),
        log((col("cnt").cast("double") / col("nb"))
          / ((col("cx").cast("double") / col("n"))
            * (col("cy").cast("double") / col("n")))).as("pmi"))
  }

  /** Edit-distance entity resolution: records that agree on a cheap
    * blocking key (the first `blockChars` characters) AND sit within
    * `maxDist` Levenshtein edits are the same entity; transitive closure
    * groups them into clusters labeled by min id — the record-linkage
    * complement of the shingle-based near-dup family (catches
    * small-typo / OCR-noise duplicates that shift every shingle). A doc
    * with a null text matches nothing and is its own cluster.
    *
    * Determinism: Levenshtein distance is an exact integer with one
    * classic definition — both engines agree symbol-for-symbol — and
    * clustering is the dedup family's min-label rule, so the oracle
    * replays pairs + a recursive transitive closure and hash-compares
    * cluster ids exactly.
    *
    * Scale: exact-duplicate texts collapse FIRST (one hash aggregate to
    * a min-id representative — lev 0 pairs cluster trivially, and at
    * corpus scale exact copies are the dominant mass: the naive form
    * measured 16× super-linear on a copy-heavy probe, this form is
    * flat). Distinct texts then pair inside blocks (equi-join on the
    * prefix key), and the whole pair test is the join condition, cheap
    * conjuncts first: rid order, then the length-difference gate
    * (|len a − len b| > maxDist never passes), then the distance. A
    * `.where` on the distance would be pushed into the join condition
    * AHEAD of them (PushPredicateThroughJoin), running it on every
    * block match — both orientations and each text against itself. The
    * distance is [[graft.expr.LevenshteinWithin]], which trims common
    * affixes and fills only the k-band with an early exit, so even a
    * reordered self-match costs O(len). The closure is the
    * [[dupClusters]] union-find over rep ids (driver-side under
    * `maxLocalEdges`, large-star/small-star above); its labels broadcast
    * back onto the docs through each doc's rep id, the min id of its
    * text (rep ids are per-text minima, so the rep-level min IS the
    * doc-level min). One lazy plan: the only job before the action is
    * the edge collect. */
  def entityResolve(docs: DataFrame, idCol: String, textCol: String,
      blockChars: Int = 16, maxDist: Int = 20): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val ids = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    val reps = ids.where(col("t").isNotNull).groupBy("t").agg(min("id").as("rid"))
      .select(col("rid"), col("t"), length(col("t")).as("len"),
        substring(col("t"), 1, blockChars).as("blk"))
    val pairs = reps.as("x").join(reps.as("y"),
        col("x.blk") === col("y.blk") && col("x.rid") < col("y.rid") &&
          abs(col("x.len") - col("y.len")) <= maxDist &&
          column(graft.expr.LevenshteinWithin(
            expression(col("x.t")), expression(col("y.t")), maxDist)))
      .select(col("x.rid").as("a"), col("y.rid").as("b"))
    // each doc's rep id as a min-id window over its text: one exchange,
    // where a join back to `reps` measured slower and one job more
    val rid = when(col("t").isNull, col("id"))
      .otherwise(min("id").over(Window.partitionBy("t")))
    ids.select(col("id").as("doc"), rid.as("id"))
      .join(componentLabels(pairs, maxIter = 20, maxLocalEdges = 1 << 20),
        Seq("id"), "left")
      .select(col("doc").as("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Flesch reading-ease (Flesch '48): 206.835 − 1.015·(words/sentences)
    * − 84.6·(syllables/words) with the standard cheap proxies — words =
    * whitespace tokens, sentences = [.!?]+ runs (min 1), syllables =
    * [aeiouy]+ vowel groups. A quality-scoring feature alongside the
    * Gopher/CCNet signals: training corpora routinely filter on
    * readability bands.
    *
    * Determinism: three exact regexp counts per row + one fixed float
    * expression — no aggregation at all. Scale: pure per-row map, one
    * pass, no shuffle, codegen end-to-end. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lo = lower(col(textCol))
    val nw = size(regexp_extract_all(lo, lit("\\S+"), lit(0)))
    val ns = greatest(size(regexp_extract_all(lo, lit("[.!?]+"), lit(0))), lit(1))
    val nsy = size(regexp_extract_all(lo, lit("[aeiouy]+"), lit(0)))
    docs.select(col(idCol),
      nw.cast("long").as("n_words"),
      ns.cast("long").as("n_sentences"),
      nsy.cast("long").as("n_syllables"),
      when(nw > 0,
        lit(206.835) - lit(1.015) * (nw.cast("double") / ns)
          - lit(84.6) * (nsy.cast("double") / nw)).as("flesch"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal runs of content tokens (split at stopwords and any token
    * containing a non-letter), word score = deg(w)/freq(w) over the
    * within-phrase co-occurrence graph (deg = Σ phrase length per
    * occurrence, diagonal included), phrase score = Σ word scores —
    * corpus-level keyphrases for topic labeling / corpus reporting.
    *
    * Determinism: deg and freq are exact integers; each deg/freq ratio
    * quantizes to 6dp fixed-point and the per-phrase sum is an exact
    * long sum; top-k orders by (score6, phrase).
    *
    * Scale: one tokenize pass → phrase roll-up keyed by (doc, run-id)
    * (the gaps-and-islands window on the per-doc sort), then two hash
    * aggs (word stats, distinct phrases) and a word-keyed join that
    * carries only distinct phrase words. Top-k is TakeOrdered. */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("stop",
        col("tok").isin(stopwords: _*) || col("tok").rlike("[^a-z]"))
    val w = Window.partitionBy("id").orderBy("pos")
    val ph = pos
      .withColumn("pid", sum(when(col("stop"), 1).otherwise(0)).over(w))
      .where(!col("stop"))
      .groupBy("id", "pid")
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("pt"))
      .select(concat_ws(" ",
        transform(col("pt"), _.getField("tok"))).as("phrase"),
        size(col("pt")).as("len"))
    val stats = ph.select(col("len"), explode(split(col("phrase"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"), sum(col("len").cast("long")).as("deg"))
    val distinctPh = ph.groupBy("phrase").agg(count(lit(1)).as("cnt"))
    distinctPh
      .select(col("phrase"), col("cnt"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(stats, "word")
      .groupBy("phrase", "cnt")
      .agg(count(lit(1)).as("n_words"),
        (sum(graft.core.fixedPointLong(
          col("deg").cast("double") / col("freq"), 6)) / 1e6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** Jaro–Winkler candidate pairing — the short-string (names, titles,
    * product labels) entity-resolution face, where Levenshtein's rigid
    * positional cost misranks transposed tokens. Same scale shape as
    * [[entityResolve]]: exact-dup collapse first (copy-heavy corpora ride
    * one hash agg, the similarity only ever sees distinct strings), then
    * prefix blocking bounds the pair join, then the codegen'd
    * [[graft.expr.JaroWinkler]] expression scores inside whole-stage
    * codegen — DuckDB-parity float order, oracle-exact. Blocking note:
    * JW's prefix boost makes shared-prefix blocking *aligned* with the
    * metric (high-JW pairs share prefixes unless the edit is in the
    * first `blockChars` chars — the same recall bound entityResolve
    * documents). */
  def jwPairs(docs: DataFrame, idCol: String, textCol: String,
      blockChars: Int = 8, minSim: Double = 0.85): DataFrame = {
    val spark = docs.sparkSession
    val ids = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    val reps = ids.groupBy("t").agg(min("id").as("rid"))
    val d = reps.withColumn("blk", substring(col("t"), 1, blockChars))
    val jw = graft.expr.GraftFunctions.jaroWinkler(spark, col("x.t"), col("y.t"))
    // the similarity goes LAST in the join condition: a `.where` on it
    // would be pushed in ahead of the rid test and score every block
    // match, self-matches and both orientations included
    d.as("x").join(d.as("y"),
        col("x.blk") === col("y.blk") && col("x.rid") < col("y.rid") && jw >= minSim)
      .select(col("x.rid").as("a"), col("y.rid").as("b"), jw.as("jw"))
  }

  /** Sorted-neighborhood entity-resolution blocking (Hernández & Stolfo
    * 1995): within each block, sort by the name key and compare each
    * record only to its next `windowSize−1` neighbors — O(n·w) pairs
    * instead of per-block quadratic, the classic scale alternative to
    * [[jwPairs]]' equality blocking when near-duplicates share a prefix
    * ordering but not an exact block key. Emits (blk, a, b, jw) for
    * neighbor pairs with Jaro–Winkler ≥ minSim.
    *
    * Determinism: the sort is (name, id)-total; the w−1 leads are exact;
    * jw is the DuckDB-parity codegen expression.
    *
    * Scale: one exchange on the block key; all w−1 leads ride one
    * per-block sort. Parallelism is block cardinality — at 100 TB use
    * composite blocking keys (multi-pass SNM), which is the method's own
    * standard practice; neighbors never cross blocks by design. */
  def sortedNeighborhood(docs: DataFrame, idCol: String, nameCol: String,
      blockCol: String, windowSize: Int = 4, minSim: Double = 0.85)
      : DataFrame = {
    require(windowSize >= 2, s"windowSize >= 2: $windowSize")
    val spark = docs.sparkSession
    val base = docs.select(col(blockCol).as("blk"),
      col(idCol).cast("long").as("a"), col(nameCol).as("na"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("na").asc, col("a").asc)
    base
      .withColumn("_nb", array((1 until windowSize).map(j =>
        struct(lead(col("a"), j).over(w).as("b"),
          lead(col("na"), j).over(w).as("nb"))): _*))
      .select(col("blk"), col("a"), col("na"),
        explode(col("_nb")).as("_p"))
      .where(col("_p.b").isNotNull)
      .withColumn("jw", graft.expr.GraftFunctions.jaroWinkler(spark,
        col("na"), col("_p.nb")))
      .where(col("jw") >= minSim)
      .select(col("blk"), col("a"), col("_p.b").as("b"), col("jw"))
  }

  /** Exact word n-gram Jaccard for given candidate pairs (a, b) — the
    * verify stage after LSH candidate generation: jaccard =
    * |A∩B| / |A∪B| over distinct n-gram shingles. Candidates without a
    * shared shingle keep jaccard 0. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String, n: Int,
      pairs: DataFrame): DataFrame = {
    val g = shingles(docs, idCol, textCol, n)
    val sizes = g.groupBy(col(idCol)).agg(count(lit(1)).as("ng"))
    val ga = g.select(col(idCol).as("a"), col("shingle"))
    val gb = g.select(col(idCol).as("b"), col("shingle"))
    val inter = pairs.join(ga, "a").join(gb, Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .withColumn("inter", coalesce(col("i"), lit(0L)))
      .join(sizes.select(col(idCol).as("a"), col("ng").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("ng").as("nb")), "b")
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")).cast("double"))
      .select("a", "b", "inter", "na", "nb", "jaccard")
  }

  /** N-gram novelty score: the fraction of a document's distinct
    * n-gram shingles whose FIRST appearance (min id over the corpus) is
    * this document — the curation-time "how much new content does this
    * doc add" curve. A corpus whose per-doc novelty collapses toward 0
    * as ids grow is re-crawling itself; the ExactSubstr/dedup families
    * remove copies, this measures the remaining marginal value.
    *
    * Determinism: min-id first-owner and exact integer counts; one
    * division. Scale: the shingle explode + two hash aggs (first-owner,
    * per-doc roll-up) and one shingle-keyed join — the decontamination
    * shuffle shape; nothing quadratic. Docs with < n tokens emit 0
    * shingles and a null novelty. */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val first = sh.groupBy("shingle").agg(min(col(idCol)).as("_first"))
    val per = sh.join(first, "shingle")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
    everyDoc(docs, idCol, per, "n_shingles" -> lit(0L), "n_novel" -> lit(0L))
      .withColumn("novelty", when(col("n_shingles") > 0,
        col("n_novel").cast("double") / col("n_shingles")))
  }

  /** Asymmetric n-gram containment for candidate pairs: |A∩B|/|A| and
    * |A∩B|/|B| — the verify metric when one document may be a SUBSET of
    * another (quote expansion, boilerplate wrapping), where symmetric
    * Jaccard under-scores exactly the pairs that matter. Same candidate
    * shape and shuffle plan as [[ngramJaccard]]. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
      n: Int, pairs: DataFrame): DataFrame =
    ngramJaccard(docs, idCol, textCol, n, pairs)
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") / col("na")).as("cont_a"),
        (col("inter").cast("double") / col("nb")).as("cont_b"))

  /** SimHash (`bits`-bit): per token-hash bit, sum ±1 over the token
    * multiset; bit set where the sum is positive. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", hash56(col("tok")))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val agg = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until bits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.withColumn("simhash", sh).select(col(idCol), col("simhash"))
  }

  /** Hamming distance between two simhash values (for near-dup pairing). */
  def hamming(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map(i =>
      shiftright(a.bitwiseXOR(b), i).bitwiseAND(1).cast("int")).reduce(_ + _)

  /** Winnowing fingerprints (MOSS): one row per distinct selected k-gram
    * hash per doc — the position-robust fingerprint set for plagiarism /
    * overlap detection. Per-row native expression, zero shuffles
    * ([[graft.expr.Winnow]]). */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
      k: Int, winSize: Int): DataFrame = {
    graft.expr.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol),
      explode(call_function("winnow_fp", tokens(col(textCol)),
        lit(k), lit(winSize))).as("fp"))
  }

  /** TF-IDF: top `topK` terms per document by tf·ln(N/df). Two hash
    * aggregations (term frequency per doc, document frequency per term)
    * + a join on term + a per-doc top-k window (rank-filter pushdown
    * applies). The corpus size N is a 1-row aggregate broadcast into the
    * same plan rather than a separate `count()` action — one job, not
    * two. Ranking uses the raw double; ties break on term. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = tokenCounts(docs, Seq(col(idCol)), textCol)
      .select(col(idCol), col("tok").as("term"), col("cnt").as("tf"))
    // each (doc, term) row of tf is one document containing the term
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Overlap candidate pairs from winnowing fingerprints: docs sharing at
    * least `minShared` selected hashes (a < b). The per-fingerprint join
    * is bounded by fingerprint-bucket sizes, like the LSH-band join. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, winSize: Int, minShared: Long): DataFrame = {
    val fp = winnow(docs, idCol, textCol, k, winSize)
    val l = fp.select(col("fp"), col(idCol).as("a"))
    val r = fp.select(col("fp"), col(idCol).as("b"))
    l.join(r, "fp").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("sharedFp"))
      .where(col("sharedFp") >= minShared)
  }

  /** zlib compression ratio per document — the classic cheap redundancy
    * signal (template spam and scraped boilerplate compress far below
    * organic prose; cutting on deflate ratio is a standard corpus-
    * quality heuristic). One JVM `Deflater` per PARTITION (the real
    * batched-codec pattern), rows streamed through, zero shuffle.
    *
    * Gate note: the deflated LENGTH is zlib-implementation-defined, so
    * no SQL oracle exists — this is a NON-GATED utility (UrlJsonSpec
    * pins exact values plus the repetitive-vs-diverse monotonicity
    * contract and partitioning-independence); the q269 driver row runs
    * the oracle-friendly [[repeatedGramMass]] face instead. */
  def compressionRatio(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater()
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, t) =>
          val raw = Option(t).getOrElse("").getBytes("UTF-8")
          defl.reset(); defl.setInput(raw); defl.finish()
          var n = 0L
          while (!defl.finished()) n += defl.deflate(buf)
          (id, raw.length.toLong, n,
            if (raw.length == 0) 1.0 else n.toDouble / raw.length)
        }
      }.toDF("id", "raw_bytes", "deflated_bytes", "ratio")
  }

  /** Engine-independent redundancy proxy: the fraction of a document's
    * overlapping character n-grams that are REPEATS of an n-gram seen
    * elsewhere in the same document — the zlib-ratio signal (template
    * spam / boilerplate score high) re-expressed with a deterministic
    * value both engines compute bit-identically, so unlike
    * [[compressionRatio]] it carries a full SQL oracle (r9 verdict
    * item 6). redundancy = 1 − distinct/total n-grams; 0 for docs
    * shorter than n.
    *
    * Scale: entirely per-row (sequence→transform→array_distinct in
    * codegen, zero shuffle); transient cost is O(len·n) bytes per doc,
    * bounded by the corpus's max-doc-length contract. */
  def repeatedGramMass(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"n >= 2: $n")
    docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("_t"))
      .withColumn("grams",
        greatest(length(col("_t")) - (n - 1), lit(0)).cast("long"))
      .withColumn("distinct_grams",
        when(col("grams") === 0L, lit(0L))
          .otherwise(size(distinctCharGrams(col("_t"), n)).cast("long")))
      .withColumn("redundancy",
        when(col("grams") > 0L,
          lit(1.0) - col("distinct_grams").cast("double") /
            col("grams").cast("double")).otherwise(lit(0.0)))
      .select("id", "grams", "distinct_grams", "redundancy")
  }

  /** Lexical diversity per GROUP over the pooled vocabulary: token
    * count, type (distinct-token) count, type–token ratio, and the
    * hapax fraction (types occurring exactly once — the long-tail
    * health of a source; template spam has a tiny hapax mass). The
    * corpus-level complement of the per-document [[lexicalDiversity]]:
    * a source's pooled TTR collapses when its documents repeat EACH
    * OTHER, which per-doc ratios cannot see. One hash aggregate to
    * (group, token) counts, then a group-sized roll-up. Output: group,
    * tokens, types, ttr, hapax, hapax_frac. */
  def lexicalDiversityByGroup(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    tokenCounts(docs, Seq(col(groupCol).as("group")), textCol)
      .groupBy(col("group"))
      .agg(sum(col("cnt")).as("tokens"), count(lit(1)).as("types"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("hapax"))
      .withColumn("ttr",
        col("types").cast("double") / col("tokens").cast("double"))
      .withColumn("hapax_frac",
        col("hapax").cast("double") / col("types").cast("double"))
      .select("group", "tokens", "types", "ttr", "hapax", "hapax_frac")

  /** Character-class drift per group: the 4-class character profile
    * (alpha / digit / whitespace / other) of each source vs the corpus
    * profile, summarized by Jensen–Shannon divergence — the cheapest
    * "this source is tables/code/spam, not prose" screen (a scraped
    * price-list source drifts to digits, minified markup to `other`),
    * orthogonal to the token-level unigram-KL family which needs a
    * vocabulary. Output: group, n_chars, p_alpha, p_digit, p_space,
    * p_other, js.
    *
    * Determinism: per-row exact regexp counts → per-group long sums;
    * the JS closes over 4 fixed columns (no distribution-sized frame),
    * each term an 8dp-quantized −p·ln() expression. Scale: one per-row
    * map + one group aggregate; everything after is group-sized. */
  def charClassDrift(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val lo = lower(coalesce(col(textCol), lit("")))
    def cnt(re: String) =
      size(regexp_extract_all(lo, lit(re), lit(0))).cast("long")
    val per = docs
      .select(col(groupCol).as("group"), cnt("[a-z]").as("_a"),
        cnt("[0-9]").as("_d"), cnt("\\s").as("_s"),
        (length(lo) - cnt("[a-z]") - cnt("[0-9]") - cnt("\\s")).as("_o"))
      .groupBy(col("group"))
      .agg(sum(col("_a")).as("ca"), sum(col("_d")).as("cd"),
        sum(col("_s")).as("cs"), sum(col("_o")).as("co"))
      .withColumn("n_chars", col("ca") + col("cd") + col("cs") + col("co"))
      .where(col("n_chars") > 0)
    val tot = per.agg(sum(col("ca")).as("ta"), sum(col("cd")).as("td"),
      sum(col("cs")).as("ts"), sum(col("co")).as("to"),
      sum(col("n_chars")).as("tn"))
    def p(c: String) = col(c).cast("double") / col("n_chars").cast("double")
    def q(c: String) = col(c).cast("double") / col("tn").cast("double")
    def klTerm(pc: Column, qc: Column) = {
      val m = (pc + qc) / 2.0
      (when(pc > 0, pc * log(pc / m)).otherwise(lit(0.0)) +
        when(qc > 0, qc * log(qc / m)).otherwise(lit(0.0))) / 2.0
    }
    val wide = per.crossJoin(broadcast(tot))
    val js = Seq(("ca", "ta"), ("cd", "td"), ("cs", "ts"), ("co", "to"))
      .map { case (a, b) =>
        graft.core.fixedPointLong(klTerm(p(a), q(b)), 8) }
      .reduce(_ + _).cast("double") / 1e8
    wide.select(col("group"), col("n_chars"),
      p("ca").as("p_alpha"), p("cd").as("p_digit"),
      p("cs").as("p_space"), p("co").as("p_other"), js.as("js"))
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * character n-grams whose first corpus occurrence (by min doc id) is
    * this document — the marginal-content curve that prices dedup ROI
    * (a corpus whose late docs have near-zero novelty is a re-crawl).
    * Output: id, distinct_grams, new_grams, novelty (1.0 for docs
    * shorter than n, which contribute nothing and collide with nothing).
    *
    * Scale: grams travel as 56-bit hashes; work is one explode (O(chars)
    * rows), one min-aggregate per gram, one join back — the spanDedup
    * shape, linear in corpus size. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"n >= 2: $n")
    val base = docs.select(col(idCol).cast("long").as("id"),
      coalesce(col(textCol), lit("")).as("_t"))
    val grams = base
      .where(length(col("_t")) >= n)
      .select(col("id"), explode(distinctCharGrams(col("_t"), n)).as("_g"))
      .select(col("id"), hash56(col("_g")).as("_h"))
    val first = grams.groupBy(col("_h")).agg(min(col("id")).as("_first"))
    val per = grams.join(first, "_h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("distinct_grams"),
        sum(when(col("_first") === col("id"), 1L).otherwise(0L))
          .as("new_grams"))
    everyDoc(base, "id", per, "distinct_grams" -> lit(0L), "new_grams" -> lit(0L))
      .withColumn("novelty",
        when(col("distinct_grams") > 0,
          col("new_grams").cast("double") /
            col("distinct_grams").cast("double"))
          .otherwise(lit(1.0)))
  }

  /** Context-window truncation loss per group: with a max of `maxTokens`
    * tokens per document, how many tokens fall past the cut and what
    * fraction of the group's mass is lost — the "is L big enough for
    * this source" dial every packing pipeline reads before committing a
    * sequence length. Per-row token counts, one group aggregate.
    * Output: group, docs, docs_truncated, tokens, tokens_lost,
    * loss_frac. */
  def truncationLoss(docs: DataFrame, groupCol: String, textCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens >= 1: $maxTokens")
    val nTok = size(tokens(col(textCol))).cast("long")
    docs.select(col(groupCol).as("group"), nTok.as("_n"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("_n") > maxTokens, 1L).otherwise(0L))
          .as("docs_truncated"),
        sum(col("_n")).as("tokens"),
        sum(greatest(col("_n") - maxTokens, lit(0L))).as("tokens_lost"))
      .withColumn("loss_frac",
        when(col("tokens") > 0,
          col("tokens_lost").cast("double") / col("tokens").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Exact vocabulary-overlap matrix between groups: per group pair
    * (a < b) the distinct-token intersection and Jaccard — "are these
    * two sources the same crawl under different names", the
    * source-level complement of the per-document dedup stack. Output:
    * a, b, sz_a, sz_b, inter, jaccard.
    *
    * Scale: tokens travel as 56-bit hashes; pair work is Σ_token
    * groups(token)² with groups(token) ≤ the GROUP count — this is a
    * groups²-bounded matrix op (sources/domains, not documents). At a
    * web-scale domain count, band the matrix by a domain shortlist
    * first; the op itself never touches document pairs. */
  def vocabOverlap(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val gt = docs.select(col(groupCol).as("_g"),
      explode(tokens(col(textCol))).as("_t"))
      .select(col("_g"), hash56(col("_t")).as("_h"))
      .distinct()
    val sz = gt.groupBy(col("_g")).agg(count(lit(1)).as("_sz"))
    val inter = gt.as("x").join(gt.as("y"),
        col("x._h") === col("y._h") && col("x._g") < col("y._g"))
      .groupBy(col("x._g").as("a"), col("y._g").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("_g").as("a"), col("_sz").as("sz_a")), "a")
      .join(sz.select(col("_g").as("b"), col("_sz").as("sz_b")), "b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .select("a", "b", "sz_a", "sz_b", "inter", "jaccard")
  }

  /** MinHash containment estimates for the LSH candidate pairs: Ĵ =
    * signature agreement / numHashes, |A∩B|^ = Ĵ/(1+Ĵ)·(|A|+|B|),
    * containment_a = |A∩B|^/|A| — the ASYMMETRIC near-dup measure exact
    * Jaccard can't give (a doc fully contained in a bigger doc scores
    * containment ≈ 1 at a mediocre Jaccard; dedup policies usually want
    * to drop the contained copy). Sizes are exact distinct-shingle
    * counts. Output: a, b, sz_a, sz_b, matches, jhat, containment_a.
    *
    * Scale: candidates come banded from [[minhashPairs]] (never
    * all-pairs); the match count joins the numHashes-wide signatures on
    * (pair, hashIdx) — candidate-bounded. */
  def minhashContainment(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bandSize: Int): DataFrame = {
    val sig = minhash(docs, idCol, textCol, shingleSize, numHashes)
    val pairs = minhashPairs(docs, idCol, textCol, shingleSize, numHashes,
      bandSize)
    val sz = shingles(docs, idCol, textCol, shingleSize)
      .groupBy(col(idCol)).agg(count(lit(1)).as("_sz"))
    val matches = pairs
      .join(sig.select(col(idCol).as("a"), col("hashIdx"),
        col("minHash").as("_ha")), Seq("a"))
      .join(sig.select(col(idCol).as("b"), col("hashIdx"),
        col("minHash").as("_hb")), Seq("b", "hashIdx"))
      .groupBy(col("a"), col("b"))
      .agg(sum(when(col("_ha") === col("_hb"), 1L).otherwise(0L))
        .as("matches"))
    matches
      .join(sz.select(col(idCol).as("a"), col("_sz").as("sz_a")), "a")
      .join(sz.select(col(idCol).as("b"), col("_sz").as("sz_b")), "b")
      .withColumn("jhat", col("matches").cast("double") / numHashes)
      .withColumn("containment_a",
        when(col("sz_a") > 0,
          col("jhat") / (lit(1.0) + col("jhat")) *
            (col("sz_a") + col("sz_b")).cast("double") /
            col("sz_a").cast("double"))
          .otherwise(lit(0.0)))
      .select("a", "b", "sz_a", "sz_b", "matches", "jhat", "containment_a")
  }

  /** Order-free corpus fingerprint: per group, row count + a commutative
    * content digest (sum of per-row 56-bit md5 values, accumulated as
    * decimal so it never wraps) — the cheap reproducibility check for a
    * re-ingested or re-partitioned corpus: identical fingerprint ⟺
    * identical row multiset, independent of order, partitioning and
    * cluster size. One hash aggregate, map-side combined. `contentCols`
    * join with a \u0001 separator before hashing so column boundaries
    * cannot cancel. */
  /** Quality-aware near-dup survivor selection: per dup cluster keep the
    * BEST copy by the supplied quality column (ties to the smaller id),
    * not the min-id copy — the policy real curation pipelines want
    * ("keep the longest / highest-scoring duplicate", cf. CCNet keeping
    * the head shard copy only by accident of order). Input: the
    * [[dupClusters]] (id, cluster) frame + a per-doc quality frame.
    * Output one row per cluster: cluster, survivor_id, quality,
    * cluster_size. */
  def bestSurvivor(clusters: DataFrame, quality: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = clusters.join(
      quality.select(col(idCol).cast("long").as("id"),
        col(qualityCol).cast("long").as("_q")), "id")
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("_q").desc, col("id").asc)
    val kw = Window.partitionBy(col("cluster"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    q.withColumn("_rk", row_number().over(w))
      .withColumn("cluster_size", count(lit(1)).over(kw))
      .where(col("_rk") === 1)
      .select(col("cluster"), col("id").as("survivor_id"),
        col("_q").as("quality"), col("cluster_size"))
  }

  /** Add-α-smoothed unigram KL divergence between two sub-corpora over
    * their union vocabulary: KL(A‖B) = Σ_w p_w ln(p_w/q_w) with
    * p_w = (c_aw+α)/(N_a+αV) — the distribution-shift check between two
    * sources/snapshots at the token level (the corpus-diff report says
    * WHICH docs changed; this says how much the language moved). Terms
    * quantize at 6dp before the vocab-sized fold. One row: v, n_a, n_b,
    * kl_ab, kl_ba. */
  def unigramKL(docs: DataFrame, groupCol: String, textCol: String,
      ga: String, gb: String, alpha: Double = 0.5): DataFrame = {
    val cnt = twoSidedCounts(
      docs.where(col(groupCol) === ga || col(groupCol) === gb),
      col(groupCol) === ga, textCol)
    val tot = cnt.agg(count(lit(1)).as("v"), sum(col("ca")).as("na"),
      sum(col("cb")).as("nb"))
    val withTot = cnt.crossJoin(broadcast(tot))
    val pa = (col("ca").cast("double") + alpha) /
      (col("na").cast("double") + lit(alpha) * col("v").cast("double"))
    val pb = (col("cb").cast("double") + alpha) /
      (col("nb").cast("double") + lit(alpha) * col("v").cast("double"))
    withTot
      .withColumn("_ab", fixedPointLong(pa * log(pa / pb), 6))
      .withColumn("_ba", fixedPointLong(pb * log(pb / pa), 6))
      .groupBy(col("v"), col("na"), col("nb"))
      .agg(sum(col("_ab")).as("_sab"), sum(col("_ba")).as("_sba"))
      .select(col("v"), col("na").as("n_a"), col("nb").as("n_b"),
        (col("_sab").cast("double") / 1e6).as("kl_ab"),
        (col("_sba").cast("double") / 1e6).as("kl_ba"))
  }

  /** Distinctive terms by weighted log-odds with an informative
    * Dirichlet prior (Monroe, Colaresi & Quinn 2008 "Fightin' Words"):
    * per token, δ_w = ln-odds(A) − ln-odds(B) with prior counts
    * α_w = priorScale·c_w/N from the pooled corpus, z_w = δ_w/√σ²_w,
    * σ²_w ≈ 1/(c_aw+α_w) + 1/(c_bw+α_w). The "what vocabulary makes
    * source A different" view; min-count filters the long tail. Output
    * per kept token: token, c_a, c_b, delta, z. */
  def logOddsTerms(docs: DataFrame, groupCol: String, textCol: String,
      ga: String, gb: String, priorScale: Double = 10.0,
      minCount: Long = 5L): DataFrame = {
    val cnt = twoSidedCounts(
      docs.where(col(groupCol) === ga || col(groupCol) === gb),
      col(groupCol) === ga, textCol)
      .where(col("ca") + col("cb") >= minCount)
    val tot = cnt.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      sum(col("ca") + col("cb")).as("nn"))
    val t = cnt.crossJoin(broadcast(tot))
      .withColumn("_aw", lit(priorScale) *
        (col("ca") + col("cb")).cast("double") / col("nn").cast("double"))
    val a0 = lit(priorScale)
    val oa = (col("ca").cast("double") + col("_aw")) /
      (col("na").cast("double") + a0 - col("ca").cast("double") - col("_aw"))
    val ob = (col("cb").cast("double") + col("_aw")) /
      (col("nb").cast("double") + a0 - col("cb").cast("double") - col("_aw"))
    val delta = log(oa) - log(ob)
    val sig2 = lit(1.0) / (col("ca").cast("double") + col("_aw")) +
      lit(1.0) / (col("cb").cast("double") + col("_aw"))
    t.select(col("tok").as("token"), col("ca").as("c_a"), col("cb").as("c_b"),
      delta.as("delta"), (delta / sqrt(sig2)).as("z"))
  }

  def corpusFingerprint(df: DataFrame, keyCols: Seq[String],
      contentCols: Seq[String]): DataFrame = {
    val content = concat_ws("\u0001",
      contentCols.map(c => col(c).cast("string")): _*)
    // XOR fold, not a sum: stays in 56 bits / int64 at any corpus size, so
    // every fetch path (pyarrow, pandas, duckdb) sees the same exact value —
    // a decimal(38,0) sum grows past 2^53 and silently loses precision the
    // moment a reader converts it to float64 (r8 driver-gate post-mortem).
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        call_function("bit_xor", hash56(content)).as("digest"))
  }

  /** Unicode script profile — the orthography-level sanity check behind
    * language id (a doc tagged `en` that is 60% Cyrillic is mislabeled
    * or spam; mixed-script tokens are a classic obfuscation signal).
    * One codegen'd regex scan per script class, zero shuffle. Java
    * spells the classes `\p{IsLatin}`; RE2 spells them `\p{Latin}` —
    * same Unicode script property, so the oracle replays exactly.
    * `dominant` is the argmax script with ties to the class order
    * latin > cyrillic > han > arabic (deterministic). */
  def scriptProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(cls: String) =
      length(regexp_replace(col(textCol), s"[^\\p{Is$cls}]", ""))
    val digit = length(regexp_replace(col(textCol), "[^0-9]", ""))
    val space = length(regexp_replace(col(textCol), "[^\\s]", ""))
    val out = docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      cnt("Latin").cast("long").as("n_latin"),
      cnt("Cyrillic").cast("long").as("n_cyrillic"),
      cnt("Han").cast("long").as("n_han"),
      cnt("Arabic").cast("long").as("n_arabic"),
      digit.cast("long").as("n_digit"),
      space.cast("long").as("n_space"))
    val scripts = Seq("n_latin", "n_cyrillic", "n_han", "n_arabic")
    val dominant = scripts.tail.foldLeft(
      (col(scripts.head), lit(scripts.head.drop(2)))) { case ((best, name), c) =>
      (greatest(best, col(c)),
        when(col(c) > best, lit(c.drop(2))).otherwise(name))
    }._2
    out.withColumn("dominant",
      when(col("n_latin") + col("n_cyrillic") + col("n_han") + col("n_arabic") === 0,
        "none").otherwise(dominant))
  }

  /** Language markers for the stopword-ratio language id heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "de", "un", "una", "es", "por", "que"))

  /** Per-language marker hit counts from a token-array column, in sorted
    * lang order — shared by [[langId]] and [[curationQuotaFused]] so the
    * staged and fused pipelines compute bit-identical predictions. */
  private def langCountExprs(toksC: Column): Seq[(String, Column)] =
    langMarkers.toSeq.sortBy(_._1).map { case (l, words) =>
      l -> size(filter(toksC, tk => words.map(w => tk === w).reduce(_ || _)))
    }

  /** Argmax language from [[langCountExprs]] output; ties resolve to the
    * alphabetically first language, zero hits to `unknown`. */
  private def langPredFrom(counts: Seq[(String, Column)]): Column = {
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.reverse.foldLeft(lit("unknown")) { case (acc, (l, c)) =>
      when(c === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Language-ID heuristic: argmax of language marker-token hit counts;
    * `unknown` when nothing matches. Ties resolve in fixed lang order. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = langCountExprs(tokens(col(textCol)))
    docs.select(col(idCol) +: counts.map { case (l, c) => c.as(s"n_$l") } :+
      langPredFrom(counts).as("predLang"): _*)
  }

  /** Quality scoring (length / punctuation / stopword / digit signals) —
    * a composite in [0,1], higher = cleaner prose-like text. */
  /** Gopher-style hard document filter (Rae et al. 2021, "Scaling
    * Language Models: ...Gopher", §A1.1) — the standard rule battery a
    * pretraining corpus is screened with, complementing the soft
    * [[qualityScore]]: word-count window, mean word length window,
    * symbol-to-word ratio (# and ellipsis), bullet-started and
    * ellipsis-ended line fractions, alphabetic-word fraction, minimum
    * distinct-stopword hits. Every signal is a native codegen'd
    * expression over one tokenize pass (no UDFs, no shuffle — a pure
    * map over the corpus), and the whole battery is SQL-replayable.
    * Output: idCol, nWords, meanWordLen, symbolRatio, bulletFrac,
    * ellipsisFrac, alphaWordFrac, nStop, passed (1/0). */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val txt = col(textCol)
    val ws = tokens(txt)
    val nW = size(ws).cast("long")
    val nWd = greatest(nW.cast("double"), lit(1.0))
    val meanLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
      .cast("double") / nWd
    val symRatio = size(regexp_extract_all(txt, lit("#|\\.\\.\\.|…"), lit(0)))
      .cast("double") / nWd
    val lines = split(txt, "\n")
    val nLd = greatest(size(lines).cast("double"), lit(1.0))
    val bulletFrac = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
      .cast("double") / nLd
    val ellipsisFrac = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
      .cast("double") / nLd
    val alphaFrac = size(filter(ws, w => w.rlike("[a-z]"))).cast("double") / nWd
    val nStop = langMarkers("en")
      .map(w => array_contains(ws, w).cast("int")).reduce(_ + _).cast("long")
    val passed =
      nW.between(minWords, maxWords) &&
      meanLen.between(minMeanWordLen, maxMeanWordLen) &&
      symRatio <= maxSymbolRatio &&
      bulletFrac <= maxBulletFrac && ellipsisFrac <= maxEllipsisFrac &&
      alphaFrac >= minAlphaWordFrac && nStop >= minStopHits
    docs.select(col(idCol), nW.as("nWords"), meanLen.as("meanWordLen"),
      symRatio.as("symbolRatio"), bulletFrac.as("bulletFrac"),
      ellipsisFrac.as("ellipsisFrac"), alphaFrac.as("alphaWordFrac"),
      nStop.as("nStop"), passed.cast("int").cast("long").as("passed"))
  }

  /** The quality signal battery from (raw-text, token-array) columns —
    * shared by [[qualityScore]] and [[curationQuotaFused]] so staged and
    * fused pipelines are bit-identical. Returns
    * (nTok, nStop, nPunct, nDigit, quality). */
  private def qualityExprs(
      txt: Column, toksC: Column): (Column, Column, Column, Column, Column) = {
    val nChars = length(txt).cast("double")
    val nTok = size(toksC).cast("double")
    val nPunct = size(regexp_extract_all(txt, lit("[.,;:!?]"), lit(0))).cast("double")
    val nDigit = size(regexp_extract_all(txt, lit("[0-9]"), lit(0))).cast("double")
    val stop = langMarkers("en")
    val nStop = size(filter(toksC, t => stop.map(w => t === w).reduce(_ || _))).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val stopScore = least(nStop / greatest(nTok, lit(1.0)) * 10.0, lit(1.0))
    val punctPen = least(nPunct / greatest(nChars, lit(1.0)) * 20.0, lit(1.0))
    val digitPen = least(nDigit / greatest(nChars, lit(1.0)) * 10.0, lit(1.0))
    (nTok, nStop, nPunct, nDigit,
      (lenScore + stopScore + (lit(1.0) - punctPen) + (lit(1.0) - digitPen)) / 4.0)
  }

  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val (nTok, nStop, nPunct, nDigit, quality) = qualityExprs(txt, tokens(txt))
    docs.select(col(idCol), nTok.as("nTok"), nStop.as("nStop"),
      nPunct.as("nPunct"), nDigit.as("nDigit"), quality.as("quality"))
  }

  /** Lexical-diversity features per document: type–token ratio, hapax
    * fraction and Yule's K = 10⁴·(Σf²−N)/N² — the vocabulary-richness
    * band next to [[qualityScore]]'s ratios and [[repetitionSignals]]'
    * dup fractions (template/spam text has low TTR and low K-inverse;
    * keyboard-mash has TTR ≈ 1). Yule's K is length-robust where raw
    * TTR decays with N, so the pair separates "short and varied" from
    * "long and repetitive".
    *
    * Per-row sort + single fold over the token array (the
    * repetitionSignals device) — exact integer counts, no shuffle,
    * embarrassingly parallel at any corpus size. Empty docs emit zero
    * counts and NULL ratios. */
  def lexicalDiversity(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val sorted = array_sort(toks)
    // fold run-lengths over the sorted tokens; a run closes when the
    // token changes (and once more in finish), contributing run² to Σf²
    // and 1 to hapax when the closed run has length 1
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("hapax"), lit(0L).as("s2"))
    val folded = aggregate(sorted, zero,
      (acc, g) => {
        val same = g === acc.getField("prev")
        val run = acc.getField("run")
        struct(g.as("prev"),
          when(same, run + 1L).otherwise(lit(1L)).as("run"),
          when(!same && run === 1L, acc.getField("hapax") + 1L)
            .otherwise(acc.getField("hapax")).as("hapax"),
          when(!same, acc.getField("s2") + run * run)
            .otherwise(acc.getField("s2")).as("s2"))
      },
      acc => struct(
        when(acc.getField("run") === 1L, acc.getField("hapax") + 1L)
          .otherwise(acc.getField("hapax")).as("hapax"),
        (acc.getField("s2") +
          acc.getField("run") * acc.getField("run")).as("s2")))
    val n = size(toks).cast("long")
    docs.select(col(idCol), n.as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        folded.getField("hapax").as("n_hapax"),
        folded.getField("s2").as("_s2"))
      .select(col(idCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        when(col("n_tokens") > 0,
          col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        when(col("n_tokens") > 0,
          col("n_hapax").cast("double") / col("n_tokens")).as("hapax_ratio"),
        when(col("n_tokens") > 0,
          lit(1e4) * (col("_s2") - col("n_tokens")).cast("double") /
            (col("n_tokens").cast("double") * col("n_tokens"))).as("yule_k"))
  }

  /** Deterministic dataset split — train/val/test assignment by md5 of
    * the id (the split every training pipeline needs to be stable across
    * reruns, engines, partitionings and late-arriving data; a row's
    * split never depends on what other rows exist). `weights` are
    * (name, weight) in order; u = hash56(id)/2^56 ∈ [0,1) falls into the
    * cumulative-weight interval. Output: idCol, u (4dp), split. */
  def splitByHash(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights")
    val cuts = splitCuts(weights)
    val u = hash56(col(idCol).cast("string")) / 72057594037927936.0
    val split = weights.zip(cuts).reverse.foldLeft(lit(weights.last._1)) {
      case (acc, ((name, _), cut)) => when(u < cut, lit(name)).otherwise(acc)
    }
    df.select(col(idCol), u.as("u"), split.as("split"))
  }

  /** Zipf-slope corpus diagnostic: OLS slope of ln(freq) over ln(rank)
    * across the top-`topN` tokens per key — healthy natural-language
    * slices sit near −1 (Zipf's law); synthetic, boilerplate-heavy, or
    * template-generated slices flatten toward 0 and heavily-deduped or
    * truncated-vocabulary slices steepen. A one-number language-health
    * probe per corpus slice.
    *
    * Scale: token counts are one map-side-combined aggregation; ranking
    * is a top-N window the optimizer caps per partition pre-exchange
    * (WindowGroupLimit); the regression reduces topN·|keys| rows with
    * plain avgs (slope = (E[xy]−E[x]E[y])/(E[x²]−E[x]²) — kept to avg
    * arithmetic so an oracle replays it bit-for-bit).
    * Output: keyCols..., n_toks (ranked tokens used), zipf_slope. */
  def zipfSlope(docs: DataFrame, keyCols: Seq[String], textCol: String,
      topN: Int): DataFrame = {
    val counts = tokenCounts(docs, keyCols.map(col), textCol)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("cnt").desc, col("tok"))
    val ranked = counts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topN)
      .withColumn("x", log(col("rank").cast("double")))
      .withColumn("y", log(col("cnt").cast("double")))
    ranked.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_toks"),
        ((avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))) /
          (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))))
          .as("zipf_slope"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis, IPL
    * 2006 "A-ES"): each row gets key u^(1/w) with u = hash56(id)/2^56;
    * the k largest keys per stratum are a weighted sample without
    * replacement — the one-pass, distributed, merge-friendly way to
    * subsample a corpus ∝ quality/length/any positive weight. Ordering
    * by ln(u)/w (monotone in u^(1/w) since w>0) keeps the arithmetic to
    * one log + one divide. md5-derived u → the sample is deterministic,
    * stable under reruns/partitioning, and SQL-replayable.
    *
    * Scale: top-k per stratum is a window rank the optimizer caps at k
    * per partition BEFORE the exchange (WindowGroupLimit) — the shuffle
    * carries k·|strata| candidate rows, not the corpus.
    * Output: keyCols..., idCol, weightCol. */
  def weightedSample(df: DataFrame, keyCols: Seq[String], idCol: String,
      weightCol: String, k: Int): DataFrame = {
    val u = hash56(col(idCol).cast("string")) / 72057594037927936.0
    val skey = log(u) / col(weightCol)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_skey").desc, col(idCol))
    df.select((keyCols :+ idCol :+ weightCol).map(col) :+ skey.as("_skey"): _*)
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .drop("_skey", "_rank")
  }

  /** The cumulative cut points [[splitByHash]] compares against — public
    * so an oracle/replica can embed the exact same doubles. */
  def splitCuts(weights: Seq[(String, Double)]): Seq[Double] = {
    val total = weights.map(_._2).sum
    weights.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
  }

  /** Quality-ranked per-group quota — the per-domain cap step of
    * RefinedWeb/CCNet-style curation (Penedo et al. 2023 cap documents
    * per registered domain so no single site dominates the corpus): keep
    * the `maxPerGroup` highest-[[qualityScore]] docs of each `groupCol`
    * value. The rank filter is statically visible, so Spark plans
    * WindowGroupLimit (per-partition top-k heap before the final sort) —
    * the shuffle carries k rows per group per partition, not the corpus.
    * Ranking is on the RAW quality double (ties broken by id), identical
    * arithmetic cross-engine. Output: idCol, groupCol, quality, rank. */
  def perGroupQuota(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, maxPerGroup: Int): DataFrame = {
    val q = qualityScore(docs, idCol, textCol).select(col(idCol), col("quality"))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("quality").desc, col(idCol))
    docs.select(col(idCol), col(groupCol)).join(q, idCol)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= maxPerGroup)
      .select(col(idCol), col(groupCol), col("quality"), col("rank"))
  }

  /** Corpus-LM document scoring — the CCNet/RedPajama perplexity quality
    * filter (Wenzek et al. 2020, "CCNet: Extracting High Quality
    * Monolingual Datasets from Web Crawl Data" — there with a KenLM
    * 5-gram; here a Laplace-smoothed bigram LM fitted on the corpus
    * itself, fully deterministic): score each doc by the mean
    * −ln P(w_i | w_{i−1}), P = (c(a,b) + k) / (cΣ(a) + k·V) with
    * cΣ(a) = Σ_b c(a,b) and V the unigram vocabulary size. High scores
    * flag text unlike the corpus (spam, boilerplate, wrong language).
    *
    * Scale shape: the fit is two hash aggregations (bigram counts and
    * their per-context roll-up — model-sized, vocab²-bounded outputs);
    * scoring joins doc bigrams against the count tables (AQE broadcasts
    * them at small scale, shuffled join on the bigram key beyond —
    * never a corpus × corpus product). Production pipelines fit the LM
    * on a sample/reference corpus; pass that as `lmCorpus` and score
    * `docs` against it. Output: idCol, nGrams, avgNll (0.0 for docs
    * with < 2 tokens; unseen bigrams get the k / (cΣ + k·V) floor). */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      smoothing: Double = 1.0, lmCorpus: DataFrame = null,
      n: Int = 2): DataFrame =
    lmScoreWith(docs, idCol, textCol,
      lmFit(Option(lmCorpus).getOrElse(docs), idCol, textCol, n), smoothing)

  /** A fitted order-`n` LM: n-gram counts keyed by (ctx = n−1 joined
    * tokens, w = next token), per-context roll-up, vocab size. */
  case class LmModel(n: Int, cGram: DataFrame, cCtx: DataFrame, vocab: Long)

  /** (idCol, ctx, w) rows: every length-n token window, ctx = the first
    * n−1 tokens space-joined, w = the last. For n=2 ctx is the previous
    * token itself. */
  private def lmGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    lmGramsFromToks(df.select(col(idCol), tokens(col(textCol)).as("_t")),
      idCol, col("_t"), n)

  /** [[lmGrams]] over an already-tokenized array column — the seam the
    * fused curation pass uses to avoid re-running the tokenizer. */
  private def lmGramsFromToks(df: DataFrame, idCol: String, t: Column,
      n: Int): DataFrame =
    df.select(col(idCol),
        explode(wordGrams(t, n, (c, w) => struct(c.as("ctx"), w.as("w")))).as("g"))
      .select(col(idCol), col("g.ctx").as("ctx"), col("g.w").as("w"))

  /** Fit half of [[lmScore]] — two hash aggregations + one scalar. */
  def lmFit(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 2): LmModel = {
    require(n >= 2, s"LM order $n must be >= 2")
    val cGram = lmGrams(corpus, idCol, textCol, n)
      .groupBy("ctx", "w").agg(count(lit(1)).as("cGram"))
    val cCtx = cGram.groupBy("ctx").agg(sum("cGram").as("cCtx"))
    val vocab = corpus.select(explode(tokens(col(textCol))).as("tok"))
      .agg(countDistinct("tok")).head().getLong(0)
    LmModel(n, cGram, cCtx, vocab)
  }

  /** Score half of [[lmScore]] against a prebuilt model — the shape that
    * amortizes the fit across scoring batches. The per-gram joins are
    * stream-static-capable; the per-doc aggregation is not append-safe
    * on an unbounded stream, so streaming callers score per micro-batch
    * (foreachBatch) or window the aggregation with a watermark. */
  def lmScoreWith(docs: DataFrame, idCol: String, textCol: String,
      model: LmModel, smoothing: Double = 1.0): DataFrame = {
    val k = smoothing
    val scored = lmGrams(docs, idCol, textCol, model.n)
      .join(model.cGram, Seq("ctx", "w"), "left")
      .join(model.cCtx, Seq("ctx"), "left")
      .withColumn("nll", -log(
        (coalesce(col("cGram"), lit(0L)) + lit(k)) /
          (coalesce(col("cCtx"), lit(0L)) + lit(k * model.vocab))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("nGrams"), avg("nll").as("avgNll"))
    everyDoc(docs, idCol, scored, "nGrams" -> lit(0L), "avgNll" -> lit(0.0))
  }

  /** The full curation flow (language gate ∧ quality gate ∧ LSH-dedup
    * survivorship ∧ LM-score gate → per-source quota) with ONE
    * text-extraction pass — the 100 TB shape the staged composition's
    * plan audit pointed at: instead of five operators each re-running
    * the tokenizer over the raw corpus, a single projection tokenizes
    * once and emits every per-doc feature set (token array, quality
    * composite, predicted language, MinHash signature); the persisted
    * feature frame then feeds all cross-doc stages (LSH bucket self-join,
    * LM fit + score, survivor join, quota window) without ever touching
    * raw text again. On a cluster you would checkpoint the feature frame
    * to parquet once and run every curation decision off it.
    *
    * Every per-doc value is built by the SAME expression builders as the
    * staged operators ([[qualityExprs]], [[langCountExprs]],
    * [[lmGramsFromToks]], the `minhash_sig` codegen expression), so the
    * result is bit-identical to the staged composition and shares its
    * oracle. LSH buckets come straight off the signature array
    * (slice + join per band — zero extra shuffles, vs the generic
    * posexplode → groupBy reassembly that exists for incremental
    * signature storage).
    *
    * The feature frame is materialized once; the one eager scalar is
    * the vocab countDistinct, the same as [[lmFit]]'s. */
  def curationQuotaFused(docs: DataFrame, idCol: String, srcCol: String,
      textCol: String, shingleSize: Int = 3, numHashes: Int = 16,
      bandSize: Int = 4, minQuality: Double = 0.5, lang: String = "en",
      maxNll: Double = 3.45, quota: Int = 12,
      smoothing: Double = 1.0): DataFrame = {
    graft.expr.GraftFunctions.register(docs.sparkSession)
    val toksC = col("_toks")
    val (_, _, _, _, quality) = qualityExprs(col("_txt"), toksC)
    val feats = docs
      .select(col(idCol), col(srcCol), col(textCol).as("_txt"))
      // separate projection: CollapseProject keeps the tokenizer out of
      // the feature projection (non-cheap, multiply-referenced), so the
      // regex runs once per row no matter how many features read _toks
      .withColumn("_toks", tokens(col("_txt")))
      .select(col(idCol), col(srcCol), toksC,
        quality.as("quality"),
        langPredFrom(langCountExprs(toksC)).as("predLang"),
        call_function("minhash_sig", toksC,
          lit(shingleSize), lit(numHashes)).as("_sig"))
      .transform(materialize)
    val vocab = feats.select(explode(toksC).as("tok"))
      .agg(countDistinct("tok")).head().getLong(0)

    // LSH bands straight from the signature array — same band buckets as
    // lshBuckets (minhash values in hashIdx order, ':'-joined) with zero
    // exchanges; docs shorter than the shingle produce an empty signature
    // and no bands, matching minhash()'s no-rows contract. Ceil division
    // + slice's end-truncation keep a non-dividing bandSize's PARTIAL
    // last band, exactly as lshBuckets's hashIdx/bandSize grouping does.
    val nBands = (numHashes + bandSize - 1) / bandSize
    val bands = feats.select(col(idCol), posexplode(
      when(size(col("_sig")) === numHashes,
        transform(sequence(lit(0), lit(nBands - 1)),
          b => array_join(transform(
            slice(col("_sig"), b * bandSize + 1, lit(bandSize)),
            v => v.cast("string")), ":")))
        .otherwise(array())).as(Seq("band", "bucket")))
    val pairs = bands.select(col("band"), col("bucket"), col(idCol).as("a"))
      .join(bands.select(col("band"), col("bucket"), col(idCol).as("b")),
        Seq("band", "bucket"))
      .where(col("a") < col("b")).select("a", "b").distinct()
    val surv = dedupSurvivors(dupClusters(feats.select(col(idCol)), idCol, pairs))
      .select(col("doc_id").as(idCol))

    // LM fit + score off the cached token arrays (the lmScoreWith shape,
    // inlined so no stage re-tokenizes)
    val grams = lmGramsFromToks(feats, idCol, toksC, n = 2)
    val cGram = grams.groupBy("ctx", "w").agg(count(lit(1)).as("cGram"))
    val cCtx = cGram.groupBy("ctx").agg(sum("cGram").as("cCtx"))
    val scored = grams
      .join(cGram, Seq("ctx", "w"), "left")
      .join(cCtx, Seq("ctx"), "left")
      .withColumn("nll", -log(
        (coalesce(col("cGram"), lit(0L)) + lit(smoothing)) /
          (coalesce(col("cCtx"), lit(0L)) + lit(smoothing * vocab))))
      .groupBy(idCol).agg(avg("nll").as("avgNll"))
    val lm = feats.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("avgNll"), lit(0.0)).as("avgNll"))

    val kept = feats.select(col(idCol), col(srcCol), col("quality"), col("predLang"))
      .join(lm, Seq(idCol)).join(surv, Seq(idCol))
      .where(col("quality") >= minQuality && col("predLang") === lang &&
        col("avgNll") <= maxNll)
    val w = Window.partitionBy(srcCol).orderBy(col("quality").desc, col(idCol))
    kept.withColumn("rank", row_number().over(w))
      .where(col("rank") <= quota)
      .select(idCol, srcCol, "quality", "avgNll", "rank")
  }

  /** Repetition quality signals in the style of the Gopher data-quality
    * filters (Rae et al. 2021, "Scaling Language Models", table A1:
    * duplicate/top n-gram fractions; also used by RefinedWeb): per
    * document, the fraction of word n-grams that are repeats and the
    * character fraction covered by the single most frequent n-gram.
    * High values flag boilerplate/spam for corpus curation.
    *
    * Pure per-row expressions — zero shuffle: grams are built from the
    * row's own token array and the top gram found by one O(G log G)
    * sort + one O(G) run-length fold (ties break to the lexicographically
    * smallest gram, matching the oracle's (count DESC, gram) pick).
    * Output: idCol, nGrams, dupGramFrac, topGram, topGramFrac. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    val grams = wordGrams(tokens(col(textCol)), n)
    val sorted = array_sort(grams)
    val zero = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("best"), lit("").as("bestGram"))
    val folded = aggregate(sorted, zero, (acc, g) => {
      val run = when(g === acc.getField("prev"), acc.getField("run") + 1)
        .otherwise(lit(1))
      struct(g.as("prev"), run.as("run"),
        when(run > acc.getField("best"), run)
          .otherwise(acc.getField("best")).as("best"),
        when(run > acc.getField("best"), g)
          .otherwise(acc.getField("bestGram")).as("bestGram"))
    })
    val ng = size(grams)
    docs.select(col(idCol), ng.as("nGrams"),
      when(ng > 0, lit(1.0) - size(array_distinct(grams)).cast("double") / ng)
        .otherwise(lit(0.0)).as("dupGramFrac"),
      folded.getField("bestGram").as("topGram"),
      when(ng > 0, folded.getField("best").cast("double") *
          length(folded.getField("bestGram")) / length(col(textCol)))
        .otherwise(lit(0.0)).as("topGramFrac"))
  }

  /** Deterministic source-stratified sampling — the corpus "data mixing"
    * pass of a pretraining pipeline (each source kept at its quota: e.g.
    * encyclopedic sources upsampled, crawl downsampled). Keep decisions
    * come from the md5-derived 56-bit hash of the doc id, not an RNG:
    * u = hash56(id)/2^56 ∈ [0,1), keep iff u < quota(source). Hash-based
    * sampling is the property a 100 TB resample actually needs — the
    * decision is reproducible across runs, engines, partitionings and
    * retries, with no RNG state to ship — and it makes the op
    * oracle-checkable. Output: input columns + u + quota, filtered. */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
      quotas: Map[String, Double], defaultQuota: Double = 1.0): DataFrame = {
    val u = hash56(col(idCol).cast("string")).cast("double") /
      lit((1L << 56).toDouble)
    // literal-comparison chain over the quota map — cheap branches, and
    // sources outside the map take the default
    val q = quotas.toSeq.sortBy(_._1).foldLeft(lit(defaultQuota)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs.withColumn("u", u).withColumn("quota", q)
      .where(col("u") < col("quota"))
  }

  /** Temperature-scaled source mixing (the GPT-3 §2.2 / XLM-R §3.1
    * corpus-weighting scheme): sampling probability p_i ∝ n_i^alpha over
    * the per-source sizes n_i = Σ sizeCol, so alpha < 1 flattens the
    * source-size distribution — small curated sources are upsampled
    * relative to their raw share, the crawl is downsampled. Against a
    * total budget B = budgetFrac·N the per-source keep fraction is
    * f_i = min(1, B·p_i/n_i). Keep decisions are md5-hash-derived exactly
    * like [[stratifiedSample]] — reproducible across runs, engines,
    * partitionings and retries. Quotas are rounded to 6dp so a last-ulp
    * pow()/sum-order divergence between engines can never flip a keep
    * decision. Scale: one tiny per-source agg (broadcast back), then a
    * pure per-row filter — no data-sized shuffle.
    * Output: input columns + u + quota, filtered to kept rows. */
  def temperatureMix(docs: DataFrame, idCol: String, srcCol: String,
      sizeCol: String, alpha: Double, budgetFrac: Double): DataFrame = {
    val perSrc = docs.groupBy(srcCol)
      .agg(sum(col(sizeCol)).cast("double").as("_sz"))
      .withColumn("_w", pow(col("_sz"), lit(alpha)))
    val tot = perSrc.agg(sum("_sz").as("_totSz"), sum("_w").as("_totW"))
    val quotas = perSrc.crossJoin(broadcast(tot))
      .select(col(srcCol),
        round(least(lit(1.0),
          lit(budgetFrac) * col("_totSz") * (col("_w") / col("_totW")) / col("_sz")), 6)
          .as("quota"))
    val u = hash56(col(idCol).cast("string")).cast("double") /
      lit((1L << 56).toDouble)
    docs.join(broadcast(quotas), srcCol)
      .withColumn("u", u)
      .where(col("u") < col("quota"))
  }

  /** CCNet-style per-group score bucketing (Wenzek et al. LREC'20 §4.4):
    * within each group (language, source), cut the score distribution at
    * the (names.size − 1) equal-probability points and tag each row with
    * its bucket — head/middle/tail by default, lower score = head (CCNet
    * scores are perplexities; lower is better). Raw scores are NOT
    * comparable across groups — a global threshold over-prunes whole
    * languages — which is the point of calibrating per group. Cuts are
    * exact interpolated percentiles over the score rounded to 4dp, so the
    * cut inputs (and therefore the cuts and every comparison) are
    * bit-identical cross-engine. Scale: the exact per-group percentile
    * sorts each group once; at 100 TB fit cuts from
    * [[graft.model.Fitters.quantileSketchEstimate]] instead — the
    * broadcast-join tagging below is unchanged either way.
    * Output: input columns + score4 (the rounded score) + bucket. */
  def scoreBuckets(scored: DataFrame, groupCol: String, scoreCol: String,
      names: Seq[String] = Seq("head", "middle", "tail")): DataFrame = {
    require(names.size >= 2, "need at least two buckets")
    // roundLikeDuck, NOT Spark round: the 4dp cut inputs must be
    // bit-identical to the oracle's round() — Spark's HALF_UP disagrees
    // on half-boundary floats (surfaced by q131 at sf0.1, where one such
    // doc shifts a tercile cut and cascades the whole bucket column)
    val s4 = graft.core.roundLikeDuck(col(scoreCol), 4)
    val probs = (1 until names.size).map(_.toDouble / names.size)
    // cuts frozen at 6dp: the percentile INTERPOLATION between two 4dp
    // scores can differ from the oracle's by an ulp, and a doc whose
    // score equals the cut then flips buckets (q131 at sf0.1 — n per
    // lang is large enough that cuts land between distinct values);
    // 6dp rounding collapses ulp-apart cuts to one shared literal
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      graft.core.roundLikeDuck(percentile(s4, lit(p)), 6).as(s"_c$i")
    }
    val cuts = scored.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val tagged = probs.indices.reverse.foldLeft(lit(names.last)) { (acc, i) =>
      when(s4 <= col(s"_c$i"), lit(names(i))).otherwise(acc)
    }
    scored.join(broadcast(cuts), groupCol)
      .withColumn("score4", s4)
      .withColumn("bucket", tagged)
      .drop(probs.indices.map(i => s"_c$i"): _*)
  }

  /** The 100 TB face of [[scoreBuckets]]: cuts come from the mergeable
    * bottom-k quantile sketch ([[graft.model.Fitters.quantileSketch]],
    * k rows per group) instead of an exact per-group percentile sort —
    * the sketch partials are WindowGroupLimit-capped at k pre-exchange,
    * so no group is ever sorted whole. Sampling error moves O(1/√k) of
    * the rows nearest each cut to the neighboring bucket; everything
    * else is identical (same rounding, same broadcast tag join).
    * `idCol` must identify rows uniquely within a group. Keep k below
    * spark.sql.optimizer.windowGroupLimitThreshold (default 1000): a
    * larger k silently loses the partial-limit pushdown and every row
    * reaches the exchange (PlanShapeSpec guards the default). */
  def scoreBucketsSketch(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, names: Seq[String] = Seq("head", "middle", "tail"),
      k: Int = 512): DataFrame = {
    require(names.size >= 2, "need at least two buckets")
    val s4 = graft.core.roundLikeDuck(col(scoreCol), 4)
    val probs = (1 until names.size).map(_.toDouble / names.size)
    val sk = graft.model.Fitters.quantileSketch(
      scored.withColumn("_s4", s4), Seq(groupCol), idCol, "_s4", k)
    val cutCols = probs.map(p => s"p${math.round(p * 100)}")
    val cuts0 = graft.model.Fitters.quantileSketchEstimate(sk, Seq(groupCol), probs)
    val cuts = cutCols.foldLeft(cuts0) { (d, c) =>
      d.withColumn(c, graft.core.roundLikeDuck(col(c), 6)) }
    val tagged = cutCols.zipWithIndex.reverse.foldLeft(lit(names.last)) {
      case (acc, (c, i)) => when(s4 <= col(c), lit(names(i))).otherwise(acc)
    }
    scored.join(broadcast(cuts.select((groupCol +: cutCols).map(col): _*)), groupCol)
      .withColumn("score4", s4)
      .withColumn("bucket", tagged)
      .drop(cutCols: _*)
  }

  /** LSH banding planner: choose (bands b, rows-per-band r), r·b =
    * numHashes, so the S-curve P(candidate | sim s) = 1 − (1 − s^r)^b has
    * its rise (the MMDS §3.4.2 threshold t ≈ (1/b)^(1/r), where
    * P = 1−(1−1/b)^b ≈ 0.63–0.75) as close as possible to the target
    * Jaccard threshold. Returns
    * (bandSize r, nBands b, crossover t). Drives [[minhashPairs]]'
    * parameters instead of leaving them folklore: lower thresholds need
    * narrower bands (more, smaller buckets → more candidates), higher
    * thresholds wider ones. */
  def lshPlan(numHashes: Int, threshold: Double): (Int, Int, Double) = {
    require(numHashes >= 2 && threshold > 0 && threshold < 1)
    val options = (1 to numHashes).filter(numHashes % _ == 0).map { r =>
      val b = numHashes / r
      (r, b, math.pow(1.0 / b, 1.0 / r))
    }
    options.minBy { case (_, _, t) => math.abs(t - threshold) }
  }

  /** The [[lshPlan]] S-curve itself: P(some band collides | Jaccard s). */
  def lshCandidateProb(s: Double, bandSize: Int, nBands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, bandSize), nBands)

  /** Corpus composition report — the per-(source, language) accounting a
    * mixing/curation decision starts from: document count, char and
    * token masses, mean tokens per doc, and each slice's share of the
    * corpus char mass. One map-side-combined hash agg over the corpus
    * plus a broadcast of the model-sized totals — nothing else touches
    * the data. Output: srcCol, langCol, nDocs, nChars, nToks,
    * avgDocToks, charShare. */
  def corpusReport(docs: DataFrame, srcCol: String, langCol: String,
      textCol: String): DataFrame = {
    val agg = docs.groupBy(col(srcCol), col(langCol)).agg(
      count(lit(1)).as("nDocs"),
      sum(length(col(textCol)).cast("long")).as("nChars"),
      sum(size(tokens(col(textCol))).cast("long")).as("nToks"))
    val tot = agg.agg(sum("nChars").as("_tc"))
    agg.crossJoin(broadcast(tot))
      .withColumn("avgDocToks",
        graft.core.roundLikeDuck(col("nToks").cast("double") / col("nDocs"), 4))
      .withColumn("charShare",
        graft.core.roundLikeDuck(col("nChars").cast("double") / col("_tc"), 4))
      .drop("_tc")
  }

  /** Per-doc hashed n-gram features (unigrams + bigrams → 56-bit md5
    * hash mod `nBuckets`) — the DSIR feature map. One row per gram
    * OCCURRENCE (counts matter, not presence). HOF lambdas are
    * interpreted, so they only build (tok, nextTok) structs; the string
    * concat and md5 run in the codegen'd projection AFTER the explode. */
  private def hashedGrams(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val t = tokens(col(textCol))
    val unis = transform(t, x =>
      struct(x.as("a"), lit(null).cast("string").as("b")))
    val bis = wordGrams(t, 2, (x, y) => struct(x.as("a"), y.as("b")))
    df.select(col(idCol), explode(concat(unis, bis)).as("g"))
      .select(col(idCol),
        (hash56(when(col("g.b").isNull, col("g.a"))
          .otherwise(concat(col("g.a"), lit(" "), col("g.b")))) % nBuckets)
          .as("b"))
  }

  /** Exact corpus-level heavy-hitter n-grams behind a Misra–Gries
    * candidate prefilter (Misra & Gries 1982; merge guarantee per
    * Agarwal et al., "Mergeable Summaries", PODS 2012): any gram with
    * global count > N/capacity survives at least one partition's
    * capacity-bounded summary, so the union of per-partition candidate
    * keys is a SUPERSET of every qualifying gram whenever
    * minCount > N/capacity (asserted at runtime). Phase 2 then exactly
    * counts only candidate-matched occurrences — the sketch is
    * cost-only, never correctness-bearing (the q91b bloom-prefilter
    * pattern), which is why a plain GROUP BY ... HAVING oracle gates it.
    *
    * Scale shape: the win is shuffle cardinality. A direct
    * groupBy(gram) exchanges every distinct gram each partition holds
    * (billions of keys at 100 TB); here the confirm join's partial
    * aggregation caps the exchange at ≤ |candidates| keys per
    * partition. Three corpus passes (size, candidates, confirm), all
    * scan+explode — no corpus-sized state is ever persisted.
    * Output: gram, cnt (exact) for cnt ≥ minCount. */
  /** One row per word n-gram OCCURRENCE (not distinct — counts matter).
    * Shared by the batch and streaming heavy-hitter operators. The last
    * token joins its prefix in the codegen'd projection after the
    * explode, not in the interpreted lambda. */
  private[graft] def gramOccurrences(docs: DataFrame, textCol: String,
      n: Int): DataFrame = {
    val t = tokens(col(textCol))
    if (n == 1) docs.select(explode(t).as("gram"))
    else docs.select(explode(wordGrams(t, n, (x, y) => struct(x.as("a"), y.as("b"))))
        .as("g"))
      .select(concat(col("g.a"), lit(" "), col("g.b")).as("gram"))
  }

  def heavyHitterGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long, capacity: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = gramOccurrences(docs, textCol, n)
    val total = grams.count()
    require(minCount > total.toDouble / capacity,
      s"minCount $minCount must exceed N/capacity = ${total / capacity} " +
        "or the Misra-Gries candidate set can miss a qualifying gram")
    val cands = grams.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { g =>
        counts.get(g) match {
          case Some(c) => counts.update(g, c + 1)
          case None if counts.size < capacity => counts.update(g, 1L)
          case None =>
            // decrement-all, dropping zeros — amortized O(1) per item
            // (every decrement is paid for by an earlier increment)
            val ks = counts.keys.toArray
            var i = 0
            while (i < ks.length) {
              val c = counts(ks(i))
              if (c == 1L) counts.remove(ks(i)) else counts.update(ks(i), c - 1)
              i += 1
            }
        }
      }
      counts.keysIterator
    }.toDF("gram").distinct()
    grams.join(broadcast(cands), "gram")
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score each raw
    * document by how target-like its hashed-n-gram distribution is.
    * Features are uni+bigrams hashed into `nBuckets` buckets; target and
    * raw bucket distributions are Laplace-smoothed multinomials, and
    * log w(doc) = Σ_gram ln(p_target[b]/p_raw[b]).
    *
    * Scale shape: the two fits are one explode + hash agg EACH, with
    * ≤ nBuckets output rows — genuinely model-sized, so the log-ratio
    * table is collected and shipped back as a LITERAL map column (the
    * LocalKMeans-centroid pattern). That matters twice: scoring becomes
    * a zero-join codegen'd lookup, and nothing in the plan re-evaluates
    * the gram pipeline (left as lazy joined frames, the fit subtrees
    * re-ran up to 8× inside broadcast-subquery jobs — measured 16.7 s at
    * sf0.1 vs ~1 s for this shape). Output: idCol, nFeats, logw (0.0 for
    * empty docs). */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 512,
      smoothing: Double = 1.0): DataFrame = {
    val k = smoothing
    // raw's hashed-gram pairs feed BOTH the bucket-count fit (an eager
    // collect) and the per-doc scoring pass — materialized, so the raw
    // corpus is tokenized and hashed once, not twice
    val rawGrams = hashedGrams(raw, idCol, textCol, nBuckets)
      .transform(materialize)
    def bucketCounts(g: DataFrame): Map[Long, Long] =
      g.groupBy("b").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ctM = bucketCounts(hashedGrams(target, idCol, textCol, nBuckets))
    val crM = bucketCounts(rawGrams)
    val nt = ctM.valuesIterator.sum
    val nr = crM.valuesIterator.sum
    // every bucket a raw doc touches exists in crM, so its keys cover
    // the scoring domain; the arithmetic is the exact expression the
    // q110 oracle replays (Laplace-smoothed log ratio)
    val lrM: Map[Long, Double] = crM.map { case (b, cr) =>
      b -> (math.log((ctM.getOrElse(b, 0L) + k) / (nt + k * nBuckets)) -
        math.log((cr + k) / (nr + k * nBuckets)))
    }
    val scored = rawGrams
      .select(col(idCol), element_at(typedlit(lrM), col("b")).as("lr"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("nFeats"), sum("lr").as("logw"))
    everyDoc(raw, idCol, scored, "nFeats" -> lit(0L), "logw" -> lit(0.0))
  }

  /** DSIR selection: Gumbel-top-k resampling without replacement over
    * [[dsirWeights]] — key = log w − ln(−ln u) with u the md5-derived
    * uniform of the doc id ("gum:" salt), so the sample is reproducible
    * across runs/engines/partitionings and SQL-replayable (q110 oracle).
    * Selection is orderBy+limit — a distributed TakeOrdered (each
    * partition keeps its top-N heap, only candidates reach the driver
    * side of the sort), NOT a global row_number window that would funnel
    * the corpus through one partition; rank is then assigned over the
    * topN survivors only. Output: idCol, nFeats, logw, gkey, rank. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, topN: Int, nBuckets: Int = 512,
      smoothing: Double = 1.0): DataFrame = {
    val u = (hash56(concat(lit("gum:"), col(idCol).cast("string")))
      .cast("double") + lit(0.5)) / lit((1L << 56).toDouble)
    val sel = dsirWeights(raw, target, idCol, textCol, nBuckets, smoothing)
      .withColumn("gkey", col("logw") - log(-log(u)))
      .orderBy(col("gkey").desc, col(idCol))
      .limit(topN)
    val w = Window.orderBy(col("gkey").desc, col(idCol))
    sel.withColumn("rank", row_number().over(w))
  }

  /** PII redaction (C4/RefinedWeb-style curation): mask emails and
    * phone-shaped numbers with placeholder tokens, keeping match counts
    * as audit columns. The patterns stay inside the RE2-compatible
    * subset (no backreferences/lookaround) so the identical pattern runs
    * the same under java.util.regex and RE2-based engines. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
        .as("redacted"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).as("nEmails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).as("nPhones"))
  }

  /** Token count (whitespace tokenizer + a BPE-ish subword estimate:
    * ceil(chars/4) blended with word count — the common LLM heuristic). */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = size(tokens(col(textCol)))
    val sub = ceil(length(col(textCol)).cast("double") / 4.0).cast("long")
    docs.select(col(idCol), words.cast("long").as("nWords"), sub.as("nSubTokens"))
  }

  /** GPT-2-style pre-tokenizer pattern (Radford et al. 2019, the public
    * BPE pre-tokenization regex), reduced to the subset both Java regex
    * and RE2 (the oracle engine) implement identically: optional-space
    * letter runs, digit runs, symbol runs, residual whitespace. The
    * contraction alternates and the trailing-space lookahead of the
    * original need backtracking features RE2 lacks — dropping them only
    * re-segments apostrophes, which a COUNT estimator tolerates. */
  val bpePretokenPattern: String =
    " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish token counting: segments raw (case-preserved) text with the
    * pre-tokenizer regex — the budget estimate training pipelines use
    * when the real tokenizer is too slow to run corpus-wide. A pure
    * per-row projection: zero shuffles, codegen'd regex. Output:
    * idCol, nWords (whitespace tokens), nBpeTokens (pre-token segments). */
  def bpeTokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("nWords"),
      size(regexp_extract_all(col(textCol), lit(bpePretokenPattern), lit(0)))
        .cast("long").as("nBpeTokens"))

  /** Document fingerprint: md5 over the normalized token stream (stable
    * under whitespace/case noise), plus the minimum token-hash (winnowing
    * prototype selection). */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    docs.select(col(idCol),
      md5(concat_ws(" ", t)).as("fp"),
      array_min(transform(t, tk => conv(substring(md5(tk), 1, 14), 16, 10).cast("long"))).as("minTokenHash"))
  }

  /** Duplicate-span detection (Lee et al., ACL'22, "Deduplicating
    * Training Data Makes Language Models Better"): every k-token span at
    * the given stride is hashed and counted corpus-wide; a span position
    * is a duplicate when its span occurs more than once anywhere in the
    * corpus (other documents or elsewhere in the same one). Output per
    * document: nSpans, nDupSpans, dupSpanFrac — the span-level complement
    * of whole-document dedup (exactDedup) and near-dup (minhashPairs),
    * catching boilerplate shared across otherwise-distinct documents.
    *
    * Scale shape: spans stay inside their row until the explode, and the
    * exchange carries (id, 56-bit span hash) — never text. The global
    * count is a hash aggregate with map-side combine; the count join keys
    * on the same hash, so AQE reuses one partitioning for both. Documents
    * shorter than k tokens surface with nSpans = 0. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int, stride: Int = 1): DataFrame = {
    val withT = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val t = col("_toks")
    val nSpans = floor((size(t) - k).cast("double") / stride).cast("int")
    val spans = when(size(t) >= k,
      transform(sequence(lit(0), nSpans),
        i => hash56(concat_ws(" ", slice(t, i * stride + 1, lit(k))))))
      .otherwise(array().cast("array<long>"))
    val exploded = withT.select(col(idCol), explode(spans).as("sh"))
    val counts = exploded.groupBy("sh").agg(count(lit(1)).as("cnt"))
    val perDoc = exploded.join(counts, "sh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("nSpans"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("nDupSpans"))
    everyDoc(docs, idCol, perDoc, "nSpans" -> lit(0L), "nDupSpans" -> lit(0L))
      .withColumn("dupSpanFrac", when(col("nSpans") > 0,
        col("nDupSpans").cast("double") / col("nSpans")).otherwise(lit(0.0)))
  }

  /** Exact duplicate-span REMOVAL (Lee et al., ACL'22 "ExactSubstr" —
    * [[spanDedup]] reports duplication per doc; this op rewrites the
    * corpus): tile each document into non-overlapping k-token windows
    * (tail window may be shorter), keep the globally FIRST occurrence of
    * every distinct window — first by (doc id, window idx), a total
    * order — drop every later occurrence, and rebuild each document
    * from its surviving windows in position order.
    *
    * Scale shape: the dedup path never shuffles text. Its exchange
    * carries (id, widx, 56-bit window hash) — ~20 bytes/window — and the
    * keep-set flows back as ONE int-array row per doc; the rewrite then
    * re-derives window text map-side from the doc's own tokens via the
    * kept indices. The only place text can meet an exchange is the final
    * id-equi-join routing keep-sets to their documents — broadcast when
    * the keep-set fits, co-located (id-bucketed corpus) otherwise — so
    * the corpus crosses the wire at most once instead of twice. Output:
    * idCol, nWindows, nKept, newText ('' when every window was seen
    * earlier). */
  def spanRewrite(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val base = docs.select(col(idCol).as("_id"), tokens(col(textCol)).as("_tk"))
    val nWOf = (t: Column) => ceil(size(t).cast("double") / k).cast("int")
    val idxs = when(size(col("_tk")) > 0, sequence(lit(0), nWOf(col("_tk")) - 1))
      .otherwise(array().cast("array<int>"))
    val win = base.select(col("_id"), explode(idxs).as("widx"), col("_tk"))
      .select(col("_id"), col("widx"),
        hash56(concat_ws(" ", slice(col("_tk"), col("widx") * k + 1, lit(k)))).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("_id", "widx")
    val kept = win.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy("_id").agg(sort_array(collect_list(col("widx"))).as("_kept"))
    val t2 = tokens(col(textCol))
    docs.join(kept, col(idCol) === kept("_id"), "left")
      .withColumn("_keptArr", coalesce(col("_kept"), array().cast("array<int>")))
      .select(col(idCol),
        nWOf(t2).cast("long").as("nWindows"),
        size(col("_keptArr")).cast("long").as("nKept"),
        concat_ws(" ", transform(col("_keptArr"),
          i => concat_ws(" ", slice(t2, i * k + 1, lit(k))))).as("newText"))
  }

  /** Fixed-size token-window chunking with overlap — the sequence-prep
    * step between curation and packing in a pretraining pipeline: each
    * document becomes ceil((n - chunk) / (chunk - overlap)) + 1 windows of
    * up to `chunkTokens` tokens, consecutive windows sharing `overlap`
    * tokens (the tail window may be shorter). Output: id, chunkIdx,
    * startTok (1-based), nTok, chunk. Documents with no tokens emit no
    * rows.
    *
    * Scale shape: pure per-row expressions — the windows of a document
    * are built inside its own row and exploded, so the op is a
    * scan + project with zero shuffles at any corpus size. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens)")
    val step = chunkTokens - overlap
    val withT = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) > 0)
    val t = col("_toks")
    val n = size(t)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - chunkTokens).cast("double") / step).cast("int") + 1)
    val chunks = transform(sequence(lit(0), nChunks - 1), i => {
      val start = i * step
      val len = least(lit(chunkTokens), n - start)
      struct(i.cast("int").as("chunkIdx"),
        (start + 1).cast("int").as("startTok"),
        len.cast("int").as("nTok"),
        concat_ws(" ", slice(t, start + 1, len)).as("chunk"))
    })
    withT.select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunkIdx"), col("c.startTok"),
        col("c.nTok"), col("c.chunk"))
  }

  case class PackIn(shard: String, id: Long, idx: Int, size: Int)
  case class PackOut(shard: String, id: Long, idx: Int, size: Int,
      bin: Int, offset: Int)

  /** Greedy sequential packing of chunks into fixed-capacity training
    * sequences ("bins"), the step after [[chunkDocs]] in a pretraining
    * pipeline: within each shard, chunks are taken in (id, idx) order and
    * appended to the current bin until the next chunk would overflow
    * `capacity`, which starts a new bin. Deterministic — no RNG, no
    * size-sorting — so the layout is reproducible across runs and
    * engines. A chunk larger than `capacity` gets a bin of its own.
    * Output: shard, id, idx, size, bin (0-based per shard), offset
    * (token offset inside the bin).
    *
    * Scale shape: packing is a sequential fold, so it parallelizes
    * across shards (`groupByKey(shard)`), never within one — shard
    * granularity (e.g. source × date) is the scale knob, exactly how
    * production packing runs shard-parallel. State per group is one
    * (bin, fill) pair; rows stream through the iterator sorted. */
  def packGreedy(chunks: DataFrame, shardCol: String, idCol: String,
      idxCol: String, sizeCol: String, capacity: Int): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col(shardCol).cast("string").as("shard"),
        col(idCol).cast("long").as("id"), col(idxCol).cast("int").as("idx"),
        col(sizeCol).cast("int").as("size")).as[PackIn]
      .groupByKey(_.shard)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(r => (r.id, r.idx))
        var bin = 0
        var fill = 0
        rows.iterator.map { r =>
          if (fill > 0 && fill + r.size > capacity) { bin += 1; fill = 0 }
          val off = fill
          fill += r.size
          PackOut(r.shard, r.id, r.idx, r.size, bin, off)
        }
      }
      .toDF()
  }

  /** Deterministic corpus shuffle + shard assignment — the global
    * randomization pass before training: each row gets an md5-derived
    * shuffle key (salted, so successive epochs reshuffle differently but
    * reproducibly), a shard = key mod nShards, and a position within its
    * shard by shuffle-key order. Hash-derived like [[stratifiedSample]]:
    * no RNG state, stable across runs/engines/partitionings/retries.
    *
    * Scale shape: the key is a per-row expression; the only exchange is
    * the per-shard window sort, whose parallelism is nShards — at 100 TB
    * nShards is thousands, and each shard sorts independently. */
  def shuffleShards(docs: DataFrame, idCol: String, nShards: Int,
      salt: String = ""): DataFrame = {
    val key = hash56(concat(col(idCol).cast("string"), lit(":"), lit(salt)))
    val w = Window.partitionBy("shard").orderBy("shuffleKey")
    docs.withColumn("shuffleKey", key)
      .withColumn("shard", (col("shuffleKey") % nShards).cast("int"))
      .withColumn("posInShard", row_number().over(w).cast("long") - 1)
      .select(col(idCol), col("shuffleKey"), col("shard"), col("posInShard"))
  }

  /** Benchmark decontamination (the n-gram overlap check every serious
    * pretraining pipeline runs against held-out eval sets, per the GPT-3
    * appendix-C / PaLM methodology): a training document is contaminated
    * when it shares any word n-gram with any evaluation document. Output
    * per train doc: nGramHits (distinct shared n-grams), contaminated.
    *
    * Scale shape: eval sets are benchmark-sized, not crawl-sized, so the
    * distinct eval-gram set is explicitly broadcast — the 100 TB train
    * side is a scan + per-row shingling + broadcast semi-join with no
    * train-side shuffle before the per-doc count. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val trainGrams = shingles(train, idCol, textCol, n)
    val evalGrams = shingles(evalDocs, idCol, textCol, n)
      .select("shingle").distinct()
    val hits = trainGrams.join(broadcast(evalGrams), "shingle")
      .groupBy(idCol).agg(count(lit(1)).as("nGramHits"))
    everyDoc(train, idCol, hits, "nGramHits" -> lit(0L))
      .withColumn("contaminated", col("nGramHits") > 0)
  }

  /** Bloom-prefiltered decontamination — the shape [[decontaminate]] takes
    * when the distinct eval-gram set outgrows the broadcast-join threshold
    * (a large eval suite easily reaches 10⁸ six-grams ≈ GBs as strings).
    * A Bloom filter over the eval grams is ~n·1.44·log₂(1/fpp) bits
    * (≈ 90 MB at n=10⁸, fpp=3%) and still broadcasts; the train side then
    * drops almost every gram executor-side BEFORE any shuffle, and only
    * the bloom-passing sliver (true hits + fpp of the rest) reaches the
    * exact confirm join. False positives die in that join, so the output
    * is row-identical to [[decontaminate]] for any fpp — which is why the
    * driver checks this operator against the exact operator's oracle SQL
    * (q91b). `expectedGrams` skips the sizing count when the caller knows
    * the eval-gram cardinality.
    *
    * The confirm join carries no broadcast hint on purpose: AQE converts
    * it to broadcast at small scale, and at eval sets too big for that it
    * becomes a shuffled join of the candidate sliver only — the 100 TB
    * train scan itself still never shuffles. */
  def decontaminateBloom(train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int, fpp: Double = 0.03,
      expectedGrams: Long = -1L): DataFrame = {
    val evalGrams = shingles(evalDocs, idCol, textCol, n)
      .select("shingle").distinct()
      // the sizing count, the bloom build AND the exact confirm join all
      // consume the eval grams — one materialization instead of up to
      // three tokenize/explode/distinct passes (eval-sized: benchmark
      // suites, not crawls)
      .transform(materialize)
    val nGrams =
      if (expectedGrams > 0) expectedGrams
      else math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("shingle", nGrams, fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bloom)
    val mightContain =
      udf((s: String) => s != null && bc.value.mightContainString(s))
    val candidates = shingles(train, idCol, textCol, n)
      .where(mightContain(col("shingle")))
    val hits = candidates.join(evalGrams, "shingle")
      .groupBy(idCol).agg(count(lit(1)).as("nGramHits"))
    everyDoc(train, idCol, hits, "nGramHits" -> lit(0L))
      .withColumn("contaminated", col("nGramHits") > 0)
  }

  /** Corpus-overlap matrix: exact pairwise Jaccard between the distinct
    * word n-gram sets of each group (source/snapshot/shard) — the curation
    * question "how much of B is already in A" before mixing corpora.
    *
    * Scale shape: one distinct over (group, gram), then ONE groupBy(gram)
    * whose fan-out is bounded by the group count S — each gram emits at
    * most S·(S−1)/2 ordered pairs regardless of how hot the gram is across
    * documents (the distinct already collapsed that), so the pair exchange
    * carries O(|grams|·S²) rows worst-case with a tiny constant; set sizes
    * ride the same pass as a per-group count. No all-pairs over documents
    * anywhere. */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame = {
    val spark = docs.sparkSession
    // shingles() already ends in a distinct over (grp, gram); collect_set
    // re-dedupes per gram so Catalyst collapses the two into ONE exchange
    val grams = shingles(
      docs.select(col(groupCol).cast("string").as("grp"), col(textCol)),
      "grp", textCol, n)
    val g = sort_array(collect_set("grp"))
    // materialized: the set sizes are derived from THIS aggregate
    // (gram-sized, never a second corpus scan) and the pair explosion
    // reuses it lazily
    val perGram = grams.groupBy("shingle").agg(g.as("gs"))
      .transform(materialize)
    val sizes = perGram.select(explode(col("gs")).as("grp"))
      .groupBy("grp").agg(count(lit(1)).as("sz"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (sizes.isEmpty)
      return spark.emptyDataFrame
    val pairs = perGram
      .where(size(col("gs")) > 1)
      .select(explode(flatten(transform(col("gs"), (a, i) =>
        transform(slice(col("gs"), i + lit(2), size(col("gs"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    // set sizes as inline literals when the group set is small (codegen'd
    // CASE, same trade as the iforest bounds); thousands-of-shards callers
    // fall back to a broadcast join
    val withSz =
      if (sizes.size <= 64) {
        val szExpr = (c: Column) => sizes.tail.foldLeft(
          when(c === sizes.head._1, lit(sizes.head._2))) {
          case (acc, (grp, s)) => acc.when(c === grp, lit(s))
        }
        pairs.withColumn("sz_a", szExpr(col("src_a")))
          .withColumn("sz_b", szExpr(col("src_b")))
      } else {
        import spark.implicits._
        val szDf = sizes.toSeq.toDF("grp", "sz")
        pairs
          .join(broadcast(szDf.select(col("grp").as("src_a"), col("sz").as("sz_a"))), "src_a")
          .join(broadcast(szDf.select(col("grp").as("src_b"), col("sz").as("sz_b"))), "src_b")
      }
    withSz.select(col("src_a"), col("src_b"), col("inter"),
      (col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
  }

  /** Sketch face of [[sourceOverlap]]: KMV bottom-k Jaccard estimate
    * between the gram sets of each group. The exact overlap's state is
    * gram-cardinality-sized; at 100 TB you keep ONE k-hash sketch per
    * source (built incrementally, merged losslessly via
    * [[graft.model.Fitters.kmvMerge]]) and estimate any pair from the
    * sketches alone. Estimator: U = k smallest of S_A ∪ S_B;
    * Ĵ = |{h ∈ U : h ∈ S_A ∧ h ∈ S_B}| / |U| — unbiased because every
    * group shares the same md5 permutation, and exactly replayable in
    * SQL. All post-sketch work is model-sized (S·k rows).
    * Output: src_a, src_b, u_size, est_jaccard. */
  def sourceOverlapSketch(docs: DataFrame, groupCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // no gram-string distinct: kmvSketch dedups on the 56-bit hash, so a
    // string-level distinct first would add a corpus-sized exchange of
    // (grp, gram) pairs for nothing (hash collisions collapse identically
    // either way — and identically in the oracle, which replays hashes)
    val grams = shinglesAll(
      docs.select(col(groupCol).cast("string").as("grp"), col(textCol)),
      "grp", textCol, n)
    val sk = graft.model.Fitters.kmvSketch(grams, Seq("grp"), "shingle", k)
      .select(col("grp"), col("h"))
    // group list from a plain scan — deriving it from `sk` would execute
    // the whole shingle+sketch pipeline twice (one collect, one final
    // query). A group with no grams simply has no sketch rows and its
    // pairs estimate 0, which is the right answer.
    val sources = docs.select(col(groupCol).cast("string").as("grp"))
      .distinct().as[String].collect().sorted.toSeq
    if (sources.size < 2) return docs.sparkSession.emptyDataFrame
    // each sketch row fans out to its (S-1) pairs — model-sized (S·k·S)
    val expanded = sk
      .withColumn("_o", explode(filter(typedlit(sources), x => x =!= col("grp"))))
      .select(least(col("grp"), col("_o")).as("src_a"),
        greatest(col("grp"), col("_o")).as("src_b"),
        col("h"), col("grp"))
    val pu = expanded.groupBy("src_a", "src_b", "h")
      .agg(max(when(col("grp") === col("src_a"), 1).otherwise(0)).as("inA"),
        max(when(col("grp") === col("src_b"), 1).otherwise(0)).as("inB"))
    val w = Window.partitionBy("src_a", "src_b").orderBy("h")
    pu.withColumn("_rnk", row_number().over(w))
      .where(col("_rnk") <= k)
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("u_size"),
        (sum(col("inA") * col("inB")).cast("double") /
          count(lit(1))).as("est_jaccard"))
  }

  /** Per-group signature terms: tokens ranked by lift
    * p(tok | group) / p(tok), the "what makes this source different"
    * report used to sanity-check a mixture before training. minCount
    * suppresses noise tails; ties break on the token string.
    *
    * Scale shape: one (group, token) hash-agg (map-side combined), totals
    * are a second agg over the FIRST agg's output (token-cardinality-sized,
    * never re-reads the corpus) broadcast back, and the top-k window prunes
    * with WindowGroupLimit so only ~k rows per group survive the rank
    * exchange. */
  def sourceSignature(docs: DataFrame, groupCol: String, textCol: String,
      topK: Int, minCount: Long): DataFrame = {
    val counts = materialize(
      tokenCounts(docs, Seq(col(groupCol).cast("string").as("grp")), textCol))
    val grpTotals = counts.groupBy("grp").agg(sum("cnt").as("gt"))
    val tokTotals = counts.groupBy("tok").agg(sum("cnt").as("tt"))
    // sum over an empty corpus is SQL NULL — the output is empty then, so
    // any non-zero placeholder keeps the lift expression well-defined
    val totalRow = grpTotals.agg(sum("gt")).collect()(0)
    val total = if (totalRow.isNullAt(0)) 1.0 else totalRow.getLong(0).toDouble
    val w = Window.partitionBy("grp")
      .orderBy(col("lift").desc, col("tok"))
    // grp totals are S rows — always broadcast. Token totals are
    // vocabulary-sized: left to Catalyst/AQE, which broadcasts them for
    // normal vocabs and falls back to a shuffle join of two TOKEN-sized
    // aggregates (never corpus-sized) for web-scale vocabularies where a
    // forced broadcast would OOM the executors. The minCount filter prunes
    // the cnt=1 long tail before the join on the probe side.
    counts.where(col("cnt") >= minCount)
      .join(broadcast(grpTotals), "grp")
      .join(tokTotals, "tok")
      .withColumn("lift",
        (col("cnt").cast("double") / col("gt")) / (col("tt") / lit(total)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("grp"), col("tok"), col("cnt"), col("lift"), col("rank"))
  }

  /** CCNet-style text normalization for hash dedup (Wenzek et al.,
    * LREC'20 §4.1: the paragraph hashes that drive dedup are computed
    * over lowercased, digit-replaced, punctuation-stripped text so
    * trivially-differing boilerplate collapses). The transform chain —
    * lowercase, digits→0, strip non-alphanumeric-non-space, collapse
    * whitespace, trim — uses only character classes that mean the same
    * thing in Java regex and RE2, so the normalized text (and hence
    * every downstream hash) replays exactly in the oracle. Pure
    * per-row expressions: no shuffle, codegen'd. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(c), "[0-9]", "0"),
        "[^a-z0 ]", " "),
      " +", " "))

  /** [[exactDedup]] over the CCNet-normalized form: near-identical
    * boilerplate (case, digits, punctuation variants) lands in one
    * group. Same output contract; the hash exchange carries md5 of the
    * NORMALIZED text. */
  def exactDedupNormalized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy("h")
    docs.withColumn("h", md5(normalizeText(col(textCol))))
      .withColumn("dupCount", count(lit(1)).over(w))
      .withColumn("keep", col(idCol) === min(col(idCol)).over(w))
      .select(col(idCol), col("h"), col("dupCount"), col("keep"))
  }

  /** C4-style line-level corpus deduplication (Raffel et al., JMLR'20 §2.2:
    * "we discarded all but one of any three-sentence span occurring more
    * than once"; the line-granular variant is the common production form —
    * drop any line whose corpus-wide occurrence count reaches
    * `minDupCount`, then rebuild each document from its surviving lines in
    * order). `sep` is a LITERAL separator (default newline), quoted before
    * it reaches the regex engine, and survivors are re-joined with the
    * same separator so kept structure round-trips byte-exactly.
    *
    * Scale shape: one split+posexplode pass; the frequency aggregation
    * groups on the 56-bit md5 hash of the line so the count exchange
    * carries (8-byte hash, count) — never line text; the hot-line table it
    * produces is duplicate-cardinality-sized and joins back on the same
    * hash (AQE broadcasts it when small). Rebuild is one partial-agg'd
    * groupBy(id) whose input rows carry (pos, line) — the only full-text
    * shuffle, same width as the input corpus. Empty lines are counted
    * like any other line (consecutive separators in a corpus-frequent
    * pattern are themselves boilerplate).
    *
    * Output: idCol, text (rebuilt), nLines, nRemoved. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minDupCount: Long, sep: String = "\n"): DataFrame = {
    require(minDupCount >= 2, s"minDupCount $minDupCount must be >= 2")
    val segs = lineSegs(docs, idCol, textCol, sep)
    val hot = segs.groupBy("h").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minDupCount)
      .select(col("h"))
    rebuildDocs(segs, hot, idCol, textCol, sep)
  }

  /** (idCol, pos, line, h) rows — one split+posexplode pass. */
  private def lineSegs(docs: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
      .withColumn("h", hash56(col("line")))

  /** Rebuild docs from their segments minus the hot-hash set (joined on
    * the 8-byte hash; AQE broadcasts small hot sets). */
  private def rebuildDocs(segs: DataFrame, hotHashes: DataFrame,
      idCol: String, textCol: String, sep: String): DataFrame =
    segs.join(hotHashes.select(col("h"), lit(true).as("isDup")), Seq("h"), "left")
      .withColumn("keep", col("isDup").isNull)
      .groupBy(idCol)
      .agg(
        array_join(
          transform(
            filter(array_sort(collect_list(struct(col("pos"), col("line"),
              col("keep")))), x => x.getField("keep")),
            x => x.getField("line")),
          sep).as(textCol),
        count(lit(1)).as("nLines"),
        sum(when(col("keep"), lit(0L)).otherwise(lit(1L))).as("nRemoved"))

  /** Streaming/incremental face of [[lineDedup]] — the foreachBatch body
    * (the ingestVerdictBatch precedent): `priorCounts` is the (h, cnt)
    * line-frequency state accumulated over everything already ingested;
    * the batch's lines are counted, merged in (counts are additive, so
    * the merge is lossless like the sketch-family merges), and the batch
    * docs are rebuilt against the CUMULATIVE frequencies. Docs emitted in
    * earlier batches are not retro-cleaned — a line crosses the
    * threshold for the batch where the corpus-wide count first reaches
    * `minDupCount` and every batch after it (standard streaming-ingest
    * semantics; a periodic batch [[lineDedup]] over the retained corpus
    * is the compaction pass). State is distinct-line-sized: (8-byte
    * hash, count) pairs only. Checkpoint the returned counts to the
    * state path every batch and re-read them as the next batch's
    * `priorCounts` — that keeps the union→agg lineage one batch deep
    * instead of growing across the stream's lifetime.
    *
    * Returns (cleaned batch docs, updated counts state). */
  def lineDedupBatch(batch: DataFrame, priorCounts: DataFrame,
      idCol: String, textCol: String, minDupCount: Long,
      sep: String = "\n"): (DataFrame, DataFrame) = {
    require(minDupCount >= 2, s"minDupCount $minDupCount must be >= 2")
    val segs = lineSegs(batch, idCol, textCol, sep)
    val batchCounts = segs.groupBy("h").agg(count(lit(1)).as("cnt"))
    val newCounts = priorCounts.unionByName(batchCounts)
      .groupBy("h").agg(sum("cnt").as("cnt"))
    val hot = newCounts.where(col("cnt") >= minDupCount).select(col("h"))
    (rebuildDocs(segs, hot, idCol, textCol, sep), newCounts)
  }

  /** A fitted binary Naive Bayes text classifier (the count-based face of
    * the fastText/logistic quality filters of GPT-3 §2.2 / Brown et al.
    * app. A — NB because every fit statistic is a count, so the whole
    * model replays exactly in SQL). tokTable is vocab-sized (tok, cPos,
    * cNeg); the scalars are the per-class token totals, document priors
    * and vocabulary size Laplace scoring needs. */
  case class NbModel(tokTable: DataFrame, tPos: Long, tNeg: Long,
      nDocsPos: Long, nDocsNeg: Long, vocab: Long)

  /** Fit [[NbModel]] on a labeled seed set: ONE tokenize + hash-agg pass
    * builds the per-token class counts (shuffle carries (tok, 2 longs));
    * the class totals/priors/vocab come from one model-sized roll-up of
    * that aggregate — the corpus is read once. tokTable is materialized
    * once; every nbScore call joins it. An empty seed fails here; a
    * one-class seed fits, and [[nbScore]] refuses it. */
  def nbFitModel(seed: DataFrame, idCol: String, textCol: String,
      labelCol: String, posLabel: String): NbModel = {
    val isPos = col(labelCol) === lit(posLabel)
    val docs = seed.agg(
      coalesce(sum(when(isPos, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!isPos, 1L).otherwise(0L)), lit(0L))).collect()(0)
    val (nPos, nNeg) = (docs.getLong(0), docs.getLong(1))
    require(nPos + nNeg > 0,
      s"nbFitModel needs a non-empty seed (pos=$nPos, neg=$nNeg)")
    val tokTable = materialize(twoSidedCounts(seed, isPos, textCol)
      .select(col("tok"), col("ca").as("cPos"), col("cb").as("cNeg")))
    val tot = tokTable.agg(sum("cPos"), sum("cNeg"), count(lit(1))).collect()(0)
    NbModel(tokTable,
      if (tot.isNullAt(0)) 0L else tot.getLong(0),
      if (tot.isNullAt(1)) 0L else tot.getLong(1),
      nPos, nNeg, tot.getLong(2))
  }

  /** Score docs with a fitted [[NbModel]]: per-token Laplace log-odds
    * contribution ln((cPos+k)/(TPos+kV)) − ln((cNeg+k)/(TNeg+kV)), each
    * rounded to 6dp and summed as a scaled LONG so the per-doc total is
    * order-exact (the sibling pattern q116 settled on — float sums inside
    * a hash aggregate are order-nondeterministic). Unseen tokens take the
    * same formula at count 0 via the left join. logOdds adds the document
    * prior ln(nDocsPos/nDocsNeg); predicted = posLabel iff logOdds > 0.
    *
    * Scale shape: docs tokenize+explode once; the only join is against
    * the vocab-sized token table (AQE broadcasts normal vocabs, falls
    * back to a token-keyed shuffle join of two token-sized sides for
    * web-scale vocabularies); the per-doc roll-up is one map-side-combined
    * hash agg. */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
      model: NbModel, posLabel: String, negLabel: String,
      smoothing: Double = 1.0): DataFrame = {
    require(model.nDocsPos > 0 && model.nDocsNeg > 0,
      s"NB needs both classes in the seed (pos=${model.nDocsPos}, " +
        s"neg=${model.nDocsNeg}) — a one-class prior is infinite")
    val k = smoothing
    val v = model.vocab.toDouble
    val logPrior = round6(math.log(model.nDocsPos.toDouble / model.nDocsNeg))
    val contrib =
      log((coalesce(col("cPos"), lit(0L)) + lit(k)) / lit(model.tPos + k * v)) -
        log((coalesce(col("cNeg"), lit(0L)) + lit(k)) / lit(model.tNeg + k * v))
    val scored = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .join(model.tokTable, Seq("tok"), "left")
      .withColumn("c6", graft.core.fixedPointLong(contrib, 6))
      .groupBy(idCol)
      .agg(count(lit(1)).as("nToks"), sum("c6").as("s6"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("nToks"), lit(0L)).as("nToks"),
        (coalesce(col("s6"), lit(0L)) / 1e6 + lit(logPrior)).as("logOdds"))
      .withColumn("predicted",
        when(col("logOdds") > 0, lit(posLabel)).otherwise(lit(negLabel)))
  }

  /** Logistic-regression quality classifier — the gradient-descent face
    * of the GPT-3 §2.2 / CCNet quality filter family ([[nbFitModel]] is
    * the count-based face). Full-batch gradient descent with the
    * algebraic sigmoid σ̂(z) = 0.5 + z/(2(1+|z|)): unlike exp(), σ̂ uses
    * only IEEE basic ops (add/mul/div/abs — all correctly rounded by the
    * standard), so per-row values are bit-identical on any engine and
    * the fit replays exactly in SQL without trusting libm parity.
    *
    * Determinism (the q181 pattern): per-row per-dim gradient
    * contributions are bit-identical doubles → quantized to 9dp
    * fixed-point longs → summed in decimal(38,0) (exact, associative,
    * combine-order-free; decimal because a long sum could overflow past
    * ~10⁹ rows at |g|≤10). Each update then runs the identical sequence
    * of correctly-rounded double ops on both engines and re-grains the
    * weights at 6dp.
    *
    * Scale shape: one persisted projection of (features, label); each
    * iteration is ONE scan + one d-column partial-agg collapsing to a
    * single row (no shuffle wider than one row, no driver data motion
    * beyond d sums). The round's weights ride in as a BROADCAST 1-row
    * frame, not literals: literal weights made every round's generated
    * code unique, so a 60-iteration fit (q513) paid 60 Janino
    * compilations; with weight COLUMNS the plan's generated source is
    * round-invariant and compiles once (r13, guide §1.2 per-task work).
    * The arithmetic is unchanged — w·x is the same double sequence
    * whether w is a literal or a broadcast-joined column.
    *
    * Output: one row per feature — (j, feature, weight) — plus the
    * training n, n_correct (σ̂(w·x) ≥ 0.5 ⟺ w·x ≥ 0, an exact integer
    * count) and 4dp accuracy. */
  def logRegFit(data: DataFrame, featCols: Seq[String], labelCol: String,
      iters: Int, lr: Double): DataFrame = {
    val spark = data.sparkSession
    val d = featCols.length
    val proj = featCols.map(c => col(c).cast("double")) :+
      col(labelCol).cast("double").as("_y")
    val (handle, cached, _) = graft.core.iterCache(data.select(proj: _*))
    try {
      // weights as a broadcast 1-row frame → round-invariant codegen
      def wFrame(w: Array[Double]) =
        graft.core.paramRow(spark, w.indices.map(j => s"_w$j" -> w(j)))
      def z = featCols.zipWithIndex
        .map { case (c, j) => col(s"_w$j") * col(c) }.reduce(_ + _)
      def zLit(w: Array[Double]) = featCols.zipWithIndex
        .map { case (c, j) => lit(w(j)) * col(c) }.reduce(_ + _)
      var w = Array.fill(d)(0.0)
      var nTot = 0L
      for (_ <- 1 to iters) {
        val zc = z
        val sig = lit(0.5) + zc / (lit(2.0) * (lit(1.0) + abs(zc)))
        val err = col("_y") - sig
        val gs = featCols.zipWithIndex.map { case (c, j) =>
          sum(graft.core.fixedPointLong(err * col(c), 9)
            .cast("decimal(38,0)")).as(s"g$j") }
        val r = cached.crossJoin(broadcast(wFrame(w)))
          .agg(gs.head, gs.tail :+ count(lit(1)).as("n"): _*)
          .collect()(0)
        nTot = r.getAs[Long]("n")
        require(nTot > 0, "logRegFit on an empty training set")
        w = w.zipWithIndex.map { case (wj, j) =>
          val s = BigDecimal(r.getAs[java.math.BigDecimal](s"g$j")).toDouble
          // same op sequence as the SQL: ::DOUBLE, /n, /1e9, *lr, +w,
          // then the 6dp re-grain
          graft.core.fixedPoint(wj + lr * (s / nTot / 1e9), 6) / 1e6
        }
      }
      val acc = cached.agg(
        sum(when((zLit(w) >= 0) === (col("_y") === 1.0), 1L).otherwise(0L))
          .as("ok"), count(lit(1)).as("n")).collect()(0)
      val (ok, n) = (acc.getAs[Long]("ok"), acc.getAs[Long]("n"))
      import spark.implicits._
      w.zipWithIndex.map { case (wj, j) =>
        (j, featCols(j), wj, ok, n, ok.toDouble / n)
      }.toSeq.toDF("j", "feature", "weight", "n_correct", "n", "accuracy")
    } finally { handle.unpersist(false) }
  }

  /** BPE tokenizer trainer (Sennrich et al. 2016): learn `nMerges` merge
    * rules by repeated most-frequent-adjacent-pair counting over the
    * word-frequency table. The classic trick that makes this tractable
    * at 100 TB: the CORPUS is read exactly once (one tokenize+count
    * pass); every merge round then scans only the vocab-sized
    * (word, count) table — pair counts are corpus-exact because they are
    * weighted by word frequency. The merge loop runs ON THE DRIVER over
    * the collected vocabTopN-row table (model-sized, the engine's
    * 1-row/model-frame collect precedent): the earlier per-round
    * explode+hash-agg+rewrite Spark jobs were pure scheduling overhead
    * on a ≤1000-row frame — 2 jobs × nMerges rounds (r13; the pair
    * counting, argmax tie order (count desc, pair asc) and the
    * left-to-right non-overlapping replace are replicated exactly —
    * symbols are [a-z]+ so Java and UTF8String orderings agree; BpeSpec
    * pins the fit). Symbol sequences are
    * stored wrapped — "(t)(h)(e)" — so applying a merge is a plain
    * left-to-right non-overlapping string replace of "(a)(b)" with
    * "(ab)": exactly BPE's greedy application order, with no
    * shared-delimiter misses, on any engine. Everything is integer or
    * string — the fit replays in SQL with no rounding device at all.
    *
    * Vocabulary is the `vocabTopN` most frequent purely-alphabetic
    * words (deterministic rank: count desc, word asc — a distributed
    * TakeOrdered). No end-of-word marker (documented simplification;
    * merges within the top vocab are unaffected).
    *
    * Output: one row per learned rule — (round, left, right, merged,
    * pair_count). */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int, vocabTopN: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabTopN)
    // ONE corpus job; the merge loop is driver-local over ≤vocabTopN rows
    var vocab: Array[(Array[String], Long)] = words.collect()
      .map(r => (r.getAs[String]("w").map(_.toString).toArray,
        r.getAs[Long]("cnt")))
    val merges = collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      // adjacent-pair counts weighted by word frequency — the same
      // occurrence counting as the exploded (a,b) hash aggregate
      // (overlapping occurrences each count, exactly like the explode)
      val pc = collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        // argmax: count desc, then pair asc — symbols are [a-z]-only,
        // so Java string order == the engine's UTF8String binary order
        val ((a, b), n) = pc.minBy { case ((x, y), c) => (-c, x, y) }
        merges += ((r, a, b, a + b, n))
        // greedy left-to-right non-overlapping merge — the exact
        // semantics of the wrapped-string replace "(a)(b)" -> "(ab)"
        vocab = vocab.map { case (syms, cnt) =>
          val out = collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, cnt)
        }
        r += 1
      }
    }
    merges.toSeq.toDF("round", "left", "right", "merged", "pair_count")
  }

  /** Apply a learned BPE merge table ([[bpeTrain]]) to a corpus and
    * count the resulting tokens per document. Every character of the
    * lowercased text is wrapped as its own symbol — "(t)(h)(e)( )…" —
    * then the merge rules are applied IN TRAINING ORDER, each as one
    * greedy left-to-right plain-string replace (the exact application
    * order BPE defines). Merges only ever contain alphabetic symbols, so
    * wrapped spaces/punctuation act as natural word boundaries and each
    * non-alphabetic character stays its own token. Token count = number
    * of '(' left — integer string arithmetic end to end, one codegen
    * pass over the corpus with nMerges chained replaces, no shuffle. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val wrapped = regexp_replace(lower(col(textCol)), "(.)", "($1)")
    val applied = merges.foldLeft(wrapped) { case (c, (a, b)) =>
      replace(c, lit(s"($a)($b)"), lit(s"(${a + b})"))
    }
    docs.select(col(idCol),
      (length(applied) - length(replace(applied, lit("("), lit(""))))
        .cast("long").as("n_bpe"))
  }

  /** BM25 ranked retrieval (Robertson & Walker, SIGIR'94; the Lucene
    * idf = ln(1 + (N−df+0.5)/(df+0.5)) form, which keeps idf positive).
    * Scores every document against a fixed bag of query `terms` and
    * returns the global top-k.
    *
    * Scale shape: corpus stats (N, avgdl) are one two-scalar agg; the
    * posting build filters to query terms BEFORE the exchange, so the
    * shuffle carries only query-term postings (≤ |terms| rows per doc),
    * never the corpus vocabulary; the df table is ≤ |terms| rows and is
    * broadcast; the final top-k is orderBy+limit — TakeOrderedAndProject,
    * per-partition heaps, no global sort. Per-doc term contributions are
    * 6dp-fixed-point LONG sums (order-exact, engine-exact).
    *
    * Output: idCol, nTerms (matched query terms), score — top `topK` rows
    * by (score desc, id asc). */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one query term")
    // Materialized: the tokenize scan is the dominant cost and three
    // actions read it (the corpus-stats agg, the broadcast df-table
    // build, the final scoring plan) — lazily, each re-runs the regex
    // over the whole corpus (measured 3× the per-scan cost at 16×
    // sf0.1). Single-shot convenience face: the postings here are
    // pre-filtered to the query terms, so nothing term-agnostic is
    // built. Repeated-query callers should [[bm25Build]] once and
    // [[bm25SearchWith]] per term bag.
    val base = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .transform(materialize)
    // avgdl as one exact long sum ÷ one exact long count (single final
    // division) — an engine-internal double-accumulating avg() could
    // diverge in the last ulp and flip a 6dp contribution boundary
    val stats = base.agg(count(lit(1)),
      sum(size(col("toks")).cast("long"))).collect()(0)
    val n = stats.getLong(0)
    val avgdl = if (stats.isNullAt(1) || stats.getLong(1) == 0L) 1.0
      else stats.getLong(1).toDouble / n
    val postings = base
      .select(col(idCol), size(col("toks")).as("dl"),
        explode(col("toks")).as("tok"))
      .where(col("tok").isin(terms: _*))
      .groupBy(idCol, "tok", "dl").agg(count(lit(1)).as("tf"))
    bm25Score(postings, idCol, n, avgdl, topK, k1, b)
  }

  /** A materialized BM25 inverted index: the FULL (tok, id, dl, tf)
    * posting table plus the two corpus scalars — the build half of the
    * build/search split (the PQ-index precedent: one corpus pass
    * amortized across query batches). At scale, write `postings` with
    * the token as a bucketing/sort key so each query's term filter turns
    * into row-group skipping instead of a corpus scan. */
  case class Bm25Index(postings: DataFrame, n: Long, avgdl: Double)

  /** The index: doc lengths ride the explode, the per-(id, tok) roll-up
    * is the only exchange, and the corpus scalars are one eager
    * aggregate over the same token projection. */
  def bm25Build(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val stats = base.agg(count(lit(1)),
      sum(size(col("toks")).cast("long"))).collect()(0)
    val n = stats.getLong(0)
    val avgdl = if (stats.isNullAt(1) || stats.getLong(1) == 0L) 1.0
      else stats.getLong(1).toDouble / n
    val postings = base
      .select(col(idCol), size(col("toks")).as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy(idCol, "tok", "dl").agg(count(lit(1)).as("tf"))
    Bm25Index(postings, n, avgdl)
  }

  /** Search half: filters the prebuilt postings to the query terms (a
    * scan-level IN filter — with a token-bucketed index layout this is
    * file/row-group pruning, no tokenize, no corpus pass) and scores
    * identically to [[bm25Search]]. */
  def bm25SearchWith(index: Bm25Index, idCol: String, terms: Seq[String],
      topK: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25SearchWith needs at least one query term")
    bm25Score(index.postings.where(col("tok").isin(terms: _*)), idCol,
      index.n, index.avgdl, topK, k1, b)
  }

  /** Shared scoring tail of [[bm25Search]]/[[bm25SearchWith]] — df table
    * (≤ |terms| rows, broadcast), 6dp fixed-point contributions,
    * TakeOrdered top-k. */
  private def bm25Score(postings: DataFrame, idCol: String, n: Long,
      avgdl: Double, topK: Int, k1: Double, b: Double): DataFrame = {
    val dfTable = postings.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
    val contrib = col("idf") * col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    postings.join(broadcast(dfTable), "tok")
      .withColumn("c6", graft.core.fixedPointLong(contrib, 6))
      .groupBy(idCol)
      .agg(count(lit(1)).as("nTerms"), (sum("c6") / 1e6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling", ICLR'23): languages sorted by mass
    * ascending; each takes min(epochCap · mass, fair share of the budget
    * still unallocated over the languages still unserved). Low-resource
    * languages get their full epoch cap; the leftover budget spreads
    * evenly over the high-resource tail — the published alternative to
    * temperature mixing ([[temperatureMix]]) that bounds per-language
    * repetition explicitly.
    *
    * The per-language masses are ONE hash agg (the only corpus-sized
    * work); the greedy walk runs on the collected language list
    * (languages-sized, i.e. model-sized). Each allocation is rounded to
    * 6dp before the running budget updates, so the sequential walk
    * replays exactly in a recursive-CTE oracle.
    *
    * Output: (lang, mass, alloc, epochs) — alloc in the same unit as
    * `weightCol`, epochs = alloc/mass. */
  def unimaxAllocate(docs: DataFrame, langCol: String, weightCol: String,
      totalBudget: Double, epochCap: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // masses summed as 6dp fixed-point longs (order-exact for fractional
    // weights; exact anyway for integral ones) so the ascending sort key
    // and every downstream division replay bit-identically in the oracle
    val masses = docs.groupBy(langCol)
      .agg((sum(graft.core.fixedPointLong(col(weightCol).cast("double"), 6))
        .cast("double") / 1e6).as("mass"))
      .orderBy(col("mass"), col(langCol))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    var remaining = totalBudget
    val out = masses.zipWithIndex.map { case ((lang, mass), i) =>
      val fair = remaining / (masses.length - i)
      val alloc = round6(math.min(epochCap * mass, fair))
      remaining -= alloc
      (lang, mass, alloc, if (mass > 0) alloc / mass else 0.0)
    }
    spark.createDataset(out.toSeq).toDF(langCol, "mass", "alloc", "epochs")
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore &
    * Lewis, ACL 2010 "Intelligent Selection of Language Model Training
    * Data") — the classic domain-targeted curation scorer: each doc
    * gets H_in(doc) − H_gen(doc), the per-token NLL gap between an
    * in-domain unigram LM and a general-corpus unigram LM; the most
    * negative scores are the docs most like the target domain, so a
    * pipeline keeps the bottom fraction. Complements DSIR (q110),
    * which importance-weights on hashed-bucket ratios — this is the
    * explicit-LM face of the same selection problem.
    *
    * Both LMs are add-k unigram models over a SHARED vocabulary (the
    * union of both corpora) so the two NLLs are comparable:
    * P(w) = (c(w)+k)/(T+k·V). Per-doc token NLL gaps are summed as
    * 8dp fixed-point longs (order-exact); ln rides libm parity.
    *
    * Scale: two vocab-sized count fits (hash aggregates with map-side
    * combine), one tokenize+explode of the scored corpus joined to the
    * broadcast/shuffled count table, one hash agg back to docs — never
    * a corpus×corpus product. Output: idCol, nTok, ceDiff (0.0 for
    * empty docs; unseen tokens get the add-k floor of each LM). */
  def mooreLewisScore(docs: DataFrame, idCol: String, textCol: String,
      inDomain: DataFrame, general: DataFrame,
      smoothing: Double = 1.0): DataFrame = {
    val k = smoothing
    def counts(c: DataFrame, name: String): DataFrame =
      tokenCounts(c, Nil, textCol).withColumnRenamed("cnt", name)
    val model = counts(inDomain, "cIn")
      .join(counts(general, "cGen"), Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("cIn"), lit(0L)).as("cIn"),
        coalesce(col("cGen"), lit(0L)).as("cGen"))
    val tot = model.agg(sum("cIn").as("tIn"), sum("cGen").as("tGen"),
      count(lit(1)).as("v"))
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("tok"))
    val gap = toks
      .join(model, Seq("tok"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("_nllIn", -log(
        (coalesce(col("cIn"), lit(0L)).cast("double") + lit(k)) /
          (col("tIn").cast("double") + lit(k) * col("v").cast("double"))))
      .withColumn("_nllGen", -log(
        (coalesce(col("cGen"), lit(0L)).cast("double") + lit(k)) /
          (col("tGen").cast("double") + lit(k) * col("v").cast("double"))))
    val agg = gap.groupBy(col(idCol))
      .agg(count(lit(1)).as("nTok"),
        sum(graft.core.fixedPointLong(col("_nllIn") - col("_nllGen"), 8)
          .cast("decimal(38,0)")).as("_s8"))
      .withColumn("ceDiff",
        col("_s8").cast("double") / 1e8 / col("nTok").cast("double"))
      .select(col(idCol), col("nTok"), col("ceDiff"))
    // empty docs never reach the explode — restore them at ceDiff 0
    everyDoc(docs, idCol, agg, "nTok" -> lit(0L), "ceDiff" -> lit(0.0))
  }

  /** Interpolated Kneser–Ney bigram LM perplexity per document (Kneser
    * & Ney 1995; Chen & Goodman 1999 eq. 18, fixed discount D) — the
    * smoothing the KenLM-style quality filters actually use, upgrading
    * the Laplace bigram of [[lmScore]]:
    * P(b|a) = max(c(a,b)−D, 0)/c(a) + D·N₁₊(a·)/c(a) · P_cont(b),
    * P_cont(b) = (N₁₊(·b)+1)/(N+V) (add-1 on the continuation so
    * unseen words keep a positive floor), and a context unseen in the
    * LM corpus backs off to P_cont(b) alone.
    *
    * Per-doc −ln P sums ride 8dp fixed-point longs; ln is libm parity.
    *
    * Scale: the fit is one bigram hash aggregate plus three model-sized
    * roll-ups (per-context totals + distinct-successor counts, distinct-
    * predecessor counts, scalar type totals); scoring joins doc bigrams
    * to the two count tables — the lmScore shape with one extra
    * vocab-sized join. Output: idCol, nGrams, avgNll (0.0 when < 2
    * tokens). */
  def knLmScore(docs: DataFrame, idCol: String, textCol: String,
      lmCorpus: DataFrame = null, discount: Double = 0.75): DataFrame = {
    // the self-fit default builds the grams once: the scoring grams
    // double as the fit input
    val docGrams = lmGrams(docs, idCol, textCol, 2)
    val fitGrams =
      if (lmCorpus == null || (lmCorpus eq docs)) docGrams
      else lmGrams(lmCorpus, idCol, textCol, 2)
    val cAB = fitGrams.groupBy("ctx", "w").agg(count(lit(1)).as("cab"))
    // per-context total + distinct successor count, one model-sized pass
    val ctxStats = cAB.groupBy("ctx")
      .agg(sum("cab").as("ca"), count(lit(1)).as("n1fwd"))
    // distinct predecessor count per word + the scalar type/vocab totals
    val cont = cAB.groupBy("w").agg(count(lit(1)).as("n1bwd"))
    val scal = cAB.agg(count(lit(1)).as("nTypes")).crossJoin(
      cont.agg(count(lit(1)).as("v")))
    val d = discount
    val pCont = (col("n1bwdF") + lit(1.0)) /
      (col("nTypes").cast("double") + col("v").cast("double"))
    val scored = docGrams
      .join(cAB, Seq("ctx", "w"), "left")
      .join(ctxStats, Seq("ctx"), "left")
      .join(cont.select(col("w"), col("n1bwd").as("_nb")), Seq("w"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("n1bwdF", coalesce(col("_nb"), lit(0L)).cast("double"))
      .withColumn("_p",
        when(col("ca").isNotNull && col("ca") > 0,
          greatest(coalesce(col("cab"), lit(0L)).cast("double") - lit(d),
            lit(0.0)) / col("ca").cast("double") +
            lit(d) * col("n1fwd").cast("double") /
              col("ca").cast("double") * pCont)
          .otherwise(pCont))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("nGrams"),
        sum(graft.core.fixedPointLong(-log(col("_p")), 8)
          .cast("decimal(38,0)")).as("_s8"))
      .withColumn("avgNll",
        col("_s8").cast("double") / 1e8 / col("nGrams").cast("double"))
      .select(col(idCol), col("nGrams"), col("avgNll"))
    everyDoc(docs, idCol, agg, "nGrams" -> lit(0L), "avgNll" -> lit(0.0))
  }
  /** PPMI word-association pairs (Church & Hanks, CL 1990): unordered
    * token pairs co-occurring within `window` positions, scored by
    * positive pointwise mutual information ln(c_ab·N / (m_a·m_b))
    * clamped at 0 — the classic distributional-semantics association
    * table (the count matrix word2vec implicitly factorizes, Levy &
    * Goldberg NIPS'14).
    *
    * Exact: pair counts come from `window` equi-joins on (doc,
    * pos+offset) — bounded fan-out, never a positional range join;
    * marginals m and total N re-aggregate the PAIR-COUNT frame (the
    * corpus is never re-read). minCount filters the OUTPUT only, after
    * marginals are fixed, so the statistic is unaffected by the cut.
    *
    * Scale: one tokenize+posexplode pass, `window` equi-joins each
    * producing ≤ n_tokens rows, two hash aggregates; the pair-count
    * frame is vocabulary²-bounded and the only ln rides libm parity.
    * Output: (wa, wb, c, ppmi) for c ≥ minCount and ppmi > 0. */
  def ppmi(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 2, minCount: Long = 5): DataFrame = {
    require(window >= 1 && window <= 8, "1 <= window <= 8")
    // materialized: read by both join sides
    val toks = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("_d"),
        posexplode(tokens(col(textCol))).as(Seq("_p", "_w")))
      .transform(materialize)
    val right = toks.select(col("_d"), col("_p").as("_p2"),
      col("_w").as("_w2"))
    val pc = toks
      .withColumn("_o", explode(array((1 to window).map(lit): _*)))
      .withColumn("_p2", col("_p") + col("_o"))
      .join(right, Seq("_d", "_p2"))
      .select(least(col("_w"), col("_w2")).as("wa"),
        greatest(col("_w"), col("_w2")).as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("c"))
      .transform(materialize)
    val m = pc.select(col("wa").as("w"), col("c"))
      .unionByName(pc.select(col("wb").as("w"), col("c")))
      .groupBy("w").agg(sum(col("c")).as("m"))
    val tot = pc.agg(sum(col("c")).as("nn"))
    pc.where(col("c") >= minCount)
      .join(m.select(col("w").as("wa"), col("m").as("_ma")), "wa")
      .join(m.select(col("w").as("wb"), col("m").as("_mb")), "wb")
      .crossJoin(broadcast(tot))
      .withColumn("ppmi",
        log(col("c").cast("double") * col("nn").cast("double") /
          (col("_ma").cast("double") * col("_mb").cast("double"))))
      .where(col("ppmi") > 0)
      .select(col("wa"), col("wb"), col("c"), col("ppmi"))
  }
  /** Token-level KL / Jensen-Shannon divergence of each group's
    * unigram distribution vs the corpus — the TOKEN face of
    * charClassDrift's character profile: restrict to the corpus top-V
    * vocabulary plus one OOV bucket "<OOV>" (uppercase — lowercased tokens can never collide; bounded cells), add-one smooth
    * both sides, KL(g‖corpus) = Σ s·ln(s/c) and symmetric JS with the
    * ½-mixture. Which source is token-distributionally unlike the
    * rest — the mixture-weighting / contamination probe.
    *
    * Determinism: cell counts exact; shares are exact-integer ratios;
    * per-cell divergence terms are 8dp-quantized before the (V+1)-cell
    * sum (order-free); ln rides libm parity.
    *
    * Scale: one (group, token) aggregate joined to a broadcast top-V
    * table, a groups×(V+1) grid (model-sized) for the zero cells.
    * Output: group, n_tokens, kl, js. */
  def unigramDivergence(docs: DataFrame, groupCol: String,
      textCol: String, topV: Int = 64): DataFrame = {
    require(topV >= 1 && topV <= 4096, "1 <= topV <= 4096")
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    val toks = docs.where(col(textCol).isNotNull)
      .select(col(groupCol).as("_g"),
        explode(tokens(col(textCol))).as("_w"))
      .transform(materialize)
    val vocab = toks.groupBy("_w").agg(count(lit(1)).as("_cf"))
      .orderBy(col("_cf").desc, col("_w").asc).limit(topV)
      .select(col("_w"), lit(true).as("_inv"))
    val mapped = toks.join(broadcast(vocab), Seq("_w"), "left")
      .select(col("_g"),
        when(col("_inv").isNotNull, col("_w")).otherwise(lit("<OOV>"))
          .as("_t"))
    val gc = mapped.groupBy("_g", "_t").agg(count(lit(1)).as("_c"))
    val cc = mapped.groupBy("_t").agg(count(lit(1)).as("_cc"))
    val gn = mapped.groupBy("_g").agg(count(lit(1)).as("_ng"))
    val nTot = mapped.count()
    val cells = lit(topV + 1)
    val grid = gn.crossJoin(broadcast(
        cc.select(col("_t"), col("_cc"))))
      .join(gc, Seq("_g", "_t"), "left")
      .withColumn("_s", (coalesce(col("_c"), lit(0L)) + 1.0) /
        (col("_ng") + cells.cast("double")))
      .withColumn("_q", (col("_cc") + 1.0) /
        (lit(nTot) + cells.cast("double")))
      .withColumn("_m", (col("_s") + col("_q")) / 2.0)
    grid.groupBy(col("_g"))
      .agg(max(col("_ng")).as("n_tokens"),
        (sum(fp8(col("_s") * log(col("_s") / col("_q"))))
          .cast("double") / 1e8).as("kl"),
        ((sum(fp8(col("_s") * log(col("_s") / col("_m"))))
          .cast("double") / 1e8 +
          sum(fp8(col("_q") * log(col("_q") / col("_m"))))
            .cast("double") / 1e8) / 2.0).as("js"))
      .select(col("_g").as(groupCol), col("n_tokens"), col("kl"),
        col("js"))
  }

  /** Feature hashing (the hashing trick, Weinberger et al. ICML'09):
    * token counts fold into a FIXED `dim`-bucket vector per document —
    * bucket = md5(token) mod dim, entry = Σ ±count with the sign bit
    * from an independent md5 (the unbiased two-hash form, E[collision
    * contribution] = 0) — the constant-width feature map the logreg/NB
    * quality classifiers consume without a vocabulary table (no fit
    * pass, no OOV, mergeable across corpora by construction).
    *
    * Determinism: both hashes are md5-derived (the engine-wide seed
    * device); entries are exact integer sums. Scale: one tokenize +
    * explode + (doc, bucket) hash aggregate — no joins, no windows.
    * Output long-form: idCol, bucket, w (zero-sum buckets dropped). */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 1024): DataFrame = {
    require(dim >= 2 && dim <= (1 << 24), "2 <= dim <= 2^24")
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("_tok"))
      .withColumn("bucket", pmod(hash56(col("_tok")), lit(dim.toLong)))
      .withColumn("_sgn",
        when(pmod(hash56(concat(lit("s:"), col("_tok"))), lit(2L)) === 0L,
          lit(1L)).otherwise(lit(-1L)))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("_sgn")).as("w"))
      .where(col("w") =!= 0)
  }

  /** Content-defined chunk dedup (Rabin-style CDC, Muthitacharoen et
    * al. SOSP'01 "A low-bandwidth network file system"): a boundary
    * falls wherever the rolling window hash satisfies h ≡ 0 (mod
    * `mask`), so chunk edges track CONTENT, not offsets — an insertion
    * shifts only the chunk it lands in, where fixed-size blocks would
    * shift every later block. The storage-dedup face of the span-dedup
    * family: per-doc duplicated-chunk mass against the whole corpus.
    *
    * The window hash at char position i is the exact base-`base`
    * polynomial Σ_{j<w} code(s[i+j])·base^(w−1−j) — codepoints ≤ 0xFFFF
    * keep it under 2e15 for (w=8, base=31): exact in long in any
    * engine, so boundaries replay bit-identically (no modular wraps to
    * mirror). Chunks split AT each boundary position (no min/max length
    * squeeze — the greedy length-constrained variant is sequential and
    * oracle-hostile; expected chunk ≈ `mask` chars).
    *
    * Determinism: boundaries are exact integer predicates; chunk
    * identity is the 56-bit md5 of (chunk text). Scale: per-row O(len·w)
    * codegen (higher-order functions, no UDF) → explode chunks → one
    * (chunk-hash) count aggregate + join back — hash-sized exchanges
    * only, the same shuffle shape as exact line dedup.
    *
    * Output per doc: idCol, n_chunks, dup_chunks (chunks whose hash
    * appears in ≥ 2 distinct docs), dup_ratio. */
  /** The (id, chunk-hash) frame behind [[cdcChunkDedup]] — exploded
    * content-defined chunks, one row per chunk occurrence. Pure per-row
    * codegen (no aggregate), so it is streaming-safe and shared by the
    * batch dedup stats and the streaming chunk-admission face. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 8, base: Int = 31, mask: Int = 64,
      keep: Seq[String] = Nil): DataFrame = {
    require(window >= 2 && window <= 16, "2 <= window <= 16")
    require(base >= 2 && base <= 64, "2 <= base <= 64")
    require(mask >= 2, "mask >= 2")
    require(math.pow(base, window) * 0xFFFF < 9e18,
      s"base^window * 0xFFFF must stay in long: $base^$window")
    // chunking is one codegen'd O(bytes) expression per row
    // (graft.expr.CdcChunks — rolling window polynomial, byte-sliced
    // chunks); the earlier higher-order-function chain re-walked the
    // string per (position, offset) for O(len²·window) byte scans and
    // dominated the suite (28 s at sf0.1 → sub-second)
    graft.expr.GraftFunctions.register(docs.sparkSession)
    val kc = keep.map(col)
    docs
      .where(col(textCol).isNotNull && length(col(textCol)) >= window)
      .select(col(idCol) +: kc :+ explode(call_function("cdc_chunks",
        col(textCol), lit(window), lit(base), lit(mask))).as("_chunk"): _*)
      .where(length(col("_chunk")) > 0)
      .select(col(idCol) +: kc :+ hash56(col("_chunk")).as("_ch"): _*)
  }

  /** Per-doc duplicated-chunk stats over [[cdcChunks]] — see the CDC
    * contract above. */
  def cdcChunkDedup(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 8, base: Int = 31, mask: Int = 64): DataFrame = {
    val perChunk = cdcChunks(docs, idCol, textCol, window, base, mask)
    val counts = perChunk.groupBy(col("_ch"))
      .agg(countDistinct(col(idCol)).as("_docs"))
    perChunk.join(counts, "_ch")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_docs") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("dup_ratio",
        col("dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** ROUGE-N style clipped n-gram overlap between paired texts (Lin
    * 2004, "ROUGE: a package for automatic evaluation of summaries"):
    * overlap = Σ_g min(count_a(g), count_b(g)) over word n-grams,
    * recall = overlap/|a|, precision = overlap/|b|, f1 harmonic — the
    * pairwise eval/decontamination face the corpus-level n-gram
    * novelty operator doesn't cover (that one scores a doc against a
    * whole reference corpus; this scores aligned PAIRS, the
    * summary-vs-reference / output-vs-train shape).
    *
    * Determinism: exact integer counts; the three ratios are fixed
    * float expressions of integers. Scale: explode both sides to
    * (pair, gram, count) and hash-aggregate — pair work is linear in
    * text length, one exchange keyed by (pair, gram). Zero-gram sides
    * yield null metrics (undefined, like ROUGE on an empty reference).
    *
    * Input: one row per pair with two text columns. Output: pair id
    * columns + overlap, n_a, n_b, recall, precision, f1. */
  def rougeN(pairs: DataFrame, idCols: Seq[String], aCol: String,
      bCol: String, n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 8, "1 <= n <= 8")
    val ids = idCols.map(col)
    def side(c: String, tag: String) = pairs
      .select(ids :+ tokens(col(c)).as("_toks"): _*)
      .select(ids :+ explode(wordGrams(col("_toks"), n)).as("_g"): _*)
      .groupBy(ids :+ col("_g"): _*)
      .agg(count(lit(1)).as(s"_c$tag"))
    val j = side(aCol, "a").join(side(bCol, "b"), idCols :+ "_g", "full")
    val ov = j.groupBy(ids: _*)
      .agg(sum(least(coalesce(col("_ca"), lit(0L)),
          coalesce(col("_cb"), lit(0L)))).as("overlap"),
        sum(coalesce(col("_ca"), lit(0L))).as("n_a"),
        sum(coalesce(col("_cb"), lit(0L))).as("n_b"))
    val r = col("overlap").cast("double") / col("n_a").cast("double")
    val p = col("overlap").cast("double") / col("n_b").cast("double")
    ov.withColumn("recall", when(col("n_a") > 0, r))
      .withColumn("precision", when(col("n_b") > 0, p))
      .withColumn("f1",
        when(col("n_a") > 0 && col("n_b") > 0 && col("overlap") > 0,
          lit(2.0) * r * p / (r + p)).otherwise(
          when(col("n_a") > 0 && col("n_b") > 0, lit(0.0))))
  }
}
