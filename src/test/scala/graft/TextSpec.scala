package graft

import graft.sim.Similarity
import graft.text.TextOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),  // near dup
    (4L, "completely different content about spark engines and shuffles here")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val d = TextOps.exactDedup(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(d(1L).getAs[Long]("dupCount") == 2 && d(1L).getAs[Boolean]("keep"))
    assert(d(2L).getAs[Long]("dupCount") == 2 && !d(2L).getAs[Boolean]("keep"))
    assert(d(3L).getAs[Long]("dupCount") == 1 && d(3L).getAs[Boolean]("keep"))
  }

  test("minhash: identical docs share full signature; near-dups share most") {
    val sig = TextOps.minhash(docs, "doc_id", "text", 3, 16).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (k, rs) => k -> rs.sortBy(_.getAs[Int]("hashIdx")).map(_.getAs[Long]("minHash")).toSeq }
    assert(sig(1L) == sig(2L))
    val sharedNear = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    val sharedFar = sig(1L).zip(sig(4L)).count { case (a, b) => a == b }
    assert(sharedNear > sharedFar)
  }

  test("minhash LSH pairs surface the duplicate pair") {
    val pairs = TextOps.minhashPairs(docs, "doc_id", "text", 3, 16, 4)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("hot-bucket cap: capped pairs = uncapped pairs minus big-bucket-only pairs") {
    // three identical docs form size-3 buckets in every band; one near-dup
    // pair (1,2-ish) survives independently of them
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (10L, "same boiler plate text repeated in every copy here"),
      (11L, "same boiler plate text repeated in every copy here"),
      (12L, "same boiler plate text repeated in every copy here")).toDF("doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val uncapped = toSet(TextOps.minhashPairs(d, "doc_id", "text", 3, 16, 4))
    val capped = toSet(TextOps.minhashPairsCapped(d, "doc_id", "text", 3, 16, 4, 2))
    assert(capped.subsetOf(uncapped))
    // the identical triple (all its buckets have size 3 > 2) disappears...
    assert(!capped.exists { case (a, b) => a >= 10L && b >= 10L })
    assert(uncapped.exists { case (a, b) => a >= 10L && b >= 10L })
    // ...while pairs from small buckets survive the cap
    assert(capped == uncapped.filterNot { case (a, b) => a >= 10L && b >= 10L })
  }

  test("tfidf: rare distinctive terms outrank ubiquitous ones") {
    val d = Seq(
      (1L, "spark spark spark common"),
      (2L, "flink flink common"),
      (3L, "common common common")).toDF("doc_id", "text")
    val top = TextOps.tfidf(d, "doc_id", "text", 2).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (k, rs) => k -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[String]("term")).toSeq }
    assert(top(1L).head == "spark") // df=1, tf=3 beats 'common' (df=3)
    assert(top(2L).head == "flink")
    // 'common' appears in every doc → idf = ln(1) = 0 → weight 0
    val commonW = TextOps.tfidf(d, "doc_id", "text", 2).collect()
      .filter(_.getAs[String]("term") == "common").map(_.getAs[Double]("tfidf"))
    assert(commonW.forall(_ == 0.0))
  }

  test("winnow: identical docs share fingerprints; shared run guarantees overlap") {
    val fp = TextOps.winnow(docs, "doc_id", "text", 3, 4).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("fp")).toSet }
    assert(fp(1L) == fp(2L)) // exact dups → identical fingerprint sets
    assert((fp(1L) & fp(3L)).nonEmpty) // near dup shares ≥ 1 (common run ≥ w+k-1 tokens)
    assert((fp(1L) & fp(4L)).isEmpty)  // unrelated shares none
    // winnowing density: ≤ #windows, ≥ #grams/(w) selections
    assert(fp(1L).size <= 9 - 3 + 1)
  }

  test("dup clusters: transitive closure over pairs, singletons kept") {
    // chain 1-2, 2-3 → one component {1,2,3} labeled 1; 4 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val c = TextOps.dupClusters(docs, "doc_id", pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    val s = TextOps.dedupSurvivors(
      TextOps.dupClusters(docs, "doc_id", pairs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("clusterSize")).toMap
    assert(s == Map(1L -> 3L, 4L -> 1L))
  }

  test("dup clusters: long chain converges on both paths (union-find + star rounds)") {
    // diameter-300 chain: min-label propagation would need 299 rounds;
    // large/small-star contracts it within the default 20
    val n = 300
    val chain = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val d2 = (1 to n).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val local = TextOps.dupClusters(d2, "doc_id", chain).collect()
    assert(local.forall(_.getAs[Long]("cluster") == 1L))
    // force the distributed large-star/small-star path
    val dist = TextOps.dupClusters(d2, "doc_id", chain, maxLocalEdges = 0).collect()
    assert(dist.length == n && dist.forall(_.getAs[Long]("cluster") == 1L))
  }

  test("dup clusters: distributed star rounds match driver union-find on a random graph") {
    // deterministic pseudo-random multi-component graph w/ cross links,
    // reversed + duplicated edges, shared hubs
    val rng = new scala.util.Random(7)
    val edges = (1 to 400).map { _ =>
      val c = rng.nextInt(8) // 8 loose communities over ids 0..799
      val a = c * 100 + rng.nextInt(100)
      val b = if (rng.nextInt(10) == 0) rng.nextInt(800) else c * 100 + rng.nextInt(100)
      (a.toLong, b.toLong)
    }
    val pairs = (edges ++ edges.map(_.swap)).toDF("a", "b")
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val d3 = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def labelsOf(maxLocal: Int) =
      TextOps.dupClusters(d3, "doc_id", pairs, maxLocalEdges = maxLocal).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(labelsOf(1 << 20) == labelsOf(0)) // union-find == star rounds
  }

  test("corpus diff: added/removed/changed/same by content hash") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val neu = Seq((2L, "beta"), (3L, "gamma v2"), (4L, "delta")).toDF("doc_id", "text")
    val d = TextOps.corpusDiff(old, neu, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(d == Map(1L -> "removed", 2L -> "same", 3L -> "changed", 4L -> "added"))
  }

  test("gopher rules: each rule trips on its crafted violator, clean doc passes") {
    val good = (1 to 60).map(i => s"the quick word$i and of to it").mkString(" ")
    val cases = Seq(
      (1L, good),                                   // passes everything
      (2L, "the and of to it is that for"),         // too few words
      (3L, good.replaceAll("word\\d+", "a")),       // mean word len < 3
      (4L, good + " " + Seq.fill(40)("#tag...").mkString(" ")), // symbol ratio
      (5L, (1 to 60).map(i => s"- the bullet $i of it").mkString("\n")), // bullets
      (6L, (1 to 60).map(i => s"the line $i of it trails...").mkString("\n")), // ellipses
      (7L, good + " " + Seq.fill(200)("12345").mkString(" ")), // alpha frac
      (8L, (1 to 60).map(i => s"word$i token$i item$i").mkString(" ")) // no stopwords
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(cases, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("passed")).toMap
    assert(out(1L) == 1L)
    (2L to 8L).foreach(id => assert(out(id) == 0L, s"doc $id should fail"))
  }

  test("ngram jaccard: dup pair 1.0, near-dup high, verified via candidates") {
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val j = TextOps.ngramJaccard(docs, "doc_id", "text", 2, cand).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) == 0.0)
  }

  test("simhash: near-dups closer in hamming than unrelated docs") {
    val sh = TextOps.simhash(docs, "doc_id", "text", 16).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) == 0)
    assert(ham(sh(1L), sh(3L)) <= ham(sh(1L), sh(4L)))
  }

  test("langid flags english stopword-rich text") {
    val d = Seq((1L, "the cat and the dog in the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = TextOps.langId(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predLang")).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "unknown")
  }

  test("quality score favors prose over punctuation soup") {
    val d = Seq((1L, "the data pipeline processes a batch of documents and writes the results to the table for it"),
      (2L, ";;;,,,!!!??? 123 456 789 .,;")).toDF("doc_id", "text")
    val q = TextOps.qualityScore(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    assert(q(1L) > q(2L) + 0.3)
  }

  test("repetition signals: boilerplate scores high, varied prose low") {
    // doc 1: 7 tokens → 6 bigrams [spam ham ×3, ham spam ×3], 2 distinct
    // → dup 4/6; count tie 3–3 breaks to the lexicographically smallest
    // gram "ham spam"; char fraction = 3 occurrences × 8 chars / 31 chars
    val d = Seq((1L, "spam ham spam ham spam ham spam"),
      (2L, "each word here is fully unique prose"),
      (3L, "one")).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("dupGramFrac"), r.getAs[String]("topGram"),
          r.getAs[Double]("topGramFrac"), r.getAs[Int]("nGrams")))).toMap
    val (dup1, top1, tf1, n1) = out(1L)
    assert(n1 == 6 && math.abs(dup1 - 4.0 / 6) < 1e-9)
    assert(top1 == "ham spam" && math.abs(tf1 - 3.0 * 8 / 31) < 1e-9)
    val (dup2, _, tf2, _) = out(2L)
    assert(dup2 == 0.0 && tf2 < 0.35)
    val (dup3, top3, tf3, n3) = out(3L) // single token → no grams
    assert(n3 == 0 && dup3 == 0.0 && top3 == "" && tf3 == 0.0)
  }

  test("stratified sampling: hash-deterministic, quota-proportional") {
    val d = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) "web" else "wiki")).toDF("doc_id", "source")
    val kept = TextOps.stratifiedSample(d, "doc_id", "source",
      Map("web" -> 0.3), defaultQuota = 1.0)
    val bySource = kept.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(bySource("wiki") == 1000L)              // quota 1.0 keeps all
    assert(bySource("web") > 200 && bySource("web") < 400) // ~30% of 1000
    // decisions are a pure function of the id — a rerun keeps the same docs
    val again = TextOps.stratifiedSample(d, "doc_id", "source",
      Map("web" -> 0.3), defaultQuota = 1.0)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(again.select("doc_id").collect().map(_.getLong(0)).sorted))
  }

  test("pii redaction masks emails and phone numbers, counts them") {
    val d = Seq(
      (1L, "contact jane.doe+x@example.org or call 555-123-4567 today"),
      (2L, "no pii in this entirely ordinary sentence")).toDF("doc_id", "text")
    val out = TextOps.redactPii(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("redacted"), r.getAs[Int]("nEmails"),
          r.getAs[Int]("nPhones")))).toMap
    val (red1, ne1, np1) = out(1L)
    assert(red1 == "contact <EMAIL> or call <PHONE> today")
    assert(ne1 == 1 && np1 == 1)
    val (red2, ne2, np2) = out(2L)
    assert(red2 == "no pii in this entirely ordinary sentence" && ne2 == 0 && np2 == 0)
  }

  test("span dedup: cross-doc and in-doc repeats counted, short docs zero") {
    val d = Seq(
      (1L, "a b c d e"),        // spans: "a b c","b c d","c d e"
      (2L, "a b c x y"),        // shares "a b c" with doc 1
      (3L, "z z z z"),          // "z z z" twice -> both positions dup
      (4L, "p q")               // shorter than k -> nSpans = 0
    ).toDF("doc_id", "text")
    val out = TextOps.spanDedup(d, "doc_id", "text", k = 3, stride = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("nSpans"), r.getAs[Long]("nDupSpans"),
          r.getAs[Double]("dupSpanFrac")))).toMap
    assert(out(1L) == ((3L, 1L, 1.0 / 3)))
    assert(out(2L) == ((3L, 1L, 1.0 / 3)))
    assert(out(3L) == ((2L, 2L, 1.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("span rewrite: first occurrence survives, later repeats removed, docs rebuilt in order") {
    val d = Seq(
      (1L, "a b c d e f"),      // windows (k=3): "a b c", "d e f"
      (2L, "a b c x y z"),      // "a b c" repeats doc 1 -> dropped; "x y z" kept
      (3L, "x y z a b c"),      // both windows already seen -> empty rewrite
      (4L, "a b c d")           // "a b c" dup; tail window "d" is new -> kept
    ).toDF("doc_id", "text")
    val out = TextOps.spanRewrite(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("nWindows"), r.getAs[Long]("nKept"),
          r.getAs[String]("newText")))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d e f")))
    assert(out(2L) == ((2L, 1L, "x y z")))
    assert(out(3L) == ((2L, 0L, "")))
    assert(out(4L) == ((2L, 1L, "d")))
  }

  test("chunking: overlapping windows cover the doc, tail shorter, empty doc dropped") {
    val d = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")), // 40 toks
      (2L, "a b c d e"),                              // < chunk -> 1 window
      (3L, "   ")                                     // tokenless -> no rows
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(d, "doc_id", "text", chunkTokens = 16, overlap = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunkIdx")) ->
        ((r.getAs[Int]("startTok"), r.getAs[Int]("nTok"), r.getAs[String]("chunk"))))
      .toMap
    // step = 12: windows at 1, 13, 25; ceil((40-16)/12)+1 = 3 chunks
    assert(out.keys.count(_._1 == 1L) == 3)
    assert(out((1L, 0))._1 == 1 && out((1L, 0))._2 == 16)
    assert(out((1L, 1))._1 == 13 && out((1L, 1))._2 == 16)
    assert(out((1L, 2)) == ((25, 16, (25 to 40).map(i => s"t$i").mkString(" "))))
    assert(out((2L, 0)) == ((1, 5, "a b c d e")))
    assert(!out.keys.exists(_._1 == 3L))
    // consecutive windows share exactly `overlap` tokens
    assert(out((1L, 0))._3.split(" ").takeRight(4).sameElements(
      out((1L, 1))._3.split(" ").take(4)))
  }

  test("greedy packing: order-preserving fill, overflow opens bin, oversized isolated") {
    val ch = Seq(
      ("s", 1L, 0, 4), ("s", 1L, 1, 4), ("s", 2L, 0, 4),
      ("s", 3L, 0, 12),                      // oversized > capacity
      ("s", 4L, 0, 5),
      ("z", 9L, 0, 3)                        // second shard independent
    ).toDF("src", "doc_id", "idx", "sz")
    val out = TextOps.packGreedy(ch, "src", "doc_id", "idx", "sz", capacity = 10)
      .collect().map(r => (r.getAs[String]("shard"), r.getAs[Long]("id"),
        r.getAs[Int]("idx")) -> ((r.getAs[Int]("bin"), r.getAs[Int]("offset"))))
      .toMap
    assert(out(("s", 1L, 0)) == ((0, 0)))
    assert(out(("s", 1L, 1)) == ((0, 4)))
    assert(out(("s", 2L, 0)) == ((1, 0)))   // 8+4 > 10 -> new bin
    assert(out(("s", 3L, 0)) == ((2, 0)))   // oversized gets its own bin
    assert(out(("s", 4L, 0)) == ((3, 0)))   // bin after the oversized one
    assert(out(("z", 9L, 0)) == ((0, 0)))   // shards pack independently
  }

  test("shuffle shards: deterministic per salt, dense positions per shard") {
    val d = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = TextOps.shuffleShards(d, "doc_id", nShards = 4, salt = "ep0").collect()
    val b = TextOps.shuffleShards(d, "doc_id", nShards = 4, salt = "ep0").collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)) // reproducible
    val c = TextOps.shuffleShards(d, "doc_id", nShards = 4, salt = "ep1")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard")).toMap
    val aMap = a.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard")).toMap
    assert((0L until 200L).exists(i => aMap(i) != c(i))) // new salt reshuffles
    // positions are dense 0..k-1 within every shard
    a.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      val pos = rows.map(_.getAs[Long]("posInShard")).sorted
      assert(pos.sameElements(pos.indices.map(_.toLong)))
    }
  }

  test("zipf slope: ~-1 on a zipfian corpus, ~0 on a uniform one") {
    // doc per token occurrence: token t (1..50) appears floor(600/t) times
    val zipfDocs = (1 to 50).flatMap(t => Seq.fill(600 / t)(s"tok$t"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "z") }
    val uniDocs = (1 to 50).flatMap(t => Seq.fill(10)(s"tok$t"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "u") }
    val d = (zipfDocs ++ uniDocs).toDF("doc_id", "text", "k")
    val out = TextOps.zipfSlope(d, Seq("k"), "text", 50)
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n_toks"), r.getAs[Double]("zipf_slope"))).toMap
    assert(out("z")._1 == 50)
    assert(math.abs(out("z")._2 + 1.0) < 0.05, s"zipf slope=${out("z")._2}")
    assert(math.abs(out("u")._2) < 1e-9, s"uniform slope=${out("u")._2}")
  }

  test("weighted sample: exactly k per stratum, weight-biased, partition-stable") {
    // 100 light (w=1) + 100 heavy (w=100) docs; A-ES top-50 should be
    // dominated by the heavy half (each heavy key ~ U^(1/100))
    val d = (0L until 200L).map(i => (i, if (i < 100) 1L else 100L, "s"))
      .toDF("doc_id", "w", "k")
    val s = TextOps.weightedSample(d, Seq("k"), "doc_id", "w", 50)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(s.length == 50 && s.distinct.length == 50)
    assert(s.count(_ >= 100) > 40, s"heavy=${s.count(_ >= 100)}")
    // same sample regardless of physical partitioning
    val s2 = TextOps.weightedSample(d.repartition(13), Seq("k"), "doc_id", "w", 50)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(s.sorted.sameElements(s2.sorted))
    // short stratum: returns all its rows, no padding
    val short = TextOps.weightedSample(d.where($"doc_id" < 5), Seq("k"), "doc_id", "w", 50)
    assert(short.count() == 5)
  }

  test("decontamination: shared n-gram flags the train doc, clean doc passes") {
    val train = Seq(
      (10L, "alpha beta other words entirely"),
      (11L, "nothing shared at all here")).toDF("doc_id", "text")
    val eval = Seq((99L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = TextOps.decontaminate(train, eval, "doc_id", "text", n = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("nGramHits"), r.getAs[Boolean]("contaminated")))).toMap
    assert(out(10L) == ((1L, true)))   // "alpha beta" is the one shared 2-gram
    assert(out(11L) == ((0L, false)))
    assert(out.size == 2)              // eval docs never appear in the output
  }

  test("bloom decontamination equals the exact operator, even at sloppy fpp") {
    val train = docs
    val eval = Seq((990L, "the quick brown fox"), (991L, "unrelated corpus text"))
      .toDF("doc_id", "text")
    val exact = TextOps.decontaminate(train, eval, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // fpp = 0.5 floods the prefilter with false positives; the confirm
    // join must still reduce the output to exactly the exact operator's
    val bloom = TextOps.decontaminateBloom(train, eval, "doc_id", "text",
      n = 2, fpp = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(bloom == exact)
    assert(exact.exists(_._3)) // the shared bigrams really flag someone
  }

  test("pq ann: full shortlist equals brute force; tight shortlist keeps recall") {
    // 4 well-separated prototypes + small deterministic noise: true
    // neighbours share a prototype, so ADC must keep them in the shortlist
    val rnd = new scala.util.Random(23)
    val protos = Array.tabulate(4, 16)((p, j) => if (j % 4 == p) 5.0f else 0.0f)
    val vecs = Seq.tabulate(200) { i =>
      (i.toLong, protos(i % 4).map(x => x + rnd.nextGaussian().toFloat * 0.3f))
    }.toDF("vec_id", "embedding")
    val qs = vecs.where($"vec_id" < 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"),
        r.getAs[Int]("rank"))).toSet
    val brute = rows(Similarity.bruteForceTopK(qs, vecs, "vec_id", "embedding", 5))
    // shortlist = whole corpus -> the re-rank IS brute force
    val full = rows(Similarity.pqTopKDeterministic(qs, vecs, "vec_id", "embedding",
      dim = 16, m = 4, kCodes = 4, k = 5, shortlist = 200, iters = 3))
    assert(full == brute)
    // tight shortlist: 60 of 200 candidates. Same-cluster vectors encode
    // to the SAME codes (that is the quantization), so ADC cannot rank
    // within a cluster — the shortlist must cover the ~50-member ADC-tie
    // set for the re-rank to see the true neighbours (recall@5 >= 0.9)
    val pq = rows(Similarity.pqTopKDeterministic(qs, vecs, "vec_id", "embedding",
      dim = 16, m = 4, kCodes = 4, k = 5, shortlist = 60, iters = 3))
    val bruteIds = brute.map(t => (t._1, t._2))
    val recall = pq.map(t => (t._1, t._2)).count(bruteIds) / brute.size.toDouble
    assert(recall >= 0.9, s"recall@5 = $recall")
    // deterministic: a second run is byte-identical
    assert(rows(Similarity.pqTopKDeterministic(qs, vecs, "vec_id", "embedding",
      dim = 16, m = 4, kCodes = 4, k = 5, shortlist = 60, iters = 3)) == pq)
    // IVF×PQ composition identity: probing every cell IS plain PQ
    val ivfpqAll = rows(Similarity.ivfPqTopKDeterministic(qs, vecs, "vec_id",
      "embedding", dim = 16, nCells = 4, nProbe = 4, m = 4, kCodes = 4,
      k = 5, shortlist = 60, itersCoarse = 3, itersPq = 3))
    assert(ivfpqAll == pq)
    // tight probe: cells bound the candidates, recall holds on clustered data
    val ivfpq = rows(Similarity.ivfPqTopKDeterministic(qs, vecs, "vec_id",
      "embedding", dim = 16, nCells = 4, nProbe = 2, m = 4, kCodes = 4,
      k = 5, shortlist = 60, itersCoarse = 3, itersPq = 3))
    val r2 = ivfpq.map(t => (t._1, t._2)).count(bruteIds) / brute.size.toDouble
    assert(r2 >= 0.9, s"ivfpq recall@5 = $r2")
  }

  test("semdedup: exact twins collapse to the smaller id; uniques survive") {
    // 100 random 32-dim gaussians (pairwise cosine ~N(0, 1/sqrt(32)) — far
    // below eps) + exact copies of ids 0..9 as ids 100..109. A copy lands
    // in its twin's cell (identical argmin), pairs at cos = 1, and ties on
    // simc — so the tie-break must drop exactly the larger id of each pair.
    val rnd = new scala.util.Random(7)
    val base = Seq.tabulate(100)(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val vecs = (base ++ base.take(10).map { case (i, v) => (i + 100, v) })
      .toDF("vec_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[Long]("vec_id")).toSet
    val kept = ids(Similarity.semDedupDeterministic(vecs, "vec_id",
      "embedding", nCells = 4, eps = 0.95, iters = 5))
    assert(kept == (0L until 100L).toSet)
    // deterministic: a second run is identical
    val again = ids(Similarity.semDedupDeterministic(vecs, "vec_id",
      "embedding", nCells = 4, eps = 0.95, iters = 5))
    assert(again == kept)
    // survivors carry their cell + centroid cosine; simc is a true cosine
    val out = Similarity.semDedupDeterministic(vecs, "vec_id", "embedding",
      nCells = 4, eps = 0.95, iters = 5).collect()
    assert(out.forall(r => math.abs(r.getAs[Double]("simc")) <= 1.0 + 1e-9))
  }

  test("semdedup across: batch twin flags its corpus match, fresh vector is clean") {
    val rnd = new scala.util.Random(13)
    val corpus = Seq.tabulate(120)(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // batch: an exact copy of corpus id 7 + a fresh random vector
    val twin = corpus.where($"vec_id" === 7)
      .select(lit(500L).as("vec_id"), $"embedding")
    val fresh = Seq((501L, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val batch = twin.union(fresh)
    val out = Similarity.semDedupAcross(batch, corpus, "vec_id", "embedding",
      nCells = 4, eps = 0.95, iters = 5)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("nDups"), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(out(500L)._1 >= 1 && out(500L)._2.contains(7L),
      s"twin should match corpus id 7: ${out(500L)}")
    assert(out(501L) == (0L, None), s"fresh vector should be clean: ${out(501L)}")
    // corpus is never self-paired: output rows = batch size only
    assert(out.size == 2)
  }

  test("heavy hitters: MG prefilter + exact confirm equals plain groupBy") {
    // tiny capacity (4) forces constant Misra-Gries evictions; the
    // candidate union must still cover every gram above the N/C bound,
    // so the confirmed output equals the exact definition
    val docs = (Seq.tabulate(40)(i => (i.toLong, "alpha beta gamma delta")) ++
      Seq.tabulate(25)(i => ((100 + i).toLong, "epsilon zeta eta theta")) ++
      Seq.tabulate(120)(i => ((1000 + i).toLong, s"noise$i filler$i")))
      .toDF("doc_id", "text")
    val got = TextOps.heavyHitterGrams(docs, "doc_id", "text",
      n = 2, minCount = 25, capacity = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact: 40×3 alpha-block bigrams, 25×3 epsilon-block, noise 1 each
    val exact = Map(
      "alpha beta" -> 40L, "beta gamma" -> 40L, "gamma delta" -> 40L,
      "epsilon zeta" -> 25L, "zeta eta" -> 25L, "eta theta" -> 25L)
    assert(got == exact)
    // guarantee violated -> the operator must refuse, not silently miss
    intercept[IllegalArgumentException] {
      TextOps.heavyHitterGrams(docs, "doc_id", "text",
        n = 2, minCount = 2, capacity = 4).collect()
    }
  }

  test("dsir: target-like docs outweigh off-target; gumbel top-k reproducible") {
    // raw pool = 30 docs in the target idiom + 30 in another; target
    // corpus = a disjoint set of target-idiom docs. Importance weights
    // must strictly separate the two idioms, and selection at topN=25
    // must draw (almost) entirely from the target-like half.
    val rawDocs = (Seq.tabulate(30)(i => (i.toLong, s"the cat sat on mat $i")) ++
      Seq.tabulate(30)(i => ((100 + i).toLong, s"zug blorp qux flim $i")))
      .toDF("doc_id", "text")
    val target = Seq.tabulate(20)(i => ((1000 + i).toLong, s"a cat sat on the mat $i"))
      .toDF("doc_id", "text")
    val w = TextOps.dsirWeights(rawDocs, target, "doc_id", "text", nBuckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val catW = (0L until 30L).map(w)
    val zugW = (100L until 130L).map(w)
    assert(catW.min > zugW.max,
      s"target-like min ${catW.min} should beat off-target max ${zugW.max}")
    val sel = TextOps.dsirSelect(rawDocs, target, "doc_id", "text",
      topN = 25, nBuckets = 256)
    val ids = sel.collect().map(_.getLong(0)).toSet
    assert(ids.size == 25)
    assert(ids.count(_ < 100) >= 20, s"selection should favor target-like docs: $ids")
    // hash-derived gumbel noise: a rerun selects the identical set
    assert(sel.collect().map(_.getLong(0)).toSet == ids)
  }

  test("cosine top-k: self-similar vector ranks first") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.99f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.where($"vec_id" === 0), vecs,
      "vec_id", "embedding", 2).collect().sortBy(_.getAs[Int]("rank"))
    assert(top.head.getAs[Long]("cid") == 1L)
    assert(top.head.getAs[Double]("cos") > 0.99)
  }

  test("int8 quantization: small reconstruction error, top-k recall >= 0.9") {
    val e = core.table(spark, sfDir, "embeddings")
    val q = Similarity.quantizeInt8(e, "vec_id", "embedding")
    // per-element reconstruction error ≤ scale/2 (half a quantization step)
    val errs = Similarity.dequantizeInt8(q, "vec_id")
      .join(e.select($"vec_id", $"embedding"), "vec_id")
      .select(aggregate(
        zip_with($"vec", transform($"embedding", x => x.cast("double")),
          (a, b) => abs(a - b)),
        lit(0.0), (acc, x) => greatest(acc, x)).as("maxErr"),
        $"vec_id")
      .join(q.select($"vec_id", $"scale"), "vec_id")
      .where($"maxErr" > $"scale" * 0.5 + 1e-12)
    assert(errs.count() == 0)
    // ranking survives quantization: top-10 recall vs exact
    val queries = e.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deq = Similarity.dequantizeInt8(q, "vec_id")
      .withColumnRenamed("vec", "embedding")
    val approx = Similarity.bruteForceTopK(
      deq.where($"vec_id" < 10), deq, "vec_id", "embedding", 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("lsh near-dup finds what brute force finds (high threshold)") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(16)(rng.nextGaussian().toFloat)
    val vecs = ((0 until 30).map { i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))
    } ++ Seq((100L, base), (101L, base.map(x => x * 1.01f)))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDup(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val approx = Similarity.lshNearDup(vecs, "vec_id", "embedding", 16, 6, 42L, 0.99)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(exact.contains((100L, 101L)))
    assert(approx.contains((100L, 101L))) // identical-direction vectors share every bucket
  }

  test("ivf top-k approximates brute force on clustered data") {
    val rng = new scala.util.Random(3)
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(8)(d => (if (d == c) 10f else 0f) + rng.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    val q = vecs.where($"vec_id" === 0)
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 5)
      .collect().map(_.getAs[Long]("cid")).toSet
    val ivf = Similarity.ivfTopK(q, vecs, "vec_id", "embedding", 8, 3, 1, 5, 42L)
      .collect().map(_.getAs[Long]("cid")).toSet
    assert((exact & ivf).size >= 4) // ≥80% recall probing 1 of 3 cells
  }

  test("order-n LM: corpus-like docs score lower nll than alien docs, any order") {
    // corpus dominated by one phrase pattern; a conforming doc must score
    // a lower mean -ln P than a doc of unseen words, for n = 2 and 3
    val corpus = (0L until 40L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog " * 3)) ++
      (40L until 50L).map(i => (i, s"filler${i} words${i} here${i} now${i} end${i}"))
    val probe = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "zyx wvu tsr qpo nml kji hgf edc ba")).toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      val model = graft.text.TextOps.lmFit(corpus.toDF("doc_id", "text"), "doc_id", "text", n)
      val scores = graft.text.TextOps.lmScoreWith(probe, "doc_id", "text", model)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avgNll")).toMap
      assert(scores(100L) < scores(101L),
        s"n=$n: conforming ${scores(100L)} should beat alien ${scores(101L)}")
      assert(scores(100L) > 0 && scores(101L).isFinite)
    }
  }

  test("residual IVFPQ beats plain IVFPQ recall on clustered data with local structure") {
    // the FAISS by_residual rationale, reproduced as a measured recall
    // win: 4 far-apart clusters, each with group-offset sub-structure at
    // scale ~3 and noise 0.1. Residuals (offset + noise) quantize almost
    // exactly with 4 codes per subspace (each subspace sees only 3
    // distinct offset patterns), while plain PQ's codes must cover the
    // ±20 cluster spread — distortion ~8, far above the group scale — so
    // its shortlist is near-random inside a cluster.
    val rng = new scala.util.Random(17)
    val dim = 16
    val centers = Array.tabulate(4, dim)((c, d) =>
      if (d % 4 == c) 20.0 else if ((d + c) % 3 == 0) -12.0 else 3.0)
    val vecs = (0 until 240).map { i =>
      val c = i % 4
      val g = (i / 4) % 10
      (i.toLong, Array.tabulate(dim)(d =>
        (centers(c)(d) + 3.0 * (((c * 10 + g + d) % 3) - 1)
          + rng.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = vecs.where($"vec_id" < 8)
    def recall(res: org.apache.spark.sql.DataFrame, exact: Map[Long, Set[Long]]): Double = {
      val got = res.collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSet }
      exact.map { case (q, e) => (e & got.getOrElse(q, Set.empty)).size.toDouble / e.size }
        .sum / exact.size
    }
    val exact = Similarity.bruteForceTopK(qs, vecs, "vec_id", "embedding", 5)
      .collect().groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSet }
    // modest shortlist so recall is decided by ADC quality, not the re-rank
    val plain = recall(Similarity.ivfPqTopKDeterministic(qs, vecs, "vec_id",
      "embedding", dim = dim, nCells = 4, nProbe = 4, m = 4, kCodes = 4,
      k = 5, shortlist = 25), exact)
    val resid = recall(Similarity.ivfPqResidualTopKDeterministic(qs, vecs,
      "vec_id", "embedding", dim = dim, nCells = 4, nProbe = 4, m = 4,
      kCodes = 4, k = 5, shortlist = 25), exact)
    info(s"recall@5: residual=$resid plain=$plain")
    // measured 0.775 vs 0.45: the 4 residual codes per subspace resolve
    // the group structure partially (pooled residuals still carry ~12
    // patterns per subspace), plain PQ not at all — assert the floor and
    // a decisive gap rather than a perfect score
    assert(resid >= 0.7, s"residual recall $resid")
    assert(resid > plain + 0.2, s"residual $resid should clearly beat plain $plain")
  }

  test("temperature mix: alpha=1 keeps every source at the budget fraction") {
    val d = (1L to 300L).map(i =>
      (i, if (i <= 200) "big" else "small", 10L)).toDF("doc_id", "source", "n_chars")
    // alpha=1 → p_i = n_i/N → quota_i = budgetFrac exactly, for every source
    val out = TextOps.temperatureMix(d, "doc_id", "source", "n_chars",
      alpha = 1.0, budgetFrac = 0.4)
    assert(out.select("quota").distinct().collect().map(_.getDouble(0)).toSeq == Seq(0.4))
  }

  test("temperature mix: alpha<1 upsamples small sources, quotas capped at 1") {
    val d = (1L to 1100L).map(i =>
      (i, if (i <= 1000) "crawl" else "books", 100L)).toDF("doc_id", "source", "n_chars")
    val quotas = TextOps.temperatureMix(d, "doc_id", "source", "n_chars",
      alpha = 0.3, budgetFrac = 0.3)
      .select("source", "quota").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(quotas("books") > quotas("crawl"), s"$quotas")
    assert(quotas.values.forall(q => q > 0 && q <= 1.0), s"$quotas")
    // the hash-derived keep is reproducible: re-running selects the same ids
    val a = TextOps.temperatureMix(d, "doc_id", "source", "n_chars", 0.3, 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.temperatureMix(d.repartition(7), "doc_id", "source", "n_chars", 0.3, 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("sketch-cut score buckets agree with exact buckets away from the cuts") {
    val rows = (for (g <- Seq("en", "de"); i <- 1 to 2000) yield
      (s"$g$i", g, if (g == "en") i * i * 0.001 else 50.0 + i * 0.01))
      .toDF("id", "grp", "score")
    val exact = TextOps.scoreBuckets(rows, "grp", "score")
      .select("id", "bucket").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sketch = TextOps.scoreBucketsSketch(rows, "grp", "id", "score", k = 256)
      .select("id", "bucket").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sketch.keySet == exact.keySet)
    val agree = exact.count { case (id, b) => sketch(id) == b }
    assert(agree.toDouble / exact.size >= 0.95,
      s"sketch buckets agree on $agree/${exact.size}")
  }

  test("lsh planner: crossover tracks the threshold; S-curve is sane") {
    val (r8, b8, t8) = TextOps.lshPlan(16, 0.9)
    val (r4, b4, t4) = TextOps.lshPlan(16, 0.7)
    val (r2, b2, t2) = TextOps.lshPlan(16, 0.35)
    assert(r8 > r4 && r4 > r2) // higher thresholds need wider bands
    assert(r8 * b8 == 16 && r4 * b4 == 16 && r2 * b2 == 16)
    Seq((r8, b8, t8), (r4, b4, t4), (r2, b2, t2)).foreach { case (r, b, t) =>
      // at t = (1/b)^(1/r): P = 1-(1-1/b)^b, between 1-1/e and 0.75 for b >= 2
      val p = TextOps.lshCandidateProb(t, r, b)
      assert(p > 0.6 && p < 0.8, s"S-curve at its own threshold: $p")
      assert(TextOps.lshCandidateProb(math.min(t + 0.2, 0.99), r, b) > p)
      assert(TextOps.lshCandidateProb(math.max(t - 0.2, 0.01), r, b) < p)
    }
  }

  test("incremental ingest: diff classes, quality gate and cross-corpus dup compose") {
    val base = "the quick brown fox jumps over a lazy dog and then runs home again"
    val story = "a completely different story about the sea and the wind with ships sailing far away"
    val old = Seq(
      (1L, base),
      (2L, "totally different content about engines and the ocean"),
      (3L, "the third document staying exactly the same with more words and detail here")
    ).toDF("doc_id", "text")
    val neu = Seq(
      (1L, base),                      // same → retained, not emitted
      (2L, story),                     // changed, clean, unique → admitted
      (3L, "the third document staying exactly the same with more words and detail here"),
      (4L, base),                      // added but a dup of retained doc 1
      (5L, "# # # # # # #")            // added but fails the hard gate
    ).toDF("doc_id", "text")
    val out = TextOps.incrementalIngest(old, neu, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bandSize = 4, minWords = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("status"), r.getAs[Long]("qualityPass"),
          r.getAs[Long]("isDup"), r.getAs[Long]("admitted"))).toMap
    assert(out.keySet == Set(2L, 4L, 5L)) // same-docs 1 and 3 never emitted
    assert(out(2L) == (("changed", 1L, 0L, 1L)))
    assert(out(4L) == (("added", 1L, 1L, 0L)))
    assert(out(5L)._1 == "added" && out(5L)._2 == 0L && out(5L)._4 == 0L)
  }

  test("cluster-balanced sample: per-cell cap respected, deterministic under repartition") {
    val vecs = graft.core.table(spark, sfDir, "embeddings")
    val out = Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
      nCells = 4, perCell = 10, iters = 5, maxSample = 512)
    val byCell = out.collect().groupBy(_.getAs[Long]("cell"))
    assert(byCell.nonEmpty)
    byCell.foreach { case (c, rs) =>
      assert(rs.length <= 10, s"cell $c over quota")
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to rs.length), s"cell $c ranks")
    }
    val again = Similarity.clusterBalancedSample(vecs.repartition(13), "vec_id",
      "embedding", nCells = 4, perCell = 10, iters = 5, maxSample = 512)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == out.collect().map(_.getAs[Long]("vec_id")).toSet)
  }

  test("score buckets: per-group terciles are monotone and roughly balanced") {
    val rows = (for (g <- Seq("en", "de"); i <- 1 to 90) yield {
      val base = if (g == "en") 0.0 else 100.0 // disjoint score ranges per group
      (s"$g$i", g, base + i * 0.1)
    }).toDF("id", "grp", "score")
    val out = TextOps.scoreBuckets(rows, "grp", "score").collect()
    for (g <- Seq("en", "de")) {
      val byB = out.filter(_.getAs[String]("grp") == g)
        .groupBy(_.getAs[String]("bucket"))
        .map { case (b, rs) => b -> rs.map(_.getAs[Double]("score4")) }
      assert(byB.keySet == Set("head", "middle", "tail"))
      assert(byB("head").max <= byB("middle").min)
      assert(byB("middle").max <= byB("tail").min)
      assert(byB.values.forall(v => v.size >= 29 && v.size <= 31)) // ~90/3 each
    }
    // a global cut would put ALL of 'en' in head; calibration keeps thirds
  }

  test("mmr: near-duplicate of the top pick is demoted below a diverse candidate") {
    // id 2 ≈ id 1 (cos≈1); id 3 mirrors id 1 across q (same relevance
    // class, cos to id 1 only ~0.64); id 4 orthogonal junk. Plain top-2
    // by relevance = {1, 2}; MMR at λ=0.7: pick 1, then 3 (the clone's
    // ~1.0 penalty sinks it: 0.336 vs 0.439), then 2 (0.336 beats junk 0)
    val q = Array(1.0, 0.0, 0.0)
    val vecs = Seq(
      (1L, Array(0.91f, 0.4146f, 0f)),
      (2L, Array(0.909f, 0.4168f, 0f)),
      (3L, Array(0.9f, -0.436f, 0f)),
      (4L, Array(0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(vecs, "vec_id", "embedding", q,
      k = 3, lambda = 0.7, shortlist = 10)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id")))
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"expected diverse pick at rank 2, got ${out.toSeq}")
  }

  test("silhouette: tight well-separated clusters score near 1, mixed labels score low") {
    val pts = Seq(
      // cluster 0 around (0,0), cluster 1 around (10,10) — clean split
      (1L, Array(0.1f, 0.0f), 0), (2L, Array(-0.1f, 0.1f), 0),
      (3L, Array(0.0f, -0.1f), 0),
      (4L, Array(10.1f, 10.0f), 1), (5L, Array(9.9f, 10.1f), 1),
      (6L, Array(10.0f, 9.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val good = Similarity.silhouette(pts, "embedding", "label").collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("sil")).toMap
    assert(good(0) > 0.9 && good(1) > 0.9, s"expected ~1, got $good")
    // same points, labels scrambled across the two blobs → centroids
    // coincide near (5,5) and the separation signal collapses
    val bad = Similarity.silhouette(
      pts.withColumn("label", (col("vec_id") % 2).cast("int")),
      "embedding", "label").collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("sil")).toMap
    assert(bad.values.forall(_ < 0.5), s"expected collapsed sil, got $bad")
  }

  test("sourceOverlap: duplicated corpus halves show full overlap, disjoint none") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "a"),
      (2L, "alpha beta gamma delta epsilon zeta", "b"), // b == a
      (3L, "one two three four five six seven", "c")    // c disjoint
    ).toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap(d, "source", "text", n = 3).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toMap
    assert(out(("a", "b")) == ((4L, 1.0))) // 4 distinct 3-grams, identical
    assert(!out.contains(("a", "c")) && !out.contains(("b", "c")),
      "disjoint sources must not emit a pair row")
  }

  test("overlap sketch tracks exact jaccard; identical sources read exactly 1.0") {
    def words(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, words(0, 450), "a"),
      (2L, words(0, 450), "b"),    // identical to a
      (3L, words(225, 675), "c")   // half-overlapping window
    ).toDF("doc_id", "text", "source")
    val exact = TextOps.sourceOverlap(d, "source", "text", n = 3).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val est = TextOps.sourceOverlapSketch(d, "source", "text", n = 3, k = 64)
      .collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    assert(est(("a", "b")) == 1.0, s"identical sketches must agree: $est")
    assert(math.abs(est(("a", "c")) - exact(("a", "c"))) < 0.2,
      s"est=${est(("a", "c"))} exact=${exact(("a", "c"))}")
    assert(est(("a", "c")) > 0.05 && est(("a", "c")) < 0.9)
  }

  test("sourceSignature ranks group-exclusive tokens above shared ones") {
    val d = Seq(
      (1L, "spark spark spark common common", "a"),
      (2L, "duck duck duck common common", "b")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.sourceSignature(d, "source", "text", topK = 2, minCount = 1)
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Int]("rank")) ->
        r.getAs[String]("tok")).toMap
    assert(out(("a", 1)) == "spark" && out(("b", 1)) == "duck",
      s"exclusive tokens must rank first: $out")
    // lift of the exclusive token = (3/5)/(3/10) = 2.0; shared "common" < 1
    val lifts = TextOps.sourceSignature(d, "source", "text", 2, 1).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Double]("lift")).toMap
    assert(math.abs(lifts("spark") - 2.0) < 1e-9)
    assert(lifts("common") < 1.0 + 1e-9)
  }

  test("entropyIncreaseStream scores off-distribution values high after warmup") {
    import graft.streaming.StreamScorers
    import graft.streaming.StreamScorers.ValueEvent
    // 40 in-distribution values in [0,10) then one far outlier at 95
    val evs = ((1 to 40).map(i => ValueEvent("e", i.toLong, (i % 10).toDouble)) :+
      ValueEvent("e", 41L, 95.0)).toDS()
    val out = StreamScorers.entropyIncreaseStream(evs, bucketWidth = 1.0,
      minCount = 20).collect().map(e => e.seq -> e.score).toMap
    assert(out(10L) == 0.0, "warmup rows score 0")
    assert(out(41L) > 0.0, "outlier bucket must raise entropy")
    assert(out(41L) > out(40L), s"outlier must outscore in-distribution: $out")
  }

  test("bpe pre-tokenizer counts segment runs, not just whitespace") {
    val d = Seq(
      (1L, "Hello, world!"),          // Hello | , | _world | ! = 4
      (2L, "I've got 42 apples."),    // I | ' | ve | _got | _42 | _apples | . = 7
      (3L, "x=1+2"),                  // x | = | 1 | + | 2 = 5
      (4L, "  spaced   out  ")        // _ | _spaced | _ | _ | _out | _ | _ = ws runs split
    ).toDF("doc_id", "text")
    val c = TextOps.bpeTokenCount(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c(1L) == (2L, 4L))
    assert(c(2L) == (4L, 7L))
    assert(c(3L) == (1L, 5L))
    // whitespace: " ?" prefixes consume one leading space per run; the
    // residual \s+ matches what remains
    assert(c(4L)._1 == 2L && c(4L)._2 >= 4L)
  }

  test("fused curation pass is bit-identical to the staged composition") {
    // the q103/q161 parity pin at test scale: one extraction pass (q103)
    // vs five staged operators (q161) must agree on every kept row and
    // every rounded value
    val fused = SparkEntry.queries("q103_curation_quota")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val staged = SparkEntry.queries("q161_curation_staged")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(fused.nonEmpty, "curation quota must keep rows at sf0.001")
    assert(fused == staged,
      s"fused-staged diff: ${(fused -- staged) ++ (staged -- fused)}")
  }

  test("normalized dedup collapses case/digit/punctuation variants") {
    val d = Seq(
      (1L, "Hello, World! Call 555-1234 now."),
      (2L, "hello world call 000 0000 now"),      // normalized twin of 1
      (3L, "HELLO... world?? call (999) 8888 now"), // same after digits->0
      (4L, "a genuinely different document")
    ).toDF("doc_id", "text")
    val norm = d.select(TextOps.normalizeText(col("text"))).collect().map(_.getString(0))
    assert(norm(0) == "hello world call 000 0000 now")
    assert(norm(0) == norm(1) && norm(1) == norm(2))
    val out = TextOps.exactDedupNormalized(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("dupCount"), r.getAs[Boolean]("keep")))).toMap
    assert(out(1L) == ((3L, true)) && out(2L) == ((3L, false)) &&
      out(3L) == ((3L, false)))
    assert(out(4L) == ((1L, true)))
    // plain exact dedup sees them as distinct — normalization is the point
    val plain = TextOps.exactDedup(d, "doc_id", "text").collect()
      .map(_.getAs[Long]("dupCount"))
    assert(plain.forall(_ == 1L))
  }

  test("lineDedup drops corpus-frequent lines, keeps order and separator") {
    val d = Seq(
      (1L, "unique alpha\ncookie banner\nunique beta"),
      (2L, "cookie banner\nunique gamma"),
      (3L, "cookie banner"),
      (4L, "all original here")
    ).toDF("doc_id", "text")
    val out = TextOps.lineDedup(d, "doc_id", "text", minDupCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("nLines"), r.getAs[Long]("nRemoved")))).toMap
    assert(out(1L) == (("unique alpha\nunique beta", 3L, 1L)))
    assert(out(2L) == (("unique gamma", 2L, 1L)))
    assert(out(3L) == (("", 1L, 1L)), "doc that was pure boilerplate empties out")
    assert(out(4L) == (("all original here", 1L, 0L)))
  }

  test("lineDedup leaves a duplicate-free corpus byte-identical") {
    val d = Seq((1L, "a\nb\nc"), (2L, "d\ne")).toDF("doc_id", "text")
    val out = TextOps.lineDedup(d, "doc_id", "text", minDupCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out == Map(1L -> "a\nb\nc", 2L -> "d\ne"))
  }

  test("lineDedupBatch accumulates counts across batches, cleans forward") {
    val empty = Seq.empty[(Long, Long)].toDF("h", "cnt")
    val b1 = Seq((1L, "x\ncommon"), (2L, "y")).toDF("doc_id", "text")
    val (out1, st1) = TextOps.lineDedupBatch(b1, empty, "doc_id", "text", 2)
    val o1 = out1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(o1 == Map(1L -> "x\ncommon", 2L -> "y"),
      "first sighting of 'common' stays")
    // batch 2: cumulative count of 'common' reaches 3 -> dropped here
    val b2 = Seq((3L, "common\nz"), (4L, "common")).toDF("doc_id", "text")
    val (out2, st2) = TextOps.lineDedupBatch(b2, st1, "doc_id", "text", 2)
    val o2 = out2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(o2 == Map(3L -> "z", 4L -> ""))
    // state is cumulative: 'common' seen 3 times total
    val commonH = b1.sparkSession.range(1).select(
      TextOps.hash56(org.apache.spark.sql.functions.lit("common")))
      .collect()(0).getLong(0)
    val cnt = st2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cnt(commonH) == 3L)
    // within-batch crossing drops immediately
    val b3 = Seq((5L, "dup"), (6L, "dup")).toDF("doc_id", "text")
    val (out3, _) = TextOps.lineDedupBatch(b3, empty, "doc_id", "text", 2)
    assert(out3.collect().forall(_.getString(1) == ""))
  }

  test("naive bayes classifier separates two vocabularies") {
    val seed = Seq(
      (1L, "spark shuffle partition executor spark", "tech"),
      (2L, "executor codegen partition shuffle", "tech"),
      (3L, "sonnet stanza rhyme meter verse", "poem"),
      (4L, "rhyme verse stanza sonnet", "poem")
    ).toDF("doc_id", "text", "label")
    val model = TextOps.nbFitModel(seed, "doc_id", "text", "label", "tech")
    assert(model.nDocsPos == 2 && model.nDocsNeg == 2)
    val score = TextOps.nbScore(
      Seq((10L, "shuffle executor spark"), (11L, "stanza rhyme sonnet"),
        (12L, "entirely unseen tokens")).toDF("doc_id", "text"),
      "doc_id", "text", model, "tech", "poem")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("predicted"), r.getAs[Double]("logOdds")))).toMap
    assert(score(10L)._1 == "tech" && score(10L)._2 > 0)
    assert(score(11L)._1 == "poem" && score(11L)._2 < 0)
    // unseen tokens contribute the symmetric floor; equal class totals +
    // equal priors → logOdds 0 → negative label by the strict > 0 rule
    assert(math.abs(score(12L)._2) < 1e-6)
  }

  test("bm25 ranks term-dense docs first and respects topK") {
    val d = Seq(
      (1L, "spark spark spark join"),
      (2L, "spark filler filler filler filler filler filler"),
      (3L, "join filler"),
      (4L, "nothing relevant at all")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25Search(d, "doc_id", "text", Seq("spark", "join"), topK = 3)
      .collect()
    assert(out.length == 3, "doc 4 matches no term and topK=3")
    assert(out.head.getAs[Long]("doc_id") == 1L,
      "doc 1 has both terms with high tf and short length")
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("bm25 build/search split returns exactly the single-shot result") {
    val d = Seq(
      (1L, "spark spark spark join"),
      (2L, "spark filler filler filler filler filler filler"),
      (3L, "join filler"),
      (4L, "nothing relevant at all")
    ).toDF("doc_id", "text")
    val direct = TextOps.bm25Search(d, "doc_id", "text",
      Seq("spark", "join"), topK = 3).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("nTerms"), r.getAs[Double]("score"))).toSeq
    val idx = TextOps.bm25Build(d, "doc_id", "text")
    val viaIndex = TextOps.bm25SearchWith(idx, "doc_id",
      Seq("spark", "join"), topK = 3).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("nTerms"), r.getAs[Double]("score"))).toSeq
    assert(viaIndex == direct)
    // one index, a second term bag — no rebuild needed
    val q2 = TextOps.bm25SearchWith(idx, "doc_id", Seq("filler"), topK = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(q2.nonEmpty && q2.head == 2L, "filler-dense doc 2 must rank first")
  }

  test("nb scoring refuses a one-class seed") {
    val seed = Seq((1L, "only one class here", "tech")).toDF("doc_id", "text", "label")
    val m = TextOps.nbFitModel(seed, "doc_id", "text", "label", "tech")
    val e = intercept[IllegalArgumentException] {
      TextOps.nbScore(Seq((2L, "x")).toDF("doc_id", "text"), "doc_id", "text",
        m, "tech", "poem")
    }
    assert(e.getMessage.contains("both classes"))
  }

  test("unimax caps low-resource languages and spreads the leftover") {
    val d = (1 to 10).map(i => (i.toLong, "a", 1L)) ++ Seq((11L, "b", 100L))
    val df = d.toDF("doc_id", "lang", "w")
    val out = TextOps.unimaxAllocate(df.withColumn("w", col("w").cast("double")),
      "lang", "w", totalBudget = 110.0, epochCap = 2.0)
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Double]("mass"), r.getAs[Double]("alloc"), r.getAs[Double]("epochs")))).toMap
    // a: mass 10, fair 55 → capped at 2 epochs = 20; b takes the remaining 90
    assert(out("a") == ((10.0, 20.0, 2.0)))
    assert(out("b")._2 == 90.0 && math.abs(out("b")._3 - 0.9) < 1e-9)
  }

  test("unimax never allocates past the epoch cap or the budget") {
    val df = Seq((1L, "x", 10.0), (2L, "y", 30.0), (3L, "z", 500.0))
      .toDF("doc_id", "lang", "w")
    val out = TextOps.unimaxAllocate(df, "lang", "w", totalBudget = 200.0, epochCap = 1.5)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Double]("mass"),
        r.getAs[Double]("alloc"), r.getAs[Double]("epochs")))
    assert(out.forall(r => r._4 <= 1.5 + 1e-9))
    assert(out.map(_._3).sum <= 200.0 + 1e-6)
    // x and y fit under their caps; z absorbs what remains
    val m = out.map(r => r._1 -> r._3).toMap
    assert(m("x") == 15.0 && m("y") == 45.0 && m("z") == 140.0)
  }

  test("novelty: first owner keeps credit, copies score zero") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),       // exact copy → 0
      (3L, "alpha beta gamma zeta eta theta iota"), // shares 1 of 5 shingles
      (4L, "xy")).toDF("doc_id", "text")            // < 3 tokens → none
    val out = TextOps.noveltyScore(d, "doc_id", "text", n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("novelty") == 1.0)
    assert(out(2L).getAs[Double]("novelty") == 0.0)
    assert(out(3L).getAs[Long]("n_shingles") == 5L)
    assert(out(3L).getAs[Double]("novelty") == 0.8) // "alpha beta gamma" seen
    assert(out(4L).getAs[Long]("n_shingles") == 0L &&
      out(4L).isNullAt(out(4L).fieldIndex("novelty")))
  }

  test("containment: subset doc is fully contained, superset partially") {
    val d = Seq(
      (1L, "a b c d e"),                   // 3 shingles
      (2L, "a b c d e f g h i")).toDF("doc_id", "text") // 7 shingles
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val r = TextOps.ngramContainment(d, "doc_id", "text", 3, pairs).collect()(0)
    assert(r.getAs[Long]("inter") == 3L)
    assert(r.getAs[Double]("cont_a") == 1.0)
    assert(math.abs(r.getAs[Double]("cont_b") - 3.0 / 7) < 1e-12)
  }

  test("lexical diversity: ttr/hapax/yule on counted frequencies") {
    val d = Seq(
      (1L, "a b c d"),             // all hapax: ttr=1, hapax=1, s2=4 → K=0
      (2L, "a a a b b c"),         // f = {3,2,1}: s2=14, N=6
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.lexicalDiversity(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_types") == 4L &&
      out(1L).getAs[Double]("ttr") == 1.0 &&
      out(1L).getAs[Double]("yule_k") == 0.0)
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_tokens") == 6L && r2.getAs[Long]("n_types") == 3L)
    assert(r2.getAs[Long]("n_hapax") == 1L)
    // K = 1e4·(14−6)/36
    assert(math.abs(r2.getAs[Double]("yule_k") - 1e4 * 8 / 36.0) < 1e-9)
    assert(out(3L).getAs[Long]("n_tokens") == 0L &&
      out(3L).isNullAt(out(3L).fieldIndex("ttr")))
  }

  test("readability: flesch formula on counted words/sentences/syllables") {
    val d = Seq((1L, "The cat sat. The cat ran!"), (2L, "")).toDF("doc_id", "text")
    val out = TextOps.readability(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_words") == 6L)
    assert(r1.getAs[Long]("n_sentences") == 2L)
    // vowel groups: e,a,a,e,a,a → 6
    assert(r1.getAs[Long]("n_syllables") == 6L)
    assert(math.abs(r1.getAs[Double]("flesch") -
      (206.835 - 1.015 * 3.0 - 84.6 * 1.0)) < 1e-9)
    assert(out(2L).isNullAt(out(2L).fieldIndex("flesch")))
  }

  test("rake: deg/freq scoring favors multi-word phrases, splits on stops+punct") {
    val d = Seq(
      (1L, "deep learning of deep networks"),
      (2L, "deep learning, shallow rules")).toDF("doc_id", "text")
    val out = TextOps.rakeKeywords(d, "doc_id", "text",
      stopwords = Seq("of"), topK = 10).collect()
      .map(r => r.getAs[String]("phrase") ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("score"))).toMap
    // "learning," carries a comma → boundary; phrase "deep learning"
    // appears once intact (doc 1), "deep" alone once (doc 2 prefix)
    // word stats: deep freq 3 (phrases: [deep learning], [deep networks],
    // [deep]); deg(deep) = 2+2+1 = 5
    assert(out.contains("deep learning") && out.contains("deep networks"))
    // deep networks: deg/freq → 5/3 + 2/1 ≈ 3.6667
    assert(math.abs(out("deep networks")._2 - (5.0 / 3 + 2.0)) < 1e-4)
    assert(out("shallow rules")._1 == 1L)
    assert(math.abs(out("shallow rules")._2 - 4.0) < 1e-12)
    assert(!out.keys.exists(_.contains("of")))
  }

  test("rrf fusion: doc on both lists beats single-list rank-1 docs") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((40L, 1), (20L, 2), (50L, 3)).toDF("doc_id", "rank")
    val out = graft.sim.Similarity.rrfFuse(Seq(a, b), Nil, "doc_id",
      kConst = 60, topK = 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("fused_rank"), r.getAs[Long]("n_lists"),
          r.getAs[Double]("rrf"))).toMap
    // 20 appears in both lists at rank 2: 2/62 > 1/61
    assert(out(20L)._1 == 1 && out(20L)._2 == 2L)
    assert(math.abs(out(20L)._3 - 2.0 / 62.0) < 1e-6)
    // 10 and 40 tie on score (rank 1, one list) → id tie-break
    assert(out(10L)._1 == 2 && out(40L)._1 == 3)
    assert(out.size == 5)
  }

  test("rrf fusion: per-key fusion keeps queries independent") {
    val a = Seq(("q1", 10L, 1), ("q2", 10L, 5)).toDF("qid", "doc_id", "rank")
    val b = Seq(("q1", 99L, 1), ("q2", 10L, 1)).toDF("qid", "doc_id", "rank")
    val out = graft.sim.Similarity.rrfFuse(Seq(a, b), Seq("qid"), "doc_id",
      kConst = 60, topK = 1).collect()
      .map(r => r.getAs[String]("qid") -> r.getAs[Long]("doc_id")).toMap
    assert(out("q1") == 10L) // 1/61 ties with 99's 1/61 → id wins
    assert(out("q2") == 10L)
  }

  test("word grams: the shifted-slice builder equals the per-gram sequence form") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    // the form every gram builder used before: one index lambda per gram
    def reference(t: Column, n: Int): Column = when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*)))
      .otherwise(array())
    val word = Gen.oneOf("a", "b", "ab", "c", "Δ", "x1")
    // n = 1…5; token arrays of length 0…n+3, and a null array
    val row = for {
      n <- Gen.choose(1, 5)
      len <- Gen.choose(0, n + 3)
      toks <- Gen.listOfN(len, word)
      isNull <- Gen.frequency(1 -> true, 9 -> false)
    } yield (n, if (isNull) null else toks.toArray)
    val prop = Prop.forAll(Gen.listOfN(80, row)) { rows =>
      val df = rows.toDF("n", "t")
      def byN(f: (Column, Int) => Column) =
        (1 to 5).foldLeft(lit(null).cast("array<string>"))(
          (acc, k) => when(col("n") === k, f(col("t"), k)).otherwise(acc))
      val out = df.select(col("n"), col("t"),
        byN(TextOps.wordGrams(_, _)).as("got"), byN(reference).as("want")).collect()
      out.forall { r =>
        val len = if (r.isNullAt(1)) 0 else r.getSeq[String](1).length
        val got = r.getSeq[String](2)
        got == r.getSeq[String](3) && got.length == math.max(len - r.getInt(0) + 1, 0)
      }
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("text model builders leave no cache entry behind") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val d = Seq((1L, "the cat sat on the mat", "a"), (2L, "the dog sat on the log", "b"),
      (3L, "a cat and a dog", "a"), (4L, "the mat and the log", "b"))
      .toDF("doc_id", "text", "label")
    TextOps.lmScore(d, "doc_id", "text").collect()
    TextOps.mooreLewisScore(d, "doc_id", "text", d.where(col("label") === "a"),
      d).collect()
    TextOps.knLmScore(d, "doc_id", "text").collect()
    val idx = TextOps.bm25Build(d, "doc_id", "text")
    TextOps.bm25SearchWith(idx, "doc_id", Seq("cat", "log"), topK = 2).collect()
    TextOps.collocations(d, "doc_id", "text", minCount = 1L).collect()
    val nb = TextOps.nbFitModel(d, "doc_id", "text", "label", "a")
    TextOps.nbScore(d, "doc_id", "text", nb, "a", "b").collect()
    assert(cacheManager.isEmpty)
  }

  test("nb fit: an empty seed fails in nbFitModel, naming both class counts") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "label")
    val e = intercept[IllegalArgumentException] {
      TextOps.nbFitModel(empty, "doc_id", "text", "label", "tech")
    }
    assert(e.getMessage.contains("nbFitModel") && e.getMessage.contains("pos=0, neg=0"))
    // a one-class seed fits; scoring refuses it with both counts
    val one = Seq((1L, "only one class here", "tech")).toDF("doc_id", "text", "label")
    val m = TextOps.nbFitModel(one, "doc_id", "text", "label", "tech")
    val e2 = intercept[IllegalArgumentException] {
      TextOps.nbScore(one, "doc_id", "text", m, "tech", "poem")
    }
    assert(e2.getMessage.contains("pos=1, neg=0"))
  }
}
