package graft

import graft.model.Fitters
import graft.streaming.StreamScorers
import graft.streaming.StreamScorers.{DdmOut, EntropyScore, ErrEvent, SeqEvent, SeqScore, ValueEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamSpec extends SparkSpec {
  import spark.implicits._

  test("zscore stream-static join scores and tags a memory stream") {
    implicit val sc = spark.sqlContext
    val stats = Seq(("a", 10.0, 2.0), ("b", 100.0, 5.0)).toDF("k", "mean", "std")
    val in = MemoryStream[(String, Double)]
    val scored = StreamScorers.zscoreStream(
      in.toDF().toDF("k", "v"), stats, Seq("k"), "v", threshold = 3.0)
    val q = scored.writeStream.format("memory").queryName("zs").outputMode("append").start()
    val alertQ = StreamScorers.alerts(scored, threshold = 3.0)
      .writeStream.format("memory").queryName("zsa").outputMode("append").start()
    in.addData(("a", 10.0), ("a", 20.0), ("b", 101.0), ("c", 5.0))
    q.processAllAvailable()
    alertQ.processAllAvailable()
    val rows = spark.table("zs").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Double]("v")) -> r.getAs[String]("tag")).toMap
    val alerts = spark.table("zsa").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Double]("v")))
    q.stop(); alertQ.stop()
    assert(rows(("a", 10.0)) == "N")
    assert(rows(("a", 20.0)) == "O")   // z = 5
    assert(rows(("b", 101.0)) == "N")
    assert(rows(("c", 5.0)) == "I")    // no model for key c
    assert(alerts.toSeq == Seq(("a", 20.0))) // only the outlier reaches the alert sink
  }

  test("streaming heavy hitters: emit-once on crossing, exact under capacity") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamScorers.heavyHitterStream(in.toDF().toDF("doc_id", "text"),
      "text", n = 2, minCount = 5, nShards = 8, capacity = 1024)
    val q = out.writeStream.format("memory").queryName("hh").outputMode("append").start()
    // batch 1: "hot spot" appears 3 times — below minCount, nothing emits
    in.addData((1L, "hot spot alpha"), (2L, "hot spot beta"), (3L, "hot spot gamma"))
    q.processAllAvailable()
    assert(spark.table("hh").count() == 0)
    // batch 2: two more occurrences push "hot spot" to 5 — emits exactly
    // once with the exact count (capacity never exceeded → err 0)
    in.addData((4L, "hot spot delta"), (5L, "hot spot epsilon"))
    q.processAllAvailable()
    val hits = spark.table("hh").collect()
      .map(r => (r.getAs[String]("gram"), r.getAs[Long]("cnt"), r.getAs[Long]("maxErr")))
    assert(hits.toSeq == Seq(("hot spot", 5L, 0L)))
    // batch 3: more occurrences must NOT re-emit the qualified gram
    in.addData((6L, "hot spot zeta"), (7L, "hot spot eta"))
    q.processAllAvailable()
    assert(spark.table("hh").count() == 1)
    q.stop()
  }

  test("streaming kmv distinct-count: batch-split invariant, batch parity") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val out = StreamScorers.kmvDistinctStream(in.toDF().toDF("k", "v"), "k", "v", k = 32)
    val q = out.writeStream.format("memory").queryName("kmv").outputMode("append").start()
    // 80 distinct values split across two batches (with cross-batch dups)
    val vals = (1 to 120).map(i => ("a", s"val-${i % 80}"))
    val (b1, b2) = vals.splitAt(50)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val snaps = spark.table("kmv").collect()
      .map(r => (r.getAs[Int]("sketchN"), r.getAs[Double]("estDistinct")))
    q.stop()
    assert(snaps.length == 2)
    // final snapshot must equal the batch fit+estimate of the whole input
    val batch = Fitters.kmvEstimate(
      Fitters.kmvSketch(vals.toDF("k", "v"), Seq("k"), "v", 32), Seq("k"), 32).head()
    assert(snaps.last._1 == batch.getAs[Long]("sketch_n"))
    assert(math.abs(snaps.last._2 - batch.getAs[Double]("est_distinct")) < 1e-9)
  }

  test("streaming hll distinct-count: register state, batch parity across splits") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val out = StreamScorers.hllDistinctStream(in.toDF().toDF("k", "v"), "k", "v", p = 7)
    val q = out.writeStream.format("memory").queryName("hll").outputMode("append").start()
    val vals = (1 to 400).map(i => ("a", s"val-${i % 300}"))
    val (b1, b2) = vals.splitAt(170)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val snaps = spark.table("hll").collect()
      .map(r => (r.getAs[Int]("nBuckets"), r.getAs[Double]("estDistinct")))
    q.stop()
    assert(snaps.length == 2)
    assert(snaps.last._1 <= 128, "register count must stay bounded by m")
    // final snapshot == batch fit+estimate of the whole input (register
    // max is associative, estimator constants identical)
    val batch = Fitters.hllEstimate(
      Fitters.hllSketch(vals.toDF("k", "v"), Seq("k"), "v", p = 7), Seq("k"), p = 7)
      .head()
    assert(snaps.last._1.toLong == batch.getAs[Long]("n_buckets"))
    assert(math.abs(snaps.last._2 - batch.getAs[Double]("est_distinct")) < 1e-9)
  }

  test("streaming cms frequency monitor: cross-batch accumulation, batch parity") {
    implicit val sc = spark.sqlContext
    val vals = (1 to 150).map(i => ("a", s"tok-${i % 30}"))
    val probes = Seq("tok-0", "tok-7", "tok-29", "never-seen")
    val in = MemoryStream[(String, String)]
    val out = StreamScorers.cmsFrequencyStream(in.toDF().toDF("k", "v"),
      "k", "v", depth = 4, width = 512, probes)
    val q = out.writeStream.format("memory").queryName("cmsf").outputMode("append").start()
    val (b1, b2) = vals.splitAt(70)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val snaps = spark.table("cmsf").collect()
      .map(r => (r.getAs[String]("probe"), r.getAs[Long]("estCnt")))
    q.stop()
    assert(snaps.length == probes.length * 2)
    // final snapshots must equal the batch fit + point query of the union
    val pdf = probes.map(("a", _)).toDF("k", "v")
    val batch = Fitters.cmsEstimate(
      Fitters.cmsSketch(vals.toDF("k", "v"), Seq("k"), "v", 4, 512),
      pdf, Seq("k"), "v", 4, 512)
      .collect().map(r => r.getAs[String]("v") -> r.getAs[Long]("est_cnt")).toMap
    // counters are monotone, so the final snapshot per probe is its max
    val finals = snaps.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).max }
    probes.foreach(p => assert(finals(p) == batch(p), s"probe $p"))
    assert(finals("never-seen") == 0L)
  }

  test("streaming quantile monitor: bottom-k state accumulates, batch parity") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val out = StreamScorers.quantileSketchStream(in.toDF().toDF("k", "id", "x"),
      "k", "id", "x", k = 64, probs = Seq(0.25, 0.5, 0.75))
    val q = out.writeStream.format("memory").queryName("qsk").outputMode("append").start()
    val vals = (1 to 500).map(i => ("a", i.toLong, i.toDouble))
    val (b1, b2) = vals.splitAt(200)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val snaps = spark.table("qsk").collect()
      .map(r => (r.getAs[Double]("p"), r.getAs[Int]("sketchN"), r.getAs[Double]("est")))
    q.stop()
    assert(snaps.length == 6) // 3 probs x 2 batches
    // final snapshots must equal the batch sketch+estimate of the union
    val batch = Fitters.quantileSketchEstimate(
      Fitters.quantileSketch(vals.toDF("k", "id", "x"), Seq("k"), "id", "x", 64),
      Seq("k"), Seq(0.25, 0.5, 0.75)).head()
    val finals = snaps.groupBy(_._1).map { case (p, xs) => p -> xs.last }
    assert(finals(0.5)._2 == batch.getAs[Long]("sketch_n"))
    assert(math.abs(finals(0.25)._3 - batch.getAs[Double]("p25")) < 1e-9)
    assert(math.abs(finals(0.5)._3 - batch.getAs[Double]("p50")) < 1e-9)
    assert(math.abs(finals(0.75)._3 - batch.getAs[Double]("p75")) < 1e-9)
  }

  test("streaming ingest admission matches the batch incremental ingest verdicts") {
    implicit val sc = spark.sqlContext
    import graft.text.TextOps
    val base = "the quick brown fox jumps over a lazy dog and then runs home again"
    val story = "a completely different story about the sea and the wind with ships sailing far away"
    val old = Seq((1L, base),
      (2L, "totally different content about engines and the ocean"),
      (3L, "the third document staying exactly the same with more words and detail here")
    ).toDF("doc_id", "text")
    val neu = old.where(col("doc_id") =!= 2L)
      .union(Seq((2L, story), (4L, base), (5L, "# # # # # # #")).toDF("doc_id", "text"))
    // the retained corpus' band index: built once, reused every micro-batch
    val retained = old.where(col("doc_id").isin(1L, 3L))
    val corpusBands = TextOps.lshBuckets(
      TextOps.minhash(retained, "doc_id", "text", 3, 16), "doc_id", 4)
      .localCheckpoint(true)
    val got = collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamScorers.ingestVerdictBatch(df, corpusBands, "doc_id", "text",
          minWords = 5).collect().foreach { r =>
          got(r.getAs[Long]("doc_id")) = (r.getAs[Long]("qualityPass"),
            r.getAs[Long]("isDup"), r.getAs[Long]("admitted"))
        }
      }.start()
    in.addData((2L, story))
    q.processAllAvailable()
    in.addData((4L, base), (5L, "# # # # # # #"))
    q.processAllAvailable()
    q.stop()
    val batchV = TextOps.incrementalIngest(old, neu, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bandSize = 4, minWords = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("qualityPass"), r.getAs[Long]("isDup"),
          r.getAs[Long]("admitted"))).toMap
    assert(got.toMap == batchV) // same docs, same verdicts, batch == stream
  }

  test("line dedup streaming: foreachBatch with checkpointed counts state") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import graft.text.TextOps
    // counts state round-trips through parquet between micro-batches —
    // the lineage-truncation contract lineDedupBatch documents
    val stateDir = java.nio.file.Files.createTempDirectory("graft_lds").toString
    val statePath = s"$stateDir/counts"
    Seq.empty[(Long, Long)].toDF("h", "cnt")
      .write.mode("overwrite").parquet(statePath)
    val got = collection.mutable.Map.empty[Long, (String, Long)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!df.isEmpty) {
          val prior = spark.read.parquet(statePath)
          val (cleaned, counts) = TextOps.lineDedupBatch(
            df, prior, "doc_id", "text", minDupCount = 2)
          cleaned.collect().foreach { r =>
            got(r.getAs[Long]("doc_id")) =
              (r.getAs[String]("text"), r.getAs[Long]("nRemoved"))
          }
          // write-then-swap: the state read above is already collected
          // into the cleaned result, so an overwrite is safe here
          counts.localCheckpoint(true)
            .write.mode("overwrite").parquet(statePath)
        }
      }.start()
    in.addData((1L, "x\ncommon"), (2L, "y"))
    q.processAllAvailable()
    in.addData((3L, "common\nz"))
    q.processAllAvailable()
    in.addData((4L, "common"))
    q.processAllAvailable()
    q.stop()
    assert(got(1L) == (("x\ncommon", 0L)), "first sighting survives")
    assert(got(3L) == (("z", 1L)), "second sighting crosses the threshold")
    assert(got(4L) == (("", 1L)), "third sighting stays dropped")
  }

  test("kafka message parsing: first-comma entity split and typed delimited decode") {
    implicit val sc = spark.sqlContext
    // the spout contract (PredictorSpout.java:55-59): "entityID,rest..."
    val in = MemoryStream[String]
    val parsed = StreamScorers.parseEntityRecord(in.toDF().toDF("value"))
    val q = parsed.writeStream.format("memory").queryName("kp").outputMode("append").start()
    in.addData("u1,12.5,A", "u2,7.0,B", "nodelimiter")
    q.processAllAvailable()
    val rows = spark.table("kp").collect()
      .map(r => r.getAs[String]("entityID") -> r.getAs[String]("recordData")).toMap
    q.stop()
    assert(rows("u1") == "12.5,A")
    assert(rows("u2") == "7.0,B")
    assert(rows("nodelimiter") == null) // no comma → no record payload

    // typed decode of the full line, schema-driven (bolt-side field split)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "entity STRING, value DOUBLE, tagv STRING")
    val in2 = MemoryStream[String]
    val typed = StreamScorers.parseDelimited(in2.toDF().toDF("value"), schema)
    val q2 = typed.writeStream.format("memory").queryName("kt").outputMode("append").start()
    in2.addData("u1,12.5,A")
    q2.processAllAvailable()
    val r2 = spark.table("kt").collect().head
    q2.stop()
    assert(r2.getAs[String]("entity") == "u1")
    assert(r2.getAs[Double]("value") == 12.5)
    assert(r2.getAs[String]("tagv") == "A")
  }

  test("redis spout seam: nil sentinel dropped, first-comma framing, out-queue shape") {
    implicit val sc = spark.sqlContext
    // PredictorSpout.java:54-60 — chombo MessageQueue hands the spout the
    // literal "nil" on an empty poll; the spout skips it and first-comma
    // splits everything else
    val in = MemoryStream[String]
    val parsed = StreamScorers.parseRedisQueueRecord(in.toDF().toDF("value"))
    val q = parsed.writeStream.format("memory").queryName("rq").outputMode("append").start()
    in.addData("CX77,HNS,1100", "nil", "CY88,LNL,900")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rq").collect()
      .map(r => r.getAs[String]("entityID") -> r.getAs[String]("recordData")).toMap
    assert(rows == Map("CX77" -> "HNS,1100", "CY88" -> "LNL,900"), s"$rows")

    // out-queue alert framing (MarkovModelPredictor.java:318-327):
    // "entityID : st1 st2 : score" — the fraudQueue message the
    // tutorial's xaction_queue.py readOutQueue drains
    import spark.implicits._
    val scored = Seq(("CX77", "HNS", "HHS", 4.25)).toDF("cid", "s1", "s2", "score")
    val msg = StreamScorers.toRedisQueueMessage(scored, "cid", Seq("s1", "s2"), "score")
      .collect().head.getAs[String]("value")
    assert(msg == "CX77 : HNS HHS : 4.25", msg)
  }

  test("streaming CDC chunk admission: cross-batch chunk dedup, batch parity") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // varied text → many distinct hash windows → several content-defined
    // boundaries (a pure repeat has ~44 distinct windows and can miss
    // the 1/64 boundary condition entirely)
    val base = (0 until 300).map(i => s"tok$i word${i * 7 % 97}").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val q = StreamScorers.cdcChunkStream(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text")
      .writeStream.format("memory").queryName("cdc").outputMode("append").start()
    in.addData((1L, base))
    q.processAllAvailable()
    val afterFirst = spark.table("cdc").count()
    // a prefix-edited near-copy arrives in a LATER batch: its re-aligned
    // chunks are already in state, so only the edited head admits
    in.addData((2L, "EDITED-HEAD " + base))
    q.processAllAvailable()
    val admitted = spark.table("cdc").collect()
    q.stop()
    val fromDoc2 = admitted.count(_.getAs[Long]("doc_id") == 2L)
    assert(afterFirst > 3, s"doc1 produced only $afterFirst chunks")
    assert(fromDoc2 >= 1 && fromDoc2 <= 2,
      s"near-copy admitted $fromDoc2 chunks — CDC state failed to dedup across batches")
    // batch parity: admitted set == batch-distinct chunk hashes
    val batchDistinct = graft.text.TextOps.cdcChunks(
      Seq((1L, base), (2L, "EDITED-HEAD " + base)).toDF("doc_id", "text"),
      "doc_id", "text").select("_ch").distinct().count()
    assert(admitted.length.toLong == batchDistinct,
      s"${admitted.length} admitted vs $batchDistinct batch-distinct")
  }

  test("kafkaSource builds a kafka-format reader (fails only at runtime lookup offline)") {
    // The connector jar is absent in this offline build, so the load()
    // must fail at the DataSource registry lookup for "kafka" — proving
    // the entry point is wired to the real format, not a stub.
    val ex = intercept[Exception] {
      StreamScorers.kafkaSource(spark, "broker:9092", "events")
    }
    val msg = ex.toString.toLowerCase
    assert(msg.contains("kafka"))
  }

  test("windowed stats aggregate per event-time window with watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamScorers.windowedStats(
      in.toDF().toDF("ts", "k", "v"), "ts", Seq("k"), "v", "10 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("ws").outputMode("complete").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    in.addData((t(1), "a", 1.0), (t(2), "a", 3.0), (t(11), "a", 10.0))
    q.processAllAvailable()
    val rows = spark.table("ws").collect()
    q.stop()
    assert(rows.length == 2)
    val first = rows.minBy(_.getAs[org.apache.spark.sql.Row]("window").getAs[java.sql.Timestamp]("start").getTime)
    assert(first.getAs[Double]("mean") == 2.0 && first.getAs[Long]("cnt") == 2)
  }

  test("file source end-to-end: landing dir → parse → stream-static zscore → alerts") {
    // the connector-free source→parse→score→sink flow, with REAL file
    // discovery across triggers (not MemoryStream) — the offline twin of
    // the kafkaSource deployment path
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_in")
    def land(name: String, lines: String*): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    land("batch1.txt", "A,1,10.5", "A,2,15.0", "B,3,0.5")
    val stats = Seq(("A", 10.0, 1.0), ("B", 0.0, 1.0)).toDF("entityID", "mean", "std")
    // the raw line column is itself named `value` (kafkaSource contract) —
    // record schemas must pick non-colliding field names
    val recSchema = new org.apache.spark.sql.types.StructType()
      .add("seq", "long").add("v", "double")
    val recs = StreamScorers.parseDelimited(
      StreamScorers.parseEntityRecord(StreamScorers.fileSource(spark, dir.toString)),
      recSchema, ",", "recordData")
    val scored = StreamScorers.zscoreStream(recs, stats, Seq("entityID"), "v", 3.0)
    val q = scored.writeStream.format("memory").queryName("filez")
      .outputMode("append").start()
    q.processAllAvailable()
    // a second file lands AFTER the query started — must be discovered
    land("batch2.txt", "B,4,9.0")
    q.processAllAvailable()
    val rows = spark.table("filez")
      .select("entityID", "seq", "score", "tag")
      .as[(String, Long, Double, String)].collect().sortBy(_._2)
    q.stop()
    assert(rows.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L), "both files ingested")
    assert(rows.map(_._4).toSeq == Seq("N", "O", "N", "O"))
    assert(rows(1)._3 == 5.0 && rows(3)._3 == 9.0)
  }

  test("checkpointed dedup state survives a query restart (file source → parquet sink)") {
    // the operational property the whole streaming family leans on: a
    // crashed/redeployed job resumes from its checkpoint with its seen-set
    // intact — a duplicate landing AFTER the restart must still be dropped
    val dir = java.nio.file.Files.createTempDirectory("graft_rs_in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rs_ck")
    val outDir = java.nio.file.Files.createTempDirectory("graft_rs_out")
    def land(name: String, lines: String*): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    def startQ() = StreamScorers.exactDedupStream(
        StreamScorers.fileSource(spark, dir.toString), "value")
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    land("b1.txt", "alpha", "beta", "alpha") // in-batch dup too
    val q1 = startQ(); q1.processAllAvailable(); q1.stop()
    // duplicate of a PRE-restart doc plus a fresh one, discovered by a
    // brand-new query instance recovering from the same checkpoint
    land("b2.txt", "alpha", "gamma")
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir.toString)
      .select("value").as[String].collect().sorted.toSeq
    assert(out == Seq("alpha", "beta", "gamma"),
      s"expected exactly-once survivors, got $out")
  }

  test("session windows merge across batches; batch sessionize parity") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sess = StreamScorers.sessionizeStream(
      in.toDF().toDF("ts", "k", "v"), "ts", Seq("k"), "v", "10 minutes", "1 minute")
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    in.addData((t(0), "a", 1.0), (t(5), "a", 2.0), (t(30), "a", 4.0))
    q.processAllAvailable()
    in.addData((t(35), "a", 8.0)) // extends the 10:30 session across batches
    q.processAllAvailable()
    val rows = spark.table("sess").collect().sortBy(
      _.getAs[java.sql.Timestamp]("start_ts").getTime)
    q.stop()
    assert(rows.map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSeq == Seq((2L, 3.0), (2L, 12.0)))
    // batch parity: same sessions from the gaps-and-islands operator
    val ns = Seq((t(0), "a", 1.0), (t(5), "a", 2.0), (t(30), "a", 4.0), (t(35), "a", 8.0))
      .zipWithIndex.map { case ((ts, k, v), i) => (ts.getTime * 1000000L, i.toLong, k, v) }
      .toDF("ts", "eid", "k", "v")
    val batch = graft.seq.SeqOps.sessionize(ns, Seq("k"), "ts", "eid", "v", gapSec = 600L)
      .orderBy("session_no").collect()
    assert(batch.map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSeq == Seq((2L, 3.0), (2L, 12.0)))
    assert(batch.map(_.getAs[Long]("start_us")).toSeq ==
      rows.map(_.getAs[java.sql.Timestamp]("start_ts").getTime * 1000L).toSeq)
  }

  test("markov stream keeps per-entity window state across batches") {
    implicit val sc = spark.sqlContext
    val trans = Map(("A", "B") -> 0.9, ("B", "A") -> 0.9, ("A", "A") -> 0.05,
      ("B", "B") -> 0.05, ("B", "C") -> 0.05, ("A", "C") -> 0.05)
    val in = MemoryStream[SeqEvent]
    val scored = StreamScorers.markovStream(in.toDS(), trans, window = 2, threshold = 2.0)
    val q = scored.writeStream.format("memory").queryName("mk").outputMode("append").start()
    in.addData(SeqEvent("e1", 1, "A"), SeqEvent("e1", 2, "B"), SeqEvent("e1", 3, "A"))
    q.processAllAvailable()
    in.addData(SeqEvent("e1", 4, "C"), SeqEvent("e1", 5, "C")) // improbable transitions
    q.processAllAvailable()
    val rows = spark.table("mk").as[SeqScore].collect().sortBy(_.seq)
    q.stop()
    assert(rows.map(_.seq).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows(0).tag == "I" && rows(1).tag == "I") // window not yet full
    assert(rows(2).tag == "N")                        // probable A→B→A
    assert(rows(4).tag == "O")                        // B→C then C→C (unseen)
    assert(rows(4).score > rows(2).score)
  }

  test("motif stream flags matches across a micro-batch boundary, batch parity") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SeqEvent]
    val hits = StreamScorers.motifStream(in.toDS(), Seq("a", "a", "b"))
    val q = hits.writeStream.format("memory").queryName("mot")
      .outputMode("append").start()
    // split so the motif's first two states land in batch 1, the closer in 2
    in.addData(SeqEvent("e1", 1, "a"), SeqEvent("e1", 2, "a"))
    q.processAllAvailable()
    in.addData(SeqEvent("e1", 3, "b"), SeqEvent("e1", 4, "a"),
      SeqEvent("e1", 5, "a"), SeqEvent("e1", 6, "b"), SeqEvent("e2", 1, "b"))
    q.processAllAvailable()
    val rows = spark.table("mot").as[StreamScorers.MotifHit].collect()
      .sortBy(r => (r.entity, r.seq))
    q.stop()
    val e1 = rows.filter(_.entity == "e1")
    assert(e1.map(_.matched).toSeq ==
      Seq(false, false, true, false, false, true))
    assert(e1.last.matchesSoFar == 2L)
    assert(rows.filter(_.entity == "e2").forall(!_.matched))
    // batch parity: per-entity totals match SeqOps.motifCount
    import spark.implicits._
    val batch = graft.seq.SeqOps.motifCount(
      rows.map(r => (r.entity, r.seq, r.state)).toSeq.toDF("k", "seq", "st"),
      Seq("k"), "seq", "st", Seq("a", "a", "b")).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("matches")).toMap
    assert(batch("e1") == 2L && batch("e2") == 0L)
  }

  test("locf stream carries the last value across a micro-batch boundary") {
    implicit val sc = spark.sqlContext
    import StreamScorers.GapEvent
    val in = MemoryStream[GapEvent]
    val out = StreamScorers.imputeLocfStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("locf")
      .outputMode("append").start()
    in.addData(GapEvent("e1", 1, None), GapEvent("e1", 2, Some(5.0)))
    q.processAllAvailable()
    in.addData(GapEvent("e1", 3, None), GapEvent("e1", 4, Some(7.0)),
      GapEvent("e2", 1, None))
    q.processAllAvailable()
    val rows = spark.table("locf").as[StreamScorers.LocfOut].collect()
      .sortBy(r => (r.entity, r.seq))
    q.stop()
    val e1 = rows.filter(_.entity == "e1")
    assert(e1.map(_.filled).toSeq ==
      Seq(None, Some(5.0), Some(5.0), Some(7.0)))
    assert(e1.map(_.wasImputed).toSeq == Seq(false, false, true, false))
    assert(rows.filter(_.entity == "e2").head.filled.isEmpty,
      "leading null stays null across entities")
  }

  test("streaming exact dedup drops cross-batch duplicate content, keeps first") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamScorers.exactDedupStream(
      in.toDS().toDF("doc_id", "text"), "text")
    val q = out.writeStream.format("memory").queryName("ed").outputMode("append").start()
    in.addData((1L, "same content here"), (2L, "other content"))
    q.processAllAvailable()
    in.addData((3L, "same content here"), (4L, "brand new content")) // 3 is a dup of 1
    q.processAllAvailable()
    val ids = spark.table("ed").select("doc_id").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.sameElements(Array(1L, 2L, 4L))) // 3 dropped by cross-batch state
  }

  test("streaming LSH near-dup pairs a late duplicate with its earlier twin") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val pairs = StreamScorers.nearDupStream(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bandSize = 4)
    val q = pairs.writeStream.format("memory").queryName("nd").outputMode("append").start()
    in.addData(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about distributed query engines"))
    q.processAllAvailable()
    val afterBatch1 = spark.table("nd").count()
    in.addData((3L, "the quick brown fox jumps over the lazy dog tonight")) // twin of 1
    q.processAllAvailable()
    val hits = spark.table("nd").as[StreamScorers.PairHit].collect()
    q.stop()
    assert(afterBatch1 == 0) // no dups yet
    assert(hits.nonEmpty && hits.forall(h => h.a == 1L && h.b == 3L)) // cross-batch state
  }

  test("near-dup opt-in TTL path pairs twins when run as a batch query") {
    // idleTtlMs > 0 registers ProcessingTimeTimeout; executed as a batch
    // query the timeout is inert, so this pins the TTL code path without
    // a streaming busy-loop (the default-0 streaming path is covered above)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about distributed query engines"),
      (3L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val hits = StreamScorers.nearDupStream(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bandSize = 4, idleTtlMs = 60000L).collect()
    assert(hits.nonEmpty && hits.forall(h => h.a == 1L && h.b == 3L))
  }

  test("streaming embedding near-dup pairs a late twin, int8 cosine close to exact") {
    implicit val sc = spark.sqlContext
    val dim = 16
    def vec(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextGaussian())
    }
    val v1 = vec(1)
    val twin = v1.map(_ * 0.97 + 0.001) // near-identical direction
    val exactCos = {
      val dot = v1.zip(twin).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(v1.map(x => x * x).sum) * math.sqrt(twin.map(x => x * x).sum))
    }
    val in = MemoryStream[(Long, Seq[Double])]
    val pairs = StreamScorers.embeddingNearDupStream(
      in.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dim = dim, planes = 8, threshold = 0.9)
    val q = pairs.writeStream.format("memory").queryName("emb_nd")
      .outputMode("append").start()
    in.addData((1L, v1), (2L, vec(99))) // unrelated second vector
    q.processAllAvailable()
    val before = spark.table("emb_nd").count()
    in.addData((3L, twin))
    q.processAllAvailable()
    val hits = spark.table("emb_nd").as[StreamScorers.EmbPairHit].collect()
    q.stop()
    assert(before == 0)
    assert(hits.nonEmpty && hits.forall(h => h.a == 1L && h.b == 3L),
      s"expected only the (1,3) twin pair, got ${hits.toSeq}")
    // int8 quantization error bound on the reported cosine
    assert(math.abs(hits.head.cos - exactCos) < 0.02,
      s"quantized cosine ${hits.head.cos} vs exact $exactCos")
  }

  test("PQ range search runs as a stream-static join, batch-parity exact") {
    implicit val sc = spark.sqlContext
    import graft.sim.Similarity
    val dim = 16
    val rng = new scala.util.Random(5)
    val corpus = (0 until 120).map { i =>
      val c = i % 3
      (i.toLong, Seq.tabulate(dim)(d =>
        (if (d % 3 == c) 5.0 else 0.5) + rng.nextGaussian() * 0.2))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfPqResidualBuild(corpus, "vec_id", "embedding",
      dim = dim, nCells = 3, m = 4, kCodes = 4, itersCoarse = 5,
      itersPq = 5, maxSample = 4096)
    val queryVecs = (200 until 205).map { i =>
      val c = i % 3
      (i.toLong, Seq.tabulate(dim)(d =>
        (if (d % 3 == c) 5.0 else 0.5) + rng.nextGaussian() * 0.2))
    }
    val batch = Similarity.ivfPqResidualRange(
      queryVecs.toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
      nProbe = 2, maxDist = 2.0)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(batch.nonEmpty, "fixture must produce in-radius pairs")
    // the same operator over a streaming query side — no state, no
    // window: a pure stream-static equi-join on cell, append mode
    val in = MemoryStream[(Long, Seq[Double])]
    val q = Similarity.ivfPqResidualRange(
      in.toDS().toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
      nProbe = 2, maxDist = 2.0)
      .writeStream.format("memory").queryName("pqrange")
      .outputMode("append").start()
    in.addData(queryVecs.take(2): _*)
    q.processAllAvailable()
    in.addData(queryVecs.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("pqrange")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    q.stop()
    assert(streamed.sameElements(batch),
      s"stream/batch divergence: ${streamed.length} vs ${batch.length} rows")
  }

  test("ddm stream flags drift after an error burst, state survives batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ErrEvent]
    val out = StreamScorers.ddmStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("ddm").outputMode("append").start()
    // 60 mostly-clean rows (~5% errors, one at row 1 so the p+s minimum is
    // never the degenerate 0 of an error-free prefix), then a hard burst
    in.addData((1 to 60).map(i =>
      ErrEvent("e1", i.toLong, if (i == 1 || i % 20 == 0) 1.0 else 0.0)): _*)
    q.processAllAvailable()
    in.addData((61 to 90).map(i => ErrEvent("e1", i.toLong, 1.0)): _*)
    q.processAllAvailable()
    val rows = spark.table("ddm").as[DdmOut].collect().sortBy(_.seq)
    q.stop()
    assert(rows.take(29).forall(_.level == "stable"))   // warm-up
    assert(rows.take(60).count(_.level == "drift") == 0) // clean regime
    assert(rows.drop(70).exists(_.level == "drift"))     // burst detected
    // same math as the batch detector on the same sequence
    import org.apache.spark.sql.functions._
    val batch = graft.drift.Drift.ddm(
      rows.map(r => (r.entity, r.seq, r.err)).toSeq.toDF("k", "seq", "err"),
      Seq("k"), "seq", "err").orderBy("seq")
      .select("level").collect().map(_.getString(0)).toSeq
    assert(batch == rows.map(_.level).toSeq)
  }

  test("entropy-increase stream: off-distribution value scores high") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ValueEvent]
    val scored = StreamScorers.entropyIncreaseStream(in.toDS(), bucketWidth = 10.0,
      minCount = 20)
    val q = scored.writeStream.format("memory").queryName("ei").outputMode("append").start()
    in.addData((1 to 40).map(i => ValueEvent("e1", i.toLong, 15.0 + (i % 2) * 10.0)): _*)
    q.processAllAvailable()
    in.addData(ValueEvent("e1", 41, 990.0), ValueEvent("e1", 42, 15.5))
    q.processAllAvailable()
    val rows = spark.table("ei").as[EntropyScore].collect().sortBy(_.seq)
    q.stop()
    assert(rows(40).value == 990.0 && rows(40).score > 0.1)  // new bucket: entropy jump
    assert(rows(41).score < rows(40).score)                  // familiar bucket: small
    assert(rows.take(20).forall(_.score == 0.0))             // warm-up window
  }

  test("changepoint stream flags an injected level shift; batch parity at the lag") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val vals = Seq.tabulate(120)(i =>
      (if (i < 60) 10.0 else 16.0) + rnd.nextGaussian())
    val in = MemoryStream[ValueEvent]
    val scored = StreamScorers.changePointStream(in.toDS(), window = 15,
      critValue = 3.0)
    val q = scored.writeStream.format("memory").queryName("cps").outputMode("append").start()
    // feed in two batches so the 2w buffer provably survives micro-batches
    in.addData((0 until 70).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    in.addData((70 until 120).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    val rows = spark.table("cps").as[StreamScorers.CpStreamOut].collect().sortBy(_.seq)
    q.stop()
    assert(rows.take(29).forall(r => java.lang.Double.isNaN(r.stat))) // buffer warm-up
    // detection lands within the lag window after the shift at i=60
    val hits = rows.filter(_.changed).map(_.seq)
    assert(hits.nonEmpty && hits.forall(s => s >= 60 && s <= 90), hits.toSeq)
    // bit parity: stream stat at seq t == batch window stat at t-w+1
    val batch = graft.seq.SeqOps.changePointMeanShift(
      vals.zipWithIndex.map { case (v, i) => ("e1", i.toLong, v) }
        .toDF("k", "seq", "value"),
      Seq("k"), "seq", "value", window = 15, critValue = 0.0)
      .select("seq", "stat").as[(Long, Double)].collect().toMap
    rows.filter(r => !java.lang.Double.isNaN(r.stat)).foreach { r =>
      assert(batch(r.seq - 14) == r.stat, s"parity at seq ${r.seq}")
    }
  }

  test("streaming cusum: exact batch parity across micro-batches, alarm after the shift") {
    implicit val sc = spark.sqlContext
    val vals = (0 until 150).map(i => 10.0 + (i % 7 - 3) * 0.1) ++
      (150 until 220).map(i => 11.2 + (i % 7 - 3) * 0.1)
    val in = MemoryStream[ValueEvent]
    val scored = StreamScorers.cusumStream(in.toDS(), warmup = 100,
      slack = 0.5, h = 5.0)
    val q = scored.writeStream.format("memory").queryName("cus").outputMode("append").start()
    // split mid-warmup AND mid-scoring so both state shapes cross batches
    in.addData((0 until 60).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    in.addData((60 until 180).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    in.addData((180 until 220).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    val rows = spark.table("cus").as[StreamScorers.CusumOut].collect().sortBy(_.seq)
    q.stop()
    assert(rows.length == 220, "backlog emitted once warmed")
    assert(rows.filter(_.alarm).map(_.seq).forall(_ >= 150), "no alarm pre-shift")
    assert(rows.exists(_.alarm), "alarm after the shift")
    val batch = graft.drift.Drift.cusum(
      vals.zipWithIndex.map { case (v, i) => ("e1", i.toLong, v) }
        .toDF("k", "seq", "value"),
      Seq("k"), "seq", "value", warmup = 100, slack = 0.5, h = 5.0)
      .select("seq", "gPos", "gNeg", "alarm")
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    rows.foreach { r =>
      val (gp, gn, al) = batch(r.seq)
      assert(math.abs(gp - r.gPos) < 1e-9 && math.abs(gn - r.gNeg) < 1e-9 &&
        al == r.alarm, s"parity at seq ${r.seq}")
    }
  }

  test("streaming page-hinkley: exact batch parity from the first row") {
    implicit val sc = spark.sqlContext
    val vals = (0 until 200).map(i => 10.0 + (i % 5 - 2) * 0.1) ++
      (200 until 300).map(i => 13.0 + (i % 5 - 2) * 0.1)
    val in = MemoryStream[ValueEvent]
    val scored = StreamScorers.pageHinkleyStream(in.toDS(), delta = 0.005,
      lambda = 50.0)
    val q = scored.writeStream.format("memory").queryName("phs").outputMode("append").start()
    in.addData((0 until 150).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    in.addData((150 until 300).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    val rows = spark.table("phs").as[StreamScorers.PhOut].collect().sortBy(_.seq)
    q.stop()
    assert(rows.length == 300)
    assert(rows.exists(r => r.drift && r.seq >= 200), "drift after the shift")
    assert(!rows.exists(r => r.drift && r.seq < 200), "quiet before the shift")
    val batch = graft.drift.Drift.pageHinkley(
      vals.zipWithIndex.map { case (v, i) => ("e1", i.toLong, v) }
        .toDF("k", "seq", "value"),
      Seq("k"), "seq", "value", delta = 0.005, lambda = 50.0)
      .select("seq", "phInc", "phDec", "drift")
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    rows.foreach { r =>
      val (pi, pd, dr) = batch(r.seq)
      assert(pi == r.phInc && pd == r.phDec && dr == r.drift,
        s"parity at seq ${r.seq}: ($pi,$pd,$dr) vs (${r.phInc},${r.phDec},${r.drift})")
    }
  }

  test("streaming holt forecast: bit-exact batch parity across micro-batches") {
    implicit val sc = spark.sqlContext
    val vals = (0 until 120).map(i =>
      2.0 * i + 0.5 * (i % 2) + (if (i == 80) 300.0 else 0.0))
    val in = MemoryStream[ValueEvent]
    val scored = StreamScorers.holtForecastStream(in.toDS())
    val q = scored.writeStream.format("memory").queryName("hlt").outputMode("append").start()
    // split mid-init AND mid-recursion so both state shapes cross batches
    in.addData(ValueEvent("e1", 0, vals(0)))
    q.processAllAvailable()
    in.addData((1 until 50).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    in.addData((50 until 120).map(i => ValueEvent("e1", i.toLong, vals(i))): _*)
    q.processAllAvailable()
    val rows = spark.table("hlt").as[StreamScorers.HoltOut].collect().sortBy(_.seq)
    q.stop()
    assert(rows.length == 120)
    val batch = graft.seq.SeriesKernels.holtForecast(
      vals.zipWithIndex.map { case (v, i) => ("e1", i.toLong, v) }
        .toDF("k", "seq", "value"), Seq("k"), "seq", "value")
      .collect().map(r => r.seq -> r.score).toMap
    rows.foreach(r => assert(batch(r.seq) == r.score, s"parity at seq ${r.seq}"))
    assert(rows.filter(_.score > 100.0).map(_.seq).toSeq == Seq(80L), "only the spike alarms")
  }

  /** Runs `scorer` over `vals` as entity e1 in two micro-batches split
    * at `cut` (mid-anchor state crosses the batch boundary) and returns
    * seq → score. */
  private def twoBatchScores(name: String, vals: Seq[Double], cut: Int)(
      scorer: org.apache.spark.sql.Dataset[ValueEvent] =>
        org.apache.spark.sql.Dataset[StreamScorers.HoltOut]): Map[Long, Double] = {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ValueEvent]
    val q = scorer(in.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val evs = vals.zipWithIndex.map { case (v, i) => ValueEvent("e1", i.toLong, v) }
    in.addData(evs.take(cut): _*); q.processAllAvailable()
    in.addData(evs.drop(cut): _*); q.processAllAvailable()
    val got = spark.table(name).as[StreamScorers.HoltOut].collect()
      .map(r => r.seq -> r.score).toMap
    q.stop()
    got
  }

  /** The batch kernel's per-key exact 4dp sums (n, Σf, Σf²) as doubles —
    * the model the fit-batch/score-stream twins take. */
  private def fixedSums(vals: Seq[Double]): (Double, Double, Double) = {
    val f = vals.map(x => (if (x >= 0) math.floor(x * 1e4 + 0.5)
      else -math.floor(-x * 1e4 + 0.5)).toLong)
    (vals.length.toDouble, f.sum.toDouble, f.map(v => v * v).sum.toDouble)
  }

  private def batchScores(vals: Seq[Double])(
      kernel: (org.apache.spark.sql.DataFrame, Seq[String], String, String) =>
        org.apache.spark.sql.Dataset[graft.seq.SeriesKernels.SScore]): Map[Long, Double] =
    kernel(vals.zipWithIndex.map { case (v, i) => ("e1", i.toLong, v) }
      .toDF("k", "seq", "value"), Seq("k"), "seq", "value")
      .collect().map(r => r.seq -> r.score).toMap

  test("streaming kalman: bit-exact batch parity across two micro-batches") {
    val vals = (0 until 90).map(i =>
      10.0 + 0.37 * (i % 7) - 0.11 * (i % 3) + (if (i == 60) 25.0 else 0.0))
    val (n, s, q2) = fixedSums(vals)
    val model = Map("e1" -> (((q2 - s * s / n) / (n - 1) / 1e8, n.toLong)))
    val got = twoBatchScores("kal", vals, 1)(StreamScorers.kalmanStream(_, model))
    val want = batchScores(vals)(graft.seq.StateSpace.kalmanFilter(_, _, _, _))
    assert(got.size == 90 && want.size == 90)
    want.foreach { case (seq, v) =>
      assert(got(seq) == v, s"kalman parity at seq $seq: $v vs ${got(seq)}")
    }
    assert(want.maxBy(_._2)._1 == 60L, "the spike scores highest")
    // a second split, after the level anchored, gives the same scores
    assert(twoBatchScores("kal2", vals, 45)(StreamScorers.kalmanStream(_, model)) == got)
  }

  test("streaming ewma chart: bit-exact batch parity across two micro-batches") {
    val vals = (0 until 90).map(i =>
      50.0 + 0.5 * (i % 5) + (if (i >= 60) 1.75 else 0.0))
    val (n, s, q2) = fixedSums(vals)
    val model = Map("e1" ->
      ((s / n / 1e4, math.sqrt((q2 - s * s / n) / (n - 1)) / 1e4, n.toLong)))
    val got = twoBatchScores("ewm", vals, 30)(StreamScorers.ewmaChartStream(_, model))
    val want = batchScores(vals)(graft.seq.StateSpace.ewmaChart(_, _, _, _))
    assert(got.size == 90 && want.size == 90)
    want.foreach { case (seq, v) =>
      assert(got(seq) == v, s"ewma parity at seq $seq: $v vs ${got(seq)}")
    }
    assert(want.filter(_._2 > 1.0).keys.forall(_ >= 60L) &&
      want.exists(_._2 > 1.0), "only the shifted tail is out of control")
  }

  test("streaming dedup drops repeats within the watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = StreamScorers.streamingDedup(
      in.toDF().toDF("ts", "h"), "ts", "10 minutes", Seq("h"))
    val q = deduped.writeStream.format("memory").queryName("dd").outputMode("append").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    in.addData((t(1), "a"), (t(2), "a"), (t(3), "b"), (t(4), "a"))
    q.processAllAvailable()
    val rows = spark.table("dd").collect()
    q.stop()
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
  }

  test("streaming croston/theta: state carries across micro-batches, batch parity") {
    implicit val sc = spark.sqlContext
    import graft.seq.Forecast2
    val vals = (1 to 60).map(i =>
      ("u", i.toLong, if (i % 4 == 0) 8.0 + (i % 3) else 0.0))
    val in = MemoryStream[(String, Long, Double)]
    val out = StreamScorers.crostonStream(
      in.toDF().toDF("entity", "seq", "value")
        .as[StreamScorers.ValueEvent])
    val q = out.writeStream.format("memory").queryName("cro")
      .outputMode("append").start()
    val (b1, b2) = vals.splitAt(25)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    val got = spark.table("cro").collect()
      .map(r => r.getAs[Long]("seq") -> r.getAs[Double]("score")).toMap
    q.stop()
    val want = Forecast2.croston(vals.toDF("k", "t", "v"), Seq("k"), "t", "v")
      .collect().map(r => r.seq -> r.score).toMap
    assert(got.size == 60 && want.forall { case (k, v) => got(k) == v },
      "stream scores must equal the batch recursion bit-for-bit")

    val vin = MemoryStream[(String, Long, Double)]
    val tout = StreamScorers.thetaStream(
      vin.toDF().toDF("entity", "seq", "value")
        .as[StreamScorers.ValueEvent])
    val tq = tout.writeStream.format("memory").queryName("the")
      .outputMode("append").start()
    val tvals = (1 to 60).map(i => ("u", i.toLong, 2.0 * i + (i % 5)))
    val (t1, t2) = tvals.splitAt(20)
    vin.addData(t1: _*); tq.processAllAvailable()
    vin.addData(t2: _*); tq.processAllAvailable()
    val tgot = spark.table("the").collect()
      .map(r => r.getAs[Long]("seq") -> r.getAs[Double]("score")).toMap
    tq.stop()
    val twant = Forecast2.thetaForecast(tvals.toDF("k", "t", "v"),
      Seq("k"), "t", "v")
      .collect().map(r => r.seq -> r.score).toMap
    assert(tgot.size == 60 && twant.forall { case (k, v) => tgot(k) == v },
      "theta stream must equal the batch recursion bit-for-bit")
  }
}
