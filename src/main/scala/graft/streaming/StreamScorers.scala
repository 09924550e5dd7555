package graft.streaming

import graft.core._
import graft.seq.{Forecast2, SeriesKernels, StateSpace}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming scorers (SURVEY.md §2.8) — the Spark-native
  * replacement for the reference's Storm+Redis topology
  * (predictor/OutlierPredictor.java:40-113): per-entity keyed scoring with
  * broadcast models, sliding per-entity state, threshold alerts, plus
  * watermarked event-time windows (absent in the reference — engine-level
  * improvement over its processing-time/in-order assumption).
  *
  * Sources are any streaming DataFrame ([[StreamScorers.kafkaSource]] in
  * production; MemoryStream in specs — the transforms are
  * source-agnostic) decoded by the `parse*` helpers below.
  */
object StreamScorers {

  /** Kafka source — the production replacement for the reference's
    * Redis/Kafka spouts (PredictorSpout.java:52-62; kafka declared at
    * spark/build.sbt:14). Compiles against spark-sql alone: the
    * `"kafka"` format is resolved at runtime through the DataSource
    * registry, so this entry point works on any cluster with the
    * spark-sql-kafka-0-10 connector on the classpath (spark-submit
    * `--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark
    * version>`); it is not invoked in this repo's offline CI, where the
    * parse seams below are pinned via MemoryStream instead.
    *
    * {{{
    * val raw = StreamScorers.kafkaSource(spark, "broker:9092", "events")
    * val recs = StreamScorers.parseEntityRecord(raw) // or parseDelimited
    * val scored = StreamScorers.zscoreStream(recs, statsModel, Seq("entityID"), "value", 3.0)
    * scored.writeStream.format("kafka")... // alerts back out
    * }}}
    */
  def kafkaSource(spark: SparkSession, bootstrapServers: String,
      topics: String, startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger
      .fold(reader)(n => reader.option("maxOffsetsPerTrigger", n))
      .load()
      .select(col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))
  }

  /** File-based streaming source (Spark built-in — no external connector
    * jar): every file landing under `path` becomes stream rows with the
    * same `(value: string)` contract as [[kafkaSource]], so the parse and
    * scoring stages compose identically. This is both the offline
    * stand-in that lets the full source→parse→score→sink flow run
    * end-to-end in CI, and the deployment shape for landing-directory
    * ingest (object-store drops at scale). */
  def fileSource(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .text(path)
  }

  /** Streaming binary media source: `binaryFile` format over a landing
    * directory — the ingest shape for image/audio payload streams. The
    * numeric id is parsed from the file name (`<id>.<ext>`); payload is
    * the raw bytes, ready for [[imageDedupStream]] / the decode stages. */
  def binaryFileSource(spark: SparkSession, path: String): DataFrame = {
    // streaming sources need the schema up front; binaryFile's is fixed
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    spark.readStream.format("binaryFile").schema(schema).load(path)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.[A-Za-z0-9]+$", 1)
          .cast("long").as("id"),
        col("content").as("payload"))
  }

  /** The spout's first-comma split (PredictorSpout.java:55-59): message
    * "entityID,field,field,..." → (entityID, recordData). Source-agnostic:
    * works on [[kafkaSource]] output or any DataFrame with a string
    * `value` column (MemoryStream in specs). Lines without a delimiter
    * (the reference would throw on substring) yield null recordData. */
  def parseEntityRecord(raw: DataFrame, valueCol: String = "value"): DataFrame = {
    val v = col(valueCol)
    raw
      .withColumn("entityID", substring_index(v, ",", 1))
      .withColumn("recordData",
        when(instr(v, ",") > 0, v.substr(instr(v, ",") + lit(1), length(v))))
  }

  /** Redis-list spout contract seam (PredictorSpout.java:42-61 + chombo
    * MessageQueue): the Storm spout polls the configured Redis list
    * (`redis.input.queue`) and receives either a raw message
    * "entityID,field,field,..." or the literal string "nil" — the Redis
    * nil reply of an empty poll, which the spout explicitly skips
    * (`!message.equals(NIL)`). Non-nil messages split at the FIRST comma
    * into (entityID, recordData), exactly [[parseEntityRecord]].
    * Source-agnostic like the Kafka path: apply to any string-valued
    * stream (a Redis connector's `value` column, a MemoryStream in
    * specs) — the list poll itself resolves at runtime exactly as
    * kafkaSource's format does; no connector jar is linked here. */
  def parseRedisQueueRecord(raw: DataFrame, valueCol: String = "value"): DataFrame =
    parseEntityRecord(
      raw.where(col(valueCol).isNotNull && col(valueCol) =!= "nil"), valueCol)

  /** Out-queue alert framing (MarkovModelPredictor.java:318-327): the
    * bolt enqueues `"entityID : st1 st2 ... : score"` — each state
    * followed by one space, then ": " and the score — the exact message
    * shape the tutorial's `xaction_queue.py readOutQueue` drains from the
    * fraudQueue. Returns a single `value` string column ready for any
    * queue sink. */
  def toRedisQueueMessage(scored: DataFrame, entityCol: String,
      stateCols: Seq[String], scoreCol: String): DataFrame =
    scored.select(concat(
      col(entityCol).cast("string") +: lit(" : ") +:
        stateCols.flatMap(c => Seq(col(c).cast("string"), lit(" "))) :+
        lit(": ") :+ col(scoreCol).cast("string"): _*).as("value"))

  /** Typed field parsing of a delimited line into columns per `schema` —
    * the bolt-side record decode the reference does by hand
    * (ZscorePredictor.java:155-170 splits on a configured delimiter). */
  def parseDelimited(raw: DataFrame, schema: org.apache.spark.sql.types.StructType,
      delim: String = ",", valueCol: String = "value"): DataFrame =
    raw.withColumn("rec",
        from_csv(col(valueCol), schema, Map("delimiter" -> delim)))
      .select(col("*"), col("rec.*")).drop("rec")

  /** JSON-line parsing for JSON-valued topics. */
  def parseJsonLines(raw: DataFrame, schema: org.apache.spark.sql.types.StructType,
      valueCol: String = "value"): DataFrame =
    raw.withColumn("rec", from_json(col(valueCol), schema))
      .select(col("*"), col("rec.*")).drop("rec")

  /** Stateless model-apply on a stream: z-score against a *static*
    * broadcast stats model (stream-static join — no state, no shuffle on
    * the stream side beyond the broadcast hash join). Mirrors the Storm
    * bolt + Redis model cache (ZscorePredictor.java:51-68). */
  def zscoreStream(stream: DataFrame, stats: DataFrame, keyCols: Seq[String],
      valCol: String, threshold: Double): DataFrame = {
    val m = stats.select(keyCols.map(col) :+ col("mean") :+ col("std"): _*)
    stream.join(broadcast(m), keyCols, "left")
      .withColumn("score", when(col("std") > 0, abs(col(valCol) - col("mean")) / col("std")))
      .withColumn("tag", label(col("score"), lit(threshold)))
      .drop("mean", "std")
  }

  /** Alert stream: rows whose score exceeds the threshold (the reference's
    * out-queue emission, MarkovModelPredictor.java:318-327). */
  def alerts(scored: DataFrame, threshold: Double): DataFrame =
    scored.where(col("score") > threshold)

  /** Watermarked event-time windowed aggregation (engine improvement —
    * SURVEY.md §2.8 last row): per (key, window) mean/stddev/count. */
  def windowedStats(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      valCol: String, windowDur: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy((keyCols.map(col) :+ window(col(tsCol), windowDur)): _*)
      .agg(
        avg(valCol).as("mean"),
        stddev_samp(col(valCol)).as("std"),
        count(valCol).as("cnt"))

  /** Streaming sessionization via native session windows (engine
    * addition, the streaming face of [[graft.seq.SeqOps.sessionize]]):
    * per-key gap-based session aggregation — a session closes after `gap`
    * of event-time inactivity, state is watermark-bounded. Same
    * gaps-and-islands semantics as the batch operator, with one boundary
    * nuance: session_window's per-event window is [ts, ts+gap) with
    * overlap-merge, so a gap of EXACTLY `gap` splits here but not in the
    * batch operator (which splits on strictly-greater). Identical on any
    * input without exact-boundary gaps. */
  def sessionizeStream(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      valCol: String, gap: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy((keyCols.map(col) :+ session_window(col(tsCol), gap)): _*)
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"),
        // order-exact 4dp fixed-point sum, same rule as the batch
        // operator (SeqOps.sessionize): a plain double sum is
        // combine-order-nondeterministic, which a hash-gated oracle
        // cannot tolerate at the rounding boundary
        (sum(fixedPointLong(col(valCol), 4)).cast("double") / 1e4)
          .as("sum_value"))

  /** Streaming exact deduplication for ingest pipelines: drop repeats of
    * `idCols` (e.g. a content hash) arriving within the watermark horizon —
    * state is bounded by the watermark, unlike batch dedup. */
  def streamingDedup(stream: DataFrame, tsCol: String, watermark: String,
      idCols: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** The per-entity envelope of every event-at-a-time scorer below: events
    * group by their string column `key`; each micro-batch's events for one
    * entity run sorted by `order` through `step(entity)` from the stored
    * state (`init` on first sight), each emitting the rows its step
    * returns, and the last state is stored back. Append output, no
    * timeout. Executed as a batch query it is one exchange on the key and
    * one fold per entity — the batch kernel's shape. The exchange hashes
    * the key column itself on a FIXED task count: a key lambda would
    * deserialize every event only to compute its key and ship a copy of
    * it, and AQE, sizing partitions by bytes, would squeeze the fold onto
    * one or two tasks. Hash partitioning on the key already satisfies the
    * grouping distribution, and the streaming state's while the query runs
    * under the partition count it was started with, so no second exchange
    * follows. A query restarted from a checkpoint written under another
    * `spark.sql.shuffle.partitions` keeps the checkpoint's state partition
    * count, and a second exchange follows this one. */
  private def perEntity[E, T: Ordering, S: Encoder, O: Encoder](
      events: Dataset[E])(key: String, order: E => T, init: String => S)(
      step: String => (S, E) => (S, IterableOnce[O])): Dataset[O] =
    events.repartition(shufflePartitions(events.sparkSession), col(key))
      .groupBy(col(key)).as[String, E](Encoders.STRING, events.encoder)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (entity: String, it: Iterator[E], gs: GroupState[S]) => {
          val next = step(entity)
          var st = gs.getOption.getOrElse(init(entity))
          val out = it.toSeq.sortBy(order).flatMap { e =>
            val (s, rows) = next(st, e)
            st = s
            rows
          }
          gs.update(st)
          out.iterator
        })

  /** A batch kernel's step over each entity's values as its streaming
    * twin: sorted by (seq, value) as [[graft.seq.SeriesKernels.run]]
    * sorts a series, one score per event. */
  private def twin[S: Encoder](events: Dataset[ValueEvent])(init: String => S)(
      step: String => (S, Double) => (S, Double)): Dataset[HoltOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    perEntity(events)("entity", e => (e.seq, e.value), init) { entity =>
      val scoreNext = step(entity)
      (st, e) => {
        val (s, score) = scoreNext(st, e.value)
        (s, Some(HoltOut(entity, e.seq, e.value, score)))
      }
    }
  }

  case class ValueEvent(entity: String, seq: Long, value: Double)
  case class EntropyScore(entity: String, seq: Long, value: Double, score: Double)
  case class HistState(counts: Map[Long, Long], total: Long)

  /** entropyIncrease predictor (EntropyIncreaseBasedPredictor.java:44-76,
    * Storm-only in the reference): per entity, maintain a running value
    * histogram; score = relative entropy increase if this record's bucket
    * were added — high when the value lands off the learned distribution. */
  def entropyIncreaseStream(events: Dataset[ValueEvent], bucketWidth: Double,
      minCount: Long): Dataset[EntropyScore] = {
    val spark = events.sparkSession
    import spark.implicits._
    def entropy(counts: Iterable[Long], total: Long): Double =
      counts.foldLeft(0.0) { (acc, c) =>
        val p = c.toDouble / total
        acc - p * math.log(p)
      }
    perEntity(events)("entity", _.seq, _ => HistState(Map.empty, 0L)) {
      entity => (st, e) =>
        val b = math.floor(e.value / bucketWidth).toLong
        val withB = st.counts.updated(b, st.counts.getOrElse(b, 0L) + 1)
        val before = entropy(st.counts.values, st.total)
        val after = entropy(withB.values, st.total + 1)
        val score =
          if (st.total < minCount || before <= 0) 0.0
          else math.max(0.0, (after - before) / before)
        (HistState(withB, st.total + 1), Some(EntropyScore(entity, e.seq, e.value, score)))
    }
  }

  case class PairHit(a: Long, b: Long, band: Int)

  /** Streaming MinHash/LSH near-duplicate detection for ingest pipelines:
    * per incoming doc, the native `minhash_sig` expression computes the
    * signature statelessly (zero shuffles), band buckets are sliced from
    * the signature per row, and a per-(band, bucket) membership set held
    * in GroupState emits a candidate pair whenever a new doc lands in a
    * bucket that already has members — the streaming face of the batch
    * `TextOps.minhashPairs`. Bucket membership is capped at `maxBucket`
    * (degenerate buckets are dropped from pairing — standard dedup
    * practice, and the per-bucket state-size bound). Idle-bucket eviction
    * is opt-in: `idleTtlMs > 0` registers a ProcessingTimeTimeout that
    * removes a bucket's state after that long without arrivals, bounding
    * total state over the stream's lifetime. The default is 0 = NoTimeout
    * because a registered processing-time timeout makes the micro-batch
    * engine's `shouldRunAnotherBatch` permanently true — the query then
    * busy-loops empty micro-batches between data arrivals (and
    * `processAllAvailable()` never returns in tests); only enable the TTL
    * under a non-zero `Trigger.ProcessingTime`, where batches are paced
    * and the eviction actually runs. Pairs may repeat across bands;
    * dedup downstream if exactness is needed. */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bandSize: Int,
      maxBucket: Int = 1024, idleTtlMs: Long = 0L): Dataset[PairHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    // ceil: a non-dividing bandSize keeps its partial last band (slice
    // end-truncates), matching the batch lshBuckets grouping
    val nBands = (numHashes + bandSize - 1) / bandSize
    val sig = docs.select(col(idCol).cast("long").as("id"),
      call_function("minhash_sig", graft.text.TextOps.tokens(col(textCol)),
        lit(shingleSize), lit(numHashes)).as("sig"))
      .where(size(col("sig")) > 0)
    val bands = sig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(nBands - 1)),
        b => array_join(slice(col("sig"), b * bandSize + 1, lit(bandSize)), ":")))
      .as(Seq("band", "bucket")))
    val timeoutConf =
      if (idleTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    bands.as[(Long, Int, String)]
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (key: (Int, String), it: Iterator[(Long, Int, String)],
            gs: GroupState[List[Long]]) => {
          if (gs.hasTimedOut) {
            gs.remove()
            Iterator.empty
          } else {
            val stored = gs.getOption.getOrElse(Nil)
            var seen = stored.toSet
            var order = stored
            val out = collection.mutable.Buffer[PairHit]()
            it.foreach { case (id, band, _) =>
              if (!seen.contains(id) && seen.size < maxBucket) {
                seen.foreach(s => out += PairHit(math.min(s, id), math.max(s, id), band))
                seen += id
                order = id :: order
              }
            }
            gs.update(order)
            if (idleTtlMs > 0) gs.setTimeoutDuration(idleTtlMs)
            out.iterator
          }
        })
  }

  case class EmbPairHit(a: Long, b: Long, cos: Double)

  /** One int8-quantized vector held in bucket state: symmetric per-vector
    * quantization (q = round(x·127/max|x|)); cosine between two quantized
    * vectors is scale-free (Σqa·qb / (‖qa‖·‖qb‖)) so the scales need not
    * even be stored — kept only for potential dequantization. */
  case class QVec(id: Long, scale: Double, q: Array[Byte])

  /** Streaming embedding near-dup — the ingest-time face of
    * `Similarity.lshNearDupHashed`: incoming vectors bucket by the same
    * md5-derived sign-LSH hyperplanes (codegen'd vec_dot per plane), and
    * per-bucket GroupState keeps the previously seen vectors
    * int8-quantized — 8× smaller state than the double arrays, the same
    * storage lever as `Similarity.quantizeInt8`. A new arrival emits a
    * pair for every stored bucket-mate whose quantized cosine ≥
    * `threshold` (quantized cosine is scale-free integer math; error vs
    * exact cosine is the int8 rounding, spec-bounded). `maxBucket` caps
    * state per bucket (hot-bucket guard, as in [[nearDupStream]]);
    * `idleTtlMs` carries the same opt-in TTL caveat. */
  def embeddingNearDupStream(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, planes: Int, threshold: Double, maxBucket: Int = 1024,
      idleTtlMs: Long = 0L): Dataset[EmbPairHit] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val hp = graft.sim.Similarity.hashHyperplanes(planes, dim)
    val bucketed = vecs.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"),
      graft.sim.Similarity.bucketColumn(spark, col(vecCol), hp).as("bucket"))
    def quantize(v: Array[Double], id: Long): QVec = {
      var mx = 1e-12
      v.foreach(x => mx = math.max(mx, math.abs(x)))
      val s = mx / 127.0
      QVec(id, s, v.map(x => math.round(x / s).toByte))
    }
    def cosQ(a: QVec, b: QVec): Double = {
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < a.q.length) {
        dot += a.q(i).toLong * b.q(i)
        na += a.q(i).toLong * a.q(i)
        nb += b.q(i).toLong * b.q(i)
        i += 1
      }
      if (na == 0L || nb == 0L) 0.0
      else dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val timeoutConf =
      if (idleTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    bucketed.as[(Long, Seq[Double], Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: Long, it: Iterator[(Long, Seq[Double], Long)],
            gs: GroupState[List[QVec]]) => {
          if (gs.hasTimedOut) {
            gs.remove()
            Iterator.empty
          } else {
            var stored = gs.getOption.getOrElse(Nil)
            val out = collection.mutable.Buffer[EmbPairHit]()
            it.foreach { case (id, vSeq, _) =>
              if (!stored.exists(_.id == id) && stored.size < maxBucket) {
                val q = quantize(vSeq.toArray, id)
                stored.foreach { s =>
                  val c = cosQ(q, s)
                  if (c >= threshold)
                    out += EmbPairHit(math.min(s.id, id), math.max(s.id, id), c)
                }
                stored = q :: stored
              }
            }
            gs.update(stored)
            if (idleTtlMs > 0) gs.setTimeoutDuration(idleTtlMs)
            out.iterator
          }
        })
  }

  /** Streaming exact dedup — the ingest-time face of
    * `TextOps.exactDedup`: only first-seen content (by md5 hash) passes;
    * later arrivals of the same text are dropped across micro-batches.
    * With `tsColAndWatermark` the seen-hash state is bounded to the
    * watermark horizon via `dropDuplicatesWithinWatermark` (a duplicate
    * arriving later than the horizon is re-admitted — the standard
    * state/recall trade-off); without it, state holds one entry per
    * distinct content hash forever — true whole-history dedup, sized by
    * distinct content, not stream length. */
  def exactDedupStream(docs: DataFrame, textCol: String,
      tsColAndWatermark: Option[(String, String)] = None): DataFrame = {
    val hashed = docs.withColumn("contentHash", md5(col(textCol)))
    tsColAndWatermark match {
      case Some((ts, wm)) =>
        hashed.withWatermark(ts, wm).dropDuplicatesWithinWatermark("contentHash")
      case None => hashed.dropDuplicates("contentHash")
    }
  }

  /** Streaming CDC chunk admission — the storage-dedup face of
    * [[graft.text.TextOps.cdcChunkDedup]]: documents chunk at
    * content-defined (Rabin) boundaries per row (codegen, stateless),
    * and only the FIRST occurrence of each chunk hash passes — the
    * dedup'd chunk store an ingest pipeline actually writes, where an
    * edited re-crawl contributes only its changed chunks. State is one
    * row per distinct chunk hash (whole-history, or watermark-bounded
    * via `dropDuplicatesWithinWatermark` when `tsColAndWatermark` is
    * set). Output: idCol (the first owner), _ch (chunk hash). */
  def cdcChunkStream(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 8, base: Int = 31, mask: Int = 64,
      tsColAndWatermark: Option[(String, String)] = None): DataFrame = {
    tsColAndWatermark match {
      case Some((ts, wm)) =>
        // the event-time column rides through the chunk explode (`keep`)
        // so the watermark survives to the dedup state operator
        graft.text.TextOps.cdcChunks(docs.withWatermark(ts, wm),
          idCol, textCol, window, base, mask, keep = Seq(ts))
          .dropDuplicatesWithinWatermark("_ch")
      case None =>
        graft.text.TextOps.cdcChunks(docs, idCol, textCol, window,
          base, mask).dropDuplicates("_ch")
    }
  }

  /** Streaming canonical-URL dedup — the crawl-frontier face of the
    * batch q266 shape: the first document per CANONICAL url passes
    * (case/www/tracking/fragment/slash variants collapse before the
    * seen-set check, so a re-crawled utm-decorated revisit is dropped).
    * Same state mechanics as [[exactDedupStream]]: whole-history state
    * sized by distinct canonical urls, or watermark-bounded via
    * `dropDuplicatesWithinWatermark` when `tsColAndWatermark` is set. */
  def urlDedupStream(docs: DataFrame, urlCol: String,
      tsColAndWatermark: Option[(String, String)] = None): DataFrame = {
    val canon = docs.withColumn("canon_url",
      graft.text.UrlOps.canonicalizeUrl(col(urlCol)))
    tsColAndWatermark match {
      case Some((ts, wm)) =>
        canon.withWatermark(ts, wm).dropDuplicatesWithinWatermark("canon_url")
      case None => canon.dropDuplicates("canon_url")
    }
  }

  /** Streaming perceptual image dedup: decode payloads (typed flatMap —
    * streaming-safe), fingerprint with the 8×8 aHash, and pass only the
    * first image per exact hash. Near-dup (hamming > 0) pairing needs
    * the stateful bucket machinery ([[nearDupStream]]'s shape); exact
    * perceptual-hash dedup is the high-volume ingest gate and needs
    * only (16-byte hash) state per distinct image. */
  def imageDedupStream(media: DataFrame): DataFrame =
    graft.mm.Multimodal.imageAHash(graft.mm.Multimodal.decodeImage(media))
      .dropDuplicates("ahash_lo", "ahash_hi")

  case class ErrEvent(entity: String, seq: Long, err: Double)
  case class DdmOut(entity: String, seq: Long, err: Double, p: Double, s: Double, level: String)
  case class DdmState(n: Long, errs: Double, minPS: Double, sAtMin: Double)

  /** Streaming DDM concept-drift detector (drift family §2.9 lifted to
    * Structured Streaming): per entity, running error rate p and std
    * s=√(p(1-p)/n); track the minimum of p+s (and s at that argmin);
    * warn when p+s exceeds p_min+2·s_min, drift at p_min+3·s_min.
    * Same math as the batch `Drift.ddm` cumulative-window form, held in
    * GroupState across micro-batches. */
  def ddmStream(events: Dataset[ErrEvent]): Dataset[DdmOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    perEntity(events)("entity", _.seq,
        _ => DdmState(0L, 0.0, Double.MaxValue, Double.MaxValue)) {
      entity => (st, e) =>
        val n = st.n + 1
        val errs = st.errs + e.err
        val p = errs / n
        val s = math.sqrt(p * (1.0 - p) / n)
        val ps = p + s
        val (minPS, sAtMin) =
          if (ps < st.minPS || (ps == st.minPS && s < st.sAtMin)) (ps, s)
          else (st.minPS, st.sAtMin)
        val pAtMin = minPS - sAtMin
        val level =
          if (n < 30) "stable"
          else if (ps > pAtMin + 3.0 * sAtMin) "drift"
          else if (ps > pAtMin + 2.0 * sAtMin) "warn"
          else "stable"
        (DdmState(n, errs, minPS, sAtMin), Some(DdmOut(entity, e.seq, e.err, p, s, level)))
    }
  }

  case class CusumOut(entity: String, seq: Long, value: Double,
      gPos: Double, gNeg: Double, alarm: Boolean)
  // g+/g- carried as 6dp fixed-point LONGS: with integer terms the
  // textbook max(0, g + term) recursion is EXACTLY the batch closed
  // form (cumsum minus clamped running min) — the identity that is only
  // ~1e-9-approximate in floats holds bit-for-bit in integers
  case class CusumSt(buf: List[(Long, Double)], frozen: Boolean,
      mu0: Double, sd0: Double, gPos: Long, gNeg: Long, n: Long)

  /** Streaming CUSUM — the online face of `Drift.cusum`, EXACT batch
    * parity (not lagged): rows buffer in state until the entity has seen
    * `warmup` of them, then the baseline freezes (mean/std rounded to
    * 6dp like the batch fit) and the whole backlog is emitted through
    * the textbook recursion g⁺ = max(0, g⁺ + z − k) / g⁻ = max(0, g⁻ −
    * z − k) — identical to the batch closed form row for row, pinned by
    * the parity spec. From then on state is 6 doubles per entity; an
    * entity that never reaches `warmup` rows holds ≤ warmup values and
    * emits nothing (a stream cannot know its baseline early — callers
    * size `warmup` accordingly). */
  def cusumStream(events: Dataset[ValueEvent], warmup: Int,
      slack: Double, h: Double): Dataset[CusumOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the oracle's rounding arithmetic (floor of the float product),
    // NOT BigDecimal HALF_UP — they disagree on half-boundary floats
    def r6(x: Double): Double = graft.text.TextOps.round6(x)
    def fp6(x: Double): Long = fixedPoint(x, 6).toLong
    perEntity(events)("entity", _.seq,
        _ => CusumSt(Nil, frozen = false, 0.0, 0.0, 0L, 0L, 0L)) { entity =>
      def step(st: CusumSt, seq: Long, v: Double): (CusumSt, CusumOut) = {
        val z = (v - st.mu0) / math.max(st.sd0, 1e-9)
        val gp = math.max(0L, st.gPos + fp6(z - slack))
        val gn = math.max(0L, st.gNeg + fp6(-z - slack))
        val n = st.n + 1
        (st.copy(gPos = gp, gNeg = gn, n = n),
          CusumOut(entity, seq, v, gp.toDouble / 1e6, gn.toDouble / 1e6,
            n > warmup && (gp.toDouble / 1e6 > h || gn.toDouble / 1e6 > h)))
      }
      (st, e) =>
        if (st.frozen) {
          val (next, row) = step(st, e.seq, e.value)
          (next, Some(row))
        } else {
          val buf = st.buf :+ (e.seq, e.value)
          if (buf.size < warmup) (st.copy(buf = buf), None)
          else {
            val vs = buf.map(_._2)
            val mean = vs.sum / vs.size
            val sd = if (vs.size > 1)
              math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / (vs.size - 1))
            else 0.0
            var next = CusumSt(Nil, frozen = true, r6(mean), r6(sd), 0L, 0L, 0L)
            val rows = buf.map { case (seq, v) =>
              val (s, row) = step(next, seq, v)
              next = s
              row
            }
            (next, rows)
          }
        }
    }
  }

  case class PhOut(entity: String, seq: Long, value: Double,
      phInc: Double, phDec: Double, drift: Boolean)
  // all state in 6dp fixed-point LONGS (association-free integer
  // arithmetic), mirroring Drift.pageHinkley bit-for-bit — sum6 is the
  // running Σ of quantized values, the mean is integer-rounded from the
  // exact rational sum6/n
  case class PhSt(n: Long, sum6: Long, mInc: Long, mDec: Long,
      minInc: Long, maxDec: Long)

  /** Streaming Page–Hinkley — the online face of `Drift.pageHinkley`,
    * exact batch parity from the first row (the running mean IS the
    * baseline, so unlike [[cusumStream]] nothing buffers): state is six
    * doubles per entity — n, Σx, the two cumulative deviation sums and
    * their running extrema — updated with the same sequential
    * arithmetic the batch window plan uses. */
  def pageHinkleyStream(events: Dataset[ValueEvent], delta: Double,
      lambda: Double, minInstances: Int = 30): Dataset[PhOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val deltaL = math.round(delta * 1e6)
    perEntity(events)("entity", _.seq,
        _ => PhSt(0L, 0L, 0L, 0L, Long.MaxValue, Long.MinValue)) {
      entity => (st, e) =>
        val n = st.n + 1
        val v6 = fixedPoint(e.value, 6).toLong
        val sum6 = st.sum6 + v6
        val mean6 = if (sum6 >= 0) (2 * sum6 + n) / (2 * n)
          else -((2 * -sum6 + n) / (2 * n))
        val dev6 = v6 - mean6
        val mInc = st.mInc + (dev6 - deltaL)
        val mDec = st.mDec + (dev6 + deltaL)
        val minInc = math.min(st.minInc, mInc)
        val maxDec = math.max(st.maxDec, mDec)
        val phInc = (mInc - minInc).toDouble / 1e6
        val phDec = (maxDec - mDec).toDouble / 1e6
        (PhSt(n, sum6, mInc, mDec, minInc, maxDec),
          Some(PhOut(entity, e.seq, e.value, phInc, phDec,
            n >= minInstances && (phInc > lambda || phDec > lambda))))
    }
  }

  case class HoltOut(entity: String, seq: Long, value: Double, score: Double)

  /** Streaming Holt forecast scorer — the online face of
    * `SeriesKernels.holtForecast`, sharing its step
    * (`SeriesKernels.holtStep`), so it is batch-exact from the first row
    * (the recursion carries its own state; nothing buffers). O(1) state
    * (7 numbers). */
  def holtForecastStream(events: Dataset[ValueEvent], alpha: Double = 0.5,
      beta: Double = 0.25): Dataset[HoltOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    twin(events)(_ => SeriesKernels.HoltState())(
      _ => SeriesKernels.holtStep(alpha, beta, 1.0))
  }

  /** Streaming Croston intermittent-demand rate — the online face of
    * `Forecast2.croston`, sharing its step (`Forecast2.crostonStep`), so
    * the q407 oracle gates this path bit-for-bit when batch-executed.
    * O(1) state: size SES, interval SES, last-nonzero position, count.
    * Every event emits the post-update demand rate z/p (0 before the
    * first nonzero). */
  def crostonStream(events: Dataset[ValueEvent]): Dataset[HoltOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    twin(events)(_ => Forecast2.CrostonState())(_ => Forecast2.crostonStep)
  }

  /** Streaming Theta(2) one-step-ahead scorer — the online face of
    * `Forecast2.thetaForecast`, sharing its step (`Forecast2.thetaStep`:
    * SES level + exact fixed-point running-OLS half-slope drift; the
    * q405 oracle gates this path when batch-executed). O(1) state: 4
    * integer sums + 4 doubles. */
  def thetaStream(events: Dataset[ValueEvent]): Dataset[HoltOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    twin(events)(_ => Forecast2.ThetaState())(_ => Forecast2.thetaStep)
  }

  /** Streaming local-level Kalman scorer — the online face of
    * `StateSpace.kalmanFilter` under the fit-batch/score-stream model
    * contract (the per-entity model cache pattern), sharing its step
    * (`StateSpace.kalmanStep`): `model` maps entity → (r = full-series
    * sample variance, n = series length) from the batch fit, so every
    * emitted score matches the batch kernel (and the q322 oracle)
    * bit-for-bit. Entities absent from the model, with n < 3 or r ≤ 0
    * emit score 0. O(1) state (3 numbers); the model (one entry per
    * entity) ships in the step's closure. */
  def kalmanStream(events: Dataset[ValueEvent],
      model: Map[String, (Double, Long)]): Dataset[HoltOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    twin(events)(_ => StateSpace.KalmanState()) { entity =>
      val (r, n) = model.getOrElse(entity, (0.0, 0L))
      StateSpace.kalmanStep(r, n)
    }
  }

  /** Streaming EWMA control chart — online face of
    * `StateSpace.ewmaChart`, same fit-batch/score-stream contract and
    * the same step (`StateSpace.ewmaStep`): `model` maps entity → (μ, σ,
    * n) from the batch fit; e anchors at μ and (1−λ)^{2t} rides the
    * state, so scores match the batch kernel (and the q328 oracle)
    * exactly. O(1) state (2 numbers). */
  def ewmaChartStream(events: Dataset[ValueEvent],
      model: Map[String, (Double, Double, Long)],
      lambda: Double = 0.25): Dataset[HoltOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fit(entity: String) = model.getOrElse(entity, (0.0, 0.0, 0L))
    twin(events)(entity => StateSpace.EwmaState(fit(entity)._1)) { entity =>
      val (mu, sd, n) = fit(entity)
      StateSpace.ewmaStep(lambda, mu, sd, n)
    }
  }

  case class WeOut(entity: String, seq: Long, value: Double, z: Double,
      r1: Boolean, r2: Boolean, r3: Boolean, r4: Boolean)
  /** Rolling rule state: bitmasks of the trailing z-band flags (low bit
    * = most recent PREVIOUS row) and the last 7 sides. */
  case class WeSt(hi2: Int, lo2: Int, hi1: Int, lo1: Int,
      sides: List[Int])

  /** Streaming Western Electric run rules — online face of
    * `Spc.westernElectric` under the fit-batch/score-stream contract
    * (`model`: entity → (μ, σ, n) from the batch fit; n kept for shape
    * parity, rules fire from the first row exactly as the batch
    * windows do). State = four small bitmasks + the last 7 sides —
    * O(1) per entity; every rule decision replays the batch trailing-
    * window sums exactly, so the q314 oracle gates this path too. */
  def westernElectricStream(events: Dataset[ValueEvent],
      model: Map[String, (Double, Double, Long)]): Dataset[WeOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    perEntity(events)("entity", e => (e.seq, e.value), _ => WeSt(0, 0, 0, 0, Nil)) {
      entity =>
        val (mu, sd, _) = model.getOrElse(entity, (0.0, 0.0, 0L))
        (st, e) => {
          val z = (e.value - mu) / sd
          val side = if (z > 0) 1 else if (z < 0) -1 else 0
          val h2 = if (z > 2.0) 1 else 0
          val l2 = if (z < -2.0) 1 else 0
          val h1 = if (z > 1.0) 1 else 0
          val l1 = if (z < -1.0) 1 else 0
          def bits(m: Int, keep: Int): Int = {
            var c = 0; var i = 0
            while (i < keep) { c += (m >> i) & 1; i += 1 }; c
          }
          val r1 = math.abs(z) > 3.0
          val r2 = (z > 2.0 && h2 + bits(st.hi2, 2) >= 2) ||
            (z < -2.0 && l2 + bits(st.lo2, 2) >= 2)
          val r3 = (z > 1.0 && h1 + bits(st.hi1, 4) >= 4) ||
            (z < -1.0 && l1 + bits(st.lo1, 4) >= 4)
          val s8 = side + st.sides.take(7).sum
          val r4 = st.sides.length >= 7 && (s8 == 8 || s8 == -8)
          (WeSt(((st.hi2 << 1) | h2) & 3, ((st.lo2 << 1) | l2) & 3,
            ((st.hi1 << 1) | h1) & 15, ((st.lo1 << 1) | l1) & 15,
            (side :: st.sides).take(7)),
            Some(WeOut(entity, e.seq, e.value, z, r1, r2, r3, r4)))
        }
    }
  }

  case class CpStreamOut(entity: String, seq: Long, value: Double,
      stat: Double, changed: Boolean)
  case class CpBuf(window: List[Double])

  /** Streaming change-point detection — the real-time form of the batch
    * mean-shift detector (misc/ChangePointDetector.scala via
    * SeqOps.changePointMeanShift): per entity, hold the trailing
    * 2·`window` values and test the older half against the newer half
    * with the same Welch statistic (identical ascending-sum/Welford
    * arithmetic). A stream can only test the past, so the stat emitted at
    * seq t equals the batch stat at position t−window+1 — pure detection
    * lag of `window` events, pinned by the batch-parity spec. stat is NaN
    * until the buffer fills. */
  def changePointStream(events: Dataset[ValueEvent], window: Int,
      critValue: Double): Dataset[CpStreamOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = window
    perEntity(events)("entity", _.seq, _ => CpBuf(Nil)) { entity => (st, e) =>
      val buf = (e.value :: st.window).take(2 * w)
      val stat =
        if (buf.size == 2 * w) {
          val arr = buf.reverse.toArray // oldest first
          val (mL, vL) = meanVar(arr, 0, w)
          val (mR, vR) = meanVar(arr, w, 2 * w)
          val den = math.sqrt(vL / w + vR / w)
          val diff = math.abs(mR - mL)
          if (den > 0) diff / den
          else if (diff > 0) Double.PositiveInfinity
          else 0.0
        } else Double.NaN
      (CpBuf(buf), Some(CpStreamOut(entity, e.seq, e.value, stat,
        !java.lang.Double.isNaN(stat) && stat >= critValue)))
    }
  }

  /** Frame mean/sample-variance with WindowExec's exact arithmetic
    * (ascending-index sum, Welford update chain) — keeps the streaming
    * stat bit-identical to the batch window formulation. */
  private def meanVar(a: Array[Double], from: Int, until: Int): (Double, Double) = {
    var s = 0.0
    var i = from
    while (i < until) { s += a(i); i += 1 }
    var cnt = 0.0
    var m = 0.0
    var m2 = 0.0
    i = from
    while (i < until) {
      cnt += 1.0
      val d = a(i) - m
      val dN = d / cnt
      m += dN
      m2 += d * (d - dN)
      i += 1
    }
    (s / (until - from), m2 / (cnt - 1.0))
  }

  case class SeqEvent(entity: String, seq: Long, state: String)
  case class SeqScore(entity: String, seq: Long, state: String, score: Double, tag: String)
  case class MarkovBuf(lastState: String, window: List[Double])

  case class MotifHit(entity: String, seq: Long, state: String,
    matched: Boolean, matchesSoFar: Long)
  case class MotifBuf(recent: List[String], total: Long)

  case class GapEvent(entity: String, seq: Long, value: Option[Double])
  case class LocfOut(entity: String, seq: Long, value: Option[Double],
    filled: Option[Double], wasImputed: Boolean)
  case class LocfBuf(lastSeen: Option[Double])

  /** Streaming LOCF imputation — the per-entity twin of
    * [[graft.seq.SeqOps.imputeLocf]]: carry the last non-null value per
    * entity across micro-batches, fill nulls forward. State is ONE
    * optional double per entity; emission is append-only. Batch parity:
    * identical (entity, seq, filled, was_imputed) rows for any
    * micro-batch split. */
  def imputeLocfStream(events: Dataset[GapEvent]): Dataset[LocfOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    perEntity(events)("entity", _.seq, _ => LocfBuf(None)) { entity => (st, e) =>
      val filled = e.value.orElse(st.lastSeen)
      (if (e.value.isDefined) LocfBuf(e.value) else st,
        Some(LocfOut(entity, e.seq, e.value, filled, e.value.isEmpty && filled.isDefined)))
    }
  }

  /** Streaming sequence-motif detector — the per-entity twin of
    * [[graft.seq.SeqOps.motifCount]]: keep the last L−1 states per
    * entity across micro-batches, flag every event that closes an exact
    * motif occurrence (anchored at its LAST position — the same match
    * set the batch op counts at the first position), and carry the
    * running total. State is O(L) strings per entity, constant in
    * stream length; emission is append-only (a match decision never
    * retracts). Batch parity: per entity, sum(matched) equals the batch
    * `matches` on the same data in any micro-batch split. */
  def motifStream(events: Dataset[SeqEvent],
      motif: Seq[String]): Dataset[MotifHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(motif.nonEmpty, "motif must have at least one state")
    val m = motif.toList
    val L = m.length
    perEntity(events)("entity", _.seq, _ => MotifBuf(Nil, 0L)) { entity => (st, e) =>
      val hist = e.state :: st.recent // newest-first, incl current
      val matched = hist.lengthCompare(L) >= 0 && hist.take(L).reverse == m
      val total = st.total + (if (matched) 1L else 0L)
      (MotifBuf(hist.take(L - 1), total), Some(MotifHit(entity, e.seq, e.state, matched, total)))
    }
  }

  /** Per-entity sliding-window Markov scoring with explicit state —
    * `flatMapGroupsWithState` replacing the Storm bolt's in-memory
    * per-entity window (MarkovModelPredictor.java:273-313). The transition
    * model is a broadcast map ((from,to) → prob); score = mean −ln p over
    * the last `window` transitions. */
  def markovStream(events: Dataset[SeqEvent],
      transitions: Map[(String, String), Double],
      window: Int, threshold: Double): Dataset[SeqScore] = {
    val spark = events.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(transitions)
    perEntity(events)("entity", _.seq, _ => MarkovBuf(null, Nil)) { _ => (st, e) =>
      val nll = Option(st.lastState)
        .map(ls => -math.log(bc.value.getOrElse((ls, e.state), 1e-12)))
      val win = (nll.toList ::: st.window).take(window)
      // sum oldest→newest (the list is newest-first): the same
      // ascending-frame order a batch window avg uses, so the
      // 4dp-rounded score is replayable by a window-function oracle
      val score =
        if (win.size == window) win.reverse.sum / window else Double.NaN
      val tag =
        if (score.isNaN) "I" else if (score > threshold) "O" else "N"
      (MarkovBuf(e.state, win), Some(SeqScore(e.entity, e.seq, e.state, score, tag)))
    }
  }

  /** A gram whose guaranteed lower bound crossed minCount: `cnt` is the
    * Space-Saving estimate at crossing time (true count ∈ [cnt − maxErr,
    * cnt]), not a final total — the stream has no "final". */
  case class HeavyGram(gram: String, cnt: Long, maxErr: Long)
  case class SsState(counters: Map[String, (Long, Long)], emitted: List[String])

  /** Streaming heavy-hitter n-grams — Space-Saving summaries (Metwally,
    * Agrawal & El Abbadi, "Efficient Computation of Frequent and Top-k
    * Elements in Data Streams", ICDT 2005) sharded by gram hash and kept
    * across micro-batches via flatMapGroupsWithState; the streaming twin
    * of [[graft.text.TextOps.heavyHitterGrams]].
    *
    * Every occurrence of a gram routes to the same shard
    * (md5-hash mod `nShards`), so each shard's capacity-bounded summary
    * carries the classic guarantee est ≥ true ≥ est − err, err being the
    * count absorbed from the evicted minimum. A gram is emitted ONCE,
    * when its lower bound est − err first reaches `minCount` — the
    * decision never retracts, so the sink sees clean append semantics.
    * State is ≤ capacity counters + the emitted list (≤ N/minCount grams)
    * per shard, constant in stream length; when a shard's distinct grams
    * never exceed capacity, no eviction happens, err stays 0 and counts
    * are exact (the spec pins that parity with the batch operator).
    * Eviction scans for the minimum counter (O(capacity)); capacity here
    * is thousands, and only no-hit batches pay it. */
  /** Per-batch cardinality snapshot: the KMV estimate of all values seen
    * for `key` so far (exact while sketchN < k). */
  case class KmvOut(key: String, sketchN: Int, estDistinct: Double)
  case class KmvState(hashes: List[Long])

  /** Streaming distinct-count — the streaming twin of
    * [[graft.model.Fitters.kmvSketch]]/[[graft.model.Fitters.kmvEstimate]].
    * State per key is the k smallest md5-56-bit hashes seen so far (O(k)
    * longs, constant in stream length); because bottom-k of a union is a
    * function of the per-batch bottom-k's, the sketch after any batch
    * split equals the batch sketch of the union — the spec pins that
    * parity. Emits one snapshot row per (key, batch): append-legal, each
    * row is a new observation of a monotone process, never a retraction. */
  def kmvDistinctStream(rows: DataFrame, keyCol: String, valueCol: String,
      k: Int): Dataset[KmvOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val hashed = rows.select(col(keyCol).cast("string").as("key"),
      graft.text.TextOps.hash56(col(valueCol)).as("h")).as[(String, Long)]
    hashed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, it: Iterator[(String, Long)], st: GroupState[KmvState]) => {
          val prev = st.getOption.map(_.hashes).getOrElse(Nil)
          val merged = (prev.iterator ++ it.map(_._2)).toArray
            .distinct.sorted.take(k)
          st.update(KmvState(merged.toList))
          val n = merged.length
          val est =
            if (n < k) n.toDouble
            else (k - 1).toDouble / (merged.last.toDouble / 72057594037927936.0)
          Iterator.single(KmvOut(key, n, est))
        })
  }

  case class PsiStreamOut(key: String, n: Long, psi: Double, drifted: Boolean)
  case class PsiCountState(counts: Map[Int, Long])

  /** Streaming PSI monitor — streaming twin of [[graft.drift.Drift.psi]]:
    * the reference window's edges + bin counts are a fitted model
    * ([[graft.drift.Drift.psiRefModel]], broadcast); the stream
    * accumulates per-key bin counts in GroupState (≤ nBins longs per
    * key) and emits the cumulative PSI per (key, batch). Bin counts are
    * associative, so state after any batch split equals the batch bin
    * counts of the union — PSI equals `Drift.psi(ref, prefix)` exactly
    * (same smoothed-share arithmetic, same 6dp fixed-point term sum;
    * spec-pinned). Keys absent from the reference emit nothing (no
    * baseline → no verdict). */
  def psiStream(rows: DataFrame, keyCol: String, valueCol: String,
      ref: Map[String, graft.drift.Drift.PsiRef], nBins: Int = 10,
      threshold: Double = 0.2): Dataset[PsiStreamOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val refB = spark.sparkContext.broadcast(ref)
    rows.where(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("key"),
        col(valueCol).cast("double").as("v")).as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, it: Iterator[(String, Double)],
            st: GroupState[PsiCountState]) => {
          refB.value.get(key) match {
            case None => Iterator.empty
            case Some(r) =>
              // identical arithmetic to the batch operator: equal-width
              // bins at (hi-lo)/nBins, clamped; Laplace-smoothed shares;
              // (cs-rs)·ln(cs/rs) quantized to 6dp longs then summed
              val w = (r.hi - r.lo) / nBins.toDouble
              var counts = st.getOption.map(_.counts)
                .getOrElse(Map.empty[Int, Long])
              it.foreach { case (_, x) =>
                val b =
                  if (r.hi > r.lo)
                    math.min(math.max(math.floor((x - r.lo) / w), 0.0),
                      (nBins - 1).toDouble).toInt
                  else 0
                counts = counts.updated(b, counts.getOrElse(b, 0L) + 1L)
              }
              st.update(PsiCountState(counts))
              val n = counts.valuesIterator.sum
              val half = nBins * 0.5
              var t6 = 0L
              var bi = 0
              while (bi < nBins) {
                val cs = (counts.getOrElse(bi, 0L) + 0.5) / (n + half)
                val rs = (r.counts(bi) + 0.5) / (r.total + half)
                val term = (cs - rs) * math.log(cs / rs)
                t6 += fixedPoint(term, 6).toLong
                bi += 1
              }
              val psi = t6.toDouble / 1e6
              Iterator.single(PsiStreamOut(key, n, psi, psi > threshold))
          }
        })
  }

  case class HllOut(key: String, nBuckets: Int, estDistinct: Double)
  case class HllState(regs: Map[Int, Int])

  /** Streaming cardinality monitor — the streaming twin of
    * [[graft.model.Fitters.hllSketch]]/[[graft.model.Fitters.hllEstimate]]
    * and the bounded-state sibling of [[kmvDistinctStream]]: sparse HLL
    * registers per key across micro-batches, state capped at 2^p ints at
    * ANY cardinality (KMV caps at k hashes but only estimates past k; HLL
    * never stores hashes at all). Bucket/register math mirrors the batch
    * fitter bit-for-bit and register max is associative, so after any
    * batch split the state equals the batch sketch of the union — the
    * spec pins that parity. Emits one snapshot per (key, batch):
    * append-legal, monotone. */
  def hllDistinctStream(rows: DataFrame, keyCol: String, valueCol: String,
      p: Int): Dataset[HllOut] = {
    require(p >= 4 && p <= 16, s"p=$p outside [4,16]")
    val spark = rows.sparkSession
    import spark.implicits._
    val m = 1L << p
    val mD = m.toDouble
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / mD)
    }
    val hashed = rows.select(col(keyCol).cast("string").as("key"),
      graft.text.TextOps.hash56(col(valueCol)).as("h")).as[(String, Long)]
    hashed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, it: Iterator[(String, Long)], st: GroupState[HllState]) => {
          var regs = st.getOption.map(_.regs).getOrElse(Map.empty[Int, Int])
          it.foreach { case (_, h) =>
            val bucket = (h % m).toInt
            val w = h >>> p
            val rho =
              if (w == 0L) 57 - p
              else 57 - p - (64 - java.lang.Long.numberOfLeadingZeros(w))
            if (regs.getOrElse(bucket, 0) < rho) regs = regs.updated(bucket, rho)
          }
          st.update(HllState(regs))
          val nb = regs.size
          // estimator identical to Fitters.hllEstimate (same constants,
          // same branch) so the batch-executed face shares q157's oracle
          val s = regs.valuesIterator.map(r => math.pow(2.0, -r)).sum
          val zeros = mD - nb
          val raw = (alpha * mD * mD) / (s + zeros)
          val est =
            if (raw <= 2.5 * mD && zeros > 0) mD * math.log(mD / zeros)
            else raw
          Iterator.single(HllOut(key, nb, est))
        })
  }

  /** Per-batch frequency snapshot for one watched value: CMS estimate of
    * its total occurrences so far (exact while no bucket collides). */
  case class CmsOut(key: String, probe: String, estCnt: Long)
  case class CmsState(counters: Map[Long, Long]) // (j*width+bucket) -> cnt

  /** Streaming frequency monitor — the streaming twin of
    * [[graft.model.Fitters.cmsSketch]]/[[graft.model.Fitters.cmsEstimate]]:
    * a count–min sketch kept across micro-batches with O(depth×width)
    * state per key, point-queried every batch for a fixed watch-list of
    * `probes`. Same md5-row-salted buckets as the batch fitter, so after
    * any batch split the state equals the batch sketch of the union
    * (counters are linear) — the spec pins that parity. Emits one
    * snapshot row per (key, probe, batch): append-legal, monotone. */
  def cmsFrequencyStream(rows: DataFrame, keyCol: String, valueCol: String,
      depth: Int, width: Int, probes: Seq[String]): Dataset[CmsOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    def slot(j: Int, v: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cms:$j:$v".getBytes("UTF-8"))
        .take(7).map("%02x".format(_)).mkString
      j.toLong * width + java.lang.Long.parseLong(hex, 16) % width
    }
    val probeSlots = probes.map(p => p -> (0 until depth).map(slot(_, p))).toArray
    val hashed = rows.select(col(keyCol).cast("string").as("key"),
      col(valueCol).cast("string").as("v")).as[(String, String)]
    hashed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, it: Iterator[(String, String)], st: GroupState[CmsState]) => {
          val counters = collection.mutable.Map[Long, Long](
            st.getOption.map(_.counters.toSeq).getOrElse(Nil): _*)
          // group parallelism is key-bounded, so the per-occurrence work
          // must be cheap: tokens repeat heavily (occurrences ≫ vocab) —
          // memoize the depth md5 slots per DISTINCT value for this
          // invocation instead of hashing every occurrence depth times
          val slotCache = collection.mutable.Map.empty[String, Array[Long]]
          it.foreach { case (_, v) =>
            val slots = slotCache.getOrElseUpdate(v,
              Array.tabulate(depth)(slot(_, v)))
            var j = 0
            while (j < depth) {
              val s = slots(j)
              counters.update(s, counters.getOrElse(s, 0L) + 1L)
              j += 1
            }
          }
          st.update(CmsState(counters.toMap))
          probeSlots.iterator.map { case (p, slots) =>
            CmsOut(key, p, slots.map(counters.getOrElse(_, 0L)).min)
          }
        })
  }

  /** Per-batch quantile snapshot: interpolated quantile of all values
    * seen for `key` so far, estimated from the bottom-k uniform sample. */
  case class QuantOut(key: String, sketchN: Int, p: Double, est: Double)
  case class QuantState(hs: List[Long], vs: List[Double])

  /** Streaming quantile monitor — the streaming twin of
    * [[graft.model.Fitters.quantileSketch]]/[[graft.model.Fitters.quantileSketchEstimate]].
    * State per key is the k (md5-56 row hash, value) pairs with smallest
    * hash seen so far (O(k), constant in stream length); bottom-k of a
    * union is a function of per-batch bottom-k's, so after any batch
    * split the state equals the batch sketch of the union — the spec
    * pins that parity. The estimate uses the same lo + (hi−lo)·frac
    * interpolation as the batch fitter. Emits one snapshot row per
    * (key, prob, batch): append-legal, each row a new observation. */
  def quantileSketchStream(rows: DataFrame, keyCol: String, idCol: String,
      valueCol: String, k: Int, probs: Seq[Double]): Dataset[QuantOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val ps = probs.toArray
    val hashed = rows.select(col(keyCol).cast("string").as("key"),
      graft.text.TextOps.hash56(col(idCol).cast("string")).as("h"),
      col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull).as[(String, Long, Double)]
    hashed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, it: Iterator[(String, Long, Double)], st: GroupState[QuantState]) => {
          val prev = st.getOption.map(s => s.hs.zip(s.vs)).getOrElse(Nil)
          val merged = (prev.iterator ++ it.map(r => (r._2, r._3))).toArray
            .distinct.sortBy(identity).take(k)
          st.update(QuantState(merged.map(_._1).toList, merged.map(_._2).toList))
          val vs = merged.map(_._2).sorted
          val n = vs.length
          ps.iterator.map { p =>
            val idx = (n - 1) * p
            val lo = math.floor(idx).toInt
            val hi = math.ceil(idx).toInt
            QuantOut(key, n, p, vs(lo) + (vs(hi) - vs(lo)) * (idx - lo))
          }
        })
  }

  def heavyHitterStream(docs: DataFrame, textCol: String, n: Int,
      minCount: Long, nShards: Int = 64,
      capacity: Int = 4096): Dataset[HeavyGram] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = graft.text.TextOps.gramOccurrences(docs, textCol, n)
      .select(col("gram"),
        (graft.text.TextOps.hash56(col("gram")) % nShards).cast("int").as("shard"))
    grams.as[(String, Int)].groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (shard: Int, it: Iterator[(String, Int)], st: GroupState[SsState]) => {
          val s = st.getOption.getOrElse(SsState(Map.empty, Nil))
          val counters = collection.mutable.Map[String, (Long, Long)](
            s.counters.toSeq: _*)
          it.foreach { case (g, _) =>
            counters.get(g) match {
              case Some((c, e)) => counters.update(g, (c + 1, e))
              case None if counters.size < capacity => counters.update(g, (1L, 0L))
              case None =>
                // replace the minimum counter (ties to the smallest gram
                // so replays are deterministic); the newcomer inherits
                // the evicted estimate as its error bound
                val (mg, (mc, _)) = counters.minBy { case (k, (c, _)) => (c, k) }
                counters.remove(mg)
                counters.update(g, (mc + 1, mc))
            }
          }
          val emittedSet = s.emitted.toSet
          val out = counters.iterator.collect {
            case (g, (c, e)) if c - e >= minCount && !emittedSet.contains(g) =>
              HeavyGram(g, c, e)
          }.toList.sortBy(_.gram)
          st.update(SsState(counters.toMap, out.map(_.gram) ::: s.emitted))
          out.iterator
        })
  }

  /** Streaming face of the incremental-ingest admission
    * ([[graft.text.TextOps.incrementalIngest]]): candidate documents
    * arrive on a stream and are admitted against a STATIC retained
    * corpus. The Gopher hard gate is stateless expressions and could run
    * directly on the stream, but the near-dup flag is a per-doc
    * aggregation over LSH band matches — append mode only allows that
    * behind a watermark — so the verdict join runs per micro-batch via
    * foreachBatch, with THIS method as the batch body. `corpusBands` is
    * the retained corpus' band index
    * (`TextOps.lshBuckets(TextOps.minhash(corpus, …))`), built ONCE and
    * reused across every micro-batch — the amortized index artifact; a
    * batch's work is batch×bucket, never corpus². StreamSpec pins
    * stream/batch verdict parity against `incrementalIngest`.
    * Output: (idCol, qualityPass, isDup, admitted) as 0/1 BIGINTs. */
  def ingestVerdictBatch(batch: DataFrame, corpusBands: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 16, bandSize: Int = 4, minWords: Int = 50): DataFrame = {
    val t = graft.text.TextOps
    val gate = t.gopherRules(batch, idCol, textCol, minWords = minWords)
      .select(col(idCol), col("passed").as("qualityPass"))
    val bn = t.lshBuckets(
      t.minhash(batch, idCol, textCol, shingleSize, numHashes), idCol, bandSize)
    val dup = bn.join(corpusBands.select(col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col(idCol)).distinct().withColumn("isDup", lit(1L))
    batch.select(col(idCol))
      .join(gate, Seq(idCol))
      .join(dup, Seq(idCol), "left")
      .withColumn("isDup", coalesce(col("isDup"), lit(0L)))
      .withColumn("admitted",
        ((col("qualityPass") === 1L) && (col("isDup") === 0L))
          .cast("int").cast("long"))
  }

  case class TypedEvent(entity: String, seq: Long, typ: String)
  case class FunnelSt(step: Int, t: Long)
  case class FunnelOut(entity: String, step_idx: Long, step: String,
      t: Long)

  /** Streaming ordered-funnel progression — the online face of
    * `Behavior.funnel`: per entity, advance one step when an event of
    * the next step's type arrives STRICTLY after the previous step's
    * completion time; emit one row per completed step. A forward scan
    * in seq order picks exactly the min qualifying event per step, so
    * batch-executing this path and aggregating to per-step user counts
    * replays `Behavior.funnel` bit-for-bit (the q453 oracle gates it).
    * O(1) state: current step + its completion time. */
  def funnelStream(events: Dataset[TypedEvent],
      steps: Seq[String]): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnelStream needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    perEntity(events)("entity", e => (e.seq, e.typ), _ => FunnelSt(0, Long.MinValue)) {
      entity => (st, e) =>
        if (st.step < steps.length && e.typ == steps(st.step) &&
          (st.step == 0 || e.seq > st.t))
          (FunnelSt(st.step + 1, e.seq),
            Some(FunnelOut(entity, st.step + 1L, steps(st.step), e.seq)))
        else (st, None)
    }
  }

  /** Streaming ADWIN — the online face of [[graft.drift.Drift.adwin]],
    * sharing its step ([[graft.drift.Drift.adwinStep]]), so it is exact
    * batch parity row-for-row: per entity keep the 4dp prefix sums of
    * the window since the last drift; each arrival tests every cut with
    * the same Hoeffding bound and on drift the window restarts at the
    * current row. State is the current window (resets on drift) — the
    * detector's inherent memory; size it with upstream thinning as the
    * batch scaladoc documents. */
  def adwinStream(events: Dataset[ValueEvent], delta: Double,
      r: Double): Dataset[graft.drift.Drift.AdwinOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import graft.drift.Drift.{AdwinOut, AdwinState, adwinStep}
    perEntity(events)("entity", _.seq, _ => AdwinState()) { entity => (st, e) =>
      val (next, drift) = adwinStep(delta, r)(st, e.value)
      (next, Some(AdwinOut(entity, e.seq, e.value, next.winStart, drift)))
    }
  }

  /** Streaming Elo — the online face of
    * [[graft.model.Preference.eloTrajectory]], sharing its step
    * ([[graft.model.Preference.eloStep]]), so the trajectories match
    * bit-for-bit: the per-league rating map lives in GroupState
    * (item-vocabulary-sized), each match emits the two post-update
    * ratings append-only. */
  def eloStream(matches: Dataset[graft.model.Preference.EloMatch],
      k: Double = 32.0, init: Double = 1000.0):
      Dataset[graft.model.Preference.EloOut] = {
    val spark = matches.sparkSession
    import spark.implicits._
    perEntity(matches)("league", _.ord, _ => Map.empty[String, Double]) { _ => (r, m) =>
      val (next, row) = graft.model.Preference.eloStep(k, init)(r, m)
      (next, Some(row))
    }
  }

  // ------------------------------------------------------ round-11 twins

  case class DdsQOut(key: String, tau: Double, n: Long, est: Double)
  case class DdsState(counts: Map[Long, Long]) // (idx*4 + side+1) -> c

  /** Streaming DDSketch quantile monitor — the stateful twin of
    * [[graft.model.Sketches.ddsketchBuckets]]/[[graft.model.Sketches.ddsketchQuantiles]]:
    * the (side, idx) bucket map lives in GroupState (bounded by bucket
    * cardinality ~ log_γ(range) — constant-memory at ANY volume), each
    * micro-batch emits the current quantile snapshots. Bucket counts are
    * linear, so after any batch split the state equals the batch
    * histogram of the union — one batch == the batch operator exactly
    * (shares q528's oracle); the spec pins the cross-batch split too. */
  def ddsketchStream(rows: DataFrame, keyCol: String, valCol: String,
      taus: Seq[Double], gamma: Double = 1.02, eps0: Double = 1e-4):
      Dataset[DdsQOut] = {
    require(gamma > 1.0 && taus.nonEmpty, "gamma > 1, taus non-empty")
    val spark = rows.sparkSession
    import spark.implicits._
    val lg = math.log(gamma)
    val mid = 2.0 / (gamma + 1.0)
    val typed = rows
      .select(col(keyCol).cast("string").as("key"),
        col(valCol).cast("double").as("v"))
      .where(col("v").isNotNull).as[(String, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, it: Iterator[(String, Double)], st: GroupState[DdsState]) => {
          var m = st.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
          it.foreach { case (_, x) =>
            val (side, idx) =
              // StrictMath == Spark SQL's codegen'd log/exp (Math.exp
              // strays by 1 ulp on some args — measured at idx=184)
              if (x > eps0)
                (1, math.ceil(java.lang.StrictMath.log(x) / lg).toLong)
              else if (x < -eps0)
                (-1, math.ceil(java.lang.StrictMath.log(-x) / lg).toLong)
              else (0, 0L)
            val k = idx * 4 + (side + 1)
            m = m.updated(k, m.getOrElse(k, 0L) + 1L)
          }
          st.update(DdsState(m))
          val buckets = m.toArray.map { case (k, c) =>
            val side = (((k % 4) + 4) % 4).toInt - 1
            val idx = (k - (side + 1)) / 4
            (side, idx, c)
          }
          // value order: side asc, then signed idx (the batch walk)
          val sorted = buckets.sortBy { case (side, idx, _) =>
            (side, if (side == -1) -idx else idx)
          }
          val n = sorted.map(_._3).sum
          taus.iterator.map { tau =>
            val rk = math.floor(tau * (n - 1).toDouble).toLong + 1
            var cum = 0L
            var est = 0.0
            var done = false
            sorted.foreach { case (side, idx, c) =>
              if (!done) {
                cum += c
                if (cum >= rk) {
                  est = if (side == 0) 0.0
                    else side.toDouble * mid *
                      java.lang.StrictMath.exp(idx.toDouble * lg)
                  done = true
                }
              }
            }
            DdsQOut(key, tau, n, est)
          }
        })
  }

  case class MsprtOut(key: String, t: Long, delta_mean: Double,
      log_lambda: Double, p_always: Double, decided: Boolean)
  case class MsprtState(t: Long, sd4: Long, maxLl: Double)

  /** Streaming mixture-SPRT monitor — the O(1)-state twin of
    * [[graft.model.Experiment.msprt]]: per key the state is
    * (count, exact 4dp delta sum, running-max ln Λ); each batch sorts
    * its arrivals by `ord` and replays the batch recursion row for row
    * (bit-exact parity — the Elo-twin discipline), so one batch ==
    * the batch operator exactly (shares q519's oracle). */
  def msprtStream(rows: DataFrame, keyCol: String, ordCol: String,
      aCol: String, bCol: String, sigma2: Double, tau2: Double,
      alpha: Double = 0.05): Dataset[MsprtOut] = {
    require(sigma2 > 0 && tau2 > 0, "sigma2 and tau2 must be positive")
    val spark = rows.sparkSession
    import spark.implicits._
    def rha(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong
    val typed = rows.select(col(keyCol).cast("string").as("key"),
      col(ordCol).cast("long").as("o"),
      col(aCol).cast("double").as("a"), col(bCol).cast("double").as("b"))
      .as[(String, Long, Double, Double)]
    perEntity(typed)("key", _._2, _ => MsprtState(0L, 0L, Double.NegativeInfinity)) {
      key => (st, row) =>
        val t = st.t + 1
        val sd4 = st.sd4 + rha((row._4 - row._3) * 1e4)
        val n = t.toDouble
        val v = 2.0 * sigma2 + n * tau2
        val dm = sd4.toDouble / 1e4 / n
        // StrictMath: bit-parity with the batch op's SQL log/exp
        val ll = 0.5 * java.lang.StrictMath.log(2.0 * sigma2 / v) +
          tau2 * n * n * dm * dm / (4.0 * sigma2 * v)
        val maxLl = if (ll > st.maxLl) ll else st.maxLl
        val p = math.min(1.0, java.lang.StrictMath.exp(-maxLl))
        (MsprtState(t, sd4, maxLl), Some(MsprtOut(key, t, dm, ll, p, p <= alpha)))
    }
  }
}
