package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.schemas.Entities
import graft.util.Checkpointer.CheckpointSyntax

/** Structured-Streaming ingest layer (SURVEY.md §2.8 ST1–ST6) — the
  * Spark-native replacement for the reference's Kafka consumer processes
  * (project/neo4j/consumer_user.py, consumer_post.py,
  * project/qdrant/consumer_post.py).
  *
  * Zero-egress build: file-backed streams stand in for Kafka topics
  * (readStream.json(dir) ≡ subscribe; checkpoint dir ≡ consumer group;
  * `Trigger.AvailableNow` ≡ drain-the-topic). The operator semantics —
  * declared-schema decode, tagged-union routing, idempotent keyed upserts —
  * are identical.
  */
object Streams {

  /** ST1/S2 — subscribe to a topic with a declared schema (no inference in
    * production paths, SURVEY.md §1.4). File-backed JSON directory by
    * default; pass `broker` (bootstrap-servers) to consume the same topic
    * from Kafka through the spark-sql-kafka connector — the record value
    * is the same JSON payload, decoded with the same declared schema, and
    * `startingOffsets` carries S3's offset-reset semantics
    * (earliest ≙ the reference's auto_offset_reset, consumer_user.py:25-32).
    * The broker branch is CONFIG-ONLY in this build: the zero-egress
    * container ships neither a broker nor the Kafka connector jar, so the
    * path is shipped but unexercised here — a user with a cluster flips
    * one argument. */
  def subscribe(spark: SparkSession, topic: String, schema: StructType,
      broker: Option[String] = None,
      startingOffsets: String = "earliest"): DataFrame =
    broker match {
      case Some(servers) =>
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", servers)
          .option("subscribe", topic)
          .option("startingOffsets", startingOffsets)
          .load()
          .select(from_json(col("value").cast("string"), schema).as("r"))
          .select(col("r.*"))
      case None => spark.readStream.schema(schema).json(topic)
    }

  /** S1 — produce a stream to a topic as JSON records: file-backed text
    * directory by default; with `broker`, the identical payload goes to a
    * Kafka topic (`value` = the JSON). Same config-only caveat as
    * [[subscribe]]'s broker branch. */
  def publishSink(stream: DataFrame, topic: String, checkpoint: String,
      broker: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] = {
    val payload = stream
      .select(to_json(struct(stream.columns.map(col): _*)).as("value"))
    val w = broker match {
      case Some(servers) => payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
      case None => payload.writeStream.format("text").option("path", topic)
    }
    w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
  }

  /** F5 — tagged-union routing: one topic carries profile records and LIKED
    * events discriminated by `type` (consumer_user.py:79-82). */
  def routeUserStream(stream: DataFrame): (DataFrame, DataFrame) = {
    val likes = stream.filter(col("type") === "LIKED")
      .select(col("user_did"), col("uri"))
    val profiles = stream.filter(col("type").isNull || col("type") =!= "LIKED")
      .select(col("did"), col("handle"), col("display_name"), col("description"))
    (profiles, likes)
  }

  /** F1 — the `clean` coalesce: null/empty → "unknown"
    * (consumer_user.py:39-41). */
  def cleanProfiles(profiles: DataFrame): DataFrame =
    profiles.select(
      col("did"),
      coalesce(nullif(trim(col("handle")), lit("")), lit("unknown")).as("handle"),
      coalesce(nullif(trim(col("display_name")), lit("")), lit("unknown")).as("display_name"))

  /** Default state-table bucket count — sized for the testdata scale; a
    * 100 TB deployment passes a count that puts each bucket at a few
    * hundred MB (the marker file pins whatever a table was created
    * with). */
  val DefaultMergeBuckets = 16

  /** Bucket routing for the state layout: pmod(xxhash64(key), n). Null
    * keys are legal (the old window formulation grouped them) and route
    * to pmod(seed, n) — Spark's xxhash64(NULL) returns its seed (42),
    * never NULL — so they land in one ordinary bucket like any other key
    * value. Probe, pruned read and partitioned write all use this one
    * expression; that consistency (not the specific bucket) is what the
    * layout needs. */
  private def bucketExpr(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets)).cast("int")

  /** A table's pinned bucket count (`_graft_buckets` marker wins over the
    * caller's default — mixing counts would route a key to a bucket its
    * old rows are not in). */
  private def resolveBuckets(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path, default: Int): Int = {
    val markerPath = new org.apache.hadoop.fs.Path(tableDir, "_graft_buckets")
    if (fs.exists(tableDir) && fs.exists(markerPath)) {
      val in = fs.open(markerPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next().trim.toInt
      finally in.close()
    } else default
  }

  /** ONE touched-bucket probe serving several derived merges of a shared
    * micro-batch (the EP1 fan-out runs users+edges off one cached topic
    * batch; probing per merge paid the fixed per-job floor once per
    * table). Tags each derived batch's distinct bucket set with its index
    * and collects the union in a single Spark action; the result feeds
    * [[mergeUpsert]]'s `touchedHint`. Returns (resolvedBucketCount,
    * touchedBuckets) per input, positionally. */
  def probeTouched(batches: Seq[(DataFrame, String, String, Int)]): Array[(Int, Array[Int])] = {
    require(batches.nonEmpty, "probeTouched needs at least one batch")
    val spark = batches.head._1.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val counts = batches.map { case (_, _, tablePath, default) =>
      val dir = new org.apache.hadoop.fs.Path(tablePath)
      resolveBuckets(dir.getFileSystem(hconf), dir, default)
    }
    val tagged = batches.zipWithIndex.map { case ((batch, keyCol, _, _), i) =>
      batch.select(lit(i).as("__t"),
        bucketExpr(col(keyCol), counts(i)).as("__bucket")).distinct()
    }.reduce(_ unionByName _)
    val hit = tagged.collect()
      .groupBy(_.getInt(0))
      .map { case (t, rows) => t -> rows.map(_.getInt(1)).sorted }
    counts.indices.map(i => (counts(i), hit.getOrElse(i, Array.empty[Int]))).toArray
  }

  /** The MERGE step of [[upsertSink]], batch-callable (and composable: one
    * foreachBatch can merge several derived tables from a single topic —
    * the EP1 fan-out): union the existing state for the batch's key range
    * with the batch, keep the latest record per key, swap the result in
    * with per-directory renames.
    *
    * Scale shape — INCREMENTAL, not O(total state): the state table is
    * laid out hash-bucketed by key (`__bucket=<n>` hive-style dirs, n =
    * pmod(xxhash64(key), buckets)), so a micro-batch reads and rewrites
    * ONLY the buckets its keys hash into (partition pruning on the read,
    * per-bucket rename swap on the write). IO per merge is
    * O(batch + touched-bucket state) — at 100 TB of vertex/vector state a
    * small batch touches a few buckets' files, never the table. The bucket
    * count is recorded in a `_graft_buckets` marker at table root and that
    * recorded count always wins, so a caller changing the default can
    * never split a key across two layouts. (Delta/Iceberg MERGE is the
    * managed-production answer; this is the same discipline on raw
    * parquet.)
    *
    * Crash safety, per bucket: live bucket dir → staged at
    * `<table>__old/__bucket=n`, then the freshly-written bucket renamed
    * in; at every crash point each bucket's pre-merge state survives in
    * exactly one of the two places, and the restore pass at the top of the
    * next attempt puts staged buckets back before anything is read. That
    * is WRITER crash safety only, not reader isolation: the swap is not
    * atomic across buckets, so a reader overlapping an in-flight merge
    * can observe a mix of pre- and post-merge buckets (or a momentarily
    * absent one) — readers must not overlap a merge (single-writer,
    * read-after-drain contract, same as the old whole-dir swap implied). A
    * whole-dir swap (same staging discipline one level up) is used only
    * for table creation and one-shot migration of a legacy flat layout. */
  def mergeUpsert(batch: DataFrame, tablePath: String, keyCol: String,
      buckets: Int = DefaultMergeBuckets,
      touchedHint: Option[(Int, Array[Int])] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val tableDir = new Path(tablePath)
    val stageDir = new Path(tablePath + "__old")
    val tmpDir = new Path(tablePath + "__tmp")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // ---- crash recovery FIRST: a crash mid-swap leaves pre-merge state
    // staged under __old (whole table or single buckets, live side gone) —
    // restore it before the missing-table/missing-bucket tests below, or
    // the replayed batch would read 'no state' and silently discard
    // previously upserted rows while the checkpoint marks the batch done
    if (fs.exists(stageDir)) {
      if (!fs.exists(tableDir)) {
        // crashed whole-dir swap (creation/migration): stage IS the table
        if (!fs.rename(stageDir, tableDir))
          throw new java.io.IOException(s"cannot restore staged state $stageDir")
      } else {
        // crashed per-bucket swap: restore buckets whose live dir is gone;
        // a staged bucket whose live dir EXISTS was already re-swapped
        // post-merge (live is newer) — dropped with the stage dir
        fs.listStatus(stageDir).foreach { st =>
          val live = new Path(tableDir, st.getPath.getName)
          if (st.getPath.getName.startsWith("__bucket=") && !fs.exists(live) &&
              !fs.rename(st.getPath, live))
            throw new java.io.IOException(s"cannot restore staged bucket ${st.getPath}")
        }
        if (!fs.delete(stageDir, true))
          throw new java.io.IOException(s"cannot clear stale $stageDir")
      }
    }

    val exists = fs.exists(tableDir)
    // legacy flat layout (data files at table root): migrate to the
    // bucketed layout in one whole-table rewrite, this merge only
    val legacyFlat = exists && fs.listStatus(tableDir).exists(s =>
      s.isFile && !s.getPath.getName.startsWith("_"))
    // the layout's recorded bucket count wins over the parameter — mixing
    // counts would route a key to a bucket its old rows are not in and
    // the keep-latest dedup would never see them (see resolveBuckets)
    val nBuckets = resolveBuckets(fs, tableDir, buckets)
    def bucketOf(c: Column): Column = bucketExpr(c, nBuckets)

    val incremental = exists && !legacyFlat
    // a precomputed probe (probeTouched — the shared-batch fan-out path)
    // is honored only if it was derived under the same bucket count this
    // merge resolved; a crash-restored marker can differ from what the
    // probe saw, and a mismatched hint would route keys to buckets their
    // old rows are not in — fall back to probing locally
    val hinted = touchedHint.collect {
      case (n, t) if n == nBuckets => t
    }
    // incremental merges without a hint evaluate the batch twice
    // (touched-bucket probe + merge write) — cache it so a JSON topic
    // decode doesn't run twice; with a hint (or on creation/migration)
    // the merge is a single pass and skips the cache entirely
    val keyed0 = batch.withColumn("__bucket", bucketOf(col(keyCol)))
    val cachesBatch = incremental && hinted.isEmpty
    val keyed =
      if (cachesBatch)
        keyed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else keyed0
    // any failure between the persist and the end of the merge (probe,
    // read, write, a failed swap rename) must still drop the cached
    // batch — foreachBatch retries would otherwise stack one copy per
    // attempt
    try {
    // the probe: which buckets does this batch touch — the price of
    // reading only those buckets back; batch ≪ state is the regime this
    // layout exists for. Creation needs no probe (nothing to read back):
    // touched is recovered from the written directory listing instead.
    val touched: Array[Int] =
      if (!incremental) Array.empty
      else hinted.getOrElse(
        keyed.select(col("__bucket")).distinct()
          .collect().map(_.getInt(0)).sorted)
    if (incremental && touched.isEmpty) {
      return // empty batch: state untouched
    }

    val existing =
      if (!exists) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keyed.schema)
      else if (legacyFlat)
        spark.read.parquet(tablePath).withColumn("__bucket", bucketOf(col(keyCol)))
      else // bucketed: partition pruning keeps untouched buckets unread
        spark.read.parquet(tablePath)
          .filter(col("__bucket").isin(touched.toSeq: _*))
          .withColumn("__bucket", col("__bucket").cast("int"))

    // keep-latest dedup (within the batch AND against existing state) in
    // ONE shuffle, aligned with the write layout: hash-repartition by
    // bucket (a key's rows all share its bucket, so they co-locate), sort
    // each partition by (key, batch-first), keep the first row per key
    // with a linear scan. A window over the key would shuffle by key and
    // then need a SECOND shuffle back to bucket order for the partitioned
    // write; a dropDuplicates on the batch would be a third.
    val unioned = existing.withColumn("__p", lit(0))
      .unionByName(keyed.withColumn("__p", lit(1)))
      .repartition(col("__bucket"))
      .sortWithinPartitions(col(keyCol), col("__p").desc)
    val keyIdx = unioned.schema.fieldIndex(keyCol)
    val merged = unioned.mapPartitions { it =>
      var started = false
      var prev: Any = null
      it.filter { r =>
        val k = r.get(keyIdx)
        // deepEquals: binary keys arrive as Array[Byte], where != is
        // reference inequality and would never deduplicate
        val keep = !started || !java.util.Objects.deepEquals(k, prev)
        started = true; prev = k
        keep
      }
    }(org.apache.spark.sql.Encoders.row(unioned.schema)).drop("__p")

    def writeMarker(dir: Path, count: Int): Unit = {
      val out = fs.create(new Path(dir, "_graft_buckets"), true)
      try out.write(s"$count\n".getBytes("UTF-8")) finally out.close()
    }

    merged.write.partitionBy("__bucket").mode("overwrite").parquet(tmpDir.toString)

    if (!incremental && !fs.listStatus(tmpDir).exists(
        _.getPath.getName.startsWith("__bucket="))) {
      // creating a table from an empty batch: the partitioned write of
      // zero rows left no footer at all — write a flat empty parquet so
      // the schema stays readable; the first real batch migrates it
      fs.delete(tmpDir, true)
      merged.drop("__bucket").write.mode("overwrite").parquet(tablePath)
      return
    }

    if (!incremental) {
      // table creation / legacy migration: whole-dir staged swap
      writeMarker(tmpDir, nBuckets)
      if (fs.exists(stageDir) && !fs.delete(stageDir, true))
        throw new java.io.IOException(s"cannot clear stale $stageDir")
      if (fs.exists(tableDir) && !fs.rename(tableDir, stageDir))
        throw new java.io.IOException(s"cannot stage $tableDir for swap")
      if (!fs.rename(tmpDir, tableDir)) {
        fs.rename(stageDir, tableDir) // best-effort restore
        throw new java.io.IOException(s"state swap failed for $tableDir")
      }
      if (fs.exists(stageDir) && !fs.delete(stageDir, true))
        throw new java.io.IOException(s"cannot clear staged $stageDir after swap")
    } else {
      // an UNDER-covering touchedHint is fatal, loudly: a bucket the write
      // produced but the hint omitted was (a) never read back into the
      // union — swapping it in would drop that bucket's existing state —
      // and (b) about to be deleted with tmpDir — skipping it would drop
      // the batch's rows. Neither is recoverable here, so fail before any
      // bucket is renamed (pre-merge state fully intact).
      val written = fs.listStatus(tmpDir).map(_.getPath.getName)
        .filter(_.startsWith("__bucket="))
        .map(_.stripPrefix("__bucket=").toInt).toSet
      val unhinted = written -- touched
      if (unhinted.nonEmpty)
        throw new java.io.IOException(
          s"touchedHint omitted bucket(s) ${unhinted.toSeq.sorted.mkString(",")} " +
          s"that the batch wrote to $tmpDir — aborting merge before swap " +
          "(their existing state was never merged; proceeding would lose rows)")
      // per-bucket staged swap — untouched buckets' files are never
      // listed, read, rewritten or renamed
      if (!fs.mkdirs(stageDir))
        throw new java.io.IOException(s"cannot create stage dir $stageDir")
      touched.foreach { b =>
        val name = s"__bucket=$b"
        val liveB = new Path(tableDir, name)
        val tmpB = new Path(tmpDir, name)
        if (!fs.exists(tmpB)) // every touched bucket holds ≥1 batch row
          throw new java.io.IOException(s"merge wrote no data for $tmpB")
        if (fs.exists(liveB) && !fs.rename(liveB, new Path(stageDir, name)))
          throw new java.io.IOException(s"cannot stage $liveB for swap")
        if (!fs.rename(tmpB, liveB)) {
          fs.rename(new Path(stageDir, name), liveB) // best-effort restore
          throw new java.io.IOException(s"bucket swap failed for $liveB")
        }
      }
      if (!fs.delete(stageDir, true))
        throw new java.io.IOException(s"cannot clear staged $stageDir after swap")
      if (fs.exists(tmpDir) && !fs.delete(tmpDir, true))
        throw new java.io.IOException(s"cannot clear $tmpDir after swap")
    }
    ()
    } finally if (cachesBatch) keyed.unpersist(blocking = false)
  }

  /** S5/ST2 — idempotent keyed upsert sink: each micro-batch merges into a
    * parquet "table" keeping the latest record per key (MERGE semantics via
    * union + keep-last dedup; replays converge to the same state). */
  def upsertSink(batches: DataFrame, tablePath: String, keyCol: String,
      checkpoint: String,
      buckets: Int = DefaultMergeBuckets): DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeUpsert(batch, tablePath, keyCol, buckets)
      }

  /** S6/F2/X4/X5 — the vector-ingest transform of the reference's Qdrant
    * consumer (project/qdrant/consumer_post.py:67-108): required-field
    * validation (blank text / missing cid dropped), deterministic content
    * id (md5 of cid ≙ uuid5), deterministic embedding. Works identically
    * on batch and streaming DataFrames; pair with [[upsertSink]] keyed on
    * `id` for the idempotent vector-store write. */
  def embedPosts(posts: DataFrame, dim: Int = 64): DataFrame =
    posts
      .filter(length(trim(col("text"))) > 0 && col("cid").isNotNull)
      .select(
        md5(col("cid")).as("id"),
        col("uri"),
        col("text"),
        graft.functions.TextExpressions.embed_text(col("text"), dim).as("embedding"))

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(start: Long, end: Long, n: Int)
  case class SessionOut(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Int)

  /** ST4 beyond dedup — custom keyed state via flatMapGroupsWithState:
    * event-time sessionization with a gap timeout. One session row is
    * emitted when a user's gap exceeds `gapMs`, OR when the event-time
    * timeout fires (watermark passed session end + gap) — so the trailing
    * session of a quiet user IS emitted and its state evicted, never held
    * forever. State is one (start, end, count) triple per active user —
    * bounded by construction, evicted by timeout. */
  def sessionizeStream(events: Dataset[SessionEvent], gapMs: Long = 1800000L,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: the session can never grow again
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start * 1000, s.end * 1000, s.n))
          } else {
            val sorted = it.map(_.ts.getTime).toSeq.sorted
            var out = List.empty[SessionOut]
            var st = state.getOption
            sorted.foreach { t =>
              st match {
                case Some(s) if t - s.end <= gapMs =>
                  st = Some(s.copy(end = t, n = s.n + 1))
                case Some(s) =>
                  out ::= SessionOut(user, s.start * 1000, s.end * 1000, s.n)
                  st = Some(SessionState(t, t, 1))
                case None =>
                  st = Some(SessionState(t, t, 1))
              }
            }
            st.foreach { s =>
              state.update(s)
              // timeout ts must stay ahead of the current watermark
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs + 1))
            }
            out.reverseIterator
          }
      }
  }

  /** SET3/ST4 — streaming dedup with watermarked state (the reference's
    * unbounded `seen_users` set, given a TTL so state can't grow forever —
    * SURVEY.md §7 step 6). KEYED dedup: duplicates of a key arriving at
    * different timestamps are still duplicates (the reference's seen-set
    * semantics); state for a key is dropped once the watermark passes it. */
  /** WINDOWED DISTINCT-COUNT over a stream with BOUNDED state: the
    * [[graft.functions.HllSketch]] registers as a streaming aggregation.
    * An exact `approx/count distinct per window` keeps every key in the
    * state store (the reason SET3's visited-set needs its watermark to
    * stay sane); this keeps ≤ m=512 register rows PER WINDOW regardless
    * of how many users the window sees — the sketch's map-side max merge
    * IS Structured Streaming's incremental state update, so late data
    * within the watermark folds in correctly for free. Downstream,
    * [[graft.functions.HllSketch.groupedSummary]] over the register
    * table (keyed by window) yields the per-window estimates.
    *
    * Returns the streaming register frame (window, b, reg) — attach any
    * sink; state ∝ open windows × m. */
  def windowedDistinctHll(stream: DataFrame, tsCol: String, valCol: String,
      windowDur: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.HllSketch
    val h = conv(substring(md5(concat(lit("hll:"), col(valCol))), 1, 15), 16, 10)
      .cast("long")
    val sfx = h.bitwiseAND(lit((1L << HllSketch.RankBits) - 1))
    stream.withWatermark(tsCol, watermark)
      .select(window(col(tsCol), windowDur).as("win"),
        shiftright(h, HllSketch.RankBits).as("b"),
        when(sfx === 0L, lit(HllSketch.MaxRank))
          .otherwise(lit(HllSketch.MaxRank) - length(bin(sfx)))
          .cast("int").as("rank"))
      .groupBy(col("win"), col("b"))
      .agg(max(col("rank")).as("reg"))
  }

  /** WINDOWED FREQUENCY SKETCH over a stream — the count-min twin of
    * [[windowedDistinctHll]] (trending-token queries per event-time
    * window at 100 TB/day event rates): the [[graft.functions.CmsSketch]]
    * d×w grid AS the streaming aggregation, so state is ≤ d·w counter
    * rows per open window regardless of vocabulary (an exact per-token
    * count would hold every distinct token in the state store). Counter
    * addition IS the incremental state update — late data inside the
    * watermark folds in exactly. Probe closed windows downstream with
    * [[graft.functions.CmsSketch.estimates]]. Returns the streaming
    * (win, r, b, c) grid frame. */
  def windowedTokenCms(stream: DataFrame, tsCol: String, tokCol: String,
      windowDur: String = "1 hour", watermark: String = "2 hours",
      d: Int = 3, w: Int = 512): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.CmsSketch
    CmsSketch.requireDims(d, w)
    stream.withWatermark(tsCol, watermark)
      .select(window(col(tsCol), windowDur).as("win"),
        CmsSketch.hash60(col(tokCol)).as("_u60"))
      .select(col("win"),
        explode(array((0 until d).map(r =>
          struct(lit(r).as("r"),
            CmsSketch.bucket(r, col("_u60"), w).as("b"))): _*))
          .as("rb"))
      .groupBy(col("win"), col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** WINDOWED MEMBERSHIP SKETCH over a stream — the Bloom leg of the
    * streaming sketch family ([[windowedDistinctHll]] = cardinality,
    * [[windowedTokenCms]] = frequency, this = membership: "has this
    * gram/url/id appeared in this window?" at 100 TB/day rates): the
    * [[graft.functions.BloomSketch]] bitset AS the streaming
    * aggregation, held as (win, word) → mask rows so state is ≤ k·m/64
    * rows per open window regardless of key cardinality, with bitwise-OR
    * (the Bloom merge) as the state update — idempotent, so late or
    * replayed data inside the watermark cannot corrupt a bit. The word
    * layout matches [[graft.functions.BloomSketch.bloom_build_hex]]
    * exactly (word = r·m/64 + p≫6, bit = p∧63): a closed window's rows
    * assemble into the batch bitset bit-for-bit (spec-pinned), so the
    * batch probe ([[graft.functions.BloomSketch.bloom_probe_hex]]) and
    * the q106 gate run unchanged against windows drained from a stream.
    * `hexCol` = md5-hex keys (the docSigGrams/Md5WordShingles output).
    * Returns the streaming (win, word, mask) frame — attach any sink. */
  def windowedGramBloom(stream: DataFrame, tsCol: String, hexCol: String,
      windowDur: String = "1 hour", watermark: String = "2 hours",
      mBits: Int = 1 << 17, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.BloomSketch
    BloomSketch.requireDims(mBits, k)
    val wordsPerRow = mBits / 64
    val u = conv(substring(col(hexCol), 1, 15), 16, 10).cast("long")
    stream.withWatermark(tsCol, watermark)
      // null keys are skipped exactly like the batch build (BloomHexAgg
      // ignores null input) — without this a null hexCol row would emit a
      // spurious (win, null, null) state row, breaking the <= k*m/64
      // state bound and the bit-for-bit batch parity pin
      .filter(col(hexCol).isNotNull)
      // u60 materialized BELOW the generator (the q87 r12 CSE discipline)
      .select(window(col(tsCol), windowDur).as("win"), u.as("_u60"))
      .select(col("win"), explode(array((0 until k).map { r =>
        val p = shiftrightunsigned(col("_u60"), 17 * r)
          .bitwiseAND(lit((mBits - 1).toLong))
        struct(
          (shiftrightunsigned(p, 6) + lit(r.toLong * wordsPerRow)).as("word"),
          call_function("shiftleft", lit(1L),
            p.bitwiseAND(lit(63L)).cast("int")).as("mask"))
      }: _*)).as("wm"))
      .groupBy(col("win"), col("wm.word").as("word"))
      .agg(bit_or(col("wm.mask")).as("mask"))
  }

  /** Densify ONE drained window's [[windowedGramBloom]] rows into the
    * single-row (bloom: array<long>) frame the batch probe tier reads
    * ([[graft.functions.BloomSketch.bloom_probe_hex]], the q106 gate via
    * [[graft.queries.CorpusQueries.bloomDecontamGate]]): absent words
    * read 0, duplicate word rows (a retried append re-emitting a window)
    * bit_or together — assembly is idempotent like every other step of
    * the bloom family. Caller selects the target window's rows first
    * (`drained.filter($"win.start" === ...)`); the result is
    * broadcast-sized by construction (k·m/64 longs). */
  def assembleWindowBloom(rows: DataFrame, mBits: Int = 1 << 17,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.BloomSketch.requireDims(mBits, k)
    val n = k.toLong * mBits / 64
    rows.groupBy(col("word")).agg(bit_or(col("mask")).as("mask"))
      .agg(map_from_entries(collect_list(
        struct(col("word"), col("mask")))).as("wm"))
      .select(transform(sequence(lit(0L), lit(n - 1)),
        i => coalesce(element_at(col("wm"), i), lit(0L))).as("bloom"))
  }

  def dedupStream(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Fingerprint store schema for [[ingestGateSink]]: one row per
    * accepted document — its exact-tier md5 signature and its DISTINCT
    * md5 8-gram shingles ([[graft.dedup.Dedup.docSigGrams]] output minus
    * the doc id, which the gate never reads on the store side). */
  private[graft] val ingestStoreSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("grams",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))))

  /** Seed the [[ingestGateSink]] store from an already-deduplicated batch
    * corpus: its fingerprints land in the `batch=bootstrap` partition —
    * bit-compatible with what each micro-batch computes (same
    * [[graft.dedup.Dedup.docSigGrams]] kernel), and never collides with
    * the numeric per-batch partitions the sink writes. Re-running it
    * rewrites that partition in place; the next gate reads the new
    * content, since every gate lists the store afresh. */
  def bootstrapIngestStore(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, n: Int = 8): Unit =
    graft.dedup.Dedup.docSigGrams(docs, idCol, textCol, n)
      .select(col("sig"), col("grams"))
      .write.mode("overwrite").parquet(s"$storePath/batch=bootstrap")

  /** The fingerprint store's (sig, grams) rows, read from its `batch=*`
    * partitions minus `batch=<excludeBatch>` — a retried micro-batch must
    * not gate against the fingerprints its own earlier (possibly partial)
    * attempt appended, or every replayed doc reads as a duplicate of
    * itself. An empty frame when the store does not exist yet (the
    * bootstrap-less first increment) or holds no other partition. Each
    * call lists the store afresh, so a partition rewritten in place is
    * read as it is now. */
  private def readIngestStore(spark: SparkSession, storePath: String,
      excludeBatch: Option[Long]): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName)
        .filterNot(n => excludeBatch.exists(b => n == s"batch=$b"))
        .sorted
    if (parts.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        ingestStoreSchema)
    else spark.read.schema(ingestStoreSchema)
      .parquet(parts.map(n => s"$storePath/$n"): _*)
  }

  /** Gate a fingerprinted batch (doc_id, sig, grams) against the store
    * at `storePath` with [[graft.dedup.Dedup.gateAgainstStore]], every
    * partition but `batch=<excludeBatch>` read by [[readIngestStore]]. */
  private[graft] def gateAgainstIngestStore(fp: DataFrame, storePath: String,
      excludeBatch: Option[Long]): DataFrame = {
    val store = readIngestStore(fp.sparkSession, storePath, excludeBatch)
    graft.dedup.Dedup.gateAgainstStore(fp, store.select(col("sig")),
      store.select(explode(col("grams")).as("h")))
  }

  /** One micro-batch of the ingest gate (the [[ingestGateSink]] kernel,
    * factored out so a retry is directly testable): fingerprint the
    * batch, gate it against every store partition EXCEPT this batch's
    * own, then idempotently (mode=overwrite per batch-keyed partition)
    * write (a) the accepted docs' fingerprints into the store and (b)
    * every verdict row (doc_id, exact_dup, n_grams, n_shared, drop_doc)
    * to the output table. Deterministic given the batch content, so a
    * foreachBatch retry with the same batchId converges to byte-equal
    * state (ST2) — the self-exclusion is what makes the retried gate
    * read the same store the first attempt saw. */
  private[graft] def ingestGateBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, storePath: String, outPath: String,
      n: Int): Unit = {
    // three consumers (gate sig keys, gate gram keys and verdict plan,
    // the accepted-fingerprint join): fingerprint once
    val fp = graft.dedup.Dedup.docSigGrams(batch, idCol, textCol, n)
      .cp()
    try {
      // two consumers: the accepted-fingerprint join and the verdict write
      val verdicts = gateAgainstIngestStore(fp, storePath, Some(batchId)).cp()
      try {
        fp.join(verdicts.filter(!col("drop_doc")).select(col("doc_id")),
            Seq("doc_id"))
          .select(col("sig"), col("grams"))
          .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        verdicts.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      } finally graft.util.BlockRelease.release(verdicts)
    } finally graft.util.BlockRelease.release(fp)
  }

  /** INCREMENTAL INGEST GATE as a streaming sink — completes the
    * reference's crawl-increment dedup loop (producer_main.py:128-163
    * dedups each crawl increment against everything already ingested
    * before producing it): subscribe the document topic, then each
    * micro-batch is gated against the persisted fingerprint store with
    * [[graft.dedup.Dedup.gateAgainstStore]] and the store grows by the
    * ACCEPTED docs' fingerprints only, one `batch=<id>` partition per
    * non-empty micro-batch (the store side of the gate is left-semi, so
    * the append-only partitions need no store-wide distinct). Verdicts
    * land in `outPath`, one partition per batch; both writes are
    * per-batchId overwrites, so same-checkpoint replays converge (ST2).
    * A FRESH checkpoint over a non-empty store re-gates the topic
    * against fingerprints of the same docs (batch ids restart at 0 but
    * prior partitions persist) — bootstrap a new store (or
    * [[bootstrapIngestStore]]) when re-consuming from earliest.
    * Batch↔store only: within-batch duplicates are the upstream
    * [[dedupStream]]'s job, matching the batch-tier
    * [[graft.dedup.Dedup.incrementalIngestGate]] contract.
    *
    * The gate reads only the store's `batch=*` partitions, so stores
    * written by earlier versions gate unchanged: their `_idx` and
    * `_bloom` directories are never read, and their `batch=compacted_*`
    * partitions are read like any other. */
  def ingestGateSink(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, outPath: String, checkpoint: String,
      n: Int = 8): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestGateBatch(batch, batchId, idCol, textCol, storePath, outPath, n)
      }
}
