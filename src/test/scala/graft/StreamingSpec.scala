package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.schemas.Entities
import graft.streaming.Streams

/** Streaming semantics (SURVEY.md §2.8): file-backed topics, tagged-union
  * routing, idempotent upserts under replay (ST2 — the MERGE/uuid5
  * discipline of the reference consumers). */
class StreamingSpec extends SparkSpec with Matchers {

  private def writeTopic(records: Seq[String]): String = {
    val dir = Files.createTempDirectory("topic").toFile
    val f = new java.io.File(dir, "batch0.json")
    val w = new java.io.PrintWriter(f)
    records.foreach(w.println)
    w.close()
    dir.getAbsolutePath
  }

  private val userTopic = Seq(
    """{"did":"d1","handle":"alice","display_name":"Alice","description":"hi"}""",
    """{"did":"d2","handle":"","display_name":null,"description":null}""",
    """{"user_did":"d1","uri":"p1","type":"LIKED"}""",
    """{"user_did":"d2","uri":"p1","type":"LIKED"}""",
    """{"did":"d1","handle":"alice2","display_name":"Alice","description":"hi"}""")

  test("tagged-union routing + clean coalesce (F5/F1, consumer_user.py:39-41,79-82)") {
    val dir = writeTopic(userTopic)
    val stream = Streams.subscribe(spark, dir, Entities.userStreamSchema)
    val (profiles, likes) = Streams.routeUserStream(stream)
    val cleaned = Streams.cleanProfiles(profiles)

    val pq = cleaned.writeStream.format("memory").queryName("profiles_t").start()
    val lq = likes.writeStream.format("memory").queryName("likes_t").start()
    pq.processAllAvailable(); pq.stop()
    lq.processAllAvailable(); lq.stop()

    val ps = spark.sql("SELECT * FROM profiles_t").collect()
    ps.length shouldBe 3 // two d1 profile versions + d2
    val d2 = ps.find(_.getString(0) == "d2").get
    d2.getString(1) shouldBe "unknown" // empty handle coalesced
    d2.getString(2) shouldBe "unknown" // null display_name coalesced
    spark.sql("SELECT * FROM likes_t").count() shouldBe 2
  }

  test("mergeUpsert recovers state staged at __old by a crashed swap (ST2 durability)") {
    val s2 = spark
    import s2.implicits._
    val table = Files.createTempDirectory("swapcrash").toFile.getAbsolutePath + "/t"
    Streams.mergeUpsert(Seq(("k1", "v1")).toDF("k", "v"), table, "k")
    // simulate a crash between the two swap renames: live dir gone,
    // pre-merge state staged at __old
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(table)
    val fs = live.getFileSystem(conf)
    fs.rename(live, new org.apache.hadoop.fs.Path(table + "__old")) shouldBe true
    // next merge must NOT read 'missing table' as empty — it restores the
    // staged state first, so k1 survives and k2 lands
    Streams.mergeUpsert(Seq(("k2", "v2")).toDF("k", "v"), table, "k")
    val out = spark.read.parquet(table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out shouldBe Map("k1" -> "v1", "k2" -> "v2")
  }

  test("probeTouched: one shared probe serves several merges; mismatched hints fall back safely") {
    val s2 = spark
    import s2.implicits._
    val base = Files.createTempDirectory("sharedprobe").toFile.getAbsolutePath
    val tA = s"$base/a"; val tB = s"$base/b"
    // create both tables
    Streams.mergeUpsert(Seq(("a1", "v0")).toDF("k", "v"), tA, "k")
    Streams.mergeUpsert(Seq(("b1", "v0")).toDF("k", "v"), tB, "k")
    // one probe for both derived batches of a shared "micro-batch"
    val batchA = Seq(("a1", "v1"), ("a2", "v1")).toDF("k", "v")
    val batchB = Seq(("b2", "v1")).toDF("k", "v")
    val hints = Streams.probeTouched(Seq(
      (batchA, "k", tA, Streams.DefaultMergeBuckets),
      (batchB, "k", tB, Streams.DefaultMergeBuckets)))
    hints.length shouldBe 2
    hints(0)._1 shouldBe Streams.DefaultMergeBuckets // resolved from marker
    hints(0)._2 should not be empty
    Streams.mergeUpsert(batchA, tA, "k", touchedHint = Some(hints(0)))
    Streams.mergeUpsert(batchB, tB, "k", touchedHint = Some(hints(1)))
    spark.read.parquet(tA).collect().map(r => r.getString(0) -> r.getString(1))
      .toMap shouldBe Map("a1" -> "v1", "a2" -> "v1")
    spark.read.parquet(tB).collect().map(r => r.getString(0) -> r.getString(1))
      .toMap shouldBe Map("b1" -> "v0", "b2" -> "v1")
    // a hint computed under a DIFFERENT bucket count must be IGNORED
    // (falls back to the local probe), never trusted: a mismatched hint
    // would route keys to buckets their old rows are not in
    Streams.mergeUpsert(Seq(("a3", "v2")).toDF("k", "v"), tA, "k",
      touchedHint = Some((Streams.DefaultMergeBuckets + 1, Array(0))))
    spark.read.parquet(tA).collect().map(r => r.getString(0)).toSet shouldBe
      Set("a1", "a2", "a3")
    // an empty-touched hint on an incremental merge is a no-op batch
    Streams.mergeUpsert(batchA.filter(lit(false)), tA, "k",
      touchedHint = Some((Streams.DefaultMergeBuckets, Array.empty[Int])))
    spark.read.parquet(tA).collect().map(r => r.getString(0)).toSet shouldBe
      Set("a1", "a2", "a3")
  }

  /** The bucket count pinned in a state table's `_graft_buckets` marker. */
  private def marker(table: String): Int = {
    val p = new org.apache.hadoop.fs.Path(table + "/_graft_buckets")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next().trim.toInt
    finally in.close()
  }

  test("mergeUpsert keep-latest semantics: 10 randomized batch sequences vs a reference map") {
    val s2 = spark
    import s2.implicits._
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    for (seed <- 1 to 10) {
      val table = Files.createTempDirectory(s"randmerge$seed").toFile.getAbsolutePath + "/t"
      val ref = scala.collection.mutable.Map[String, String]()
      val nBatches = 3 + (mix(seed).abs % 4).toInt
      for (b <- 0 until nBatches) {
        // small keyspace → plenty of overwrites within and across batches;
        // batch-internal duplicates keep the LAST occurrence... keep-latest
        // within a batch is position-independent here, so make in-batch
        // values per key unique by construction (last write wins in ref)
        val rows = (0 until 8 + (mix(seed * 100 + b).abs % 20).toInt).map { i =>
          val k = "k" + (mix(seed * 1000 + b * 37 + i).abs % 12)
          val v = s"v$seed-$b-$i"
          (k, v)
        }
        // the merge keeps ONE row per key from the batch (sorted by
        // (key, batch-first) then first-wins within the partition scan) —
        // mirror by keeping the row the merge keeps: for in-batch dups the
        // engine keeps an arbitrary-but-deterministic one; make the ref
        // agree by deduping the batch first (engine semantics under test
        // is batch-vs-STATE latest, not intra-batch order)
        val deduped = rows.groupBy(_._1).map(_._2.head).toSeq
        Streams.mergeUpsert(deduped.toDF("k", "v"), table, "k",
          buckets = 4)
        deduped.foreach { case (k, v) => ref(k) = v }
      }
      val got = spark.read.parquet(table).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      withClue(s"seed=$seed after $nBatches batches: ") {
        got shouldBe ref.toMap
        // the creating merge's count is pinned in the marker, and a later
        // merge asking for another count honors it
        marker(table) shouldBe 4
        Streams.mergeUpsert(Seq(("k0", s"last$seed")).toDF("k", "v"), table,
          "k", buckets = Streams.DefaultMergeBuckets)
        marker(table) shouldBe 4
        spark.read.parquet(table).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap shouldBe
          (ref.toMap + ("k0" -> s"last$seed"))
      }
    }
  }

  test("incremental merge rewrites ONLY touched buckets (100 TB MERGE shape)") {
    val s2 = spark
    import s2.implicits._
    val table = Files.createTempDirectory("bucketmerge").toFile.getAbsolutePath + "/t"
    val keys = (0 until 12).map(i => s"key$i")
    Streams.mergeUpsert(keys.map(k => (k, "v0")).toDF("k", "v"), table, "k")
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(table)
    val fs = live.getFileSystem(conf)
    def listing(): Map[String, Set[(String, Long, Long)]] =
      fs.listStatus(live).filter(_.getPath.getName.startsWith("__bucket="))
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
        }.toMap
    val before = listing()
    before.size should be >= 2 // 12 keys over the default buckets: ≥2 dirs w.h.p.
    // the second merge touches exactly key0's bucket
    val touchedBucket = spark.range(1)
      .select(pmod(xxhash64(lit("key0")), lit(Streams.DefaultMergeBuckets))
        .cast("int")).first().getInt(0)
    Streams.mergeUpsert(Seq(("key0", "v1")).toDF("k", "v"), table, "k")
    val after = listing()
    after.keySet shouldBe before.keySet
    // untouched buckets: files byte-identical — same names, lengths, mtimes
    before.foreach { case (dir, files) =>
      if (dir != s"__bucket=$touchedBucket") after(dir) shouldBe files
    }
    after(s"__bucket=$touchedBucket") should not be
      before(s"__bucket=$touchedBucket")
    val out = spark.read.parquet(table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out shouldBe keys.map(k => k -> (if (k == "key0") "v1" else "v0")).toMap
  }

  test("mergeUpsert: null keys route to a real bucket; binary keys dedup by value") {
    val s2 = spark
    import s2.implicits._
    // null key: xxhash64(NULL) = its seed (42) → one ordinary bucket,
    // same expression on probe/read/write; keep-latest still applies
    val t1 = Files.createTempDirectory("nullkey").toFile.getAbsolutePath + "/t"
    Streams.mergeUpsert(
      Seq((Option.empty[String], "v1"), (Some("k"), "v2")).toDF("k", "v"), t1, "k")
    Streams.mergeUpsert(Seq((Option.empty[String], "v1b")).toDF("k", "v"), t1, "k")
    val rows = spark.read.parquet(t1).collect()
      .map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    rows shouldBe Map(None -> "v1b", Some("k") -> "v2")
    // binary key: Array[Byte] equality must be by VALUE in the keep-latest
    // scan (reference != would never dedup two equal byte arrays)
    val t2 = Files.createTempDirectory("binkey").toFile.getAbsolutePath + "/t"
    Streams.mergeUpsert(
      Seq((Array[Byte](1, 2, 3), "x")).toDF("k", "v"), t2, "k")
    Streams.mergeUpsert(
      Seq((Array[Byte](1, 2, 3), "y")).toDF("k", "v"), t2, "k")
    val binRows = spark.read.parquet(t2).collect()
    binRows.length shouldBe 1
    binRows(0).getString(1) shouldBe "y"
  }

  test("empty micro-batch leaves the state table byte-identical") {
    val s2 = spark
    import s2.implicits._
    val table = Files.createTempDirectory("emptybatch").toFile.getAbsolutePath + "/t"
    Streams.mergeUpsert(Seq(("k1", "v1"), ("k2", "v2")).toDF("k", "v"), table, "k")
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(table)
    val fs = live.getFileSystem(conf)
    def listing(): Set[(String, Long, Long)] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
        }
      walk(live).toSet
    }
    val before = listing()
    Streams.mergeUpsert(
      Seq.empty[(String, String)].toDF("k", "v"), table, "k")
    listing() shouldBe before // early return: no write, no swap, no churn
  }

  test("legacy flat state table migrates to the bucketed layout in one merge") {
    val s2 = spark
    import s2.implicits._
    val table = Files.createTempDirectory("legacymerge").toFile.getAbsolutePath + "/t"
    // a pre-bucketing table: plain flat parquet at the table root
    Seq(("k1", "v1"), ("k2", "v2")).toDF("k", "v")
      .write.parquet(table)
    Streams.mergeUpsert(Seq(("k2", "v2b"), ("k3", "v3")).toDF("k", "v"), table, "k")
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(table)
    val fs = live.getFileSystem(conf)
    // flat files are gone, bucket dirs + marker are in
    fs.listStatus(live).filter(_.isFile)
      .map(_.getPath.getName).filterNot(_.startsWith("_")) shouldBe empty
    fs.listStatus(live).count(_.getPath.getName.startsWith("__bucket=")) should be >= 2
    fs.exists(new org.apache.hadoop.fs.Path(live, "_graft_buckets")) shouldBe true
    val out = spark.read.parquet(table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out shouldBe Map("k1" -> "v1", "k2" -> "v2b", "k3" -> "v3")
    // and the NEXT merge takes the incremental path on the migrated layout
    Streams.mergeUpsert(Seq(("k1", "v1b")).toDF("k", "v"), table, "k")
    spark.read.parquet(table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap shouldBe
      Map("k1" -> "v1b", "k2" -> "v2b", "k3" -> "v3")
  }

  test("crashed per-bucket swap: the staged bucket is restored before the read") {
    val s2 = spark
    import s2.implicits._
    val table = Files.createTempDirectory("bucketcrash").toFile.getAbsolutePath + "/t"
    Streams.mergeUpsert(Seq(("k1", "v1"), ("k2", "v2")).toDF("k", "v"), table, "k")
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(table)
    val fs = live.getFileSystem(conf)
    // simulate a crash between the two renames of k1's bucket swap: live
    // bucket gone, pre-merge bucket staged under __old
    val b1 = spark.range(1)
      .select(pmod(xxhash64(lit("k1")), lit(Streams.DefaultMergeBuckets))
        .cast("int")).first().getInt(0)
    val stage = new org.apache.hadoop.fs.Path(table + "__old")
    fs.mkdirs(stage) shouldBe true
    fs.rename(new org.apache.hadoop.fs.Path(live, s"__bucket=$b1"),
      new org.apache.hadoop.fs.Path(stage, s"__bucket=$b1")) shouldBe true
    // the next merge (of an unrelated key) must restore k1's bucket first
    Streams.mergeUpsert(Seq(("k3", "v3")).toDF("k", "v"), table, "k")
    val out = spark.read.parquet(table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out shouldBe Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v3")
  }

  test("publishSink file path: produced JSON round-trips through subscribe (S1)") {
    val src = writeTopic(userTopic)
    val out = Files.createTempDirectory("topic_out").toFile.getAbsolutePath + "/t"
    val ckpt = Files.createTempDirectory("ckpt_pub").toFile.getAbsolutePath
    val stream = Streams.subscribe(spark, src, Entities.userStreamSchema)
    Streams.publishSink(stream, out, ckpt).start().awaitTermination()
    val rt = Streams.subscribe(spark, out, Entities.userStreamSchema)
    val q = rt.writeStream.format("memory").queryName("pub_rt").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT did, handle, user_did, uri, type FROM pub_rt").collect()
    rows.length shouldBe userTopic.length
    rows.count(_.getString(4) == "LIKED") shouldBe 2
    rows.map(_.getString(0)).count(_ != null) shouldBe 3
  }

  test("idempotent keyed upsert: replaying the topic leaves state unchanged (ST2)") {
    val dir = writeTopic(userTopic)
    val table = Files.createTempDirectory("vertex").toFile.getAbsolutePath + "/users"

    def runOnce(checkpoint: String): Unit = {
      val stream = Streams.subscribe(spark, dir, Entities.userStreamSchema)
      val (profiles, _) = Streams.routeUserStream(stream)
      val q = Streams.upsertSink(Streams.cleanProfiles(profiles), table, "did", checkpoint).start()
      q.awaitTermination()
    }
    val cp = Files.createTempDirectory("cp").toFile.getAbsolutePath
    runOnce(cp + "/1")
    val afterFirst = spark.read.parquet(table).collect().map(_.getString(0)).sorted
    afterFirst shouldBe Array("d1", "d2") // keyed: latest per did
    // full replay with a fresh checkpoint (≈ new consumer group from earliest)
    runOnce(cp + "/2")
    val afterReplay = spark.read.parquet(table).collect().map(_.getString(0)).sorted
    afterReplay shouldBe afterFirst
  }

  test("vector ingest: validation + deterministic id + unit embedding (S6/F2/X4/X5)") {
    val s = spark
    import s.implicits._
    val posts = Seq(
      ("u1", "c1", "some real text", "a1"),
      ("u2", "c2", "   ", "a2"),          // blank text → dropped (F2)
      ("u3", null, "has text no cid", "a3"), // null cid → dropped
      ("u4", "c4", "more text", "a4"))
      .toDF("uri", "cid", "text", "author")
    val out = Streams.embedPosts(posts, dim = 16).collect()
    out.length shouldBe 2
    val r = out.find(_.getAs[String]("uri") == "u1").get
    r.getAs[String]("id") shouldBe java.security.MessageDigest.getInstance("MD5")
      .digest("c1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val emb: Seq[Float] = r.getAs[scala.collection.Seq[Float]]("embedding").toSeq
    emb.length shouldBe 16
    math.sqrt(emb.map(x => x.toDouble * x).sum) shouldBe 1.0 +- 1e-5
  }

  test("stateful sessionization via flatMapGroupsWithState (ST4 custom state)") {
    val s = spark
    import s.implicits._
    // two micro-batches: user 7's session spans the first batch; the gap in
    // the second batch closes it and emits exactly one session row
    val dir = writeTopic(Seq(
      """{"user_id":7,"ts":"2024-01-01T00:00:00.000Z"}""",
      """{"user_id":7,"ts":"2024-01-01T00:10:00.000Z"}"""))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = Streams.subscribe(spark, dir, schema).as[Streams.SessionEvent]
    val q = Streams.sessionizeStream(stream)
      .writeStream.format("memory").queryName("sessions_t")
      .outputMode("append").start()
    q.processAllAvailable()
    // second batch: an event far beyond the gap closes the open session
    val f = new java.io.File(dir, "batch1.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"user_id":7,"ts":"2024-01-01T06:00:00.000Z"}""")
    w.close()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT * FROM sessions_t").collect()
    rows.length shouldBe 1
    rows(0).getAs[Int]("n_events") shouldBe 2 // the two first-batch events
  }

  test("watermarked tumbling-window aggregation over the stream (ST1 event-time)") {
    val s = spark
    import s.implicits._
    val dir = writeTopic(Seq(
      """{"ts":"2024-01-01T00:10:00.000Z","v":1.0}""",
      """{"ts":"2024-01-01T00:20:00.000Z","v":2.0}""",
      """{"ts":"2024-01-01T01:05:00.000Z","v":10.0}""",
      """{"ts":"2024-01-01T03:00:00.000Z","v":0.5}""")) // advances watermark past hours 0-1
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val agg = Streams.subscribe(spark, dir, schema)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val q = agg.writeStream.format("memory").queryName("winagg_t")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // append mode emits only watermark-closed windows: hours 0 and 1
    val rows = spark.sql("SELECT window.start, n, sv FROM winagg_t ORDER BY 1").collect()
    rows.length shouldBe 2
    rows(0).getLong(1) shouldBe 2L
    rows(0).getDouble(2) shouldBe 3.0
    rows(1).getLong(1) shouldBe 1L
    rows(1).getDouble(2) shouldBe 10.0
  }

  test("windowed HLL distinct: bounded register state, streaming == batch sketch exactly") {
    val s = spark
    import s.implicits._
    // hour 0: 300 distinct users (each seen twice), hour 1: 50 distinct;
    // the 03:00 event advances the watermark past both windows
    val h0 = (0 until 300).flatMap(i => Seq(
      s"""{"ts":"2024-01-01T00:${10 + i % 40}:00.000Z","u":"u$i"}""",
      s"""{"ts":"2024-01-01T00:${5 + i % 50}:30.000Z","u":"u$i"}"""))
    val h1 = (0 until 50).map(i =>
      s"""{"ts":"2024-01-01T01:${i % 55}:00.000Z","u":"w$i"}""")
    val closer = Seq("""{"ts":"2024-01-01T03:00:00.000Z","u":"zz"}""")
    val dir = writeTopic(h0 ++ h1 ++ closer)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.StringType)))
    val regs = Streams.windowedDistinctHll(
      Streams.subscribe(spark, dir, schema), "ts", "u",
      windowDur = "1 hour", watermark = "30 minutes")
    val q = regs.writeStream.format("memory").queryName("hll_t")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val byWin = spark.sql("SELECT win.start AS st, b, reg FROM hll_t").collect()
      .groupBy(_.getTimestamp(0).toString)
      .view.mapValues(_.map(r => r.getLong(1) -> r.getInt(2)).toMap).toMap
    byWin.keySet.size shouldBe 2 // hours 0 and 1 closed; hour 3 still open
    // bounded state: <= 512 registers per window no matter the user count
    byWin.values.foreach(_.size should be <= 512)
    // determinism pin: the streaming registers EQUAL the batch sketch's
    val batch0 = graft.functions.HllSketch.registers(
      (0 until 300).map(i => s"u$i").toDF("v"), "v")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch1 = graft.functions.HllSketch.registers(
      (0 until 50).map(i => s"w$i").toDF("v"), "v")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byWin("2024-01-01 00:00:00.0") shouldBe batch0
    byWin("2024-01-01 01:00:00.0") shouldBe batch1
  }

  test("windowed Bloom: bounded word state, streaming bitset == batch build bit-for-bit") {
    val s = spark
    import s.implicits._
    def md5Hex(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // hour 0: 200 distinct keys, several repeated (OR idempotence), one
    // NULL key (must be skipped exactly like the batch build — r13
    // ADVICE pin: a null row must not add a (win, null, null) state row
    // or break the bit-for-bit parity below); the 03:00 event closes the
    // window
    val keys = (0 until 200).map(i => md5Hex(s"gram$i"))
    val h0 = (keys ++ keys.take(40)).zipWithIndex.map { case (h, i) =>
      s"""{"ts":"2024-01-01T00:${i % 50}:00.000Z","h":"$h"}"""
    } :+ """{"ts":"2024-01-01T00:10:00.000Z","h":null}"""
    val closer = Seq(s"""{"ts":"2024-01-01T03:00:00.000Z","h":"${md5Hex("zz")}"}""")
    val dir = writeTopic(h0 ++ closer)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.StringType)))
    val (m, k) = (4096, 3)
    val words = Streams.windowedGramBloom(
      Streams.subscribe(spark, dir, schema), "ts", "h",
      windowDur = "1 hour", watermark = "30 minutes", mBits = m, k = k)
    val q = words.writeStream.format("memory").queryName("bloom_t")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT win.start AS st, word, mask FROM bloom_t").collect()
    rows.map(_.getTimestamp(0).toString).toSet shouldBe Set("2024-01-01 00:00:00.0")
    rows.length should be <= k * m / 64 // word-bounded state, whatever the key count
    // the streaming rows assemble into EXACTLY the batch bitset
    val dense = new Array[Long](k * m / 64)
    rows.foreach(r => dense(r.getLong(1).toInt) |= r.getLong(2))
    val batch = keys.toDF("h")
      .agg(graft.functions.BloomSketch.bloom_build_hex($"h", m, k))
      .collect()(0).getSeq[Long](0).toArray
    dense shouldBe batch
    // and the batch probe reads the drained window: no false negatives
    val bloomDf = Seq(Tuple1(dense.toSeq)).toDF("bloom")
    keys.toDF("h").crossJoin(bloomDf)
      .filter(!graft.functions.BloomSketch.bloom_probe_hex($"h", $"bloom", m, k))
      .count() shouldBe 0L
    // the distributed assembly matches the hand-rolled one (and is what
    // the q106 gate below consumes)
    Streams.assembleWindowBloom(
        spark.sql("SELECT word, mask FROM bloom_t"), m, k)
      .collect()(0).getSeq[Long](0).toArray shouldBe dense
  }

  test("stream-built window Bloom gates the q106 corpus identically to the batch bitset") {
    val s = spark
    import s.implicits._
    // the q106 benchmark set (doc_id % 97 == 0) of the sf0.001 documents
    // table arrives AS A STREAM — grams accumulate into one window's
    // bitset — and the drained window must gate the corpus with verdicts
    // identical to the registered q106 (whose bitset is batch-built from
    // the same grams): the end-to-end wire for the streaming sketch
    // family's flagship member.
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.schemas.Tables.load(spark, sfDir, "documents")
    val benchGrams = docs.filter($"doc_id" % 97 === 0)
      .select(explode(graft.functions.TextExpressions
        .md5_word_shingles($"text", 8)).as("h"))
      .collect().map(_.getString(0))
    benchGrams.length should be > 50 // the stream is non-trivial
    val lines = benchGrams.zipWithIndex.map { case (h, i) =>
      s"""{"ts":"2024-01-01T00:${i % 50}:00.000Z","h":"$h"}"""
    } :+ """{"ts":"2024-01-01T03:00:00.000Z","h":"ffffffffffffffffffffffffffffffff"}"""
    val dir = writeTopic(lines)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.StringType)))
    val words = Streams.windowedGramBloom(
      Streams.subscribe(spark, dir, schema), "ts", "h",
      windowDur = "1 hour", watermark = "30 minutes")
    val q = words.writeStream.format("memory").queryName("bloom_gate_t")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamRow = Streams.assembleWindowBloom(spark.sql(
      "SELECT word, mask FROM bloom_gate_t WHERE win.start = timestamp'2024-01-01 00:00:00'"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5))).toSet
    val streamed = asSet(graft.queries.CorpusQueries
      .bloomDecontamGate(docs, Some(streamRow)))
    val registered = asSet(graft.queries.CorpusQueries
      .q106BloomDecontam(spark, sfDir))
    streamed shouldBe registered
    streamed.size should be > 400 // sf0.001 corpus minus bench docs
  }

  test("windowed CMS: bounded grid state, streaming grid == batch sketch exactly") {
    val s = spark
    import s.implicits._
    // hour 0: a skewed token stream (400 'hot', 100 across a long tail);
    // the 03:00 event closes the window
    val h0 = (0 until 400).map(i =>
      s"""{"ts":"2024-01-01T00:${i % 50}:00.000Z","tok":"hot"}""") ++
      (0 until 100).map(i =>
        s"""{"ts":"2024-01-01T00:${i % 50}:30.000Z","tok":"tail$i"}""")
    val closer = Seq("""{"ts":"2024-01-01T03:00:00.000Z","tok":"zz"}""")
    val dir = writeTopic(h0 ++ closer)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("tok", org.apache.spark.sql.types.StringType)))
    val grid = Streams.windowedTokenCms(
      Streams.subscribe(spark, dir, schema), "ts", "tok",
      windowDur = "1 hour", watermark = "30 minutes")
    val q = grid.writeStream.format("memory").queryName("cms_t")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT win.start AS st, r, b, c FROM cms_t").collect()
    rows.map(_.getTimestamp(0).toString).toSet shouldBe Set("2024-01-01 00:00:00.0")
    rows.length should be <= 3 * 512 // grid-bounded state, whatever the vocab
    // determinism pin: streaming grid EQUALS the batch sketch's
    val streamGrid = rows.map(x => (x.getInt(1), x.getLong(2)) -> x.getLong(3)).toMap
    val batchToks = (Seq.fill(400)("hot") ++ (0 until 100).map(i => s"tail$i")).toDF("tok")
    val batchGrid = graft.functions.CmsSketch.sketch(batchToks, "tok")
      .collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    streamGrid shouldBe batchGrid
    // and the probe tier reads it: hot >= 400 (admissible)
    val est = graft.functions.CmsSketch.estimates(
      spark.sql("SELECT r, b, c FROM cms_t"), Seq("hot").toDF("t"), "t")
      .collect()(0).getLong(1)
    est should be >= 400L
  }

  test("watermarked streaming dedup bounds the reference's unbounded seen-set (SET3)") {
    val s = spark
    import s.implicits._
    val dir = writeTopic(Seq(
      """{"ts":"2024-01-01T00:00:00.000Z","k":"a"}""",
      """{"ts":"2024-01-01T00:00:01.000Z","k":"a"}""",
      """{"ts":"2024-01-01T00:00:02.000Z","k":"b"}"""))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType)))
    val stream = Streams.subscribe(spark, dir, schema)
    // the helper itself: KEYED dedup — "a" at a LATER timestamp is still a
    // duplicate of "a" (seen-set semantics), state TTL'd by the watermark
    val dedup = Streams.dedupStream(stream, "ts", Seq("k"))
    val q = dedup.writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.sql("SELECT k FROM dedup_t").collect().map(_.getString(0)).sorted shouldBe Array("a", "b")
  }

  test("ingestGateSink: streaming verdicts == batch gate on a two-increment corpus; retry converges (ST2)") {
    val s2 = spark
    import s2.implicits._
    import graft.dedup.Dedup

    // corpus already ingested (deduplicated); two crawl increments follow.
    // docs are >= 8 tokens so the near tier is live; c2near changes ONE
    // trailing token of c2 (2 of 3 distinct 8-grams shared -> drop), and
    // i1dupC1 is a whitespace/case variant of c1 (exact tier -> drop).
    val c1 = "the quick brown fox jumps over the lazy dog today"
    val c2 = "partition pruning keeps the parquet scan narrow and cheap always"
    val i1dupC1 = "THE  quick   Brown fox jumps over the LAZY dog today"
    val i1nearC2 = "partition pruning keeps the parquet scan narrow and cheap forever"
    val i1novel = "streaming micro batches drain the topic with available now triggers"
    val i2dupNovel = "streaming micro batches drain the topic with available now triggers"
    val i2novel = "broadcast joins beat shuffles when one side fits executor memory"

    val corpus = Seq(("c1", c1), ("c2", c2)).toDF("doc_id", "text")
    val inc1 = Seq(("a", i1dupC1), ("b", i1nearC2), ("c", i1novel))
      .toDF("doc_id", "text")
    val inc2 = Seq(("d", i2dupNovel), ("e", i2novel)).toDF("doc_id", "text")

    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // one sink per temp root: stage(name, docs) drops a topic file,
    // drain() runs the sink over everything staged so far
    final class Flow(prefix: String) {
      val root = Files.createTempDirectory(prefix).toFile.getAbsolutePath
      val (topic, store, outP, ckpt) =
        (s"$root/topic", s"$root/store", s"$root/out", s"$root/ckpt")
      new java.io.File(topic).mkdirs()
      def stage(name: String, docs: Seq[(String, String)]): Unit = {
        val w = new java.io.PrintWriter(s"$topic/$name")
        docs.foreach { case (id, t) =>
          w.println(s"""{"doc_id":"$id","text":"$t"}""")
        }
        w.close()
      }
      def drain(): Unit = {
        val q = Streams.ingestGateSink(
          Streams.subscribe(spark, topic, docSchema),
          "doc_id", "text", store, outP, ckpt).start()
        q.awaitTermination()
      }
    }
    val flow = new Flow("ingestgate")
    import flow.{drain, outP, stage, store}

    Streams.bootstrapIngestStore(corpus, "doc_id", "text", store)
    stage("inc1.json", Seq(("a", i1dupC1), ("b", i1nearC2), ("c", i1novel)))
    drain()
    stage("inc2.json", Seq(("d", i2dupNovel), ("e", i2novel)))
    drain()

    def verdictMap(df: org.apache.spark.sql.DataFrame): Map[String, (Boolean, Long, Long, Boolean)] =
      df.select("doc_id", "exact_dup", "n_grams", "n_shared", "drop_doc")
        .collect()
        .map(r => r.getString(0) ->
          (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toMap
    val streamed = verdictMap(spark.read.parquet(outP))
    streamed.keySet shouldBe Set("a", "b", "c", "d", "e")
    // spot semantics: exact dup via normalization, near dup via grams,
    // novel accepted; d is an exact dup OF AN INC1 DOC -> the store grew
    streamed("a")._1 shouldBe true
    streamed("b") should matchPattern { case (false, 3L, 2L, true) => }
    streamed("c")._4 shouldBe false
    streamed("d")._1 shouldBe true
    streamed("e")._4 shouldBe false

    // batch twin: gate inc1 against the corpus, then inc2 against
    // corpus + accepted(inc1) — streaming must agree verdict-for-verdict
    val twin1 = verdictMap(Dedup.incrementalIngestGate(
      corpus.withColumn("nw", lit(false))
        .unionByName(inc1.withColumn("nw", lit(true))),
      "doc_id", "text", col("nw")))
    val acc1 = inc1.join(
      Dedup.incrementalIngestGate(
        corpus.withColumn("nw", lit(false))
          .unionByName(inc1.withColumn("nw", lit(true))),
        "doc_id", "text", col("nw"))
        .filter(!col("drop_doc")).select("doc_id"), Seq("doc_id"))
    val twin2 = verdictMap(Dedup.incrementalIngestGate(
      corpus.unionByName(acc1).withColumn("nw", lit(false))
        .unionByName(inc2.withColumn("nw", lit(true))),
      "doc_id", "text", col("nw")))
    (twin1 ++ twin2) shouldBe streamed

    // ST2 retry: re-running batch 1's kernel with the same batchId must
    // leave store and verdicts byte-equal (self-exclusion keeps the
    // retried gate's input store identical to the first attempt's)
    val storeBefore = spark.read.parquet(store).collect()
      .map(r => (r.getString(0), r.getSeq[String](1).mkString(","))).sorted
    Streams.ingestGateBatch(inc2, 1L, "doc_id", "text", store, outP, 8)
    val storeAfter = spark.read.parquet(store).collect()
      .map(r => (r.getString(0), r.getSeq[String](1).mkString(","))).sorted
    storeAfter shouldBe storeBefore
    verdictMap(spark.read.parquet(outP)) shouldBe streamed

    // drained topic: another same-checkpoint run is a no-op
    drain()
    verdictMap(spark.read.parquet(outP)) shouldBe streamed

    // a store path that does not exist yet (no bootstrap): the store
    // reads as empty, so every doc is accepted with nothing shared
    val fresh = new Flow("ingestgate_fresh")
    fresh.stage("inc1.json", Seq(("a", i1dupC1), ("b", i1nearC2), ("c", i1novel)))
    fresh.drain()
    verdictMap(spark.read.parquet(fresh.outP)) shouldBe
      Map("a" -> (false, 3L, 0L, false), "b" -> (false, 3L, 0L, false),
        "c" -> (false, 3L, 0L, false))

    // re-bootstrap in place: after the gate has read the first
    // bootstrap, a second one rewrites batch=bootstrap with new content,
    // and the next micro-batch is gated against that content: f repeats
    // the new bootstrap doc, g repeats c1, which the rewrite removed
    val reboot = new Flow("ingestgate_reboot")
    Streams.bootstrapIngestStore(corpus, "doc_id", "text", reboot.store)
    reboot.stage("inc1.json", Seq(("a", i1dupC1), ("b", i1nearC2), ("c", i1novel)))
    reboot.drain()
    verdictMap(spark.read.parquet(reboot.outP)) shouldBe
      streamed.filter { case (id, _) => Set("a", "b", "c")(id) }
    Streams.bootstrapIngestStore(Seq(("c3", i2novel)).toDF("doc_id", "text"),
      "doc_id", "text", reboot.store)
    reboot.stage("inc3.json", Seq(("f", i2novel), ("g", i1dupC1)))
    reboot.drain()
    val rebooted = verdictMap(spark.read.parquet(reboot.outP))
    rebooted("f") shouldBe ((true, 3L, 3L, true))
    rebooted("g") shouldBe ((false, 3L, 0L, false))
  }
}
