package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.matchers.should.Matchers

import graft.dedup.Dedup
import graft.streaming.Streams

/** The crawl-increment gate against a persisted fingerprint store, called
  * directly through [[Streams.gateAgainstIngestStore]] (the suite keeps
  * the name it had when the store carried index sidecars): an empty store
  * accepts everything, and a store rewritten in place by a second
  * bootstrap is gated against its new content, never a stale copy. */
class IngestIndexSpec extends SparkSpec with Matchers {

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def docText(seed: Long, tokens: Int): String =
    Seq.tabulate(tokens)(j => "w" + (mix(seed * 977L + j) & 0x3FFF)).mkString(" ")

  private def docsDf(ids: Seq[(String, String)]): DataFrame = {
    val s2 = spark
    import s2.implicits._
    ids.toDF("doc_id", "text")
  }

  private def verdictMap(df: DataFrame): Map[String, (Boolean, Long, Long, Boolean)] =
    df.select("doc_id", "exact_dup", "n_grams", "n_shared", "drop_doc")
      .collect()
      .map(r => r.getString(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap

  private def fpOf(docs: DataFrame): DataFrame =
    Dedup.docSigGrams(docs, "doc_id", "text", 8).localCheckpoint()

  test("empty store and all-novel batch: every doc accepted, zero shared") {
    val batch = docsDf(Seq.tabulate(6)(i => (s"n$i", docText(7000L + i, 30))))
    val fp = fpOf(batch)
    val root = Files.createTempDirectory("idxempty").toFile.getAbsolutePath
    val v = verdictMap(Streams.gateAgainstIngestStore(fp, root, None))
    v.values.foreach { case (xd, _, ns, drop) =>
      xd shouldBe false; ns shouldBe 0L; drop shouldBe false
    }
    v.size shouldBe 6
  }

  test("re-bootstrap evicts the cached bloom frame — no stale false negatives") {
    val root = Files.createTempDirectory("idxreboot").toFile.getAbsolutePath
    val docsA = docsDf(Seq.tabulate(20)(i => (s"a$i", docText(i, 40))))
    val docsB = docsDf(Seq.tabulate(20)(i => (s"c$i", docText(100000L + i, 40))))
    Streams.bootstrapIngestStore(docsA, "doc_id", "text", root)
    // gate once against the FIRST bootstrap's content
    val warm = docsDf(Seq(("w0", docText(500000L, 40))))
    verdictMap(Streams.gateAgainstIngestStore(fpOf(warm), root, None))("w0")._4 shouldBe false
    // overwrite batch=bootstrap IN PLACE: same partition set, new content
    Streams.bootstrapIngestStore(docsB, "doc_id", "text", root)
    // a dup of the NEW bootstrap must be flagged; a gate that kept the
    // first bootstrap's fingerprints would pass it (a false negative)
    val batch = docsDf(Seq(
      ("d0", docText(100000L, 40)), ("n0", docText(600000L, 40))))
    val v = verdictMap(Streams.gateAgainstIngestStore(fpOf(batch), root, None))
    v("d0")._1 shouldBe true
    v("d0")._4 shouldBe true
    v("n0")._4 shouldBe false
  }
}
