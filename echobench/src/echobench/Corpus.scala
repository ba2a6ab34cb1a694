package echobench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.TextExpressions

/** MinHash and cosine near-duplicate groups over a generated post corpus
  * with planted near-duplicate clusters and one metrically mixed hot
  * bucket. */
final class CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val Docs = 3000
  val Clusters = 120
  val HotDocs = 160
  val Dim = 64
  private var corpus: Gen.Corpus = _
  private final case class Last(vecs: DataFrame, minhash: DataFrame, cosine: DataFrame)
  private var last: Last = _
  private val recalls = mutable.ArrayBuffer.empty[Double]

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def generate(sink: Gen.Sink, rnd: SplittableRandom): Seq[(String, Any)] = {
    corpus = Gen.corpus(sink, rnd, Docs, Clusters, HotDocs)
    Seq("docs" -> corpus.docs, "planted_clusters" -> corpus.clusters.length,
      "planted_docs" -> corpus.plantedIds.size, "planted_pairs" -> corpus.plantedPairs,
      "hot_bucket_docs" -> corpus.hotDocs, "embedding_dim" -> Dim)
  }

  /** One discarded operation: it pays class loading and code generation. */
  def warmup(ctx: Ctx): Unit = { run(ctx, -1); cleanup(ctx, -1) }

  def run(ctx: Ctx, i: Int): Op = {
    val t0 = System.nanoTime()
    val docs = ctx.span("schemas.scan") {
      ctx.keep(ctx.spark.read.schema(docSchema).json(corpus.path)) }
    val vecs = ctx.span("functions.embed") {
      ctx.keep(docs.select(col("doc_id"),
        transform(TextExpressions.embed_text(col("text"), Dim), x => x.cast("double")).as("v")))
    }
    val tIngest = System.nanoTime()
    val minhash = ctx.span("dedup.minhash_groups") {
      ctx.keep(Dedup.minhashNearDupGroups(docs, "doc_id", "text", threshold = 0.5)) }
    val cosine = ctx.span("dedup.cosine_groups") {
      ctx.keep(Dedup.cosineNearDupGroups(vecs, "doc_id", "v", 9, 10, dim = Dim)) }
    val t1 = System.nanoTime()
    last = Last(vecs, minhash, cosine)
    Op((t1 - t0) / 1e9, (tIngest - t0) / 1e9, corpus.docs)
  }

  private def canon(df: DataFrame): (Map[Long, Long], Int, Boolean) = {
    val rows = df.select(col("doc_id").cast("long"), col("canon_id").cast("long"),
      col("group_size").cast("long")).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m = rows.map(r => r._1 -> r._2).toMap
    val sizes = m.groupMapReduce(_._2)(_ => 1L)(_ + _)
    (m, rows.length, rows.forall(r => sizes.get(r._2).contains(r._3)))
  }

  private def pairsRecovered(m: Map[Long, Long]): Long = corpus.clusters.map { c =>
    c.combinations(2).count { case Seq(a, b) => m.get(a).exists(x => m.get(b).contains(x)) }.toLong
  }.sum

  def check(ctx: Ctx, i: Int, op: Op): Seq[Check] = {
    val results = Seq("minhash" -> last.minhash, "cosine" -> last.cosine).map { case (n, df) =>
      n -> canon(df) }
    val recall = results.map { case (_, (m, _, _)) =>
      pairsRecovered(m).toDouble / corpus.plantedPairs }.min
    if (i >= 0) recalls += recall
    results.foreach { case (_, (m, _, _)) =>
      val sizes = m.values.groupMapReduce(identity)(_ => 1L)(_ + _).values.filter(_ > 1)
      ctx.count("dedup.groups", sizes.size)
      ctx.count("dedup.pairs_out", sizes.map(s => s * (s - 1) / 2).sum.toDouble)
    }
    results.flatMap { case (n, (m, rows, sizesOk)) =>
      Seq(Check(s"$n.each_doc_once", rows == corpus.docs && m.size == corpus.docs,
          s"rows=$rows distinct=${m.size} docs=${corpus.docs}"),
        Check(s"$n.group_size_matches_members", sizesOk))
    } :+ Check("dedup.planted_recall", recall >= 0.99, f"$recall%.4f")
  }

  /** The cosine groups must equal the exact all-pairs tier's components on
    * the planted documents. */
  def finalChecks(ctx: Ctx): Seq[Check] = {
    val spark = ctx.spark
    import spark.implicits._
    val planted = corpus.plantedIds
    val pv = last.vecs.filter(col("doc_id").isin(planted.toSeq: _*))
    val pairs = Dedup.cosineNearDupsBruteExact(pv, "doc_id", "v", 9, 10)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
    val uf = new graft.util.UnionFind.Longs
    pairs.foreach { case (a, b) => uf.union(a, b) }
    val (groups, _, _) = canon(last.cosine)
    val mismatched = planted.toSeq.combinations(2).count { case Seq(a, b) =>
      (uf.find(a) == uf.find(b)) != (groups(a) == groups(b)) }
    Seq(Check("cosine.groups_match_brute_tier", mismatched == 0, s"$mismatched planted pairs differ"))
  }

  override def recall: Double = Stats.median(recalls.toSeq)
}
