package echobench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded, Bluesky-shaped input generators. Everything is written as JSON
  * lines by hand, so one seed gives byte-identical files; the digest of
  * those bytes is part of the manifest. The generators also keep the
  * counts every output check compares against. */
object Gen {

  /** The generators' random source for a seed. Streams of seeds that differ
    * by a multiple of the default gamma are one stream at different offsets,
    * and a generator that draws a varying number of values per record
    * re-aligns them, so such seeds made the same crawl; `split()` gives each
    * seed its own gamma. */
  def rng(seed: Long): SplittableRandom = new SplittableRandom(seed).split()

  /** Fixed pseudo-word vocabulary: 80 syllables squared. */
  private val syllables: IndexedSeq[String] =
    for (c <- "bcdfghklmnprstvz"; v <- "aeiou") yield s"$c$v"
  val vocabSize = 4000
  def word(i: Int): String = syllables(i % 80) + syllables((i / 80) % 80)

  /** Community `c` talks about its own 40 topic words most of the time. */
  val topicWords = 40

  private def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def did(u: Int): String = f"did:plc:u$u%07d"
  def postUri(author: Int, p: Int): String = s"at://${did(author)}/app.bsky.feed.post/p$p"

  /** Writes JSON-lines files under one input root and digests their bytes in
    * the order written. */
  final class Sink(val root: File) {
    private val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    def write(rel: String, lines: Iterator[String]): Unit = {
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
        StandardCharsets.UTF_8))
      try lines.foreach { l =>
        val b = (l + "\n").getBytes(StandardCharsets.UTF_8)
        md.update(rel.getBytes(StandardCharsets.UTF_8))
        md.update(b)
        bytes += b.length
        w.write(l); w.write('\n')
      } finally w.close()
    }
    def digest: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Crawl shape. Community sizes follow a Zipf law, size ∝ rank^-zipf;
    * with 60 communities and zipf 0.7 the largest holds about 12 % of the
    * users, as Louvain's largest community (9,094 of 77,392 nodes) does in
    * the reference's recorded run. A like goes to a post of the user's own
    * community with probability `pIn`, else to any post. */
  final case class CrawlCfg(users: Int, comms: Int = 60, zipf: Double = 0.7,
      postsPerUser: Int = 2, maxLikesPerUser: Int = 10, maxLikers: Int = 20,
      pIn: Double = 0.95) {
    /** Users per community, largest first; they sum to `users`. */
    def commSizes: IndexedSeq[Int] = {
      val w = (1 to comms).map(r => math.pow(r, -zipf))
      val sizes = w.map(x => math.max(1, (x / w.sum * users).toInt))
      sizes.updated(0, sizes(0) + users - sizes.sum)
    }
  }

  /** A crawl: profiles, posts and LIKED events with planted communities,
    * under the reference crawl bounds (≤ maxLikers per post, ≤
    * maxLikesPerUser per user). Also maintains the co-engagement projection's edge
    * set, so every count a check needs is known exactly. */
  final class Crawl(val cfg: CrawlCfg, rnd: SplittableRandom) {
    /** Community of each user: the sizes of `cfg`, dealt out in a seeded
      * order, so that the engine's hash order over the users of a community
      * differs from seed to seed. */
    val comm: IndexedSeq[Int] = {
      val c = cfg.commSizes.zipWithIndex.flatMap { case (n, k) => Seq.fill(n)(k) }.toArray
      for (i <- c.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = c(i); c(i) = c(j); c(j) = t
      }
      c.toIndexedSeq
    }
    val handleBlank: IndexedSeq[Boolean] = IndexedSeq.fill(cfg.users)(rnd.nextInt(7) == 0)
    val postAuthor: IndexedSeq[Int] =
      IndexedSeq.tabulate(cfg.users * cfg.postsPerUser)(_ / cfg.postsPerUser)
    val postText: IndexedSeq[String] = postAuthor.map(a => text(comm(a)))
    val likers = IndexedSeq.fill(postAuthor.length)(mutable.ArrayBuffer.empty[Int])
    val likesOf = IndexedSeq.fill(cfg.users)(mutable.HashSet.empty[Int])
    val commPosts = IndexedSeq.fill(cfg.comms)(mutable.ArrayBuffer.empty[Int])
    postAuthor.indices.foreach(p => commPosts(comm(postAuthor(p))) += p)
    val pairs = new mutable.HashMap[Long, Int]()
    var likes = 0L

    def text(c: Int): String =
      if (rnd.nextInt(13) == 0) " "
      else Seq.fill(8 + rnd.nextInt(9)) {
        if (rnd.nextDouble() < 0.6) word(c * topicWords + rnd.nextInt(topicWords))
        else word(rnd.nextInt(vocabSize))
      }.mkString(" ")

    def like(u: Int, p: Int): Unit = {
      likers(p).foreach { v =>
        val key = (math.min(u, v).toLong << 32) | math.max(u, v)
        pairs(key) = pairs.getOrElse(key, 0) + 1
      }
      likers(p) += u
      likesOf(u) += p
      likes += 1
    }

    /** One user's likes; returns the (user, post) pairs added. */
    def likeRound(u: Int, n: Int): Seq[(Int, Int)] = {
      val out = mutable.ArrayBuffer.empty[(Int, Int)]
      var attempts = 0
      while (out.length < n && attempts < 4 * n &&
          likesOf(u).size < cfg.maxLikesPerUser) {
        attempts += 1
        val own = commPosts(comm(u))
        val p = if (rnd.nextDouble() < cfg.pIn && own.nonEmpty) own(rnd.nextInt(own.length))
          else rnd.nextInt(postAuthor.length)
        if (postAuthor(p) != u && likers(p).length < cfg.maxLikers &&
            !likesOf(u).contains(p)) {
          like(u, p); out += ((u, p))
        }
      }
      out.toSeq
    }

    val initialLikes: Seq[(Int, Int)] =
      (0 until cfg.users).flatMap(u => likeRound(u, 1 + rnd.nextInt(cfg.maxLikesPerUser)))

    def users: Int = comm.length
    def posts: Int = postAuthor.length
    def unknownHandles: Int = handleBlank.count(identity)
    def vectors: Int = postText.count(_.trim.nonEmpty)
    def edges: Int = pairs.size
    def totalWeight: Long = pairs.valuesIterator.map(_.toLong).sum
    def nodes: Int = {
      val s = mutable.HashSet.empty[Int]
      pairs.keysIterator.foreach { k => s += (k >>> 32).toInt; s += (k & 0xffffffffL).toInt }
      s.size
    }

    def profileJson(u: Int): String = {
      val handle = if (handleBlank(u)) (if (u % 2 == 0) "" else "  ") else s"user$u.bsky.social"
      val display = if (u % 5 == 0) null else s"User $u"
      s"""{"did":${q(did(u))},"handle":${q(handle)},"display_name":${q(display)},""" +
        s""""description":${q(s"posts about topic ${comm(u)}")}}"""
    }

    def likeJson(u: Int, p: Int): String =
      s"""{"user_did":${q(did(u))},"uri":${q(postUri(postAuthor(p), p))},"type":"LIKED"}"""

    def postJson(p: Int): String =
      s"""{"uri":${q(postUri(postAuthor(p), p))},"cid":${q(s"bafyp$p")},""" +
        s""""text":${q(postText(p))},"author":${q(did(postAuthor(p)))}}"""
  }

  /** Known state after an ingest: what the users, edges and vectors tables
    * and the projection must hold. */
  final case class Expect(users: Long, unknownHandles: Long, engagements: Long,
      vectors: Long, edges: Long, nodes: Long, totalWeight: Long)

  def expect(c: Crawl): Expect = Expect(c.users, c.unknownHandles, c.likes,
    c.vectors, c.edges, c.nodes, c.totalWeight)

  /** The echo workload's input: one crawl as two file topics. */
  final case class EchoInput(usersTopic: String, postsTopic: String, events: Long,
      inputBytes: Long, exp: Expect)

  def echo(sink: Sink, rnd: SplittableRandom, cfg: CrawlCfg): (EchoInput, Crawl) = {
    val c = new Crawl(cfg, rnd)
    val likes = c.initialLikes
    sink.write("users/part-00000.json",
      ((0 until c.users).iterator.map(c.profileJson)) ++
        likes.iterator.map { case (u, p) => c.likeJson(u, p) })
    sink.write("posts/part-00000.json", (0 until c.posts).iterator.map(c.postJson))
    val events = c.users.toLong + likes.length + c.posts
    (EchoInput(new File(sink.root, "users").getPath, new File(sink.root, "posts").getPath,
      events, sink.bytes, expect(c)), c)
  }

  /** A post corpus with planted near-duplicate clusters (one exact repost
    * plus variants that each append one word) and one metrically mixed hot
    * bucket: docs sharing a long boilerplate with tails of very different
    * lengths, so pairs inside it both pass and fail the thresholds. */
  final case class Corpus(path: String, docs: Int, clusters: IndexedSeq[IndexedSeq[Long]],
      hotDocs: Int) {
    def plantedPairs: Long = clusters.map(c => c.length.toLong * (c.length - 1) / 2).sum
    def plantedIds: Set[Long] = clusters.flatten.toSet
  }

  def corpus(sink: Sink, rnd: SplittableRandom, docs: Int, nClusters: Int,
      hotDocs: Int): Corpus = {
    def words(n: Int): IndexedSeq[String] = IndexedSeq.fill(n)(word(rnd.nextInt(vocabSize)))
    val texts = mutable.ArrayBuffer.empty[String]
    val clusterIdx = mutable.ArrayBuffer.empty[IndexedSeq[Int]]
    for (_ <- 0 until nClusters) {
      val base = words(40).mkString(" ")
      val size = 2 + rnd.nextInt(5)
      val start = texts.length
      texts += base
      for (_ <- 1 until size) texts += base + " " + word(rnd.nextInt(vocabSize))
      clusterIdx += (start until texts.length)
    }
    val boiler = words(30).mkString(" ")
    for (_ <- 0 until hotDocs) texts += boiler + " " + words(1 + rnd.nextInt(40)).mkString(" ")
    while (texts.length < docs) texts += words(20 + rnd.nextInt(31)).mkString(" ")
    // ids are a seeded permutation, so clusters are not contiguous
    val ids = Array.tabulate(texts.length)(_.toLong)
    for (i <- ids.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val order = ids.indices.sortBy(ids(_))
    sink.write("docs/part-00000.json", order.iterator.map { i =>
      s"""{"doc_id":${ids(i)},"text":${q(texts(i))}}"""
    })
    Corpus(new File(sink.root, "docs").getPath, texts.length,
      clusterIdx.map(_.map(ids(_)).toIndexedSeq).toIndexedSeq, hotDocs)
  }
}
