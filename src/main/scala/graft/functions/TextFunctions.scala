package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives (SURVEY.md §2.7 X4/X9 + the LLM-data-pipeline
  * extension set): tokenization, quality scoring, language ID, shingling,
  * MinHash signatures — all as compositions of Spark's built-in (codegen'd)
  * functions so they scale without UDF overhead.
  *
  * Reference anchors: text validation project/qdrant/consumer_post.py:79-87,
  * deterministic text→vector embedding `:91` (replaced by feature hashing —
  * see TextExpressions.EmbedText).
  */
object TextFunctions {

  /** Lowercased whitespace tokens. Empty text → single empty token (same as
    * DuckDB regexp_split_to_array — keep parity). */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer regex (the split BPE applies merges inside):
    * contractions, space-prefixed letter runs, digit runs, punctuation
    * runs, whitespace runs. The upstream pattern's `\s+(?!\S)` branch is
    * dropped — lookahead is not RE2-expressible, and without it the
    * pattern means the same thing on any leftmost-first engine (Java here,
    * RE2 in DuckDB), which is what makes token BUDGETS computed by the
    * pipeline reproducible by the serving stack. */
  val gptPretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Pre-token array under [[gptPretokenPattern]]. */
  def gptPretokens(text: Column): Column =
    regexp_extract_all(text, lit(gptPretokenPattern), lit(0))

  /** Pre-token count — the unit LLM data pipelines budget by (BPE merges
    * only split WITHIN these, so this bounds the true token count from
    * below at ~1 merge-free token per pre-token). */
  def gptPretokenCount(text: Column): Column = size(gptPretokens(text))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks)
  }

  /** The registered q85 blocklist — a small deterministic term set with
    * real hits in the synthetic corpus (a stand-in for the C4 badwords
    * list, which is an external asset this zero-egress build can't
    * ship). */
  val defaultBlocklist: Seq[String] = Seq("slow", "dup", "skew", "spill")

  /** Token-level blocklist hit count — the C4-style badwords scrub
    * (Raffel et al. 2020 filter any document containing a listed term).
    * MAP-ONLY: the term set folds into the plan as a literal (the
    * in-expression twin of a broadcast); for six-figure phrase lists the
    * production tier is an explode + broadcast semi-join on the token —
    * still shuffle-free on the corpus side. Counts OCCURRENCES (each
    * repeated hit counts), over the same whitespace tokenizer as every
    * text operator here. */
  def blocklistHits(text: Column, terms: Seq[String] = defaultBlocklist): Column =
    size(filter(tokens(text), t => t.isin(terms: _*)))

  /** Distinct blocklist terms present (the "how many different bad terms"
    * severity signal). */
  def blocklistDistinctHits(text: Column, terms: Seq[String] = defaultBlocklist): Column =
    size(filter(array_distinct(tokens(text)), t => t.isin(terms: _*)))

  /** Fraction of non-space characters that are punctuation. */
  def punctRatio(text: Column): Column = {
    val nospace = regexp_replace(text, "\\s", "")
    when(length(nospace) === 0, lit(0.0)).otherwise(
      (length(nospace) - length(regexp_replace(nospace, "[!-/:-@\\[-`{-~]", "")))
        .cast("double") / length(nospace))
  }

  /** Mean token length in characters. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation and a natural stopword rate (C4/Gopher-style heuristics). */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lengthOk = when(n.between(10, 1000), lit(1.0))
      .otherwise(when(n < 10, n.cast("double") / 10.0).otherwise(lit(0.5)))
    val punctOk = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopOk = least(stopwordRatio(text) * 5.0, lit(1.0))
    round((lengthOk + punctOk + stopOk) / 3.0, 4)
  }

  /** N-gram-heuristic language ID: English stopword density ≥ 2% → "en",
    * else "und" (deterministic, vocabulary-driven — the container has no
    * language-ID model; SURVEY.md non-goals). */
  def langId(text: Column): Column =
    when(stopwordRatio(text) >= 0.02, lit("en")).otherwise(lit("und"))

  /** Distinct n-word shingles ("w1 w2 w3"). Documents shorter than n words
    * yield a single whole-document shingle. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val joined = transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    array_distinct(joined)
  }

  /** Cross-engine-reproducible 16-dim signed feature-hash embedding:
    * token t contributes ±1 to bucket b where b = value of the 2nd hex
    * digit of md5(t) and the sign is + iff the 3rd digit ≥ 8. Every
    * ingredient (whitespace tokenization, md5, hex-digit arithmetic,
    * integer sums) computes identically in any SQL engine with md5 — so
    * unlike the FNV/xxhash embeddings (engine-native, rows-only checks),
    * cosine over THIS embedding is DuckDB-oracle-able bit-for-bit: the
    * vectors are integer-valued, making dot products and norms exact in
    * doubles. Pure built-ins, no UDF.
    *
    * Shape: ONE fold over the token list accumulating the 16-dim array
    * (each step patches one slot of the running vector). The tempting
    * per-dim formulation — transform(0..15, i => aggregate(tokens, ...))
    * — re-evaluates the whole token→md5 signature lambda once per output
    * dim (higher-order lambdas get no CSE, and CollapseProject re-inlines
    * any staging projection), a measured 16× md5 blowup at sf0.1. */
  def md5Embed(text: Column): Column = TextExpressions.md5_embed(text)

  /** The original pure-built-in HOF formulation of [[md5Embed]] — kept as
    * the executable spec of the cross-engine contract (it IS what the
    * DuckDB oracles replay in SQL) and as [[graft.functions.Md5Embed]]'s
    * parity twin in Md5EmbedSpec. Not on any query path (r17: the single-
    * pass kernel replaced it — one digest per token instead of two md5
    * evaluations plus a 16-wide `when` transform per fold step). */
  private[graft] def md5EmbedHof(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val sig = transform(toks, tk => struct(
      conv(substring(md5(tk), 2, 1), 16, 10).cast("int").as("b"),
      when(conv(substring(md5(tk), 3, 1), 16, 10).cast("int") >= 8, lit(1.0))
        .otherwise(lit(-1.0)).as("s")))
    aggregate(sig, array_repeat(lit(0.0), 16),
      (acc, x) => transform(acc, (v, i) =>
        when(i === x.getField("b"), v + x.getField("s")).otherwise(v)))
  }

  /** MinHash signature of a shingle array — single-pass custom expression
    * (see [[graft.functions.MinHashSig]]): one content hash per element +
    * k universal-hash mixes, not k full rehashes. */
  def minhashSignature(shingles: Column, k: Int): Column =
    TextExpressions.minhash_sig(shingles, k)

  /** LSH band hashes: signature of length k split into `bands` bands of
    * k/bands rows each; docs sharing any band hash are candidate pairs.
    * Returns array<struct<band:int, h:bigint>> ready to explode. */
  def lshBands(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(concat_ws(",",
          transform(slice(signature, b * rows + 1, lit(rows)), x => x.cast("string"))), b).as("h")))

  /** PII redaction patterns (the training-corpus scrub step): kept to the
    * regex subset where Java (Spark codegen) and RE2 (DuckDB, and most
    * scale-out scanners) agree exactly — character classes, bounded
    * repetition, alternation; no backrefs or lookaround — so the redaction
    * is engine-portable and the q65 oracle can replay it verbatim. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"

  /** Replace emails, IPv4 addresses and phone-shaped numbers with typed
    * placeholder tokens. Order matters (phones before IPs would mangle
    * dotted quads with dashes? no — but emails FIRST so user@host.ip
    * digits are gone before the IP pass). One pass per pattern, each a
    * codegen'd regexp_replace — no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of matches for one PII pattern (regexp_count is exact and
    * engine-portable over the RE2-safe subset). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))
}
