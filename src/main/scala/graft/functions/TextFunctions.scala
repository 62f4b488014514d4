package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-pipeline primitives for large-scale training-data curation:
  * tokenization, deterministic token hashing, minhash, simhash,
  * language ID, quality scoring.
  *
  * Hot-path forms are native codegen'd Catalyst expressions
  * (TokensExpr/TextHashExprs); each keeps an equivalent higher-order
  * column-algebra mirror, pinned bit-equal in TextFunctionsSpec — no
  * UDFs anywhere, fully distributable. The hash
  * family is engine-portable arithmetic (polynomial rolling hash mod a
  * prime) so the DuckDB oracle can compute the identical numbers with
  * list lambdas; that keeps every one of these operators hash-gated
  * rather than rows-only-checked.
  */
object TextFunctions {

  /** Large prime modulus for all rolling hashes (fits comfortably in
    * a Long; products stay < 2^63 via the mod-31 step form). */
  val P: Long = 1000000007L

  /** Whitespace regex shared by every tokenizer AND its oracle mirror.
    * An explicit character class instead of `\s` because the engines
    * disagree on the shorthand: Java's `\s` is [ \t\n\x0B\f\r] while
    * RE2's lacks vertical tab — a VT-bearing document would silently
    * diverge between Spark and the DuckDB oracle. Every escape here
    * (`\t \n \x0B \f \r`) parses identically in Java regex and RE2,
    * so interpolating this one value into both engines keeps them
    * bit-identical (and equal to Java's old `\s` semantics, so no
    * Spark-side behavior change). */
  val Ws: String = "[ \\t\\n\\x0B\\f\\r]+"

  /** Whitespace tokenization of lowercased text — native codegen'd
    * pass ([[TokensExpr]]); [[tokensHof]] is the column-algebra mirror
    * the oracle fragment O.toks matches, pinned ≡ in
    * TextFunctionsSpec. */
  def tokens(text: Column): Column =
    TokensExprs.tokens_native(text)

  /** Interpreted HOF form of [[tokens]] (filter is CodegenFallback —
    * kept as the cross-pin, not the hot path). */
  def tokensHof(text: Column): Column =
    filter(split(lower(text), Ws), t => length(t) > 0)

  /** Polynomial rolling hash of a string: fold c over chars,
    * h = (h*31 + ascii(c)) mod P. Deterministic, portable, and cheap;
    * the same fold is written as a DuckDB list_reduce in oracles. */
  def tokenHash(t: Column): Column =
    aggregate(
      split(t, ""),
      lit(0L),
      (h, c) => (h * lit(31L) + ascii(c)) % lit(P))

  /** Token-hash array for a document (the shingle set base) — native
    * codegen'd expression (TextHashExprs); [[tokenHashesHof]] is the
    * equivalent column-algebra form the oracle SQL mirrors, pinned
    * equal in TextFunctionsSpec. */
  def tokenHashes(text: Column): Column =
    TextHashExprs.token_hashes(text)

  /** Interpreted HOF form of [[tokenHashes]] (reference semantics —
    * every stage column-algebra, nothing native). */
  def tokenHashesHof(text: Column): Column =
    transform(tokensHof(text), t => tokenHash(t))

  /** Word n-gram (shingle) hashes from a token-hash array: hash of each
    * n-token window, combined as h = (h*31 + tokenHash) mod P —
    * native codegen'd pass ([[ShinglesExpr]]; the interpreted
    * transform-over-slices mirror below is pinned ≡ in
    * TextFunctionsSpec). */
  def shinglesFromHashes(th: Column, n: Int): Column =
    // the HOF mirror's when() yields [] even for NULL input (NULL >= n
    // is null → otherwise-branch); match it
    coalesce(TextHashExprs.shingles_native(th, n),
      array().cast(ArrayType(LongType)))

  /** Interpreted HOF form of [[shinglesFromHashes]]. */
  def shinglesFromHashesHof(th: Column, n: Int): Column = {
    val idx = sequence(lit(0), size(th) - lit(n))
    when(size(th) >= n,
      transform(idx, i =>
        aggregate(slice(th, i + lit(1), lit(n)), lit(0L),
          (h, x) => (h * lit(31L) + x) % lit(P))))
      .otherwise(array().cast(ArrayType(LongType)))
  }

  /** Word n-gram (shingle) hashes straight from text (both stages
    * native/codegen'd since TokensExpr/ShinglesExpr; staging into a
    * named column — DedupQueries.sigDF — is still good for CSE when
    * several expressions consume the same shingles). */
  def shingleHashes(text: Column, n: Int): Column =
    shinglesFromHashes(tokenHashes(text), n)

  /** All k minhash values in ONE traversal of the shingle array: the
    * accumulator is the running element-wise min of (a_i*h+b_i) mod P.
    * Equivalent to [[minhashSig]] but k× cheaper — HOFs re-evaluate
    * their input per reference, so k separate array_min calls would
    * recompute the shingle pipeline k times. Empty input → nulls
    * (same as array_min of an empty array). */
  def minhashSigFold(sh: Column, k: Int): Column = {
    val init = array((0 until k).map(_ => lit(P)): _*)
    val idx = array((0 until k).map(i => lit(i.toLong)): _*)
    val folded = aggregate(sh, init, (acc, h) =>
      zip_with(acc, idx, (m, i) =>
        least(m, (h * (i * lit(2L) + lit(1L)) + lit(12345L) + lit(67890L) * i) % lit(P))))
    transform(folded, v => when(v < lit(P), v)) // P sentinel = no shingles → null
  }

  /** One minhash value: min over hashes of (a*h + b) mod P. */
  def minhash1(hashes: Column, a: Long, b: Long): Column =
    array_min(transform(hashes, h => (h * lit(a) + lit(b)) % lit(P)))

  /** k-permutation minhash signature with the standard (a_i*h+b_i) mod P
    * family; (a_i, b_i) derived from a fixed seed so Spark and the
    * oracle agree. */
  def minhashSig(hashes: Column, k: Int): Column =
    array((0 until k).map(i => minhash1(hashes, hashA(i), hashB(i))): _*)

  def hashA(i: Int): Long = 2L * i + 1          // odd ⇒ coprime-ish, fixed family
  def hashB(i: Int): Long = 12345L + 67890L * i

  /** SimHash over token hashes, `bits` wide (≤30: hashes are mod P<2^30):
    * bit j of the fingerprint is 1 iff #tokens with bit j set exceeds
    * half the token count. Native single-traversal expression;
    * [[simhashHof]] is the per-bit fold form, pinned equal in
    * TextFunctionsSpec. */
  def simhash(hashes: Column, bits: Int = 24): Column =
    TextHashExprs.simhash_native(hashes, bits)

  /** Interpreted HOF form of [[simhash]] (one fold per bit). */
  def simhashHof(hashes: Column, bits: Int = 24): Column = {
    val n = size(hashes)
    val terms = (0 until bits).map { j =>
      val cnt = aggregate(hashes, lit(0L),
        (acc, h) => acc + shiftright(h, j) % lit(2L))
      when(cnt * lit(2L) > n.cast(LongType), lit(1L << j)).otherwise(lit(0L))
    }
    terms.reduce((a, b) => a + b)
  }

  /** Rolling-hash document fingerprint: polynomial hash of the whole
    * token-hash sequence (order-sensitive, unlike the minhash set) —
    * native fold ([[FoldHashExpr]]; HOF mirror pinned ≡ in
    * TextFunctionsSpec). */
  def docFingerprint(text: Column): Column =
    TextHashExprs.fold_hash(tokenHashes(text))

  /** Interpreted HOF form of [[docFingerprint]]. */
  def docFingerprintHof(text: Column): Column =
    aggregate(tokenHashes(text), lit(0L),
      (h, x) => (h * lit(31L) + x) % lit(P))

  // ── language ID (stopword-hit heuristic) ─────────────────────────────
  /** Tiny per-language stopword lists for the n-gram/stopword heuristic.
    * Real pipelines would ship larger tables; the mechanism (score =
    * fraction of tokens in the language's stopword set, argmax) is the
    * part that matters at scale — one pass, no shuffle. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ein", "ist", "nicht", "von"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  /** Fraction of tokens belonging to `words` (a stopword list). */
  def stopwordRatio(toks: Column, words: Seq[String]): Column = {
    val hits = size(filter(toks, t => t.isin(words.map(lit): _*)))
    hits.cast(DoubleType) / greatest(size(toks), lit(1)).cast(DoubleType)
  }

  /** Argmax language by stopword ratio; 'und' (undetermined) when no
    * stopword hits at all. Deterministic tie-break: language order.
    * Takes a token ARRAY column — stage `tokens(text)` into a named
    * column first (HOFs are interpreted; 5 languages would otherwise
    * re-tokenize 10×). */
  def langIdFromToks(toks: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = langs.map(l => struct(stopwordRatio(toks, stopwords(l)).as("s"),
      lit(l).as("l")))
    val best = array_max(array(scored: _*))
    when(best.getField("s") > 0.0, best.getField("l")).otherwise(lit("und"))
  }

  def langId(text: Column): Column = langIdFromToks(tokens(text))

  /** [[langId]] on the native text_profile pass (one codegen'd
    * traversal computes every language's stopword-hit count — the
    * t03 shape). Same argmax + 'und' contract as [[langIdFromToks]];
    * the repeated `p` references collapse via codegen subexpression
    * elimination, so the profile is computed once per row. */
  def langIdNative(text: Column): Column = {
    import TextProfileOps.langs
    val p = TextProfileExprs.text_profile(text)
    val n = greatest(p.getField("n_tok"), lit(1L)).cast(DoubleType)
    val scored = langs.zipWithIndex.map { case (l, i) =>
      struct((element_at(p.getField("sw_hits"), i + 1).cast(DoubleType) / n).as("s"),
        lit(l).as("l"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("s") > 0.0, best.getField("l")).otherwise(lit("und"))
  }

  // ── PII patterns ────────────────────────────────────────────────────
  /** Email / IPv4 patterns shared by the t16 redaction pass, the
    * dialect `pii_redact` scalar, and their DuckDB oracle mirrors.
    * Every construct here ([A-Za-z...], \b, \d, {m,n}) parses and
    * matches identically in Java regex and RE2 — same cross-engine
    * discipline as [[Ws]]. */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpRe: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails then IPv4s — the t16 pass as one scalar. */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), IpRe, "<IP>")

  // ── quality scoring ─────────────────────────────────────────────────
  /** Mean token length over a token-array column. */
  def meanTokenLenT(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) /
      greatest(size(toks), lit(1)).cast(DoubleType)

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast(DoubleType) /
      greatest(length(text), lit(1)).cast(DoubleType)

  /** Whitespace token count (the reference pipeline's basic unit). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish subword count over a token-array column: each token
    * contributes ceil(len/4) subword units (≈4 chars per BPE merge) —
    * pure arithmetic, identical in the oracle. */
  def subwordCountT(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast(LongType))

  def subwordCount(text: Column): Column = subwordCountT(tokens(text))

  /** Composite quality score in [0,1]: weights short/long docs,
    * punctuation density, and English stopword density. Token-array
    * variant — stage tokens once. */
  def qualityScoreT(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast(DoubleType)
    val lenScore = least(nTok / lit(20.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * lit(4.0), lit(1.0))
    val swScore = least(stopwordRatio(toks, stopwords("en")) * lit(5.0), lit(1.0))
    (lenScore + punctScore + swScore) / lit(3.0)
  }

  def qualityScore(text: Column): Column = qualityScoreT(text, tokens(text))
}
