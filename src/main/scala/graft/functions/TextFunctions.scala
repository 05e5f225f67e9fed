package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a training-data pipeline, built entirely
  * from codegen'd Catalyst expressions and higher-order functions — no
  * UDFs, so whole-stage codegen covers the scan→score path and the ops
  * scale linearly with no shuffle at all (pure map side).
  *
  * [EXT] beyond the reference surface (see SURVEY.md §0): the reference
  * has no text ops; these are the LLM-pipeline additions.
  */
object TextFunctions {

  /** Catalyst let-binding: evaluate `v` ONCE, reference it many times in
    * `body` via a lambda variable. Without this, CollapseProject inlines a
    * copied expression tree into every use site — inside higher-order
    * lambdas that means re-evaluating (e.g.) a regex-normalize once per
    * ARRAY ELEMENT instead of once per row, which turned the shingle
    * pipeline quadratic. transform() evaluates its input array exactly
    * once, so wrapping the value in a 1-element array and transforming
    * gives a true `let`. */
  def bound(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Whitespace tokenization (single-space corpus; a BPE-ish regex split is
    * `split(c, "(?=\\p{P})|\\s+")` — kept simple here for oracle parity). */
  def tokens(c: Column): Column = split(c, " ")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  def distinctTokenCount(c: Column): Column =
    size(array_distinct(tokens(c))).cast("long")

  /** BPE-ish subword token count: letter runs, single digits, and single
    * non-alphanumeric marks each count as one token (the GPT-2 pretoken
    * pattern family, reduced to the RE2-compatible subset so the SAME
    * pattern runs on Java regex and RE2 engines — oracle-checkable). A
    * real BPE merge table refines WITHIN these pretokens, so this is the
    * standard cheap lower-bound estimator for token budgets. */
  val BpeTokenPattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"

  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit(BpeTokenPattern)).cast("long")

  /** Mean token length = non-space chars / token count (exact int/int → double). */
  def avgTokenLen(c: Column): Column =
    length(regexp_replace(c, " ", "")).cast("double") / size(tokens(c))

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords — a classic quality signal. */
  def stopwordRatio(c: Column, stop: Seq[String] = DefaultStopwords): Column = {
    val hits = size(filter(tokens(c), t => t.isin(stop.map(x => x: Any): _*)))
    hits.cast("double") / size(tokens(c))
  }

  /** Fraction of characters that are punctuation — a boilerplate and
    * OCR-noise signal. */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[^.,;:!?]", "")).cast("double") / length(c)

  /** Composite quality score in [0,1]: long-enough, stopword-bearing,
    * low-noise text scores high. Deterministic double arithmetic. */
  def qualityScore(c: Column, stop: Seq[String] = DefaultStopwords): Column =
    lit(0.4) * least(lit(1.0), tokenCount(c).cast("double") / 100.0) +
      lit(0.4) * least(lit(1.0), stopwordRatio(c, stop) * 5.0) +
      lit(0.2) * (lit(1.0) - punctRatio(c))

  /** N-gram-heuristic language ID: vote by stopword families. On a real
    * corpus the family lists are per-language character n-grams; the
    * deterministic token-vote form keeps DuckDB-oracle parity. Counting
    * runs in the custom TokenMatchCount expression (one JVM pass) with
    * semantics identical to size(filter(split(text,' '), isin(...))). */
  def langId(c: Column): Column = {
    import graft.functions.expressions.GraftFunctions.token_match_count
    val en = token_match_count(c, Seq("the", "a", "and", "of", "is"))
    val de = token_match_count(c, Seq("der", "die", "das", "und", "ist"))
    val es = token_match_count(c, Seq("el", "la", "los", "y", "es"))
    when(en >= de && en >= es && en > 0, "en")
      .when(de >= es && de > 0, "de")
      .when(es > 0, "es")
      .otherwise("unk")
  }

  /** Content fingerprint for exact dedup: hash of the normalized text.
    * md5 keeps the oracle trivially reproducible; at 100 TB the 128-bit
    * space makes collisions negligible and the group-by shuffles only
    * (fingerprint, id) pairs, never the text bodies. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Normalization: lowercase + whitespace collapse. */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Character shingles (n-grams) of the normalized text, as the input to
    * MinHash/Jaccard near-dup. Pure generator expressions: sequence() over
    * offsets + substring, no UDF. */
  def shingles(c: Column, n: Int): Column =
    bound(normalize(c)) { norm => // normalize ONCE per row, not per offset
      array_distinct(
        transform(
          sequence(lit(1), greatest(lit(1), length(norm) - lit(n - 1))),
          i => norm.substr(i, lit(n))))
    }
}
