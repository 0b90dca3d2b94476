package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operator surface
  * (SURVEY §2B R-19/R-21): tokenization, shingling, MinHash, SimHash,
  * fingerprinting, quality features. All pure Column expressions —
  * codegen-friendly, no UDFs; hashes are `xxhash64` with deterministic
  * per-permutation salts.
  */
object TextFns {

  /** Whitespace tokenizer (lowercased). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Normalization pass: lowercase, collapse whitespace runs to one
    * space, trim. The canonical form fed to fingerprinting/dedup.
    */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** BPE-ish token-count estimate: a word of length L costs ceil(L/6)
    * tokens — a deterministic, cheap stand-in for a real tokenizer's
    * count (long words cost proportionally more, mirroring subword
    * splitting).
    */
  def tokenCountEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / lit(6.0)).cast("long"))

  /** n-word shingles from a token array; empty array when there are
    * fewer than n tokens (Spark's `sequence(1, 0)` would count DOWN —
    * guarded here; DuckDB's generate_series is empty).
    *
    * NOTE: this HOF form runs interpreted — whole-table shingling
    * should go through [[textShingles]] (codegen, ~5x the explode
    * throughput, bit-identical output).
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array())

  /** Codegen'd tokenize+shingle: identical output to
    * `wordShingles(tokens(text), n)` (asserted in SketchExprSpec) via
    * [[graft.plans.WordShinglesExpr]] — one JVM loop instead of the
    * interpreted filter/transform/slice/concat_ws chain. The hot-path
    * form for the dedup operators.
    */
  def textShingles(text: Column, n: Int): Column =
    // coalesce: null text must yield [] exactly like the HOF form
    // (whose when(...).otherwise(array()) treats the null condition
    // as false) — the expression itself is null-propagating
    coalesce(
      graft.plans.WordShinglesExpr.wordShingles(
        org.apache.spark.sql.SparkSession.active,
        split(lower(text), "\\s+"), n),
      typedlit(Seq.empty[String]))

  /** Fraction of equal components between two MinHash signatures — the
    * unbiased Jaccard estimate.
    */
  def minhashSimilarity(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") /
      size(sigA).cast("double")

  /** 64-bit SimHash of a token array: per-token hash (splitmix64
    * finalizer over the UTF-8 bytes), each bit votes ±1, sign of the
    * vote sets the output bit. Backed by the codegen'd
    * [[graft.plans.SimHash64Expr]] — the round-1 UDF paid a boxing
    * round-trip per row, and the pure-HOF formulation (64-wide
    * zip_with votes) ran interpreted ~10x slower still.
    */
  def simhash64(toks: Column): Column =
    graft.plans.SimHash64Expr.simhash64(
      org.apache.spark.sql.SparkSession.active, toks)

  /** 60-bit oracle-portable SimHash (md5-derived token hash —
    * [[graft.plans.SimHashMd5Expr]]); the DuckDB twin recomputes it
    * bit-identically. Use [[simhash64]] unless the result must
    * cross-check against the oracle.
    */
  def simhashMd5_60(toks: Column): Column =
    graft.plans.SimHashMd5Expr.simhashMd5(
      org.apache.spark.sql.SparkSession.active, toks)

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column =
    call_function("bit_count", a bitwiseXOR b)

  /** Document fingerprint: md5 of the lowercased text (portable across
    * engines, unlike xxhash64).
    */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** Stopword ratio over a token array. */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column = {
    val isStop = (t: Column) =>
      stopwords.map(t === _).reduce(_ || _)
    size(filter(toks, isStop)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }
}
