package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the engine: Catalyst built-ins and
  * higher-order functions, no UDFs. A higher-order function's lambda runs
  * interpreted (`CodegenFallback`) inside the surrounding generated code,
  * once per element, so every hot per-row or per-pair loop gets a
  * codegen'd kernel from `org.apache.spark.sql.graft` instead:
  *   - the HeurFuzz pair stage scores `byteBigramCodes` with
  *     `sortedCoverage`;
  *   - every shingle-hash set (the exact and MinHash dedup operators, the
  *     decontamination spans) comes from `ShingleHashes`, one pass per
  *     row, through `Dedup.hashedShingles` and its xxhash64 and mod-p
  *     siblings in `Dedup`.
  * The HOFs left here serve small or string-valued work:
  *   - `byteBigrams` / `bigramCoverage` for small pair sets over char
  *     shingles (the registry's `partPairs`, ~6k pairs) and the
  *     byte-bigram statistics of q03;
  *   - `charShingles`, the string form (TextAnalysis, the span posexplode
  *     of DedupRegistry, q142) and the reference semantics the kernel's
  *     tests compare against, with `minhash` over it;
  *   - `minhashSignatureFromBases`, whose slot walks run over long
  *     arrays already hashed once.
  *
  * Semantics mirror the reference kernels:
  *   - byte bigrams with multiplicity (/root/reference/src/heurFuzz.py:23-32)
  *   - asymmetric containment coverage: for each query bigram (multiset),
  *     +1 if present ANYWHERE in the ref bigrams — the `break` at
  *     /root/reference/src/heurFuzz.py:43 exits only the inner search, ref
  *     bigrams are not consumed. Divided by the query's bigram count.
  *   - Python-`str.strip()` trimming (all whitespace, not just spaces).
  */
object TextFunctions {

  /** Python str.strip(): Spark `trim` only strips ' ', so use a regex.
    * (?U) = UNICODE_CHARACTER_CLASS so \s matches all Unicode whitespace
    * ( ,  , ...) like Python's str.strip, not just ASCII.
    */
  def pyStrip(c: Column): Column = regexp_replace(c, "(?U)^\\s+|\\s+$", "")

  /** UTF-8 byte length of a string column (reference counts bytes, not
    * chars — /root/reference/src/heurFuzz.py:72-79).
    */
  def byteLength(c: Column): Column = octet_length(c)

  /** Overlapping byte bigrams of a string column as array<binary>,
    * multiplicity preserved. Empty/1-byte strings yield an empty array
    * (the reference crashes / UB there — documented divergence, SURVEY §7.4).
    */
  def byteBigrams(c: Column): Column = {
    val b = encode(c, "UTF-8")
    when(
      octet_length(b) >= 2,
      transform(sequence(lit(1), octet_length(b) - 1), i => substring(b, i, lit(2)))
    ).otherwise(array().cast("array<binary>"))
  }

  /** The byte bigrams of `byteBigrams` as a SORTED array<int> of codes
    * `(b0 & 0xff) << 8 | (b1 & 0xff)`, multiplicity preserved; computed
    * once per term by a codegen'd expression (ByteBigramCodes).
    */
  def byteBigramCodes(c: Column): Column =
    org.apache.spark.sql.graft.ByteBigramCodes.column(c)

  /** `bigramCoverage` over two `byteBigramCodes` arrays, bit for bit: one
    * codegen'd merge scan per pair (SortedCoverage) instead of an
    * interpreted `filter`/`array_contains` lambda.
    */
  def sortedCoverage(queryCodes: Column, refCodes: Column): Column =
    org.apache.spark.sql.graft.SortedCoverage.column(queryCodes, refCodes)

  /** Character n-gram shingles (multiplicity preserved). */
  def charShingles(c: Column, n: Int): Column =
    when(
      length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => substring(c, i, lit(n)))
    ).otherwise(array().cast("array<string>"))

  /** Asymmetric bigram containment coverage of `queryBigrams` in
    * `refBigrams`: fraction of query bigrams (with multiplicity) present
    * anywhere in the ref's bigram list. 0 query bigrams -> 0.0.
    */
  def bigramCoverage(queryBigrams: Column, refBigrams: Column): Column =
    when(size(queryBigrams) === 0, lit(0.0)).otherwise(
      size(filter(queryBigrams, g => array_contains(refBigrams, g)))
        .cast("double") / size(queryBigrams)
    )

  /** Jaccard similarity of two shingle arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val union = size(array_union(da, db)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** MinHash via affine permutations over ONE md5 base hash per shingle:
    * base(g) = first 60 bits of md5(g) mod p (p = 2^31-1, Mersenne), and
    * h_i(g) = (a_i * base(g) + b_i) mod p. One md5 per shingle regardless
    * of signature width (the md5-per-seed alternative is numHashes x the
    * hashing cost — it dominated the LSH benchmark). All integer math, so
    * a DuckDB oracle reproduces signatures exactly; a_i < p and base < p
    * keep the product under 2^62 (no int64 overflow).
    */
  val MinhashP: Long = 2147483647L

  /** Fixed (a, b) permutation constants — mirrored verbatim in oracle SQL
    * (SparkEntry generates the SQL from this list so they cannot drift).
    */
  val MinhashParams: Seq[(Long, Long)] = Seq(
    (1610612741L, 12582917L), (805306457L, 25165843L),
    (402653189L, 50331653L), (201326611L, 100663319L),
    (100663319L, 201326611L), (50331653L, 402653189L),
    (25165843L, 805306457L), (12582917L, 1610612741L)
  )

  /** 60-bit md5 prefix of a shingle, reduced mod p. */
  def shingleBaseHash(g: Column): Column =
    org.apache.spark.sql.graft.Md5Long60.column(g) % MinhashP

  /** One MinHash value under permutation (a, b). Null for an empty shingle
    * set (documented semantics: too-short docs cannot be near-dups).
    */
  def minhash(shingles: Column, a: Long, b: Long): Column = {
    val da = array_distinct(shingles)
    when(size(da) === 0, lit(null).cast("long"))
      .otherwise(array_min(transform(da, g => (shingleBaseHash(g) * a + b) % MinhashP)))
  }

  /** Seed-indexed convenience overload (params from MinhashParams). */
  def minhash(shingles: Column, seed: Int): Column = {
    val (a, b) = MinhashParams(seed)
    minhash(shingles, a, b)
  }

  /** Signature from pre-computed base hashes (array<long>, already mod p) —
    * lets callers hash each shingle exactly once and reuse the longs for
    * both banding and Jaccard verify.
    *
    * Deliberately numHashes separate `array_min(transform(...))` passes,
    * NOT one aggregate fold carrying an array of running minima: HOFs run
    * interpreted, and the fold's per-element accumulator-array allocation
    * + struct param extraction measured ~40% SLOWER end-to-end than
    * numHashes cheap long-math walks (bench r4: q31 7.4s -> 11.5s with
    * the single-fold variant). The simhash single-pass lesson does NOT
    * transfer: simhash's 16 folds re-walked a TOKEN list each pass with
    * per-token hashing; here the bases are already-materialized longs.
    */
  def minhashSignatureFromBases(bases: Column, numHashes: Int): Column =
    when(size(bases) === 0, lit(null).cast("array<bigint>")).otherwise(
      array(MinhashParams.take(numHashes).map { case (a, b) =>
        array_min(transform(bases, h => (h * a + b) % MinhashP))
      }: _*)
    )

  /** Whitespace tokens of trimmed text (empty string -> empty array).
    * (?U) for Unicode-whitespace parity with Python str.split().
    */
  def whitespaceTokens(c: Column): Column = {
    val t = pyStrip(c)
    when(t === "", array().cast("array<string>")).otherwise(split(t, "(?U)\\s+"))
  }
}
