package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import org.apache.spark.sql.graft.{CheckpointStats, ContainmentCorpus, DupComponents, Md5Long60, Narrow, ShingleHashes}

/** Deduplication operators for large-scale text corpora (builder-brief
  * pillar; the reference's only dedup is the set()-based ETL helper,
  * /root/reference/src/example_helpers/parse_inputs.py:27-35).
  *
  * Scale design (100 TB):
  *   - exact dedup is a hash groupBy — one shuffle on the content hash,
  *     map-side partial aggregation, no driver state.
  *   - near-dup is MinHash-LSH: signatures are computed per-row (narrow),
  *     candidate pairs come from an equi-join on (band, band key) — only
  *     rows sharing a band bucket ever meet, so the O(n^2) all-pairs
  *     compare never materializes. Jaccard verify runs only on candidates.
  *   - hashes whose VALUES shape the result (minhash/LSH candidate
  *     buckets, simhash bits, exact-dup group keys) are md5-derived so a
  *     DuckDB oracle reproduces them bit-for-bit; operators whose output
  *     is hash-independent (the exact prefix-filtered Jaccard join) use
  *     Spark's cheaper codegen'd xxhash64 instead.
  */
object Dedup {

  /** Distinct lowercase char n-gram shingles of a text column: the
    * string form, and the reference semantics of every shingle-hash set
    * (ShingleHashesSpec compares the kernel with chains over it).
    */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(TextFunctions.charShingles(lower(text), n))

  /** Sorted distinct md5-long hashes of the lowercase char n-gram
    * shingles, from the one ShingleHashes kernel. ONE definition on
    * purpose: the bottom-k screen's probe side, its corpus-side posting
    * list, the audit's truth pass and the decontamination span sites
    * must stay bit-identical (sort order IS the bottom-k sample), so
    * they all call this instead of building the kernel themselves.
    */
  def hashedShingles(text: Column, n: Int): Column =
    ShingleHashes.column(text, n, ShingleHashes.Md5)

  /** Exact duplicate groups: md5 content hash -> group size + kept id
    * (keep-one = min id; deterministic).
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))

  /** Repeated-span statistics (the signal behind exact-substring dedup,
    * Lee et al. "Deduplicating Training Data Makes Language Models
    * Better", ACL'22: spans appearing verbatim in more than one document
    * are memorization fuel and get cut). Per document: how many of its
    * distinct `n`-char spans also occur in ANOTHER document, and the
    * duplicated fraction.
    *
    * Returns (doc id, n_shingles, n_dup, dup_ratio), one row per input
    * document (docs shorter than `n` chars report 0 / 0 / 0.0).
    *
    * Scale shape: explode distinct spans (narrow) -> one hash groupBy on
    * the span counting DISTINCT docs -> left-semi back onto the exploded
    * spans -> per-doc count. Two shuffles, both map-side combined; no
    * pairwise product anywhere (the suffix-array approach the paper uses
    * single-node becomes this shuffle shape distributed). Spans travel as
    * xxhash64 keys — 8 bytes through the shuffles instead of an n-char
    * string (the q33/ngramJaccardPairs convention: the output carries no
    * hash values, and a 64-bit collision is negligible next to the
    * 3x-smaller exchange). The span arrays checkpoint once so the
    * explode's two consumers don't recompute the shingling.
    */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spans = docs.select(col(idCol).as("doc_id"),
        ShingleHashes.column(col(textCol), n, ShingleHashes.Xxhash64).as("shs"))
      .localCheckpoint(false)
    val ex = spans.select(col("doc_id"), explode(col("shs")).as("sh"))
    // distinct-per-doc spans, so count(*) per span == #docs containing it
    val dup = ex.groupBy("sh").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("sh")
    val perDoc = ex.join(dup, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    spans.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_ratio",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_shingles")))
  }

  /** Near-duplicate pairs: LSH candidates verified with exact Jaccard over
    * the hashed shingle sets, kept at >= `threshold`.
    *
    * Shingles are reduced to 31-bit md5-based longs ONCE; banding and the
    * Jaccard verify both run on the long arrays (one md5 per shingle
    * total, integer set-intersection in the verify — several times
    * cheaper than string-array intersection, and the shuffle rows shrink
    * accordingly). Hash collisions merge shingles deterministically at
    * ~n/2^31 rate; the oracle mirrors the same hashing so results match
    * exactly. |A u B| comes from |A|+|B|-|A n B| — no union array is built.
    */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 4,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.4
  ): DataFrame =
    nearDupPairsOnBands(
      signatureBands(docs, idCol, textCol, shingleN, numHashes, rowsPerBand), idCol, threshold)

  /** Per-doc (id, sorted distinct shingle hashes, minhash signature),
    * checkpointed — the shared first stage of every MinHash operator.
    *
    * The hashes are the MinHash bases (md5-long mod p, reduced before
    * the distinct), built by the one-pass ShingleHashes kernel and sorted
    * ascending so verifies can use the merge-scan intersect expression
    * (no per-row hash sets); minhash is order-blind. Lazily
    * checkpointed: band projections reference `sig` once per signature
    * slot and `hs` rides into join sides, and the signature's slots are
    * interpreted `transform`s over `hs` (minhashSignatureFromBases). One
    * small (id, hs, sig) row per doc materializes instead of the hashing
    * and the slot walks re-running per reference. Rows with an empty
    * shingle set drop out (null signature) — they cannot be near-dups of
    * anything.
    */
  private def hashedSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int
  ): DataFrame =
    docs
      .select(col(idCol), ShingleHashes.column(col(textCol), shingleN, ShingleHashes.Md5ModP).as("hs"))
      .select(col(idCol), col("hs"),
        TextFunctions.minhashSignatureFromBases(col("hs"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint(false)

  /** Explode a signature frame into one (id, carried cols, band, key) row
    * per band; the (band, key) pair is the LSH equi-join key.
    */
  private def bandExplode(
      hashedSig: DataFrame,
      idCol: String,
      numBands: Int,
      rowsPerBand: Int,
      carry: Seq[String] = Seq("hs")
  ): DataFrame =
    hashedSig.select(
      col(idCol) +: carry.map(col) :+
        posexplode(
          array((0 until numBands).map(b =>
            concat_ws("|", (0 until rowsPerBand).map(r =>
              col("sig")(b * rowsPerBand + r).cast("string")): _*)
          ): _*)
        ).as(Seq("band", "key")): _*
    )

  /** The (id, hs, band, key) LSH band table of a document frame — the
    * PERSISTABLE signature-index shape. At 100 TB this table is written
    * ONCE per ingest, bucketed by the (band, key) join key, and every
    * later snapshot's incremental dedup reads it back shuffle-free
    * (q132 exercises the full round trip; BucketedJoinSpec pins the
    * corpus-side no-exchange plan).
    */
  def signatureBands(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 4,
      numHashes: Int = 8,
      rowsPerBand: Int = 4
  ): DataFrame =
    bandExplode(hashedSignatures(docs, idCol, textCol, shingleN, numHashes),
      idCol, numHashes / rowsPerBand, rowsPerBand)

  /** Incremental near-dup filter: an INCOMING batch screened against an
    * EXISTING corpus (the production shape of web-crawl dedup — each new
    * crawl snapshot is deduplicated against everything already kept, not
    * against itself). Returns one row per incoming doc:
    * (id, n_dups = count of corpus docs with Jaccard >= threshold among
    * LSH candidates, kept = 1 if n_dups = 0 else 0).
    *
    * Build once, probe many: the corpus side is a pre-built band table
    * in `signatureBands` shape (build it with `signatureBands(corpus)`).
    * The candidate stage is an equi-join on (band, key) between the
    * incoming bands and the corpus bands — the incoming side is a new
    * batch (small relative to the corpus), so the shuffle is dominated by
    * the corpus band table. At 100 TB that table is PERSISTED across
    * snapshots: feed it `spark.table("sig_table")` where the table was
    * written bucketed by (band, key), and the candidate equi-join runs
    * with no exchange on the (huge) corpus side; only the incoming
    * batch's bands shuffle into the bucket layout. Verify runs inline on
    * the join output, so only (in_id, corp_id) survivor pairs shuffle
    * into the per-doc count. No self-join, no cross join.
    */
  def incrementalNearDupFilterOnBands(
      incoming: DataFrame,
      corpusBands: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 4,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.4
  ): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val inBands = bandExplode(
      hashedSignatures(incoming, idCol, textCol, shingleN, numHashes),
      idCol, numBands, rowsPerBand)
    val corpBands = corpusBands
    val inter = org.apache.spark.sql.graft.LongArrayIntersectSize
      .column(col("hs_a"), col("hs_b")).cast("double")
    val dupCounts = inBands.alias("a")
      .join(corpBands.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(
        col(s"a.$idCol").as("in_id"), col("a.hs").as("hs_a"),
        col(s"b.$idCol").as("corp_id"), col("b.hs").as("hs_b"))
      .withColumn("jacc", inter / (size(col("hs_a")) + size(col("hs_b")) - inter))
      .filter(col("jacc") >= threshold)
      // a pair can collide in several bands — count each corpus doc once
      .select("in_id", "corp_id")
      .distinct()
      .groupBy("in_id")
      .agg(count(lit(1)).as("n_dups"))
    incoming.select(col(idCol))
      .join(dupCounts, col(idCol) === col("in_id"), "left")
      .select(
        col(idCol),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .withColumn("kept", when(col("n_dups") === 0, 1L).otherwise(0L))
  }

  /** Incremental HAMMING-space near-dup screen — the perceptual-hash
    * twin of `incrementalNearDupFilterOnBands`: for each incoming item,
    * how many CORPUS items sit within `maxHamming` of its signature
    * (dHash/simhash), found via the pigeonhole band equi-join
    * (maxHamming+1 contiguous bands are a lossless index for the ball,
    * so recall is exact) + exact bit_count verify — no incoming x
    * corpus all-pairs anywhere in the plan. Output per incoming row:
    * (idCol, n_dup, kept).
    *
    * Build once, probe many: `corpusBands` is
    * `hammingBands(corpus, idCol, shCol, bits, maxHamming + 1)`, built
    * by the caller once and probed by every incoming batch. At 100 TB it
    * is the persisted bucketed band table ingest maintains (the q132
    * layout applies verbatim: one (band, key) bucketed table, incoming
    * shuffles into it, corpus never moves).
    */
  def incrementalHammingScreenOnBands(
      incoming: DataFrame,
      corpusBands: DataFrame,
      idCol: String,
      shCol: String,
      bits: Int,
      maxHamming: Int
  ): DataFrame = {
    val inc = hammingBands(incoming, idCol, shCol, bits, maxHamming + 1)
    val corp = corpusBands
      .withColumnRenamed(idCol, "c_id").withColumnRenamed(shCol, "c_sh")
    val hits = inc.join(corp, Seq("band", "key"))
      // a pair can collide in several bands — count each neighbor once
      .select(col(idCol), col(shCol), col("c_id"), col("c_sh")).distinct()
      .filter(bit_count(col(shCol).bitwiseXOR(col("c_sh"))).cast("long") <= maxHamming)
      .groupBy(idCol).agg(count(lit(1)).as("n_dup"))
    incoming.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("kept", col("n_dup") === 0)
  }

  /** As `nearDuplicates`, but the WHOLE corpus arrives as a pre-built
    * band table in `signatureBands` shape — the full-corpus twin of
    * `incrementalNearDupFilterOnBands`. The candidate stage is a SELF
    * join on (band, key): feed it `spark.table("sig_table")` where the
    * table was written `bucketBy(band, key)` + `sortBy` and the join
    * plans with NO exchange (and no re-sort) on EITHER side — at 100 TB
    * the signature table is maintained once by ingest and every
    * pair-generation consumer (dedup sweeps, leakage checks) reads it
    * back shuffle-free instead of re-hashing the corpus. The exact
    * Jaccard verify runs off the `hs` arrays the table already carries.
    */
  def nearDupPairsOnBands(
      bands: DataFrame,
      idCol: String,
      threshold: Double = 0.4
  ): DataFrame = {
    val inter = org.apache.spark.sql.graft.LongArrayIntersectSize
      .column(col("hs_a"), col("hs_b")).cast("double")
    // true self-join with the rename AFTER the join: both sides canonicalize
    // to the identical plan, so ReuseExchange materializes the banded
    // shuffle ONCE instead of recomputing shingles+hashes per side
    bands.alias("a")
      .join(
        bands.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("id_a"), col("a.hs").as("hs_a"),
        col(s"b.$idCol").as("id_b"), col("b.hs").as("hs_b"))
      .withColumn("jacc", inter / (size(col("hs_a")) + size(col("hs_b")) - inter))
      .filter(col("jacc") >= threshold)
      .select("id_a", "id_b", "jacc")
      .distinct()
  }

  /** LSH banding-parameter AUDIT: for each (numBands, rowsPerBand)
    * config over ONE shared signature table, the candidate-pair count
    * (the shuffle-cost knob) and how many true near-dup pairs it
    * captures (the recall knob) — the tuning table a team reads before
    * committing a banding to a 100 TB dedup run. Truth = exact-Jaccard
    * pairs among the (numHashes, 1) candidates of a corpus-scaled doc
    * sample: the most permissive banding, whose candidate set provably
    * contains every coarser config's over the same docs (a full-band
    * collision implies each of its rows' minhash values collide
    * individually). One band self-join per config; the tiny truth set
    * broadcasts into each config's flag join.
    */
  def lshTuningAudit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      configs: Seq[(Int, Int)],
      threshold: Double,
      sampleTarget: Long = 1000L
  ): DataFrame = {
    // sample FIRST: only sampled docs ever need signatures — the full-
    // corpus md5 minhash pass would otherwise dominate the bounded
    // audit. The checkpoint is a PLAN BARRIER, not just reuse:
    // without it PushProjectionThroughJoin moves the shingle/minhash
    // projection below the broadcast-m join + filter and hashes the
    // ENTIRE corpus (measured 63 s vs 0.3 s at the 10x corpus).
    val docsS = Sampling.oneInM(docs, idCol, sampleTarget,
        spreadTo = docs.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(false)
    val sig = hashedSignatures(docsS, idCol, textCol, shingleN, numHashes)
    def candidates(src: DataFrame, bands: Int, rows: Int): DataFrame = {
      val b = bandExplode(src, idCol, bands, rows, carry = Seq.empty)
      b.alias("a")
        .join(b.alias("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
        .distinct()
    }
    // band buckets on a dense corpus hold ~N/m docs, so EVERY config's
    // pair volume is ~N^2-ish — corpus-wide, the (8,1) truth measured
    // 1065 s and even the (4,2) count alone 433 s at the 10x headroom
    // corpus. The ENTIRE audit therefore runs on a corpus-scaled 1-in-m
    // doc sample (m = max(1, N div sampleTarget), the trainSample8
    // shape: ~sampleTarget docs at ANY corpus size, broadcast 1-row m,
    // identity at oracle scales). Counts and recall are sample
    // estimates — exactly what a pre-flight banding decision needs, at
    // a bounded O(target^2) worst-case cost.
    val sigS = sig
    val inter = org.apache.spark.sql.graft.LongArrayIntersectSize
      .column(col("hs_a"), col("hs_b")).cast("double")
    val truth = candidates(sigS, numHashes, 1)
      .join(sig.select(col(idCol).as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jacc", inter / (size(col("hs_a")) + size(col("hs_b")) - inter))
      .filter(col("jacc") >= threshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("t"))
      .localCheckpoint(false) // audited against every config's candidates
    val totals = truth.agg(count(lit(1)).as("n_true_total"))
    configs.map { case (bands, rpb) =>
      candidates(sigS, bands, rpb)
        .join(broadcast(truth), Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("n_true_found"))
        .select(lit(bands.toLong).as("bands"), lit(rpb.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_true_found"))
        .crossJoin(broadcast(totals))
        .withColumn("recall",
          expr("CAST(n_true_found AS DOUBLE) / nullif(n_true_total, 0)"))
    }.reduce(_.unionAll(_))
  }

  /** As `nearDuplicates`, but each pair also carries the MINHASH ESTIMATE
    * of its Jaccard (fraction of agreeing signature slots) next to the
    * exact value — the estimator-quality surface: at 100 TB the verify
    * step is the expensive half of LSH dedup, and whether the signature
    * estimate can REPLACE the exact intersect (skipping the shingle-array
    * shuffle entirely) is decided by exactly this pair of columns.
    * Returns distinct (id_a, id_b, est_jacc, jacc) for candidate pairs
    * with exact Jaccard >= threshold.
    */
  def nearDuplicatesWithEstimate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 4,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.4
  ): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val hashedSig = hashedSignatures(docs, idCol, textCol, shingleN, numHashes)
    // carry the full signature through the join alongside the shingle
    // hashes: agreement count is a zip over two 8-slot arrays — cheap next
    // to the merge-scan intersect it rides with
    val banded = bandExplode(hashedSig, idCol, numBands, rowsPerBand, carry = Seq("hs", "sig"))
    val inter = org.apache.spark.sql.graft.LongArrayIntersectSize
      .column(col("hs_a"), col("hs_b")).cast("double")
    val agree = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    banded.alias("a")
      .join(
        banded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("id_a"), col("a.hs").as("hs_a"), col("a.sig").as("sig_a"),
        col(s"b.$idCol").as("id_b"), col("b.hs").as("hs_b"), col("b.sig").as("sig_b"))
      .withColumn("est_jacc", agree.cast("double") / numHashes)
      .withColumn("jacc", inter / (size(col("hs_a")) + size(col("hs_b")) - inter))
      .filter(col("jacc") >= threshold)
      .select("id_a", "id_b", "est_jacc", "jacc")
      .distinct()
  }

  /** SimHash over whitespace tokens: each token hashes to `bits` bits (md5
    * prefix), each bit position accumulates +1/-1 across tokens (with
    * multiplicity = frequency weighting), the sign becomes the output bit.
    * Tokens hash via the first 15 md5 hex chars (60 bits) so the value fits
    * a signed long in both Spark (conv) and DuckDB (hex cast).
    */
  def simhash(text: Column, bits: Int = 16): Column = {
    val tokens = TextFunctions.whitespaceTokens(lower(text))
    val hashes = transform(tokens, t => Md5Long60.column(t))
    // ONE fold over the token hashes: the accumulator is an array of `bits`
    // counters and each token updates every position via zip_with — vs the
    // old 16 independent aggregate() folds, which re-walked the token list
    // per bit (16x the work; 25 s at sf0.1 for a narrow projection).
    val bitSums = aggregate(
      hashes,
      array((0 until bits).map(_ => lit(0L)): _*),
      (acc, h) =>
        zip_with(
          acc,
          array((0 until bits).map(b => shiftright(h, b).bitwiseAND(1) * 2 - 1): _*),
          (a, d) => a + d
        )
    )
    val weights = array((0 until bits).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(bitSums, weights, (s, w) => when(s > 0, w).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc + x
    )
  }

  /** The exact prefix filters take |A| - minOverlap(t, |A|) + 1
    * shingles, a length in [1, |A|] only for t in (0, 1]; any other t is
    * rejected here, before a job runs, rather than failing inside `slice`.
    */
  private def requirePrefixThreshold(threshold: Double): Unit =
    require(threshold > 0 && threshold <= 1,
      s"prefix filtering requires a threshold in (0, 1], got $threshold")

  /** The least overlap k with k / n >= t in double arithmetic: the exact
    * prefix filters' verify test, so their prefix length, length filter
    * and position bound drop no pair the verify accepts. ceil(t·n) is not
    * it: 0.55·100 is 55.00000000000001 in doubles, so its ceil 56 misses
    * a pair at exactly 55/100. An overlap I that passes a Jaccard verify
    * I / |A ∪ B| >= t passes I / |A| >= t too, as |A| <= |A ∪ B|. For
    * t in (0, 1] and n >= 1 the answer is within one of ceil(t·n).
    */
  def minOverlap(t: Double, n: Int): Int = {
    val c = math.ceil(t * n).toInt
    if ((c - 1).toDouble / n >= t) c - 1 else if (c.toDouble / n >= t) c else c + 1
  }

  /** minOverlap over an integer column, with the same double division. */
  def minOverlap(t: Double, n: Column): Column = {
    val c = ceil(lit(t) * n)
    when((c - 1) / n >= t, c - 1).when(c / n >= t, c).otherwise(c + 1)
  }

  /** N-gram Jaccard similarity pairs, EXACT (same result set as an
    * all-pairs compare for threshold > 0) but sub-quadratic: the AllPairs
    * prefix filter (Bayardo et al., WWW'07) with PPJoin's positional
    * bound (Xiao et al., WWW'08), answered as the symmetric self-probe of
    * a `containmentScreenIndex` (see selfPairs).
    *
    * Every doc's distinct shingles sort under one global order, ascending
    * document frequency then hash, so a prefix holds the doc's rarest
    * shingles. A pair with Jaccard >= t shares >= minOverlap(t, |A|)
    * shingles, so it meets inside the first |A| - minOverlap(t, |A|) + 1
    * shingles of both docs: each doc's prefix probes only the prefixes of
    * docs with a larger per-doc key, under the size filter
    * t·|A| <= |B| <= |A|/t (as minOverlap), the bound
    * 1 + min(|A|-pa-1, |B|-pb-1) + 1e-9 >= t/(1+t)·(|A|+|B|) for the
    * least shared positions (pa, pb), and the exact verify
    * I / (|A| + |B| - I) >= t.
    *
    * One row per unordered pair of distinct documents whose ids are
    * non-null and differ, as (smaller id, larger id, jacc): docs that
    * share an id are never paired with each other, and each pairs with
    * other docs on its own. The result depends on set sizes only, so
    * shingles hash with xxhash64 rather than the LSH path's md5.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double
  ): DataFrame = selfPairs(docs, idCol, textCol, shingleN, threshold, jaccard = true)
    .select(least(col("id_a"), col("id_b")).as("id_a"), greatest(col("id_a"), col("id_b")).as("id_b"),
      col("score").as("jacc"))

  /** ASYMMETRIC shingle-containment join: directed pairs (a, b) with
    * |A ∩ B| / |A| >= t — "most of A's shingles appear in B". Jaccard
    * (ngramJaccardPairs) misses exactly the pairs this catches: a quote,
    * an excerpt, or a doc embedded in a much larger one has high
    * containment but low Jaccard (the size filter t·|A| <= |B| <= |A|/t
    * prunes them BY DESIGN there). Containment is the dedup relation for
    * partial-copy detection (Broder's "roughly contained", SEQUENCES'97).
    *
    * The exact containment screen's self-probe: the corpus is built into
    * a `containmentScreenIndex` and then probed with its own hashed docs,
    * so the one-sided prefix filter (only A's rare-first prefix probes
    * B's full posting list; see incrementalContainmentScreenOnIndex), its
    * position bound and its exact verify live in one place. Each doc's
    * per-doc key `c_rk` is its probe key too. The regime is the index's:
    * one narrow pass over the docs against the broadcast corpus
    * (ContainmentCorpus) while its postings fit the Narrow.Postings
    * budget, else the shuffle regime's joins (see selfPairs).
    *
    * One row per ordered pair of distinct documents whose ids are
    * non-null and differ: docs that share an id are never paired with
    * each other, and each of them pairs with other docs on its own. Like
    * ngramJaccardPairs the result is hash-independent, so shingles hash
    * with xxhash64.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double
  ): DataFrame = selfPairs(docs, idCol, textCol, shingleN, threshold, jaccard = false)
    .select(col("id_a"), col("id_b"), col("score").as("containment"))

  /** The exact pair joins as self-probes of a `containmentScreenIndex`
    * built over `docs`: its own docs with non-null ids, keyed by c_rk,
    * probe it in one of its regimes (containment, or the symmetric
    * Jaccard form), and both keys join back to their ids. Returns
    * (id_a, id_b, score) for the pairs whose ids differ. The corpus
    * broadcast lives as long as the returned frame.
    */
  private def selfPairs(docs: DataFrame, idCol: String, textCol: String, shingleN: Int,
      threshold: Double, jaccard: Boolean): DataFrame = {
    requirePrefixThreshold(threshold)
    val index = containmentScreenIndex(docs, idCol, textCol, shingleN)
    val live = index.hashed.filter(col(idCol).isNotNull)
    val probe = live.select(col("c_rk").as("rk"), col("hs"), col("nsh"))
    // lazily checkpointed: a downstream sort's sampling job would
    // otherwise run the whole narrow pass a second time
    val found = (index.narrow match {
      case Some(corpus) => ContainmentCorpus.pairs(probe, corpus, threshold, jaccard)
      case None => shuffleContainers(probe, index, idCol, threshold, jaccard)
    }).localCheckpoint(false)
    // a narrow corpus's per-doc ids fit the driver as well
    val ids0 = live.select(col("c_rk"), col(idCol))
    val ids = if (index.narrow.isDefined) broadcast(ids0) else ids0
    found
      .join(ids.select(col("c_rk").as("rk"), col(idCol).as("id_a")), Seq("rk"))
      .join(ids.select(col("c_rk"), col(idCol).as("id_b")), Seq("c_rk"))
      .filter(col("id_a") =!= col("id_b"))
  }

  /** Bottom-k sketch SCREEN for the containment join, with its audit —
    * the q147/q154/q170 shape applied to q173. containmentPairs' exact
    * one-sided prefix still probes (1-t)·|A|+1 shingles per doc; the
    * bottom-k screen joins a CONSTANT k hashes per doc instead: under a
    * uniform hash, A's k smallest shingle hashes are a uniform random
    * k-subset of A, so the fraction of them found anywhere in B is an
    * unbiased estimate of |A∩B|/|A| (Broder's bottom-k containment,
    * SEQUENCES'97 — the Mash-screen estimator). Pairs pass the screen at
    * m >= ceil(screenFrac·k) with screenFrac < threshold so recall is
    * traded explicitly, never silently.
    *
    * Output: one row per k — (k, n_truth, n_candidates, n_hit, recall,
    * precision) against the EXACT containmentPairs truth at `threshold`.
    * All counts BIGINT; the two ratios are single exact IEEE divides.
    * Hashes are md5-derived (positive 60-bit, ascending sort = uniform
    * sample) so a SQL oracle reproduces the sample bit-for-bit; when
    * k >= |A| the sample IS A and the screen equals exact containment
    * >= screenFrac (the spec pins this degenerate-exactness property).
    *
    * AUDIT-SCALE bound: the audit certifies a screen CONFIG, not the
    * corpus, so the whole audit — sketch side, postings, AND the exact
    * containmentPairs truth — runs on a corpus-scaled 1-in-m id spread
    * (m = max(1, N div sampleTarget)). The exact containment join is
    * precisely the scale casualty the screen exists to avoid; it must
    * never itself run at corpus scale. m = 1 at oracle scales, so the
    * audited numbers there are the unsampled ones.
    */
  def containmentScreenAudit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      ks: Seq[Int],
      screenFrac: Double,
      sampleTarget: Long
  ): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "sample sizes must be positive")
    require(screenFrac > 0 && screenFrac <= threshold,
      "screen must not be stricter than the audited threshold")
    require(sampleTarget >= 1, "audit sample target must be positive")
    // checkpoint the SAMPLE itself, not just frames derived from it: it
    // feeds both the sketch side's hashing and containmentPairs' own
    // index build, and without the barrier each re-executes the corpus
    // scan + sampling subtree (measured: the h10 audit spent ~6x its
    // bounded cost re-scanning the corpus it had already sampled away)
    val sampledDocs = Sampling.oneInM(docs, idCol, sampleTarget,
        spreadTo = docs.sparkSession.sparkContext.defaultParallelism)
      .drop("m").localCheckpoint(false)
    val hashed = sampledDocs
      .select(
        col(idCol),
        hashedShingles(col(textCol), shingleN).as("hs"))
      .withColumn("nsh", size(col("hs")))
      .filter(col("nsh") > 0)
      .localCheckpoint(false) // feeds the sample side, the postings, and the truth
    val full = hashed.select(col(idCol).as("id_b"), explode(col("hs")).as("h"))
    val sampled = hashed
      .select(col(idCol).as("id_a"), col("hs"), col("nsh"),
        explode(array(ks.map(lit(_)): _*)).as("k"))
      .select(col("id_a"), col("k"), least(col("k"), col("nsh")).as("ka"),
        explode(slice(col("hs"), lit(1), least(col("k"), col("nsh")))).as("h"))
    val m = sampled.join(full, Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("k", "id_a", "id_b", "ka").agg(count(lit(1)).as("m"))
    val cands = m.filter(col("m") >= ceil(lit(screenFrac) * col("ka")))
    val truth = containmentPairs(sampledDocs, idCol, textCol, shingleN, threshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("is_true"))
      .localCheckpoint(false) // probed by the hit join AND the n_truth agg
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val perK = cands.join(truth, Seq("id_a", "id_b"), "left")
      .groupBy("k")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_hit"))
    // every swept k reports, even one whose screen passes NOTHING — a
    // badly-tuned config must show n_candidates = 0, not vanish
    val ksDf = docs.sparkSession.range(1)
      .select(explode(array(ks.map(lit(_)): _*)).as("k"))
    ksDf.join(perK, Seq("k"), "left")
      .crossJoin(broadcast(nTruth))
      .select(col("k").cast("long").as("k"), col("n_truth"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        // nullif: a corpus can have an EMPTY exact truth set (no pair
        // reaches the threshold — e.g. a Zipf vocabulary at t=0.7);
        // recall is undefined there, not a divide-by-zero crash —
        // and a zero-candidate screen has undefined precision
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          nullif(col("n_truth"), lit(0L))).as("recall"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          nullif(coalesce(col("n_candidates"), lit(0L)), lit(0L))).as("precision"))
  }

  /** The corpus side of the exact containment screen (and of
    * containmentPairs and ngramJaccardPairs, which probe it with the
    * corpus itself), in one of
    * two regimes (see containmentScreenIndex). Both carry the three
    * corpus-side frames of the shuffle regime's probe: the hashed corpus
    * (id, hs, nsh, c_rk) for verification, the shingle dictionary
    * (h, df) for the rare-first order, and the rare-first posting frame
    * (c_rk, c_nsh, c_pos, h) the prefix probes join. `c_rk` is a per-doc
    * key, so docs that share an id are separate containers, as in the
    * narrow regime; a doc with a null id is never one. At 100 TB these are
    * the persisted term-index tables (the q132 persisted-signature story
    * applied to the exact screen): ingest writes them once, every later
    * screen — batch or per-micro-batch — reads them back instead of
    * re-shingling the corpus. In the narrow regime `narrow` holds the
    * same corpus collected and broadcast as arrays, which the probe
    * reads instead; the frames stay lazy there, derived from the hashed
    * corpus's checkpoint, and no probe scans them.
    */
  final case class ContainmentScreenIndex(
      hashed: DataFrame, freq: DataFrame, postings: DataFrame,
      narrow: Option[Broadcast[ContainmentCorpus]] = None)

  /** (id, sorted distinct xxhash64 shingle hashes, shingle count) of a
    * document frame — the shared hashing step of the exact prefix
    * filters, one ShingleHashes pass per doc.
    */
  private def containmentHashed(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = df
    .select(col(idCol), ShingleHashes.column(col(textCol), shingleN, ShingleHashes.Xxhash64).as("hs"))
    .withColumn("nsh", size(col("hs")))

  /** Shingle rows re-assembled per doc in (corpus df, h) rare-first
    * order — the shared total order of the exact screens' prefix filter.
    */
  private def rareFirstOrder(ex: DataFrame, freq: DataFrame, idCol: String,
      joinType: String): DataFrame = ex
    .join(freq, Seq("h"), joinType)
    .withColumn("df", coalesce(col("df"), lit(0L)))
    .groupBy(col(idCol), col("nsh"))
    .agg(transform(sort_array(collect_list(struct(col("df"), col("h")))), x => x("h")).as("sg"))

  /** Build the corpus-side screen index. The hashed corpus is
    * checkpointed and its postings counted in the one job that
    * materializes it; the count picks the regime:
    *   - narrow, while the postings fit the Narrow.Postings budget (a
    *     share of the driver heap; SCALE.md gives the bounds): the
    *     hashed corpus is collected once and broadcast as the shingle
    *     dictionary with each shingle's df, the rare-first postings
    *     (doc, c_pos) as CSR arrays, and each doc's c_nsh and sorted
    *     hashes (ContainmentCorpus). Each probe then reads no corpus
    *     frame. The broadcast lives as long as the index.
    *   - shuffle, past the budget: the dictionary and postings are
    *     derived in-plan from the checkpoint, and every probe joins
    *     them. `eager` applies to this regime only: `eager = false` (the
    *     batch q175 shape) leaves them lazy; `eager = true` (a streaming
    *     gate) materializes both up front, so each micro-batch's
    *     addBatch pays only its own probe — never per-batch corpus-sized
    *     work on the streaming session (where AQE is force-disabled).
    * Same filters in both regimes, so answers are identical row for row.
    */
  def containmentScreenIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      eager: Boolean = false
  ): ContainmentScreenIndex = {
    // the docs with at least one shingle and their per-doc key `c_rk`
    // (taken before the checkpoint)
    val hc = containmentHashed(corpus, idCol, textCol, shingleN)
      .filter(col("nsh") > 0)
      .withColumn("c_rk", monotonically_increasing_id())
      .localCheckpoint(false)
    val narrow = Narrow.fits(Narrow.Postings -> ContainmentCorpus.postingRows(hc))
    val exC = hc.select(col("c_rk"), col("nsh"), explode(col("hs")).as("h"))
    val freq0 = exC.groupBy("h").agg(count(lit(1)).as("df"))
    val pinned = eager && !narrow
    val freq = if (pinned) freq0.localCheckpoint(true) else freq0
    val fullB0 = rareFirstOrder(exC, freq, "c_rk", "inner")
      .select(col("c_rk"), col("nsh").as("c_nsh"),
        posexplode(col("sg")).as(Seq("c_pos", "h")))
    val fullB = if (pinned) fullB0.localCheckpoint(true) else fullB0
    val shared =
      if (narrow) Some(Narrow.share(hc.sparkSession, ContainmentCorpus.collect(hc, idCol)))
      else None
    ContainmentScreenIndex(hc, freq, fullB, shared)
  }

  /** Incremental CONTAINMENT screen — the ingest-time question
    * containmentPairs answers in batch: is this NEW document an excerpt
    * / partial copy of something already in the corpus (>= t of its
    * shingles inside one existing doc)? Returns one row per incoming row
    * with its container count; kept = no container. The containment
    * twin of incrementalHammingScreenOnBands /
    * incrementalNearDupFilterOnBands, and the shape
    * decontamination-on-arrival runs: corpus-side self-pairs are NEVER
    * generated (the quadratic bulk of a batch containmentPairs run).
    *
    * The one-sided prefix filter: with k = minOverlap(t, |A|),
    * |A ∩ B| >= k forces the intersection to hit A's first |A| - k + 1
    * shingles under any total order shared by both sides (else it fits
    * inside A's last k - 1 positions — too small). So only the incoming
    * doc's rare-first prefix probes the corpus's FULL posting list (B is
    * unbounded above — that is the point), with the size filter
    * |B| >= k and the PPJoin positional bound
    * 1 + min(|A|-pa-1, |B|-pb-1) >= k. Both sides order by
    * (corpus df, h) — a total order shared by construction;
    * incoming-only shingles take df 0 (rarest, so they front-load the
    * prefix — exactly right: a shingle absent from the corpus can only
    * appear in prefixes, never postings, and prunes for free). Docs with
    * no shingles (shorter than the shingle width) or a null id have no
    * containment evidence and are kept.
    *
    * The regime is the index's:
    *   - narrow: one narrow pass over the batch probes the broadcast
    *     corpus (ContainmentCorpus) and verifies each candidate's exact
    *     intersection in the task — no dictionary, posting or verify
    *     join, no candidate aggregate and no corpus scan per batch.
    *   - shuffle: the incoming prefix joins the dictionary and the
    *     posting frame, candidates aggregate per (row, corpus doc), and
    *     the exact intersection verifies against the hashed corpus.
    * Both end in the same spine: every incoming row gets a per-row key
    * before the batch's checkpoint, and the rows left-join their counts
    * on that key (broadcast in the narrow regime), so rows that share an
    * id are screened independently.
    *
    * Build once, probe many: the corpus side is a pre-built
    * `containmentScreenIndex` — the per-micro-batch serving entry point
    * and a batch query's inline build alike. At 100 TB the corpus
    * posting list is the persisted term index; incoming shuffles into
    * it, the corpus never moves.
    */
  def incrementalContainmentScreenOnIndex(
      incoming: DataFrame,
      index: ContainmentScreenIndex,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double
  ): DataFrame = {
    requirePrefixThreshold(threshold)
    // the key is taken before the checkpoint, so the probe and the spine
    // read the same keys
    val hi = containmentHashed(incoming, idCol, textCol, shingleN)
      .withColumn("rk", monotonically_increasing_id())
      .localCheckpoint(false) // probe side + output spine
    val probe = hi.filter(col(idCol).isNotNull && col("nsh") > 0)
      .select(col("rk"), col("hs"), col("nsh"))
    val counts = index.narrow match {
      case Some(corpus) => broadcast(ContainmentCorpus.containers(probe, corpus, threshold))
      case None => shuffleContainers(probe, index, idCol, threshold, jaccard = false)
        .groupBy("rk").agg(count(lit(1)).as("n_containers"))
    }
    hi.select(col("rk"), col(idCol))
      .join(counts, Seq("rk"), "left")
      .select(col(idCol), coalesce(col("n_containers"), lit(0L)).as("n_containers"))
      .withColumn("kept", col("n_containers") === 0)
  }

  /** The shuffle regime's (rk, c_rk, score) for the probe rows (rk, hs,
    * nsh) and each of their verified matches, under the filters of
    * ContainmentProbe's two forms: the containers, or with `jaccard` the
    * docs with c_rk > rk whose own prefix meets the row's, at Jaccard
    * >= t.
    */
  private def shuffleContainers(probe: DataFrame, index: ContainmentScreenIndex,
      idCol: String, threshold: Double, jaccard: Boolean): DataFrame = {
    val prefixLen = (col("nsh") - minOverlap(threshold, col("nsh")) + 1).cast("int")
    val prefA = rareFirstOrder(
        probe.select(col("rk"), col("nsh"), explode(col("hs")).as("h")),
        index.freq, "rk", "left")
      .select(col("rk"), col("nsh"),
        posexplode(slice(col("sg"), lit(1), prefixLen)).as(Seq("pos", "h")))
    val needed = minOverlap(threshold, col("nsh"))
    val cNeeded = minOverlap(threshold, col("c_nsh"))
    val ubound = lit(1) + least(col("nsh") - col("pa") - 1, col("c_nsh") - col("pb") - 1)
    val alpha = lit(threshold / (1.0 + threshold)) * (col("nsh") + col("c_nsh"))
    val joined = prefA
      .join(if (jaccard) index.postings.filter(col("c_pos") < col("c_nsh") - cNeeded + 1)
        else index.postings, Seq("h"))
      .filter(col("c_nsh") >= needed)
    val cands = (if (jaccard) joined.filter(col("nsh") >= cNeeded && col("c_rk") > col("rk")) else joined)
      .groupBy(col("rk"), col("c_rk"), col("nsh"), col("c_nsh"))
      .agg(min(col("pos")).as("pa"), min(col("c_pos")).as("pb"))
      .filter(if (jaccard) ubound.cast("double") + 1e-9 >= alpha else ubound >= needed)
      .select(col("rk"), col("c_rk"))
    val inter = org.apache.spark.sql.graft.LongArrayIntersectSize
      .column(col("hs"), col("c_hs")).cast("double")
    cands
      .join(probe, Seq("rk"))
      .join(index.hashed.filter(col(idCol).isNotNull)
        .select(col("c_rk"), col("hs").as("c_hs"), col("nsh").as("c_nsh")), Seq("c_rk"))
      .select(col("rk"), col("c_rk"),
        (if (jaccard) inter / (col("nsh") + col("c_nsh") - inter) else inter / col("nsh")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** The corpus-side POSTING LIST of the containment screens — one
    * (c_id, h) row per distinct md5 shingle hash per corpus doc. This is
    * the persistable half of a term index: at 100 TB ingest writes it
    * ONCE (bucketed by `h`, the probe-join key) and every later screen —
    * batch or per-micro-batch streaming — reads it back instead of
    * re-shingling the corpus (the q132 persisted-signature-table story,
    * applied to the containment family). md5-derived hashes so a SQL
    * oracle reproduces the bottom-k sample bit-for-bit.
    */
  def containmentPostings(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int
  ): DataFrame = corpus
    .select(
      col(idCol).as("c_id"),
      hashedShingles(col(textCol), shingleN).as("hs"))
    // no size(hs) > 0 filter: explode already emits nothing for empty or
    // null arrays, and an explicit filter on the hashed column gets
    // substituted + pushed below any upstream exchange — re-running the
    // whole shingling single-core on an under-partitioned scan (measured
    // 7.2 s vs 1.3 s on the sf0.1 corpus side)
    .select(col("c_id"), explode(col("hs")).as("h"))

  /** The GROUPED term index of the bottom-k screen: one row per distinct
    * shingle hash carrying its document frequency AND its posting list
    * (df = size of the list by construction) — the df dictionary and the
    * posting list folded into one structure. Built ONCE from the
    * postings (one groupBy), it lets a per-micro-batch probe touch the
    * corpus side in a SINGLE pass: a separate (postings, dictionary)
    * pair cost every batch one full scan of EACH corpus-sized frame (the
    * df lookup scanned the dictionary, the rare probe scanned the
    * postings), and on a 4-batch stream that was 8 corpus-sized scans
    * per gate run (guide §2.4 — remove passes outright; measured: the
    * two scans were the two heaviest stages of every q191 micro-batch).
    * At 100 TB this
    * IS the classic postings-list layout: written bucketed by `h`, the
    * probe join prunes to matching buckets.
    */
  def containmentIndex(postings: DataFrame): DataFrame =
    postings.groupBy("h")
      .agg(count(lit(1)).as("df"), collect_list(col("c_id")).as("cs"))

  /** Bottom-k containment SCREEN with a document-frequency stop cut —
    * the constant-cost-per-doc SERVING form of the sketch q183 audits
    * (Broder's bottom-k containment estimate, SEQUENCES'97 / the Mash
    * screen), plus the q159 df trick applied to shingles.
    *
    * incrementalContainmentScreenOnIndex's exact prefix filter still
    * probes (1-t)·|A|+1 shingles per doc, and each probe costs that
    * shingle's
    * corpus df — on a saturated shingle space (every shingle a head
    * shingle, the flat-vocab testdata) that is df ∝ N per probe, a
    * quadratic total (measured: exponent 1.38 flat / 0.78 Zipf at 10×).
    * Here each incoming doc probes only its k SMALLEST md5 shingle
    * hashes — a uniform random k-subset of A under a uniform hash, so
    * the fraction found in B estimates |A∩B|/|A| — and probes skip
    * shingles whose corpus df exceeds `dfCap`: a shingle in hundreds of
    * docs certifies nothing about copying (it co-occurs with everything),
    * yet carries the entire join blowup. Capped sampled hashes still
    * COUNT toward a candidate's evidence m (df > cap means the container
    * almost surely has them) but can never CREATE a candidate — exactly
    * q159's stop-term semantics. Join cost per incoming doc is <= k·dfCap
    * rows BY CONSTRUCTION, independent of corpus size.
    *
    * Screening (not verification): a pair passes at
    * m >= ceil(screenFrac·ka); recall is traded explicitly by
    * screenFrac < threshold (the q183 audit measures exactly this
    * trade). Docs with no shingles have no evidence and are kept.
    * Output: (id, n_containers, kept) — q175's shape.
    *
    * Build once, probe many: the corpus side is the GROUPED
    * `containmentIndex` frame (build it with
    * `containmentIndex(containmentPostings(corpus, ...))`), so the
    * streaming gate builds it ONCE and every micro-batch pays only its
    * own probes. Per probe the corpus side is touched exactly once: the
    * probe's <= k·|incoming| distinct hashes semi-filter the index, df
    * lookups read the surviving rows, and the rare-probe posting rows
    * are exploded from those same rows (<= k·dfCap per doc, the stop-cut
    * bound).
    */
  def bottomKContainmentScreenOnIndex(
      incoming: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      k: Int,
      screenFrac: Double,
      dfCap: Long
  ): DataFrame = {
    require(k >= 1 && dfCap >= 1 && screenFrac > 0 && screenFrac <= 1,
      "bottom-k screen needs k >= 1, dfCap >= 1, screenFrac in (0, 1]")
    // lazy, not eager (measured both ways: the three concurrent consumer
    // stages block on the first materializer's cache locks — inflated
    // task-sum but no wall cost — and an eager per-batch job read ~0.4 s
    // SLOWER at the gate level)
    val hi = incoming
      .select(
        col(idCol),
        hashedShingles(col(textCol), shingleN).as("hs"))
      .withColumn("nsh", size(col("hs")))
      .localCheckpoint(false) // sample side + output spine
    val sampledRaw = hi.filter(col("nsh") > 0)
      .select(col(idCol), least(lit(k), col("nsh")).as("ka"),
        explode(slice(col("hs"), lit(1), least(lit(k), col("nsh")))).as("h"))
    // the ONE corpus-side pass of this screen: probe hashes semi-filter
    // the grouped index; everything downstream reads this bounded frame
    // (<= k·|incoming| rows, each carrying one posting list). The
    // broadcast decision is AQE's, NOT a hint: the probe set grows
    // linearly with the incoming side, so a broadcast() right for a
    // micro-batch would pin a multi-GB build when a bulk slice (q190's
    // shape at full scale) probes the same index — the runtime picks
    // broadcast under the threshold and a shuffle join above it, with
    // identical answers
    val idxHit = index
      .join(sampledRaw.select("h").distinct(), Seq("h"), "left_semi")
      .localCheckpoint(false) // feeds the df lookup AND the rare explode
    val sampled = sampledRaw
      .join(idxHit.select(col("h"), col("df")), Seq("h"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .localCheckpoint(false) // feeds the stop count AND the rare probe
    val nCap = sampled.groupBy(col(idCol), col("ka"))
      .agg(sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("n_cap"))
    // rare posting rows, exploded from the already-probed index: df is a
    // GLOBAL property of a hash, so a hit on a rare (df <= dfCap) hash
    // already satisfies the corpus-side df cut
    val rareHit = idxHit.filter(col("df") <= dfCap)
      .select(col("h"), explode(col("cs")).as("c_id"))
    val mRare = rareHit
      .join(sampled.filter(col("df") <= dfCap).select(col(idCol), col("h")),
        Seq("h"))
      .filter(col(idCol) =!= col("c_id"))
      .groupBy(col(idCol), col("c_id")).agg(count(lit(1)).as("m_rare"))
    val hits = mRare.join(nCap, Seq(idCol))
      .filter(col("m_rare") + col("n_cap") >= ceil(lit(screenFrac) * col("ka")))
      .groupBy(idCol).agg(count(lit(1)).as("n_containers"))
    hi.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_containers"), lit(0L)).as("n_containers"))
      .withColumn("kept", col("n_containers") === 0)
  }

  private val DefaultMaxIter = 64

  /** Collapse near-dup PAIRS into duplicate groups: every doc gets
    * `keep_id` = the minimum doc id in its connected component of the
    * pair graph (keep-one dedup — the actual "dedup" a training-data
    * pipeline needs; an edge list alone drops nothing. The reference's
    * helper dedups with a set(),
    * /root/reference/src/example_helpers/parse_inputs.py:27-35).
    * Ids that only the pairs name still link their component, so a
    * keep_id need not be a doc; a pair with a null id links nothing.
    *
    * The pair list is checkpointed once and counted (the count is the
    * job that materializes it, so the regime check costs no job of its
    * own). The count picks one of two regimes:
    *   - narrow, while the list fits the Narrow.Pairs budget (a share
    *     of the driver heap; SCALE.md gives the bounds): the list is
    *     collected in one job, a min-root union-find labels it on the
    *     driver (DupComponents), and the labels of the edge-touched ids
    *     join back to `docs` as a driver-built broadcast frame.
    *     `maxIter` does not apply.
    *   - shuffle, past the budget: the distributed loop below, where no
    *     vertex data reaches the driver.
    *
    * The shuffle regime is iterative min-label propagation WITH pointer
    * jumping: each round every vertex takes the min over (its label,
    * neighbors' labels, its label's label). The shortcut through the
    * label table compresses label chains, so rounds scale with the log
    * of component diameter rather than the diameter itself — but the
    * constant is NOT the ideal halving (propagation and jumping
    * interleave through one min, and a fresh frontier's labels arrive
    * unjumped), so give the loop comfortable headroom: maxIter 64
    * (q192's 50k-node mutual-kNN graph empirically needs more than 25
    * where the 500-node gate converged well inside it; rounds are cheap
    * and the loop exits on convergence).
    * Each round is one edge join + one label self-join + one min
    * aggregation, all distributed (the driver loop only counts changed
    * labels). localCheckpoint truncates the growing lineage per round.
    * Throws if maxIter rounds were insufficient rather than returning
    * silently-wrong labels.
    */
  def resolveGroups(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = DefaultMaxIter
  ): DataFrame = {
    requireIntegralIds(docs, idCol, pairs)
    val (list, narrow) = pairList(pairs)
    val labels =
      if (narrow) broadcast(DupComponents.collect(list).labels(docs.sparkSession))
      else shuffleLabels(list, maxIter)
    docs
      .select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("keep_id"), col("id")).as("keep_id"))
  }

  /** The (id_a, id_b) pair list, checkpointed lazily and materialized by
    * its count, and whether that count fits the narrow regime.
    */
  private def pairList(pairs: DataFrame): (DataFrame, Boolean) = {
    val list = CheckpointStats.freshCheckpoint(pairs.select("id_a", "id_b"), eager = false)
    (list, Narrow.fits(Narrow.Pairs -> CheckpointStats.rowCount(list)))
  }

  /** A non-integral id would silently cast to null and propagate garbage
    * keep_ids — reject it up front (fail-loudly contract).
    */
  private def requireIntegralIds(docs: DataFrame, idCol: String, pairs: DataFrame): Unit =
    Seq(docs -> idCol, pairs -> "id_a", pairs -> "id_b").foreach { case (df, c) =>
      val t = df.schema(c).dataType
      require(
        Seq(org.apache.spark.sql.types.ByteType,
            org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType).contains(t),
        s"resolveGroups requires integral ids; '$c' is $t")
    }

  /** The shuffle regime's labels: (id, keep_id) for every edge-touched id. */
  private def shuffleLabels(pairs: DataFrame, maxIter: Int): DataFrame = {
    // materialize the edge list ONCE: `pairs` is usually an expensive
    // pipeline (LSH near-dup detection), and every propagation round plus
    // every convergence check would otherwise re-run it from scratch
    // freshCheckpoint, not plain localCheckpoint: the loop below joins
    // checkpointed frames against each other every round, and Spark's
    // checkpoint INHERITS the child plan's size estimate — the estimate
    // would be squared per round until Catalyst's stats visitor overflows
    // BigInteger during planning (see CheckpointStats' scaladoc). No
    // repartition by src first: under AQE the checkpoint does not record
    // it, so it would cost one exchange and save none (same scaladoc).
    val edges = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // iterate ONLY over edge-touched vertices: at realistic near-dup
    // density (~0.02% of pairs at j>=0.8 on this corpus) the propagation
    // frames are orders of magnitude smaller than the corpus; every
    // untouched doc is a singleton (keep_id = id) and is merged back in
    // one final left join instead of riding through every round
    // seed with min(id, min neighbor) — the old id->id seed spent the
    // whole first round discovering exactly this, for the same shuffle
    // cost as the distinct() it replaces (round-17 optimization: the
    // loop's fixed per-round cost dominates at bench scale, and every
    // label candidate below is still a component member, so the fixpoint
    // — component-min labels — is unchanged)
    var labels = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      edges
        .groupBy("src")
        .agg(min("dst").as("mn"))
        .select(col("src").as("id"), least(col("src"), col("mn")).as("keep_id")))
    // ONE lookup join per round (round-17 optimization): edge
    // propagation ("give dst the label of src") and pointer jumping
    // ("give v the label of its label") are both lookups of
    // labels(key) delivered to a receiver — union the two request
    // frames first and resolve them with a single join instead of the
    // old prop-join + jump-join pair. Same candidates, same fixpoint,
    // identical round count — but the loop's dominant cost at bench
    // scale is PER-STAGE fixed overhead (each exchange is an AQE
    // stage materialization: measured ~13 mini-jobs/round, 4-30 ms of
    // tasks each, wall ~0.45 s/round on KB-sized frames), and this
    // halves the exchanges per round. At cluster scale the same fusion
    // halves the number of shuffle barriers per round.
    // The previous label rides along as `old_keep` (max ignores the
    // nulls from the lookup branch), so the convergence check is a
    // scan of the round's output — no extra join+shuffle per round.
    def round(cur: DataFrame): DataFrame = {
      val requests = edges
        .select(col("dst").as("id"), col("src").as("k"))
        .union(cur.select(col("id"), col("keep_id").as("k")))
      val looked = requests
        .join(cur.select(col("id").as("k"), col("keep_id").as("lbl")), Seq("k"))
        .select(col("id"), col("lbl").as("keep_id"),
          lit(null).cast("long").as("old_keep"))
      cur
        .select(col("id"), col("keep_id"), col("keep_id").as("old_keep"))
        .union(looked)
        .groupBy("id")
        .agg(min("keep_id").as("keep_id"), max("old_keep").as("old_keep"))
    }
    // BATCHED convergence checks (round 18): the loop runs several
    // rounds per convergence COUNT instead of one. Each unbatched round
    // paid a count job on top of its checkpoint — pure fixed cost at
    // bench scale and a full O(N) label scan per round at cluster scale.
    // Rounds inside a batch still checkpoint (lazily — stage execution
    // happens at definition, the materializing scan folds into the next
    // consumer), but only the batch-final round carries the old/new
    // comparison and pays the count. The fixpoint is unchanged —
    // applying the round function past convergence is the identity (the
    // min over already-minimal labels), so a batch that overshoots
    // convergence returns the same labels and the batch-final scan
    // still reads 0 changes. The schedule is GEOMETRIC (1, 2, then
    // `batchCap` forever): short-diameter graphs (the common case)
    // detect their fixpoint with zero or one overshot round, while
    // long-chain graphs amortize the count over batchCap rounds —
    // measured at sf0.1: q192 4.34 -> 3.51 s, q52 4.03 -> 3.99 s
    // against an interleaved same-host control. Alternatives measured
    // SLOWER and rejected: persist() intermediates (cached-plan AQE
    // restrictions + columnar build cost: q52 5.3-5.4 s) and raw plan
    // chaining (the 3 in-plan references per round triple planning
    // work per level: q52 4.9-5.1 s).
    val batchCap = 4
    var changed = 1L
    var iter = 0
    var batchNo = 0
    while (changed > 0 && iter < maxIter) {
      val k = math.min(math.min(1 << batchNo, batchCap), maxIter - iter)
      batchNo += 1
      var cur = labels
      var last: DataFrame = null
      for (j <- 0 until k) {
        val r = round(cur)
        if (j < k - 1)
          cur = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
            r.select("id", "keep_id"), eager = false)
        else last = r
      }
      // LAZY checkpoint (round 17): the convergence count below is the
      // materializing action, so each batch pays ONE driver-side action.
      val next = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
        last, eager = false)
      changed = org.apache.spark.sql.graft.CheckpointStats.rowCount(
        next.filter(col("keep_id") =!= col("old_keep")))
      labels = next.select("id", "keep_id")
      iter += k
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"resolveGroups did not converge in $maxIter rounds ($changed labels still changing)")
    labels
  }

  /** Quality-aware dedup resolution: collapse near-dup pairs into groups
    * (resolveGroups) and keep the BEST document of each group by
    * `qualityCol` (quality DESC NULLS LAST under Catalyst's ordering for
    * the column's type, ties -> smallest id) instead of the arbitrary
    * min-id survivor — what a training-data pipeline actually wants ("of
    * these near-identical pages, keep the longest/highest-quality one").
    *
    * Output: one row per doc with a non-null id — (id, group_id,
    * best_id, kept); an untouched doc is (id, id, id, true). The regime
    * is resolveGroups': narrow takes the argmax over the touched docs
    * only (a per-component candidate per task against the broadcast
    * components, merged on the driver, after which the broadcast is
    * released) and attaches it with one broadcast left join over `docs`; shuffle takes
    * it with a per-group WindowGroupLimit (rank-1 rows truncate inside
    * each partition) over the labeled docs, joined back by group id.
    */
  def keepBest(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      qualityCol: String
  ): DataFrame = {
    requireIntegralIds(docs, idCol, pairs)
    val (list, narrow) = pairList(pairs)
    val keyed = docs.select(col(idCol).cast("long").as(idCol), col(qualityCol))
      .filter(col(idCol).isNotNull)
    val groups =
      if (narrow) {
        val best = DupComponents.collect(list).best(docs, idCol, qualityCol)
          .withColumnRenamed("id", idCol)
        keyed.join(broadcast(best), Seq(idCol), "left")
          .select(col(idCol), coalesce(col("group_id"), col(idCol)).as("group_id"),
            coalesce(col("best_id"), col(idCol)).as("best_id"))
      } else {
        val labels = shuffleLabels(list, DefaultMaxIter).withColumnRenamed("id", idCol)
        val labeled = keyed.join(labels, Seq(idCol), "left")
          .select(col(idCol), coalesce(col("keep_id"), col(idCol)).as("group_id"),
            col(qualityCol))
        val w = Window.partitionBy("group_id").orderBy(col(qualityCol).desc, col(idCol).asc)
        val best = labeled
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("group_id"), col(idCol).as("best_id"))
        labeled.join(best, Seq("group_id")).select(idCol, "group_id", "best_id")
      }
    groups.select(col(idCol), col("group_id"), col("best_id"),
      (col(idCol) === col("best_id")).as("kept"))
  }

  /** SimHash near-dup candidate pairs via multi-index hamming banding:
    * the signature's `bits` bits split into `maxHamming + 1` contiguous
    * bands — pigeonhole: hamming(a, b) <= maxHamming means at most
    * maxHamming bands differ, so at least one band is bit-identical.
    * An equi-join on (band, band bits) finds every qualifying pair, exact
    * hamming verifies, and no cross join appears anywhere in the plan.
    */
  def simhashCandidates(
      docs: DataFrame,
      idCol: String,
      shCol: String,
      bits: Int = 16,
      maxHamming: Int = 2
  ): DataFrame =
    simhashBandPairs(docs, idCol, shCol, bits, numBands = maxHamming + 1)
      .filter(col("hamming") <= maxHamming)

  /** Contiguous-band explode of a hamming-space signature column:
    * (idCol, shCol, band, key) — the shared candidate-key stage of the
    * simhash self-join pairs, the tuning audit, and the incremental
    * (incoming vs corpus) screens. `shiftright` sign-extends, but the
    * band mask bounds every key to its band width, so 64-bit signatures
    * with the sign bit set band correctly too.
    */
  def hammingBands(
      docs: DataFrame,
      idCol: String,
      shCol: String,
      bits: Int,
      numBands: Int
  ): DataFrame =
    docs.select(
      col(idCol), col(shCol),
      posexplode(
        array((0 until numBands).map { b =>
          val lo = b * bits / numBands
          val hi = (b + 1) * bits / numBands
          shiftright(col(shCol), lo).bitwiseAND(lit((1L << (hi - lo)) - 1))
        }: _*)
      ).as(Seq("band", "key"))
    )

  /** Distinct band-collision pairs (id_a < id_b, exact hamming attached)
    * for ONE contiguous-band layout of a simhash column — the shared
    * candidate stage of `simhashCandidates` (filtered) and
    * `simhashTuningAudit` (counted raw: the candidate volume IS the
    * shuffle cost a banding decision is buying).
    */
  private def simhashBandPairs(
      docs: DataFrame,
      idCol: String,
      shCol: String,
      bits: Int,
      numBands: Int
  ): DataFrame = {
    val banded = hammingBands(docs, idCol, shCol, bits, numBands)
    // self-join with the rename AFTER the join: both sides canonicalize to
    // the same plan so ReuseExchange materializes the banded shuffle once
    banded.alias("a")
      .join(
        banded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol")
      )
      .select(
        col(s"a.$idCol").as("id_a"), col(s"a.$shCol").as("sh_a"),
        col(s"b.$idCol").as("id_b"), col(s"b.$shCol").as("sh_b")
      )
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
  }

  /** SimHash BANDING-PARAMETER AUDIT — the `lshTuningAudit` shape applied
    * to the hamming-banding family: for each band count over ONE shared
    * simhash table, the candidate-pair volume (the shuffle-cost knob) vs
    * how many true hamming<=maxHamming pairs it captures (the recall
    * knob) and the false-positive fraction of its candidates (the verify-
    * cost knob). Unlike MinHash banding, truth here is EXACT, not a
    * sample estimate of itself: `maxHamming + 1` contiguous bands are a
    * provably lossless index for the hamming<=maxHamming ball
    * (pigeonhole — at most maxHamming bands differ, so one is
    * bit-identical), so the truth set = that layout's candidates filtered
    * by exact hamming, and every config's recall is measured against the
    * complete true pair set of the sampled docs. Fewer bands than
    * maxHamming+1 trade recall for radically smaller band keys; more
    * bands keep recall 1.0 but widen every bucket (shorter keys -> more
    * collisions -> more exact-hamming verifies). The audit runs on a
    * corpus-scaled 1-in-m doc sample (m = max(1, N div sampleTarget),
    * broadcast 1-row m, identity at oracle scales) because EVERY banding's
    * pair volume is corpus-quadratic in the worst case — bounded
    * O(target^2) audit cost at any corpus size, the q147 convention.
    */
  def simhashTuningAudit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int,
      bandConfigs: Seq[Int],
      maxHamming: Int,
      sampleTarget: Long = 1000L
  ): DataFrame = {
    require(bandConfigs.forall(nb => nb >= 1 && nb <= bits) && maxHamming + 1 <= bits,
      "band configs must be 1..bits bands (above bits every band is zero-width: " +
        "all docs share key 0 and the candidate stage goes all-pairs) and the " +
        "truth layout needs one bit per band")
    // sample FIRST and checkpoint: the barrier keeps the per-doc simhash
    // fold above the broadcast-m filter (the lshTuningAudit lesson —
    // without it the optimizer inlines the hashing below the join and
    // hashes the whole corpus for a bounded audit)
    val docsS = Sampling.oneInM(docs, idCol, sampleTarget)
      .localCheckpoint(false)
    hammingBandTuningAudit(
      docsS.select(col(idCol), simhash(col(textCol), bits).as("sh")),
      idCol, "sh", bits, bandConfigs, maxHamming)
  }

  /** The audit core of `simhashTuningAudit` over an ALREADY-COMPUTED
    * hamming-space signature column — usable for any 64-bit-or-narrower
    * signature family (simhash, perceptual dHash): per band count, the
    * candidate volume, recall against the EXACT hamming<=maxHamming pair
    * set (maxHamming+1 contiguous bands are lossless by pigeonhole, so
    * the truth is complete), and the candidate false-positive fraction.
    * Caller is responsible for bounding `sig`'s row count (the audit's
    * pair stages are sample-quadratic in the worst case).
    */
  def hammingBandTuningAudit(
      sig: DataFrame,
      idCol: String,
      shCol: String,
      bits: Int,
      bandConfigs: Seq[Int],
      maxHamming: Int
  ): DataFrame = {
    require(bandConfigs.forall(nb => nb >= 1 && nb <= bits) && maxHamming + 1 <= bits,
      "band configs must be 1..bits bands and the truth layout needs one bit per band")
    // one signature table feeds every config's band explode + the truth
    val sh = sig.localCheckpoint(false)
    val truth = simhashBandPairs(sh, idCol, shCol, bits, numBands = maxHamming + 1)
      .filter(col("hamming") <= maxHamming)
    val totals = truth.agg(count(lit(1)).as("n_true_total"))
    bandConfigs.map { nb =>
      simhashBandPairs(sh, idCol, shCol, bits, nb)
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("hamming") <= maxHamming, 1L).otherwise(0L)).as("n_true_found"))
        .select(lit(nb.toLong).as("bands"), col("n_candidates"), col("n_true_found"))
        .crossJoin(broadcast(totals))
        .withColumn("recall",
          expr("CAST(n_true_found AS DOUBLE) / nullif(n_true_total, 0)"))
        .withColumn("fp_rate",
          expr("CAST(n_candidates - n_true_found AS DOUBLE) / nullif(n_candidates, 0)"))
    }.reduce(_.unionAll(_))
  }
}
