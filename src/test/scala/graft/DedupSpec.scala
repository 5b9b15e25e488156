package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dedup
import org.apache.spark.sql.graft.Narrow

/** Dedup operator semantics: exact groups, LSH candidate generation
  * guarantees, near-dup verification, simhash properties.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog again and AGAIN"), // near dup of 0
    (3L, "completely different content about spark query engines here"),
    (4L, "xy") // shorter than the shingle width
  ).toDF("doc_id", "text")

  /** ShuffleDependencies in an RDD's lineage. */
  private def shuffles(r: org.apache.spark.rdd.RDD[_]): Int = r.dependencies.map {
    case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
    case d => shuffles(d.rdd)
  }.sum

  /** `f` in the narrow regime (the shipped budget; every input here fits
    * it) or, with `narrow = false`, with the budget pinned to 0.
    */
  private def inRegime[T](narrow: Boolean)(f: => T): T =
    if (narrow) f else Narrow.withBudget(0)(f)

  /** Hangul syllables from..from+n-1: n distinct chars, so n - 2 distinct
    * 3-char shingles.
    */
  private def hangul(from: Int, n: Int) = (from until from + n).map(i => (0xAC00 + i).toChar).mkString

  /** The float edge of the exact prefix filters: `edge` holds 55 shingles
    * and `wide` holds the same 55 plus 45 fresh ones, so 55/100 sits
    * exactly at t = 0.55, where 0.55·100 = 55.00000000000001 in doubles.
    */
  private val (edge, wide) = (hangul(0, 57), hangul(0, 57) + hangul(100, 45))

  /** The bottom-k screen's grouped corpus index (3-char shingles). */
  private def bottomKIndex(corpus: org.apache.spark.sql.DataFrame) =
    Dedup.containmentIndex(Dedup.containmentPostings(corpus, "doc_id", "text", shingleN = 3))

  test("exactGroups: identical texts share a hash group; keep-one is min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val dup = g.find(_.getLong(1) == 2).get
    assert(dup.getLong(2) == 0L) // keep_id = min(0, 1)
    assert(g.count(_.getLong(1) == 1) == 3) // docs 2, 3, 4 unique
  }

  test("nearDuplicates: exact and near duplicates found, unrelated pairs absent") {
    val nd = Dedup.nearDuplicates(docs, "doc_id", "text",
      shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4)
    val pairs = nd.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup always survives (jaccard 1.0)
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup (one word case-flipped)
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc never pairs
  }

  test("nearDupPairsOnBands: band-table self-join equals nearDuplicates") {
    val direct = Dedup.nearDuplicates(docs, "doc_id", "text",
        shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4)
      .orderBy("id_a", "id_b").collect().toSeq
    val viaBands = Dedup.nearDupPairsOnBands(
        Dedup.signatureBands(docs, "doc_id", "text",
          shingleN = 4, numHashes = 8, rowsPerBand = 4),
        "doc_id", threshold = 0.4)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(direct.nonEmpty)
    assert(viaBands == direct)
  }

  test("nearDuplicates: exact dup pair has jaccard exactly 1.0") {
    val nd = Dedup.nearDuplicates(docs, "doc_id", "text")
    val j = nd.filter(col("id_a") === 0 && col("id_b") === 1).select("jacc").head().getDouble(0)
    assert(j == 1.0)
  }

  test("nearDuplicates: too-short docs drop out (null signature semantics)") {
    val nd = Dedup.nearDuplicates(docs, "doc_id", "text")
    assert(nd.filter(col("id_a") === 4 || col("id_b") === 4).count() == 0)
  }

  test("incrementalNearDupFilter: dup counts match the symmetric join restricted to cross-side pairs") {
    val incoming = docs.filter(col("doc_id").isin(1L, 2L, 4L))
    val corpus = docs.filter(col("doc_id").isin(0L, 3L))
    val inc = Dedup.incrementalNearDupFilterOnBands(incoming,
        Dedup.signatureBands(corpus, "doc_id", "text",
          shingleN = 4, numHashes = 8, rowsPerBand = 4),
        "doc_id", "text", shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList.sortBy(_._1)
    // every incoming doc reports exactly once, including the too-short one
    assert(inc.map(_._1) == List(1L, 2L, 4L))
    // cross-side ground truth from the symmetric operator over all docs
    val all = Dedup.nearDuplicates(docs, "doc_id", "text",
        shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpusIds = Set(0L, 3L)
    for ((id, nDups, kept) <- inc) {
      val expected = corpusIds.count(c => all.contains((math.min(id, c), math.max(id, c))))
      assert(nDups == expected, s"doc $id: n_dups $nDups != symmetric-join $expected")
      assert(kept == (if (nDups == 0) 1L else 0L))
    }
    // doc 4 is too short for a signature: never a candidate, always kept
    assert(inc.find(_._1 == 4L).get._3 == 1L)
  }

  test("nearDuplicatesWithEstimate: same pairs/jacc as nearDuplicates; exact dup estimates 1.0") {
    val plain = Dedup.nearDuplicates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val est = Dedup.nearDuplicatesWithEstimate(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(est.map(t => (t._1, t._2, t._4)).toSet == plain)
    assert(est.forall(t => t._3 >= 0.0 && t._3 <= 1.0))
    // identical docs agree in every signature slot
    assert(est.find(t => t._1 == 0L && t._2 == 1L).get._3 == 1.0)
  }

  test("simhash: identical texts get identical hashes; value fits the bit width") {
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L))
    assert(h.values.forall(v => v >= 0 && v < (1 << 16)))
  }

  test("simhash: near-identical texts are close in hamming distance") {
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(0L), h(2L)) <= hamming(h(0L), h(3L)))
  }

  test("ngramJaccardPairs: identical pair scores 1.0, threshold filters") {
    val pairs = Dedup.ngramJaccardPairs(docs.filter(col("doc_id") < 4), "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("ngramJaccardPairs: prefix-filtered result == brute-force all-pairs result") {
    import spark.implicits._
    // deterministic pseudo-random corpus with overlapping vocabulary so
    // thresholds land both sides of 0.4
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    // plus the float-edge pair (90, 91) at Jaccard 55/100 exactly
    val corpus = ((0 until 40).map { i =>
      val txt = (0 until 6).map(j => words((i * 7 + j * 3) % words.length)).mkString(" ")
      (i.toLong, txt)
    } ++ Seq(90L -> wide, 91L -> edge)).toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.55)) {
      val fast = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force over the same shingle sets
      val withSh = corpus.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh"))
      val brute = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
        .where(col("id_a") < col("id_b"))
        .withColumn("jacc", graft.functions.TextFunctions.jaccard(col("sh_a"), col("sh_b")))
        .filter(col("jacc") >= t)
        .select("id_a", "id_b", "jacc")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(brute.nonEmpty, "fixture should produce at least one qualifying pair")
      assert(brute.contains((90L, 91L, 0.55)), s"t $t: the 55/100 pair must qualify")
      assert(fast == brute, s"t $t")
    }
  }

  test("containmentPairs: excerpt is found in the direction Jaccard misses") {
    import spark.implicits._
    val big = (0 until 30).map(i => s"tok$i").mkString(" ")
    val excerpt = (5 until 12).map(i => s"tok$i").mkString(" ")
    val other = "completely unrelated words here nothing shared"
    val corpus = Seq((0L, big), (1L, excerpt), (2L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // excerpt -> big clears 0.9 (every excerpt shingle lives in big)
    assert(cont.exists(p => p._1 == 1L && p._2 == 0L && p._3 == 1.0))
    // big -> excerpt does NOT (most of big's shingles are absent)
    assert(!cont.exists(p => p._1 == 0L && p._2 == 1L))
    assert(!cont.exists(p => p._1 == 2L || p._2 == 2L))
    // and Jaccard at the same bar misses the pair entirely
    val jacc = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.9).collect()
    assert(!jacc.exists(r => Set(r.getLong(0), r.getLong(1)) == Set(0L, 1L)))
  }

  test("containmentPairs: prefix-filtered result == brute-force all-pairs result") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    // plus the float-edge pair: 90 is contained in 91 at 55/100 exactly
    val corpus = ((0 until 40).map { i =>
      val n = 4 + (i % 5) // varied lengths so the asymmetric size filter matters
      val txt = (0 until n).map(j => words((i * 7 + j * 3) % words.length)).mkString(" ")
      (i.toLong, txt)
    } ++ Seq(90L -> wide, 91L -> edge)).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.55); narrow <- Seq(true, false)) {
      val fast = inRegime(narrow)(Dedup.containmentPairs(corpus, "doc_id", "text", 3, t))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val withSh = corpus.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      val brute = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
        .where(col("id_a") =!= col("id_b"))
        .withColumn("containment",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") / size(col("sh_a")))
        .filter(col("containment") >= t)
        .select("id_a", "id_b", "containment")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(brute.nonEmpty, "fixture should produce at least one qualifying pair")
      // directed: at least one pair must qualify in exactly one direction
      assert(brute.exists(p => !brute.exists(q => q._1 == p._2 && q._2 == p._1)),
        "fixture should exercise the asymmetric case")
      assert(brute.contains((90L, 91L, 0.55)), s"t $t: the 55/100 pair must qualify")
      assert(fast == brute, s"t $t narrow $narrow")
    }
  }

  test("containmentScreenAudit: k >= |A| degenerates to exact containment >= screenFrac") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val corpus = (0 until 30).map { i =>
      val n = 4 + (i % 5)
      (i.toLong, (0 until n).map(j => words((i * 7 + j * 3) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
    // k = 1000 >= every doc's shingle count → the sample IS the full set,
    // so candidates = pairs with exact containment >= 0.5, and at
    // threshold 0.5 = screenFrac the audit must report recall 1.0 AND
    // precision 1.0 (candidates == truth, both from the same sets)
    val audit = Dedup.containmentScreenAudit(
        corpus, "doc_id", "text", shingleN = 3, threshold = 0.5,
        ks = Seq(4, 1000), screenFrac = 0.5, sampleTarget = 1000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toMap
    val (nTruth, nCand, nHit, recall, precision) = audit(1000L)
    assert(nTruth > 0, "fixture generated no containment pairs")
    assert(nCand == nTruth && nHit == nTruth, s"k>=|A| not exact: $audit")
    assert(recall == 1.0 && precision == 1.0)
    // the small-k row stays internally coherent (hits bounded by both
    // sides; the ratios are exactly the integer ratios)
    val (nT4, nCand4, nHit4, rec4, prec4) = audit(4L)
    assert(nT4 == nTruth && nHit4 <= math.min(nCand4, nTruth))
    assert(rec4 == nHit4.toDouble / nTruth && prec4 == nHit4.toDouble / nCand4)
  }

  test("containmentScreenAudit: 1-in-m sample bound == audit of the pre-filtered corpus") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val corpus = (0 until 30).map { i =>
      val n = 4 + (i % 5)
      (i.toLong, (0 until n).map(j => words((i * 7 + j * 3) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
    // 30 docs / target 10 -> m = 3: the audit must equal the unsampled
    // audit of exactly the doc_id % 3 == 0 subset (the convention's
    // whole point: sketch AND exact truth both see only the sample)
    val sampled = Dedup.containmentScreenAudit(
        corpus, "doc_id", "text", shingleN = 3, threshold = 0.5,
        ks = Seq(4, 1000), screenFrac = 0.5, sampleTarget = 10L)
      .collect().map(_.toSeq).toSet
    val manual = Dedup.containmentScreenAudit(
        corpus.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        shingleN = 3, threshold = 0.5,
        ks = Seq(4, 1000), screenFrac = 0.5, sampleTarget = Long.MaxValue)
      .collect().map(_.toSeq).toSet
    assert(sampled == manual)
  }

  test("containmentScreenAudit: a k whose screen passes nothing still reports a zeroed row") {
    import spark.implicits._
    // pairwise-disjoint character alphabets (shingles are CHAR n-grams)
    // -> empty truth AND an empty screen
    val corpus = (0 until 6).map { i =>
      (i.toLong, ('a' + i).toChar.toString * 8)
    }.toDF("doc_id", "text")
    val rows = Dedup.containmentScreenAudit(
        corpus, "doc_id", "text", shingleN = 3, threshold = 0.5,
        ks = Seq(2, 8), screenFrac = 0.5, sampleTarget = Long.MaxValue)
      .orderBy("k").collect()
    assert(rows.length == 2, "every swept k must emit a row")
    rows.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
      assert(r.isNullAt(4) && r.isNullAt(5),
        "recall/precision must be NULL (0/0), not a crash or a vanished row")
    }
  }

  test("incrementalContainmentScreen: prefix-filtered screen == brute-force incoming x corpus") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    // corpus doc 25 is the float edge's 55-shingle doc
    val corpus = ((0 until 25).map { i =>
      (i.toLong, (0 until 8).map(j => words((i * 5 + j * 3) % words.length)).mkString(" "))
    } :+ (25L -> edge)).toDF("doc_id", "text")
    // incoming: an excerpt of corpus doc 0, a fresh doc, and a too-short
    // doc; then two rows under id 100 (an excerpt and a copy of doc 0) and
    // two under id 103 (an excerpt and a fresh text): rows that share an
    // id are screened independently. Row 104 holds doc 25's 55 shingles
    // of its 100: at t = 0.55 it is contained exactly at the threshold.
    val c0 = (0 until 8).map(j => words((j * 3) % words.length)).mkString(" ")
    val excerpt = c0.split(" ").slice(2, 6).mkString(" ")
    val rows = Seq(
      (100L, excerpt),
      (101L, "votre nouveau document sans aucun recouvrement"),
      (102L, "ab"),
      (100L, c0),
      (103L, excerpt),
      (103L, "un autre texte sans rien de commun"),
      (104L, wide))
    val incoming = rows.toDF("doc_id", "text")
    def screen(index: Dedup.ContainmentScreenIndex, t: Double = 0.6): Seq[(Long, Long, Boolean)] =
      Dedup.incrementalContainmentScreenOnIndex(incoming, index, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    // the batch (q175) shape: lazy index built inline, probed once
    val fast = screen(Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3))
    // brute force per incoming row, keyed by its position in `rows`
    val shI = rows.zipWithIndex.map { case ((id, t), i) => (i, id, t) }
      .toDF("row", "doc_id", "text")
      .select(col("row"), col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh"))
    val shC = corpus.select(col("doc_id").as("c_id"), Dedup.shingleSet(col("text"), 3).as("c_sh"))
      .filter(size(col("c_sh")) > 0)
    def bruteAt(t: Double) = shI.crossJoin(shC)
      .withColumn("cont",
        when(size(col("sh")) === 0, lit(0.0))
          .otherwise(size(array_intersect(col("sh"), col("c_sh"))).cast("double") / size(col("sh"))))
      .groupBy("row", "doc_id")
      .agg(sum(when(col("cont") >= t, 1L).otherwise(0L)).as("n_containers"))
      .select(col("doc_id"), col("n_containers"),
        (col("n_containers") === 0).as("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    val brute = bruteAt(0.6)
    assert(brute.exists(p => p._1 == 100L && p._2 >= 1L), "excerpt must find a container")
    assert(brute.exists(p => p._1 == 101L && p._3), "fresh doc must be kept")
    // each id-100 row reads what the excerpt reads alone, and the fresh
    // row under id 103 is kept although its sibling has containers
    val alone = brute.find(_._1 == 100L).get._2
    assert(brute.filter(_._1 == 100L).map(_._2) == Seq(alone, alone))
    assert(brute.filter(_._1 == 103L) == Seq((103L, 0L, true), (103L, alone, false)))
    assert(fast == brute)
    // the shingle-less doc is kept, not dropped from the output spine
    assert(fast.contains((102L, 0L, true)))
    // the pre-built EAGER index path (the q176 streaming-gate shape since
    // round 18) must give bit-identical answers to the lazy one
    val viaIndex = screen(Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3, eager = true))
    assert(viaIndex == brute)
    // the float edge, in both regimes
    val edgeBrute = bruteAt(0.55)
    assert(edgeBrute.contains((104L, 1L, false)), "containment exactly at 55/100 must count")
    for (narrow <- Seq(true, false))
      assert(screen(inRegime(narrow)(Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3)),
        0.55) == edgeBrute, s"narrow = $narrow")
  }

  test("prefix filters reject a threshold outside (0, 1] before any job runs") {
    import org.apache.spark.sql.graft.JobCount
    val index = Dedup.containmentScreenIndex(docs, "doc_id", "text", 3)
    for (t <- Seq(1.5, 1.0000001, 0.0, -0.1, Double.NaN)) {
      val jobs = JobCount.during(spark.sparkContext) {
        intercept[IllegalArgumentException](Dedup.containmentPairs(docs, "doc_id", "text", 3, t))
        intercept[IllegalArgumentException](Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t))
        intercept[IllegalArgumentException](
          Dedup.incrementalContainmentScreenOnIndex(docs, index, "doc_id", "text", 3, t))
      }
      assert(jobs == 0, s"t = $t started $jobs jobs")
    }
  }

  /** Seeded (corpus, incoming) frames for the containment screen's regime
    * comparison, ids of `idType`, shingled at width 3. Corpus: random word
    * texts over an alphabet with 2-, 3- and 4-byte UTF-8 (é, 中, 😀), two
    * copies of doc 3 (identical text), two docs of different lengths
    * under id 35, an empty, a null, a too-short text and a null id.
    * Anchor doc 40 ("abcdefghijkl", 10 shingles) has incoming rows
    * 900..904 holding exactly 5, 6, 7, 8 and 10 of them plus fresh
    * shingles, so containment sits exactly at t = 0.5 ... 1.0. Anchor
    * doc 41 (57 distinct Hangul chars, 55 shingles) has row 910 holding
    * all 55 plus 45 fresh shingles: 55/100 = 0.55 exactly, while
    * 0.55·100 rounds up to 55.00000000000001 in doubles (ceil 56), the
    * float edge of the prefix length. Doc 42 (5 shingles) is the head of
    * doc 43 (10): Jaccard 5/10 = 0.5 exactly, with the smaller doc keyed
    * first, at the edge of the size filter |A| >= minOverlap(t, |B|).
    * Incoming also has excerpts and copies of corpus docs, with and
    * without fresh (corpus-absent) words, repeated ids, null ids and
    * degenerate texts.
    */
  private def screenCase(seed: Int, idType: DataType): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def hangul(from: Int, n: Int) = (from until from + n).map(i => (0xAC00 + i).toChar).mkString
    val vocab = Vector("ab", "abc", "été", "中文字", "😀x", "xé中", "lorem", "ipsum",
      "dolor", "sit", "amet", "q", "zz😀", "naïve")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val base = (0 until 30).map(_ => words(3 + rnd.nextInt(8)))
    val corpusRows: Seq[(Any, String)] = base.indices.map(i => (i, base(i).mkString(" "))) ++
      Seq(30 -> base(3).mkString(" "), 31 -> base(3).mkString(" "), 32 -> "", 33 -> null,
        34 -> "ab", (null, base(5).mkString(" ")), 35 -> base(7).mkString(" "),
        35 -> base(7).take(2).mkString(" "), 40 -> "abcdefghijkl", 41 -> hangul(0, 57),
        42 -> hangul(200, 7), 43 -> hangul(200, 12))
    val partial = (0 until 40).map { i =>
      val ws = base(rnd.nextInt(base.size))
      val from = rnd.nextInt(ws.size)
      val fresh = Seq.fill(rnd.nextInt(3))(s"fr${rnd.nextInt(1000)}é")
      val cut = ws.slice(from, from + 2 + rnd.nextInt(ws.size)) ++ fresh
      // a few ids repeat; every seventh row has a null id
      val id: Any = if (i % 7 == 6) null else 200 + rnd.nextInt(30)
      (id, (if (rnd.nextBoolean()) cut else rnd.shuffle(cut)).mkString(" "))
    }
    val fixed: Seq[(Any, String)] = Seq(
      900 -> "abcdefguvwxy", 901 -> "abcdefghrstu", 902 -> "abcdefghixyz",
      903 -> "abcdefghijmn", 904 -> "abcdefghijkl",
      905 -> base(3).mkString(" "), 905 -> "sans rapport 😀😀😀", 906 -> "",
      907 -> null, 908 -> "q", (null, base(3).mkString(" ")), 909 -> "中文字 été 中文字",
      910 -> (hangul(0, 57) + hangul(100, 45)))
    val schema = StructType(Seq(StructField("doc_id", idType), StructField("text", StringType)))
    def frame(rows: Seq[(Any, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t) =>
        Row(if (id == null) null else if (idType == IntegerType) id else id.asInstanceOf[Int].toLong, t)
      }, 3), schema)
    (frame(corpusRows), frame(partial ++ fixed))
  }

  test("differential: containment screen narrow == shuffle regime on generated inputs") {
    for ((seed, idType) <- Seq(1 -> LongType, 2 -> IntegerType, 3 -> LongType)) {
      val (corpus, incoming) = screenCase(seed, idType)
      val narrowIdx = Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3, eager = true)
      val shuffleIdx = Narrow.withBudget(0)(
        Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3, eager = true))
      val shipped = Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3)
      // a budget one byte under the corpus postings' footprint: the
      // shuffle regime, lazy
      val need = math.ceil(Narrow.Postings.bytes(shipped.postings.count())).toLong
      val underIdx = Narrow.withBudget(need - 1)(
        Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3))
      assert(narrowIdx.narrow.isDefined && shuffleIdx.narrow.isEmpty && shipped.narrow.isDefined &&
        underIdx.narrow.isEmpty)
      for (t <- Seq(0.5, 0.55, 0.6, 0.7, 0.8, 1.0)) {
        def screen(ix: Dedup.ContainmentScreenIndex) =
          Dedup.incrementalContainmentScreenOnIndex(incoming, ix, "doc_id", "text", 3, t)
        val shuffle = screen(shuffleIdx)
        val expected = sortedRows(shuffle)
        assert(expected.size == incoming.count(), s"seed $seed t $t: one row per incoming row")
        assert(expected.exists(r => !r.startsWith("null|") && !r.contains("|0|")),
          s"seed $seed t $t: no incoming row found a container")
        // a null id is never screened, whatever its text
        assert(expected.filter(_.startsWith("null|")).forall(_ == "null|0|true"))
        if (t == 0.5) assert(expected.contains("900|1|false"),
          "containment exactly at t must count")
        if (t == 0.55) assert(expected.contains("910|1|false"),
          "containment exactly at 55/100 must count")
        for (narrow <- Seq(screen(narrowIdx), screen(shipped))) {
          assert(narrow.schema == shuffle.schema, s"seed $seed t $t")
          assert(sortedRows(narrow) == expected, s"seed $seed t $t")
        }
        val under = screen(underIdx)
        assert(shuffles(under.queryExecution.toRdd) > 0, s"seed $seed t $t: no shuffle over budget")
        assert(sortedRows(under) == expected, s"seed $seed t $t")
      }
    }
  }

  test("differential: containmentPairs narrow == shuffle == per-row brute force") {
    // Both self-probes of the index, per doc. containmentPairs: one row per
    // ordered pair of distinct docs whose ids are non-null and differ.
    // screenCase's corpus repeats ids (30/31 share a text, and both docs
    // 35 are contained in doc 7, so (35, 7, 1.0) appears twice), has a
    // null id, empty and short texts, and the 55/100 doc.
    // ngramJaccardPairs: one row per unordered such pair, as (smaller id,
    // larger id, jacc); doc 7 and the full doc 35 are copies, and so are
    // docs 3, 30 and 31.
    for ((seed, idType) <- Seq(1 -> LongType, 2 -> IntegerType, 3 -> LongType)) {
      val (corpus, _) = screenCase(seed, idType)
      val docsSh = corpus.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh"))
        .collect().map(r => (Option(r.get(0)), if (r.isNullAt(1)) Set.empty[String] else r.getSeq[String](1).toSet))
      def brute(t: Double, jaccard: Boolean): Seq[String] = (for {
        (a, i) <- docsSh.zipWithIndex.toSeq; (b, j) <- docsSh.zipWithIndex.toSeq
        if (if (jaccard) i < j else i != j) && a._1.isDefined && b._1.isDefined && a._1 != b._1 &&
          a._2.nonEmpty && b._2.nonEmpty
        n = (a._2 & b._2).size
        c = if (jaccard) n.toDouble / (a._2.size + b._2.size - n) else n.toDouble / a._2.size
        if c >= t
        ids = Seq(a._1.get, b._1.get)
        (x, y) = if (jaccard) (ids.minBy(_.toString.toLong), ids.maxBy(_.toString.toLong)) else (ids(0), ids(1))
      } yield s"$x|$y|$c").sorted
      val shipped = Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3)
      val need = math.ceil(Narrow.Postings.bytes(shipped.postings.count())).toLong
      for ((jaccard, ts) <- Seq(false -> Seq(0.5, 0.55, 0.7, 1.0), true -> Seq(0.5, 0.55, 0.8, 1.0)); t <- ts) {
        val clue = s"seed $seed t $t${if (jaccard) " jaccard" else ""}"
        val expected = brute(t, jaccard)
        assert(expected.nonEmpty, s"$clue: no pair qualifies")
        if (t == 1.0 && !jaccard) assert(expected.count(_.startsWith("35|7|")) == 2,
          s"$clue: each doc 35 pairs with doc 7 on its own")
        if (t == 1.0 && jaccard) assert(Seq("3|30|1.0", "3|31|1.0", "30|31|1.0", "7|35|1.0")
          .forall(expected.contains), s"$clue: the copies pair")
        def pairs = if (jaccard) Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, t)
          else Dedup.containmentPairs(corpus, "doc_id", "text", 3, t)
        val narrow = pairs
        val shuffle = Narrow.withBudget(0)(pairs)
        val under = Narrow.withBudget(need - 1)(pairs)
        assert(shuffles(under.queryExecution.toRdd) > 0, s"$clue: no shuffle over budget")
        assert(narrow.schema == StructType(Seq(StructField("id_a", idType), StructField("id_b", idType),
          StructField(if (jaccard) "jacc" else "containment", DoubleType))), clue)
        for ((regime, out) <- Seq("narrow" -> narrow, "shuffle" -> shuffle, "under" -> under)) {
          assert(out.schema == narrow.schema, s"$clue $regime")
          assert(sortedRows(out) == expected, s"$clue $regime")
        }
      }
    }
  }

  test("narrow screen: the probe is one narrow pass, no ShuffleDependency") {
    // The narrow regime's contract: a batch reads no corpus frame; it is
    // probed against the broadcast corpus inside the tasks of one pass,
    // and the counts join back to the batch through a broadcast. The
    // walker is checked against the shuffle regime's probe, which must
    // shuffle.
    import org.apache.spark.sql.execution.LogicalRDD
    val (corpus, incoming) = screenCase(1, LongType)
    def screen(narrow: Boolean) = Dedup.incrementalContainmentScreenOnIndex(incoming,
      inRegime(narrow)(Dedup.containmentScreenIndex(corpus, "doc_id", "text", 3)),
      "doc_id", "text", 3, 0.6)
    val shuffled = screen(narrow = false)
    assert(shuffles(shuffled.queryExecution.toRdd) > 0,
      "the lineage walker found no shuffle in the shuffle regime's probe")
    val out = screen(narrow = true)
    // the leaves: the batch's checkpoint and the counting pass over it
    val leaves = out.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    assert(leaves.size >= 2)
    for (r <- leaves :+ out.queryExecution.toRdd)
      assert(shuffles(r) == 0, s"the narrow probe has a ShuffleDependency:\n${r.toDebugString}")
  }

  test("bottomKContainmentScreen: k/cap unbounded degenerates to exact containment >= screenFrac") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val corpus = (0 until 25).map { i =>
      (i.toLong, (0 until 8).map(j => words((i * 5 + j * 3) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
    val c0 = (0 until 8).map(j => words((j * 3) % words.length)).mkString(" ")
    val incoming = Seq(
      (100L, c0.split(" ").slice(2, 6).mkString(" ")),
      (101L, "votre nouveau document sans aucun recouvrement"),
      (102L, "ab")).toDF("doc_id", "text")
    // k >= every |A| and dfCap >= corpus size → the sample IS the full
    // set and nothing is capped: the screen must equal brute-force
    // "exact containment >= screenFrac"
    val fast = Dedup.bottomKContainmentScreenOnIndex(incoming, bottomKIndex(corpus),
        "doc_id", "text", shingleN = 3, k = 1000, screenFrac = 0.6, dfCap = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val sh = (t: org.apache.spark.sql.Column) =>
      array_distinct(graft.operators.Dedup.shingleSet(t, 3))
    val brute = incoming.select(col("doc_id"), sh(col("text")).as("sa"))
      .filter(size(col("sa")) > 0)
      .crossJoin(corpus.select(col("doc_id").as("c_id"), sh(col("text")).as("sb")))
      .withColumn("cont",
        size(array_intersect(col("sa"), col("sb"))).cast("double") / size(col("sa")))
      .groupBy("doc_id")
      .agg(sum(when(col("cont") >= 0.6, 1L).otherwise(0L)).as("n_containers"))
      .union(incoming.select(col("doc_id"), sh(col("text")).as("sa"))
        .filter(size(col("sa")) === 0).select(col("doc_id"), lit(0L)))
      .select(col("doc_id"), col("n_containers"),
        (col("n_containers") === 0).as("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(brute.exists(p => p._1 == 100L && p._2 >= 1L), "excerpt must find a container")
    assert(fast == brute)
  }

  test("bottomKContainmentScreen: stop-only sharing creates no candidates") {
    import spark.implicits._
    // every corpus doc carries the SAME boilerplate phrase (all of its
    // shingles exceed any small df cap) plus unique content; the
    // incoming doc is boilerplate-only — it shares ONLY stop shingles,
    // which must not create a candidate, so it is kept
    val boiler = "lorem ipsum dolor sit amet"
    val corpus = (0 until 20).map(i => (i.toLong, s"$boiler unique${i}a unique${i}b"))
      .toDF("doc_id", "text")
    val incoming = Seq((100L, boiler)).toDF("doc_id", "text")
    val index = bottomKIndex(corpus)
    val out = Dedup.bottomKContainmentScreenOnIndex(incoming, index,
        "doc_id", "text", shingleN = 3, k = 32, screenFrac = 0.5, dfCap = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((100L, 0L, true)),
      s"boilerplate-only doc must be kept: ${out.toSeq}")
    // sanity: with the cap lifted the same doc IS screened out (every
    // corpus doc contains it) — the cap is what made the difference
    val uncapped = Dedup.bottomKContainmentScreenOnIndex(incoming, index,
        "doc_id", "text", shingleN = 3, k = 32, screenFrac = 0.5, dfCap = 100000L)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(uncapped.toSeq == Seq((100L, false)))
  }

  test("bottomKContainmentScreenOnIndex: grouped index == driver-side bottom-k reference") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    // every corpus doc is a rotation of one word cycle (whose shingles
    // all sit in >20 docs, above the small cap) plus two tokens
    // shared by a handful of docs, so document frequencies straddle
    // dfCap = 5 and the sample mixes rare and capped hashes
    val corpusWords = (0 until 25).map { i =>
      (0 until 8).map(j => words((i * 5 + j * 3) % words.length)) ++
        Seq(s"tok${i % 7}q", s"tok${i % 11}z")
    }
    val corpus = corpusWords.zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toDF("doc_id", "text")
    // an excerpt, a fresh doc, a shingle-less doc, and 30 partial copies
    // (a slice of a corpus doc's words plus fresh words, every other one
    // shuffled) whose containment spreads across the screenFrac boundary
    val rnd = new scala.util.Random(7)
    val partial = (0 until 30).map { i =>
      val from = rnd.nextInt(6)
      val fresh = (0 until rnd.nextInt(4)).map(n => s"fresh${i}w$n")
      val ws = corpusWords(i % 25).slice(from, from + 2 + rnd.nextInt(6)) ++ fresh
      (110L + i, (if (i % 2 == 0) ws else rnd.shuffle(ws)).mkString(" "))
    }
    // doc 103's "ok3" shingle sits exactly at df = dfCap (docs 3, 10,
    // 14, 17, 24): it must count as rare evidence
    val incoming = (Seq(
      (100L, corpusWords(0).slice(2, 6).mkString(" ")),
      (101L, "votre nouveau document sans aucun recouvrement"),
      (102L, "ab"),
      (103L, "tok3q tok3z")) ++ partial).toDF("doc_id", "text")
    def hashed(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select(col("doc_id"), Dedup.hashedShingles(col("text"), 3))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val inH = hashed(incoming)
    val corpH = hashed(corpus).map { case (c, hs) => c -> hs.toSet }
    val docFreq = corpH.values.toSeq.flatten.groupBy(identity)
      .map { case (h, v) => h -> v.size.toLong }
    // the screen's definition, evaluated on the driver: sample the k
    // smallest hashes; a corpus doc c != id is a container when it holds
    // at least one sampled rare (df <= dfCap) hash and its rare hits plus
    // the sample's capped hashes reach ceil(screenFrac * ka)
    def reference(k: Int, dfCap: Long, screenFrac: Double): Set[(Long, Long, Boolean)] =
      inH.map { case (id, hs) =>
        val sample = hs.take(math.min(k, hs.size))
        val (rare, capped) = sample.partition(h => docFreq.getOrElse(h, 0L) <= dfCap)
        val need = math.ceil(screenFrac * sample.size)
        val n = corpH.count { case (c, chs) =>
          val mRare = rare.count(chs.contains)
          c != id && mRare >= 1 && mRare + capped.size >= need
        }.toLong
        (id, n, n == 0)
      }.toSet
    val index = bottomKIndex(corpus)
    for ((k, cap) <- Seq((8, 5L), (1000, 100000L))) {
      val got = Dedup.bottomKContainmentScreenOnIndex(incoming, index,
          "doc_id", "text", shingleN = 3, k = k, screenFrac = 0.6, dfCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val want = reference(k, cap, 0.6)
      assert(want.map(_._1) == Set(100L, 101L, 102L, 103L) ++ partial.map(_._1))
      assert(got == want, s"k=$k dfCap=$cap")
    }
    // the uncapped config finds the excerpt's containers, so the
    // comparison above is not vacuous
    assert(reference(1000, 100000L, 0.6).exists(p => p._1 == 100L && p._2 >= 1L))
  }

  test("simhashCandidates: banded result == brute-force hamming filter; no crossJoin in plan") {
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh"))
    val banded = Dedup.simhashCandidates(h, "doc_id", "sh", bits = 16, maxHamming = 2)
    val fast = banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = h.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(h.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= 2)
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast == brute)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded plan must not contain a cross join:\n$plan")
  }

  /** Both regimes of resolveGroups/keepBest: narrow (driver union-find)
    * and shuffle (the pointer-jumping loop the public entry points take
    * past the Narrow.Pairs budget; see inRegime).
    */
  private val regimes = Seq("narrow" -> true, "shuffle" -> false)

  test("resolveGroups: chains collapse to min id, singletons keep themselves") {
    import spark.implicits._
    val verts = (0L to 6L).map(i => Tuple1(i)).toDF("doc_id")
    // two components: {0,1,2,3} via a chain (0-1, 1-2, 2-3), {5,6}; 4 isolated
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    for ((regime, narrow) <- regimes) {
      val groups = inRegime(narrow)(Dedup.resolveGroups(verts, "doc_id", pairs, maxIter = 64))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 5L, 6L -> 5L),
        regime)
    }
  }

  test("resolveGroups: label flows against edge direction too (cycle + reversed edge)") {
    import spark.implicits._
    val verts = (0L to 3L).map(i => Tuple1(i)).toDF("doc_id")
    // edges given with the LARGER id first; component {0,1,2,3} as a cycle
    val pairs = Seq((3L, 2L), (2L, 1L), (1L, 0L), (0L, 3L)).toDF("id_a", "id_b")
    for ((regime, narrow) <- regimes) {
      val groups = inRegime(narrow)(Dedup.resolveGroups(verts, "doc_id", pairs, maxIter = 64))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups.values.toSet == Set(0L), regime)
    }
  }

  test("resolveGroups: pointer jumping converges a 60-vertex chain within the round budget") {
    import spark.implicits._
    // a pure chain 0-1-2-...-59 has diameter 59 — plain propagation needs
    // ~59 rounds; pointer jumping must finish well inside maxIter=10 (the
    // narrow regime's union-find has no round budget)
    val n = 60
    val verts = (0L until n).map(Tuple1(_)).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for ((regime, narrow) <- regimes) {
      val groups = inRegime(narrow)(Dedup.resolveGroups(verts, "doc_id", pairs, maxIter = 10))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups.size == n.toInt && groups.values.forall(_ == 0L), regime)
    }
  }

  test("keepBest: highest-quality group member survives, ties break to smallest id") {
    import spark.implicits._
    // group {1,2,3} (chain), singleton {4}; quality: 2 is best in group;
    // 1 and 3 tie below — group/best assignment must be deterministic
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 10L), (4L, 7L)).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    for ((regime, narrow) <- regimes) {
      val out = inRegime(narrow)(Dedup.keepBest(docs, "doc_id", pairs, "quality"))
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(out.toSeq == Seq(
        (1L, 1L, 2L, false),
        (2L, 1L, 2L, true),
        (3L, 1L, 2L, false),
        (4L, 4L, 4L, true)), regime)
    }
  }

  /** A generated dedup case for the regime differential tests: docs
    * (doc_id, quality) and pairs (id_a, id_b), ids of `idType`.
    *
    * The pair graph over ids 0..59 has random chains and cycles with
    * randomly oriented edges, self-loops, duplicated and reversed pairs,
    * and pairs with a null end. Ids 50..59 and a few holes below 50 are
    * not docs, so they link components without being output; docs also
    * carry a duplicated id and a null id. Planted components fix the
    * argmax's edge cases: a quality tie ({100, 101, 102}, one null), NaN
    * over a number ({110, 111}), 0.0 against -0.0 ({120, 121}; equal
    * under Catalyst's ordering) and all-null quality ({130, 131}).
    * `quality(rnd, slot)` draws a random quality, or the planted slot's
    * value: 0 tie, 1 null, 2 largest, 3 smaller, 4 zero, 5 negative zero.
    */
  private def dupCase(seed: Int, idType: DataType, qType: DataType,
      quality: (scala.util.Random, Int) => Any): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def id(v: Long): Any = if (idType == IntegerType) v.toInt else v
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    def link(a: Long, b: Long): Unit =
      edges += (if (rnd.nextBoolean()) (id(a), id(b)) else (id(b), id(a)))
    var rest = rnd.shuffle((0L until 60L).toList)
    while (rest.nonEmpty) {
      val (comp, tail) = rest.splitAt(1 + rnd.nextInt(9))
      rest = tail
      comp.zip(comp.drop(1)).foreach { case (a, b) => link(a, b) }
      if (comp.size > 2 && rnd.nextBoolean()) link(comp.last, comp.head)
    }
    Seq.fill(4)(rnd.nextInt(60).toLong).foreach(x => edges += ((id(x), id(x))))
    Seq.fill(6)(edges(rnd.nextInt(edges.size))).foreach { case (a, b) =>
      edges += (if (rnd.nextBoolean()) (a, b) else (b, a))
    }
    edges ++= Seq((null, id(3L)), (id(4L), null), (null, null))
    Seq((100L, 101L), (101L, 102L), (110L, 111L), (120L, 121L), (130L, 131L))
      .foreach { case (a, b) => link(a, b) }
    val holes = Set.fill(3)(rnd.nextInt(50).toLong)
    val planted = Seq(100L -> 0, 101L -> 0, 102L -> 1, 110L -> 2, 111L -> 3,
      120L -> 5, 121L -> 4, 130L -> 1, 131L -> 1)
    val docRows = (0L until 50L).filterNot(holes).map(i => Row(id(i), quality(rnd, -1))) ++
      planted.map { case (i, slot) => Row(id(i), quality(rnd, slot)) } ++
      Seq(Row(id(7L), quality(rnd, -1)), Row(null, quality(rnd, -1)))
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(rnd.shuffle(docRows): _*),
      StructType(Seq(StructField("doc_id", idType), StructField("quality", qType))))
    val pairs = spark.createDataFrame(
      java.util.Arrays.asList(rnd.shuffle(edges.toSeq).map { case (a, b) => Row(a, b) }: _*),
      StructType(Seq(StructField("id_a", idType), StructField("id_b", idType))))
    (docs, pairs)
  }

  /** Double quality: ties, nulls and NaNs among random draws. */
  private def doubleQuality(rnd: scala.util.Random, slot: Int): Any = slot match {
    case -1 => Seq[Any](1.0, 2.0, 2.0, null, Double.NaN, 0.0, -0.0)(rnd.nextInt(7))
    case 0 => 5.0
    case 1 => null
    case 2 => Double.NaN
    case 3 => 7.0
    case 4 => 0.0
    case 5 => -0.0
  }

  /** Int quality: ties and nulls among random draws. */
  private def intQuality(rnd: scala.util.Random, slot: Int): Any = slot match {
    case -1 => Seq[Any](1, 2, 2, null, 3)(rnd.nextInt(5))
    case 0 => 5
    case 1 => null
    case 2 => 9
    case 3 => 7
    case _ => 0
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("differential: resolveGroups narrow == shuffle regime on generated pair graphs") {
    for ((seed, idType) <- Seq(1 -> LongType, 2 -> IntegerType, 3 -> LongType)) {
      val (docs, pairs) = dupCase(seed, idType, DoubleType, doubleQuality)
      val shuffle = Narrow.withBudget(0)(Dedup.resolveGroups(docs, "doc_id", pairs))
      val expected = sortedRows(shuffle)
      // the planted chain 100-101-102 resolves to 100; ids 50..59 are no docs
      assert(expected.contains("102|100") && !expected.exists(_.startsWith("55|")))
      // the pair list's footprint: a budget of exactly it is narrow, one
      // byte under it the shuffle regime
      val need = math.ceil(Narrow.Pairs.bytes(pairs.count())).toLong
      for (narrow <- Seq(Narrow.withBudget(need)(Dedup.resolveGroups(docs, "doc_id", pairs)),
          Dedup.resolveGroups(docs, "doc_id", pairs))) {
        assert(narrow.schema == shuffle.schema, s"seed $seed")
        assert(sortedRows(narrow) == expected, s"seed $seed")
      }
      val under = Narrow.withBudget(need - 1)(Dedup.resolveGroups(docs, "doc_id", pairs))
      assert(shuffles(under.queryExecution.toRdd) > 0, s"seed $seed: no shuffle over budget")
      assert(sortedRows(under) == expected, s"seed $seed")
    }
  }

  test("differential: keepBest narrow == shuffle regime on generated pair graphs and qualities") {
    for ((seed, idType, qType, quality) <- Seq(
        (1, LongType, DoubleType, doubleQuality _),
        (2, IntegerType, DoubleType, doubleQuality _),
        (3, LongType, IntegerType, intQuality _))) {
      val (docs, pairs) = dupCase(seed, idType, qType, quality)
      val shuffle = Narrow.withBudget(0)(Dedup.keepBest(docs, "doc_id", pairs, "quality"))
      val expected = sortedRows(shuffle)
      // planted argmax edge cases: tie -> 100, null last, all-null -> 130
      assert(Seq("100|100|100|true", "102|100|100|false", "131|130|130|false")
        .forall(expected.contains), s"seed $seed")
      val need = math.ceil(Narrow.Pairs.bytes(pairs.count())).toLong
      val held = org.apache.spark.sql.graft.BroadcastBlocks.narrow(spark.sparkContext)
      for (narrow <- Seq(Narrow.withBudget(need)(Dedup.keepBest(docs, "doc_id", pairs, "quality")),
          Dedup.keepBest(docs, "doc_id", pairs, "quality"))) {
        // a finished narrow keepBest holds no broadcast of its components
        assert(org.apache.spark.sql.graft.BroadcastBlocks.narrow(spark.sparkContext).subsetOf(held),
          s"seed $seed: keepBest left a narrow broadcast behind")
        assert(narrow.schema == shuffle.schema, s"seed $seed")
        assert(sortedRows(narrow) == expected, s"seed $seed")
      }
      val under = Narrow.withBudget(need - 1)(Dedup.keepBest(docs, "doc_id", pairs, "quality"))
      assert(shuffles(under.queryExecution.toRdd) > 0, s"seed $seed: no shuffle over budget")
      assert(sortedRows(under) == expected, s"seed $seed")
    }
  }

  test("simhashCandidates: pigeonhole holds across the full hamming<=2 ball (property)") {
    import spark.implicits._
    // signatures that differ from a base in 0, 1, 2, and 3 bit positions:
    // everything at hamming <= 2 must be found, hamming 3 must not
    val base = 0xBEEFL & 0xFFFFL
    val sigs = Seq(
      (0L, base),
      (1L, base ^ 1L), // hamming 1 (band 0)
      (2L, base ^ (1L << 7) ^ (1L << 8)), // hamming 2 (spans bands)
      (3L, base ^ (1L << 1) ^ (1L << 6) ^ (1L << 12)) // hamming 3 — one flip per band
    ).toDF("doc_id", "sh")
    val pairs = Dedup.simhashCandidates(sigs, "doc_id", "sh", 16, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("simhashTuningAudit: truth matches brute force; bands >= maxHamming+1 reach recall 1.0") {
    val audit = Dedup.simhashTuningAudit(docs, "doc_id", "text",
        bits = 16, bandConfigs = Seq(2, 3, 4), maxHamming = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)).map(_ => r.getDouble(4)))))
      .toMap
    assert(audit.keySet == Set(2L, 3L, 4L))
    // brute-force truth over the same simhash values
    val sh = docs.select(Dedup.simhash(col("text"), 16)).collect().map(_.getLong(0))
    val nTrue = (for {
      i <- sh.indices; j <- (i + 1) until sh.length
      if java.lang.Long.bitCount(sh(i) ^ sh(j)) <= 2
    } yield 1).size.toLong
    assert(nTrue > 0, "fixture must contain at least one true hamming<=2 pair")
    for ((bands, (nCand, nFound, nTotal, recall)) <- audit) {
      assert(nTotal == nTrue, s"bands=$bands truth total")
      assert(nFound <= nCand && nFound <= nTotal)
      // pigeonhole: >= maxHamming+1 contiguous bands are a lossless index
      if (bands >= 3L) assert(recall.contains(1.0), s"bands=$bands must reach recall 1.0")
    }
  }

  test("incrementalHammingScreen: band screen == brute-force incoming x corpus hamming") {
    val rnd = new scala.util.Random(17)
    // clustered 24-bit hashes so some incoming items have close corpus
    // neighbors and some don't
    val centers = Array.fill(6)(rnd.nextLong() & 0xffffffL)
    def near(c: Long): Long = {
      var h = c
      (0 until rnd.nextInt(5)).foreach(_ => h ^= 1L << rnd.nextInt(24))
      h
    }
    val rows = (0 until 120).map(i => (i.toLong, near(centers(rnd.nextInt(6)))))
    val df = rows.toDF("id", "sh")
    val incoming = df.filter(col("id") % 5 === 4)
    val corpus = df.filter(col("id") % 5 =!= 4)
    val got = Dedup.incrementalHammingScreenOnBands(incoming,
        Dedup.hammingBands(corpus, "id", "sh", bits = 24, numBands = 4), "id", "sh",
        bits = 24, maxHamming = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val corpusRows = rows.filter(_._1 % 5 != 4)
    for ((id, sh) <- rows if id % 5 == 4) {
      val n = corpusRows.count(c => java.lang.Long.bitCount(c._2 ^ sh) <= 3).toLong
      assert(got(id) == ((n, n == 0)), s"id=$id expected $n corpus neighbors")
    }
    assert(got.values.exists(_._1 > 0) && got.values.exists(_._1 == 0),
      "fixture must exercise both dup and clean incoming items")
  }

  test("dupSpanStats: spans shared across docs count; unique and too-short docs report zero") {
    val d = Seq(
      (1L, "abcdefgh"),    // 5 distinct 4-spans, all inside doc 2 -> ratio 1.0
      (2L, "xxabcdefgh"),  // 7 distinct 4-spans, 5 shared with doc 1
      (3L, "qrstuv"),      // unique content -> 0 dup
      (4L, "ab"),          // shorter than the span width -> 0 shingles, 0.0 ratio
      (5L, "ZZZZabcd")     // lowercased spans: zzzz unique, abcd shared
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(d, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((5L, 5L, 1.0)))
    assert(out(2L) == ((7L, 5L, 5.0 / 7)))
    assert(out(3L) == ((3L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)), "doc shorter than n still reports a row")
    // "zzzzabcd" -> {zzzz, zzza, zzab, zabc, abcd}: only abcd is shared
    assert(out(5L) == ((5L, 1L, 1.0 / 5)))
  }
}
