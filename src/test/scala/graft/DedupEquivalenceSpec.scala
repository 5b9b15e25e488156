package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Seeded-random equivalence properties: the filtered (sub-quadratic)
  * dedup operators must return EXACTLY the brute-force all-pairs result
  * on corpora they have never seen — including injected near-duplicates
  * (token swaps/drops) and exact duplicates, across several seeds and
  * thresholds.
  */
class DedupEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "data", "spark", "query", "engine")

  /** n docs of 4-10 words; every third doc is a mutation (one word
    * swapped or dropped) of the previous doc, every seventh an exact dup.
    */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until n) {
      val text =
        if (i % 7 == 3 && out.nonEmpty) out.last._2
        else if (i % 3 == 2 && out.nonEmpty) {
          val w = out.last._2.split(" ").toBuffer
          if (rng.nextBoolean() && w.size > 1) w.remove(rng.nextInt(w.size))
          else w(rng.nextInt(w.size)) = vocab(rng.nextInt(vocab.size))
          w.mkString(" ")
        } else
          Seq.fill(4 + rng.nextInt(7))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      out += ((i.toLong, text))
    }
    out.toSeq
  }

  for (seed <- Seq(1, 7, 42); threshold <- Seq(0.5, 0.8)) {
    test(s"ngramJaccardPairs == brute force (seed=$seed, t=$threshold)") {
      val docs = corpus(seed, 40).toDF("doc_id", "text")
      val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 4, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val hashed = docs.select(
        col("doc_id"),
        array_distinct(transform(Dedup.shingleSet(col("text"), 4),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))).as("hs"))
        .withColumn("nsh", size(col("hs"))).filter(col("nsh") > 0)
      val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
      val brute = hashed.select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("nsh").as("nsh_a"))
        .crossJoin(hashed.select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("nsh").as("nsh_b")))
        .where(col("id_a") < col("id_b"))
        .withColumn("jacc", inter / (col("nsh_a") + col("nsh_b") - inter))
        .filter(col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(brute.nonEmpty, "corpus should contain qualifying pairs")
      assert(fast == brute)
    }
  }

  test("ngramJaccardPairs == per-doc brute force on repeated ids") {
    // 40 random 30-char texts over ten letters under ids drawn from 0-14,
    // so several docs share an id and a shingle count, plus a copy of each
    // under ids 100-139: every doc pairs with its copy on its own.
    val rng = new scala.util.Random(3)
    val texts = Seq.fill(40)(Seq.fill(30)("abcdefghij"(rng.nextInt(10))).mkString)
    val docs = (texts.map(t => (rng.nextInt(15).toLong, t)) ++
      texts.indices.map(i => (100L + i, texts(i)))).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), Dedup.shingleSet(col("text"), 3).as("sh")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toSeq
    val brute = (for {
      i <- sh.indices; j <- sh.indices if i < j && sh(i)._1 != sh(j)._1
      n = (sh(i)._2 & sh(j)._2).size
      jacc = n.toDouble / (sh(i)._2.size + sh(j)._2.size - n) if jacc >= 0.8
    } yield s"${sh(i)._1 min sh(j)._1}|${sh(i)._1 max sh(j)._1}|$jacc").sorted
    assert(brute.count(_.endsWith("|1.0")) >= 40, "each doc should pair with its copy")
    val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(fast == brute)
  }

  for (seed <- Seq(1, 42); maxH <- Seq(1, 2, 3)) {
    test(s"simhashCandidates == brute force (seed=$seed, maxHamming=$maxH)") {
      val docs = corpus(seed, 40).toDF("doc_id", "text")
      val h = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh"))
      val fast = Dedup.simhashCandidates(h, "doc_id", "sh", 16, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = h.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(h.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
        .where(col("id_a") < col("id_b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
        .filter(col("hamming") <= maxH)
        .select("id_a", "id_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(brute.nonEmpty, "corpus should contain close signatures")
      assert(fast == brute)
    }
  }
}
