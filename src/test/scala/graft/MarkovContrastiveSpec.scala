package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Semantic invariants for the round-11 eighth/ninth waves
  * (q193-q198) beyond their oracle gates, run on the sf0.001 testdata.
  */
class MarkovContrastiveSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q196 generator audit: SRP slice chain and NND rounds are both monotone; NND beats the replaced banding") {
    val rows = SparkEntry.queries("q196_srp_band_audit")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet ==
      Set("srp_1x16", "srp_2x8", "srp_4x4", "srp_8x8",
        "nnd_iter_1", "nnd_iter_2", "nnd_iter_3"))
    // a 4-bit key is a slice of an 8-bit key is a slice of the 16-bit
    // signature: agreeing on the wide key implies agreeing on every
    // sub-key, so candidates(1x16) subset-of candidates(2x8) subset-of
    // candidates(4x4); and top-K by TRUE cosine over a candidate
    // superset can only displace an exact-top-K member with another
    // exact-top-K member, so hits are monotone too. (8x8 adds bands
    // over NEW planes — outside the slice chain.)
    val chain = Seq("srp_1x16", "srp_2x8", "srp_4x4").map(rows)
    assert(chain.map(_._1).sliding(2).forall(p => p.head <= p.last), chain)
    assert(chain.map(_._2).sliding(2).forall(p => p.head <= p.last), chain)
    // NND rounds: every round's candidate set contains the previous
    // round's edges, so the same displacement argument makes per-round
    // hits monotone; and the shipped final round must decisively beat
    // the SRP 2x8 generator it replaced (the round-12 point)
    val nnd = (1 to 3).map(t => rows(s"nnd_iter_$t"))
    assert(nnd.map(_._2).sliding(2).forall(p => p.head <= p.last), nnd)
    assert(nnd.last._3 > rows("srp_2x8")._3 + 0.2,
      s"final NND recall ${nnd.last._3} should beat srp_2x8 ${rows("srp_2x8")._3}")
    assert(nnd.last._3 >= 0.8, s"shipped-generator recall ${nnd.last._3} < 0.8")
    rows.values.foreach { case (c, h, rec) =>
      assert(c >= 0 && h >= 0 && rec >= 0.0 && rec <= 1.0)
    }
  }

  test("q197 hard negatives: disjoint from the top-K edge set, ranks contiguous, anchors are mutual") {
    val hard = SparkEntry.queries("q197_hard_negatives")(spark, dir).collect()
    assert(hard.nonEmpty)
    val edges = SparkEntry.queries("q186_knn_graph")(spark, dir).collect()
    val edgeSet = edges.map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutualAnchors = edges.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    hard.foreach { r =>
      val (a, p, rk, n) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mutualAnchors.contains(a), s"anchor $a has no mutual edge")
      assert(edgeSet.contains((a, p)), s"($a,$p) not an edge")
      assert(!edgeSet.contains((a, n)), s"hard negative $n is in $a's top-K")
      assert(rk >= 1 && rk <= 2, s"rank $rk out of the K+1..K+M band")
    }
    // per (anchor, positive): ranks contiguous from 1 (under-return ok)
    hard.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case (pair, rs) =>
      val ranks = rs.map(_.getLong(2)).sorted
      assert(ranks.sameElements(1L to ranks.length), s"$pair ranks: ${ranks.toSeq}")
    }
  }

  test("q199 curriculum export: contiguous per-shard positions, tier-major order, q184's doc set") {
    val rows = SparkEntry.queries("q199_curriculum_export")(spark, dir).collect()
    assert(rows.nonEmpty)
    val tierOrd = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    rows.groupBy(_.getLong(3)).foreach { case (shard, rs) =>
      assert(shard >= 0 && shard < 16, s"shard $shard out of range")
      val ordered = rs.sortBy(_.getLong(4))
      assert(ordered.map(_.getLong(4)).sameElements(1L to ordered.length),
        s"shard $shard positions not contiguous")
      val tiers = ordered.map(r => tierOrd(r.getString(2)))
      assert(tiers.zip(tiers.tail).forall { case (a, b) => a <= b },
        s"shard $shard not tier-major: ${tiers.toSeq}")
    }
    // same doc set and same per-doc tier as the q184 report
    val q184 = SparkEntry.queries("q184_lm_quality_buckets")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(rows.map(_.getLong(0)).toSet == q184.keySet)
    rows.foreach(r => assert(q184(r.getLong(0)) == r.getString(2),
      s"doc ${r.getLong(0)} tier diverges from q184"))
  }

  test("q198 multimodal consensus: flags reconcile with the q31/q164 pair sets") {
    val rows = SparkEntry.queries("q198_multimodal_consensus")(spark, dir).collect()
    assert(rows.nonEmpty)
    val text = SparkEntry.queries("q31_dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val img = SparkEntry.queries("q164_image_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seen = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(seen == text.union(img), "pair universe must be the union of both signals")
    rows.foreach { r =>
      val pair = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(4) == text.contains(pair), s"$pair by_text flag wrong")
      assert(r.getBoolean(5) == img.contains(pair), s"$pair by_image flag wrong")
      assert(r.getBoolean(6) == (text.contains(pair) && img.contains(pair)))
      assert(r.isNullAt(2) != r.getBoolean(4), s"$pair jacc nullability vs by_text")
      assert(r.isNullAt(3) != r.getBoolean(5), s"$pair hamming nullability vs by_image")
    }
  }

  test("q193 Markov transitions: rows normalize to 1, n_from consistent, gap excluded") {
    val rows = SparkEntry.queries("q193_markov_transitions")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byFrom = rows.groupBy(_.getString(0))
    byFrom.foreach { case (from, rs) =>
      val nTrans = rs.map(_.getLong(2))
      val nFrom = rs.map(_.getLong(3)).distinct
      assert(nFrom.length == 1 && nFrom.head == nTrans.sum,
        s"$from: n_from ${nFrom.toSeq} vs sum ${nTrans.sum}")
      val pSum = rs.map(_.getDouble(4)).sum
      assert(math.abs(pSum - 1.0) < 1e-9, s"$from: probabilities sum to $pSum")
    }
    // the transition count can never exceed the within-session pair
    // count implied by the sessionize view: sum over sessions of (n-1)
    val sess = SparkEntry.queries("q54_events_sessionize")(spark, dir).collect()
    val pairBudget = sess.map(_.getLong(4) - 1).sum
    assert(rows.map(_.getLong(2)).sum == pairBudget,
      "within-session transition pairs must equal sum(session n_events - 1)")
  }

  test("q194 streaming ANN serving equals the batch IVF top-k on the same query subset") {
    val served = SparkEntry.queries("q194_stream_ann_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(served.nonEmpty)
    // the batch twin, trained identically to the registry's centSqrt
    // artifact (sf0.001 has 500 vectors -> k = ceil(sqrt(500)) = 23,
    // sample stride m = 1, seeds = vec_id < 23, 3 Lloyd steps; probe
    // depth = ceil(sqrt(23)) = 5 via the auto rule)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 23).select("vec_id"), iters = 3)
    val batch = Similarity.ivfTopKOnIndex(
        e.filter(col("vec_id") % 25 === 5),
        Similarity.ivfIndex(e, cents, "vec_id", "embedding"), cents,
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(served == batch,
      s"gate output diverges from the batch twin: only-gate=${served.diff(batch).take(3)} " +
        s"only-batch=${batch.diff(served).take(3)}")
  }

  test("q195 contrastive negatives: exclusions hold, ranks contiguous, pairs are mutual edges") {
    val negs = SparkEntry.queries("q195_contrastive_negatives")(spark, dir).collect()
    assert(negs.nonEmpty)
    val edges = SparkEntry.queries("q186_knn_graph")(spark, dir).collect()
    val edgeSet = edges.map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutualSet = edges.filter(_.getBoolean(4)).map(r => (r.getLong(0), r.getLong(1))).toSet
    negs.foreach { r =>
      val (a, p, rk, n) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mutualSet.contains((a, p)), s"($a,$p) is not a mutual edge")
      assert(n != a && n != p, s"negative $n collides with the pair ($a,$p)")
      assert(!edgeSet.contains((a, n)), s"negative $n is in $a's neighborhood")
      assert(rk >= 1 && rk <= 4, s"rank $rk out of range")
    }
    // ranks are contiguous 1..k per pair, and the slack absorbed every
    // exclusion on this data (no under-returned pair)
    negs.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case (pair, rs) =>
      val ranks = rs.map(_.getLong(2)).sorted
      assert(ranks.sameElements(1L to ranks.length), s"$pair ranks: ${ranks.toSeq}")
      assert(ranks.length == 4L, s"$pair under-returned: ${ranks.length} negatives")
    }
    // every mutual edge produced a pair row
    assert(negs.map(r => (r.getLong(0), r.getLong(1))).toSet == mutualSet)
  }
}
