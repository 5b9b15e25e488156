package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Similarity search semantics: exact cosine math, top-k ordering and
  * tie-breaks, quantized centroid assignment.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(0.6f, 0.8f, 0.0f))
  ).toDF("vec_id", "embedding")

  /** The quantized seed rows vec_id < n as a centroid table: the
    * trainer with zero Lloyd steps returns its seeds unchanged.
    */
  private def seedCentroids(df: DataFrame, n: Int): DataFrame = {
    val seeds = df.filter(col("vec_id") < n)
    Similarity.trainCentroids(seeds, "vec_id", "embedding", seeds.select("vec_id"), iters = 0)
  }

  /** The seed rows vec_id < n as a per-subspace PQ codebook (zero Lloyd
    * steps): each row's m quantized slices, coded by the row's id.
    */
  private def seedCodebook(df: DataFrame, n: Int, m: Int): DataFrame = {
    val seeds = df.filter(col("vec_id") < n)
    Similarity.trainPqCodebooks(seeds, "vec_id", "embedding", m, seeds.select("vec_id"), iters = 0)
  }

  test("cosine: exact values on known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
                 (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val out = df.select(
      Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))))
      .collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1)) < 1e-12)
  }

  test("cosineTopK: nearest neighbors in order, self excluded") {
    val topk = Similarity.cosineTopK(vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", 4)
    val rows = topk.orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // neighbors of (1,0,0): cos with 2=(1,1,0)->0.7071, 4=(0.6,.8,0)->0.6, 1->0, 3->-1
    assert(rows.map(_._1) == Seq(2L, 4L, 1L, 3L))
    assert(math.abs(rows.head._2 - 1.0 / math.sqrt(2)) < 1e-9)
    assert(rows.forall(_._1 != 0L))
  }

  test("cosineTopK: score ties break on ascending ref id") {
    val dup = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(2.0f, 0.0f)), // same direction as 12 -> identical cosine
      (12L, Array(3.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.cosineTopK(dup.filter(col("vec_id") === 10), dup, "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(rows == Seq(11L, 12L))
  }

  test("quantize: floor semantics, exact longs") {
    val q = Seq(Array(0.0015f, -0.0015f)).toDF("v")
      .select(Similarity.quantize(col("v")).as("q"))
      .head().getSeq[Long](0)
    assert(q == Seq(1L, -2L)) // floor(1.5)=1, floor(-1.5)=-2
  }

  test("ivfTopK: probed buckets bound the candidate set; refine is exact cosine") {
    val cents = seedCentroids(vecs, 2)
    val index = Similarity.ivfIndex(vecs, cents, "vec_id", "embedding")
    val res = Similarity.ivfTopKOnIndex(
        vecs.filter(col("vec_id") === 4), index, cents, "vec_id", "embedding", k = 3, nprobe = 1)
      .orderBy("rank").collect()
    // (0.6,0.8,0): nearest centroid is 1=(0,1,0); probing ONLY that bucket
    // restricts candidates to bucket-1 members {1, 3, 4}\{4} = {1, 3}
    // (vec 3=(-1,0,0) lands in bucket 1 too: dot 0 beats dot -1e6)
    assert(res.map(_.getLong(1)).toSeq == Seq(1L, 3L))
    // float32 literals are not exact in double: compare loosely
    assert(math.abs(res.head.getDouble(2) - 0.8) < 1e-6)
    // nprobe=2 widens to both buckets -> full neighbor set reachable
    val res2 = Similarity.ivfTopKOnIndex(
        vecs.filter(col("vec_id") === 4), index, cents, "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("rank").collect()
    assert(res2.length == 3)
    assert(res2.head.getLong(1) == 2L) // (1,1,0) is the true nearest
  }

  test("ivfTopK recall@k vs brute force on the real embeddings (the ANN acceptance gate)") {
    // the standard acceptance test an ANN deployment runs: recall@k of
    // the approximate index against exhaustive search on the same
    // queries. Context for the floors: the synthetic embeddings are
    // near-uniform in 64-d (no cluster structure — the ANN worst case)
    // and the centroids are untrained seed vectors, so absolute recall
    // is modest by construction; the gate pins (a) measured floors so
    // quality regressions fail loudly and (b) that the nprobe knob buys
    // recall monotonically, which is the property the design claims.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 50)
    val k = 5
    val exact = Similarity.cosineTopK(queries, e, "vec_id", "embedding", k)
      .select("q_id", "r_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val seeds = seedCentroids(e, 23)
    val seedIndex = Similarity.ivfIndex(e, seeds, "vec_id", "embedding")
    def recallAt(nprobe: Int): Double = {
      val approx = Similarity.ivfTopKOnIndex(
          queries, seedIndex, seeds, "vec_id", "embedding",
          k = k, nprobe = nprobe)
        .select("q_id", "r_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recalls = exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      assert(recalls.size == 50)
      recalls.sum / recalls.size
    }
    val r4 = recallAt(4)
    val r10 = recallAt(10)
    info(f"ivf recall@$k: nprobe=4 -> $r4%.3f, nprobe=10 -> $r10%.3f (23 centroids, 50 queries)")
    // measured 0.632 / 0.796 on this fixture; floors leave noise margin
    assert(r4 >= 0.55, f"IVF recall@$k at nprobe=4 degraded: $r4%.3f < 0.55")
    assert(r10 >= 0.75, f"IVF recall@$k at nprobe=10 degraded: $r10%.3f < 0.75")
    assert(r10 > r4, f"probing more buckets must not lose recall: $r10%.3f <= $r4%.3f")

    // TRAINED coarse quantizer (3 Lloyd steps from the same 23 seeds —
    // what the registry queries ship): training must hold the same
    // floors, and the nprobe knob must still buy recall monotonically
    def recallTrainedAt(nprobe: Int): Double = {
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 23).select("vec_id"), iters = 3)
      val approx = Similarity.ivfTopKOnIndex(
          queries, Similarity.ivfIndex(e, cents, "vec_id", "embedding"), cents,
          "vec_id", "embedding", k = k, nprobe = nprobe)
        .select("q_id", "r_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recalls = exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      recalls.sum / recalls.size
    }
    val t4 = recallTrainedAt(4)
    val t10 = recallTrainedAt(10)
    info(f"ivf recall@$k TRAINED: nprobe=4 -> $t4%.3f, nprobe=10 -> $t10%.3f")
    assert(t4 >= 0.55, f"trained-IVF recall@$k at nprobe=4 degraded: $t4%.3f < 0.55")
    assert(t10 >= 0.75, f"trained-IVF recall@$k at nprobe=10 degraded: $t10%.3f < 0.75")
    assert(t10 > t4, f"probing more buckets must not lose recall: $t10%.3f <= $t4%.3f")
  }

  test("ivfTopKOnIndex: equals a driver-side probe-and-refine reference") {
    // The probe's definition evaluated in plain Scala: each query's top
    // `np` centroids by quantized dot (lowest id on ties), candidates =
    // members of those buckets (same label when filtered) except the
    // query itself, exact cosine dot/(|q||r|), rank by (cos desc, r_id
    // asc). Compared row for row, doubles included.
    def quant(v: Seq[Float]): Seq[Long] = v.map(x => math.floor(x.toDouble * 1000).toLong)
    def dotL(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    def dotD(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      a.indices.foreach(i => acc += a(i) * b(i))
      acc
    }
    def ranked(v: Seq[Float], cents: Seq[(Long, Seq[Long])]): Seq[Long] =
      cents.map { case (c, cv) => (c, dotL(quant(v), cv)) }
        .sortBy { case (c, sc) => (-sc, c) }.map(_._1)
    def reference(corpus: DataFrame, queryIds: Set[Long], cents: DataFrame, k: Int,
        nprobe: Int, labelled: Boolean): Set[(Long, Long, Double, Long)] = {
      val cs = cents.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
      val rows = corpus.collect().map { r =>
        (r.getAs[Long]("vec_id"), r.getSeq[Float](r.fieldIndex("embedding")),
          if (labelled) r.getAs[String]("label") else "")
      }.toSeq
      val bucket = rows.map { case (id, v, _) => id -> ranked(v, cs).head }.toMap
      val np = if (nprobe > 0) nprobe else math.ceil(math.sqrt(cs.length.toDouble)).toInt
      rows.filter(r => queryIds(r._1)).flatMap { case (qid, qv, ql) =>
        val probed = ranked(qv, cs).take(np).toSet
        val qd = qv.map(_.toDouble)
        rows.filter { case (rid, _, rl) => rid != qid && probed(bucket(rid)) && rl == ql }
          .map { case (rid, rv, _) =>
            val rd = rv.map(_.toDouble)
            rid -> dotD(qd, rd) / (math.sqrt(dotD(qd, qd)) * math.sqrt(dotD(rd, rd)))
          }
          .sortBy { case (rid, c) => (-c, rid) }.take(k).zipWithIndex
          .map { case ((rid, c), i) => (qid, rid, c, i + 1L) }
      }.toSet
    }
    def check(name: String, corpus: DataFrame, queryIds: Set[Long], cents: DataFrame,
        k: Int): Unit = {
      val queries = corpus.filter(col("vec_id").isin(queryIds.toSeq: _*))
      for (labelled <- Seq(false, true); nprobe <- Seq(1, 2, 0)) {
        val lc = if (labelled) Some("label") else None
        val index = Similarity.ivfIndex(corpus, cents, "vec_id", "embedding", labelCol = lc)
        val got = Similarity.ivfTopKOnIndex(queries, index, cents, "vec_id", "embedding", k,
            labelCol = lc, nprobe = nprobe)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
        val want = reference(corpus, queryIds, cents, k, nprobe, labelled)
        val cfg = s"$name nprobe=$nprobe labelled=$labelled"
        assert(want.nonEmpty, s"$cfg: empty reference")
        assert(got == want, s"$cfg: only-probe=${got.diff(want).take(3)} " +
          s"only-reference=${want.diff(got).take(3)}")
        info(s"$cfg: ${got.size} rows")
      }
    }
    // 5-vector fixture: seed centroids 0 and 1, labels by id parity
    val small = vecs.withColumn("label", (col("vec_id") % 2).cast("string"))
    check("fixture", small, Set(0L, 2L, 3L, 4L), seedCentroids(vecs, 2), k = 2)
    // sf0.001 embeddings: 23 trained centroids (3 Lloyd steps)
    val e = spark.read.parquet(s"$testDataDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label").cast("string").as("label"))
    val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 23).select("vec_id"), iters = 3)
    check("sf0.001", e, (0L until 500L by 25L).toSet, cents, k = 3)
  }

  test("trainCentroids: one Lloyd step moves centroids to the floor(mean) of their members") {
    // two tight groups; seeds 0 and 2. quantized coords (scale 1000):
    // 0=[0,0], 1=[2,0], 2=[1000,1000], 3=[998,1000]
    val vs = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(0.002f, 0.0f)),
      (2L, Array(1.0f, 1.0f)),
      (3L, Array(0.998f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(vs, "vec_id", "embedding",
        vs.filter(col("vec_id") === 0L || col("vec_id") === 2L).select("vec_id"), iters = 1)
      .orderBy("centroid_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(cents.map(_._1).toSeq == Seq(0L, 2L), "centroids keep their seed ids")
    assert(cents(0)._2 == Seq(1L, 0L), s"floor(mean([0,2], [0,0])): ${cents(0)._2}")
    assert(cents(1)._2 == Seq(999L, 1000L), s"floor(mean([1000,998], [1000,1000])): ${cents(1)._2}")
  }

  test("trainCentroids: a centroid that attracts no members drops out (k shrinks)") {
    // vectors 0 and 1 are identical; seeding BOTH makes every point tie
    // to the lower centroid id, so centroid 1 goes memberless and drops
    val vs = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(vs, "vec_id", "embedding",
        vs.filter(col("vec_id") < 2).select("vec_id"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(cents.length == 1, s"expected the memberless centroid to drop: ${cents.toSeq}")
    assert(cents.head._1 == 0L)
    assert(cents.head._2 == Seq(333L, 333L), "floor(mean([0,0,1000]))")
  }

  test("pqEncode: nearest per-subspace codeword, lowest-id tie-break, m rows per vector") {
    val book = seedCodebook(Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding"), 2, m = 2)
    val vs = Seq(
      (10L, Array(0.9f, 0.9f, 0.1f, 0.1f)), // sub0 -> code 1, sub1 -> code 0
      (11L, Array(0.5f, 0.5f, 0.5f, 0.5f))  // equidistant everywhere -> code 0 (tie)
    ).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(vs, book, "vec_id", "embedding", m = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(codes.size == 4, "m rows per vector")
    assert(codes((10L, 0L)) == 1L)
    assert(codes((10L, 1L)) == 0L)
    assert(codes((11L, 0L)) == 0L, "exact tie must break to the lowest codeword id")
    assert(codes((11L, 1L)) == 0L)
  }

  test("pqAdcTopK: distance is the sum of per-subspace LUT entries; rank ascends") {
    val book = seedCodebook(Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding"), 2, m = 2)
    val corpus = Seq(
      (20L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // codes (0,0)
      (21L, Array(1.0f, 1.0f, 1.0f, 1.0f)), // codes (1,1)
      (22L, Array(0.9f, 0.9f, 0.1f, 0.1f))  // codes (1,0)
    ).toDF("vec_id", "embedding")
    val q = Seq((5L, Array(1.0f, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val rows = Similarity.pqAdcTopK(q, corpus, book, "vec_id", "embedding", m = 2, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    // q sub-dists: to c0 = 2*1000^2 = 2e6 per subspace, to c1 = 0
    assert(rows == Seq((21L, 0L), (22L, 2000000L), (20L, 4000000L)))
  }

  test("pqAdcTopK recall@k vs exact search on the real embeddings (the PQ acceptance gate)") {
    // same acceptance shape as the IVF gate above: ADC's approximation
    // quality measured against exhaustive search in the SAME quantized
    // integer metric (so the gate isolates codebook distortion, the one
    // error source PQ introduces). Codebook = 8 untrained seed vectors
    // on near-uniform 64-d data — the PQ worst case — so absolute
    // recall is modest by construction; the gate pins measured floors
    // and the property that finer subspaces (larger m) do not hurt.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 50)
    val k = 5
    val q = queries.select(col("vec_id").as("q_id"), Similarity.quantize(col("embedding")).as("qv"))
    val c = e.select(col("vec_id").as("r_id"), Similarity.quantize(col("embedding")).as("rv"))
    val d = aggregate(zip_with(col("qv"), col("rv"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d").asc, col("r_id").asc)
    val exact = c.crossJoin(broadcast(q)).where(col("q_id") =!= col("r_id"))
      .withColumn("d", d)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "r_id").collect()
      .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
    def recallAt(m: Int): Double = {
      val approx = Similarity.pqAdcTopK(queries, e, seedCodebook(e, 8, m), "vec_id", "embedding",
          m = m, k = k)
        .select("q_id", "r_id").collect()
        .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
      val recalls = exact.map { case (qq, truth) =>
        approx.getOrElse(qq, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      assert(recalls.size == 50)
      recalls.sum / recalls.size
    }
    val r8 = recallAt(8)
    val r16 = recallAt(16)
    info(f"pq adc recall@$k: m=8 -> $r8%.3f, m=16 -> $r16%.3f (8 codewords, 50 queries)")
    // measured 0.096 / 0.216 on this fixture; floors leave noise margin
    assert(r8 >= 0.05, f"PQ recall@$k at m=8 degraded: $r8%.3f")
    assert(r16 >= 0.15, f"PQ recall@$k at m=16 degraded: $r16%.3f")
    assert(r16 > r8, f"finer subspaces must buy recall on this fixture: $r16%.3f <= $r8%.3f")

    // TRAINED codebook (per-subspace k-means, 3 Lloyd steps from the same
    // 8 seeds — what q109/q110 ship): must hold the same floors, and on
    // this fixture training the codewords toward the data should not
    // lose recall vs the raw seed slices
    def recallTrainedAt(m: Int): Double = {
      val cb = Similarity.trainPqCodebooks(e, "vec_id", "embedding", m = m,
        e.filter(col("vec_id") < 8).select("vec_id"), iters = 3)
      val approx = Similarity.pqAdcTopK(queries, e, cb, "vec_id", "embedding", m = m, k = k)
        .select("q_id", "r_id").collect()
        .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
      val recalls = exact.map { case (qq, truth) =>
        approx.getOrElse(qq, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      recalls.sum / recalls.size
    }
    val t8 = recallTrainedAt(8)
    val t16 = recallTrainedAt(16)
    info(f"pq adc recall@$k TRAINED: m=8 -> $t8%.3f, m=16 -> $t16%.3f")
    assert(t8 >= 0.05, f"trained-PQ recall@$k at m=8 degraded: $t8%.3f")
    assert(t16 >= 0.15, f"trained-PQ recall@$k at m=16 degraded: $t16%.3f")
    assert(t8 >= r8, f"training the codebook must not lose recall at m=8: $t8%.3f < $r8%.3f")

    // RESIDUAL coding (full IVF-PQ, q124's operator): codes quantize
    // qv - cv instead of qv. Residuals are small and centered, so the
    // same m bits describe them more sharply — residual recall must
    // beat raw-vector PQ at equal m. nprobe=8 of 8 cells makes the
    // comparison pure PQ-quality (no coarse-filter loss).
    def recallResidualAt(m: Int): Double = {
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8).select("vec_id"), iters = 3)
      val cb = Similarity.trainResidualCodebooks(e, cents,
        e.filter(col("vec_id") < 8).select("vec_id"), "vec_id", "embedding", m = m, iters = 3)
      val approx = Similarity.ivfPqAdcTopK(queries, e, cents, cb,
          "vec_id", "embedding", m = m, k = k, nprobe = 8)
        .select("q_id", "r_id").collect()
        .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
      val recalls = exact.map { case (qq, truth) =>
        approx.getOrElse(qq, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      recalls.sum / recalls.size
    }
    val v8 = recallResidualAt(8)
    info(f"ivfpq residual recall@$k: m=8, nprobe=8 -> $v8%.3f (raw-PQ trained: $t8%.3f)")
    assert(v8 > t8, f"residual coding must beat raw-vector PQ at m=8: $v8%.3f <= $t8%.3f")
  }

  test("q117 semdedup: cluster minima are representatives; every dup has a lower-id neighbor") {
    // keep-one semantics: is_dup=0 rows are the representatives, so the
    // lowest vec_id of every cluster can never be flagged (no lower id
    // exists to absorb it), and the flagged set is exactly the id_b side
    // of the within-cluster >=tau pair set (q46's output at the same tau).
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q117_semdedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val minPerCluster = out.groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(out.filter(t => minPerCluster.contains(t._1)).forall(_._3 == 0L),
      "a cluster-minimum vector was flagged as a duplicate")
    val flagged = out.filter(_._3 == 1L).map(_._1).toSet
    val pairDupSide = SparkEntry.queries("q46_dedup_embed_cosine")(spark, dir)
      .select("id_b").collect().map(_.getLong(0)).toSet
    assert(flagged == pairDupSide,
      s"flag set ${flagged.size} != pair dup side ${pairDupSide.size}")
  }

  test("q205 routing verdict: one row, decision consistent with the measured recall") {
    // The executable form of the round-16 serving bar: the decision
    // column must be pure threshold arithmetic over the recall the same
    // row reports — anything else and the query is prose again.
    val rows = SparkEntry.queries("q205_ann_serving_route")(spark, testDataDir).collect()
    assert(rows.length === 1)
    val r = rows(0)
    val nQueries = r.getAs[Long]("n_queries")
    val nTruth = r.getAs[Long]("n_truth")
    val nHits = r.getAs[Long]("n_hits")
    val recall = r.getAs[Double]("recall_at_auto")
    assert(nQueries > 0 && nTruth === 3 * nQueries)
    assert(nHits >= 0 && nHits <= nTruth)
    assert(recall === nHits.toDouble / nTruth)
    val expectedDecision = if (recall >= 0.9) "ivf_auto_depth" else "nnd_knn_graph"
    val expectedFallback = if (recall >= 0.9) "nnd_knn_graph" else "deeper_ivf_probes"
    assert(r.getAs[String]("decision") === expectedDecision)
    assert(r.getAs[String]("fallback") === expectedFallback)
    assert(r.getAs[String]("corpus") === "embeddings")
  }

  test("assignToCentroids: picks argmax dot with lowest-id tie-break") {
    val cents = seedCentroids(vecs, 2) // (1,0,0) and (0,1,0)
    val assign = Similarity.assignToCentroids(vecs, cents, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign(0L) == 0L)
    assert(assign(1L) == 1L)
    assert(assign(4L) == 1L) // (0.6,0.8): dot 600*1000? -> centroid 1 larger
    assert(assign(2L) == 0L) // equal dots with both centroids -> lowest centroid id
  }
}
