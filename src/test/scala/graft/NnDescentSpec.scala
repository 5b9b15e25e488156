package graft

import org.apache.spark.sql.functions._
import graft.operators.NnDescent

/** Invariants for the NN-Descent kNN-graph builder (the q186-family
  * candidate generator since round 12).
  */
class NnDescentSpec extends SparkSpec {

  /** 4 well-separated clusters of 10 vectors each in 64 dims: within a
    * cluster cosine is ~1 (base direction + small deterministic jitter),
    * across clusters ~0 (orthogonal base directions). NN-Descent must
    * recover the EXACT brute-force top-K graph here.
    */
  private def clusteredVecs = {
    import spark.implicits._
    (0 until 40).map { i =>
      val c = i % 4
      val v = Array.fill(64)(0.001f * ((i * 31) % 7 - 3))
      v(c * 16 + (i / 4) % 16) = 0.05f
      v(c * 16) += 1.0f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("initGraph: deterministic, no self-loops, <= k out-edges per node") {
    val g1 = NnDescent.initGraph(clusteredVecs, "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val g2 = NnDescent.initGraph(clusteredVecs, "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g1 == g2, "md5 draws must be reproducible")
    assert(g1.forall { case (s, d) => s != d })
    g1.groupBy(_._1).foreach { case (s, es) => assert(es.size <= 5, s"node $s") }
    assert(g1.forall { case (_, d) => d >= 0 && d < 40 })
  }

  test("knnGraph converges to the exact brute-force top-K on clustered data") {
    val vecs = clusteredVecs
    val g = NnDescent.knnGraph(vecs, "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // brute force truth
    val v = NnDescent.vecFrame(vecs, "vec_id", "embedding")
    val cos = graft.operators.Similarity.dot(col("a.dv"), col("b.dv")) /
      (col("a.nrm") * col("b.nrm"))
    val brute = v.alias("a").crossJoin(v.alias("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"), cos.as("c"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("c").desc, col("dst").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(g == brute, "clustered fixture must converge to the exact graph")
  }

  test("iterate: per-node best-so-far never degrades (candidates contain current edges)") {
    val vecs = NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding")
    val g0 = NnDescent.initGraph(clusteredVecs, "vec_id", 3)
    val (_, g1) = NnDescent.iterate(g0, vecs, 3)
    val (_, g2) = NnDescent.iterate(g1, vecs, 3)
    def best(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("src").agg(max(col("cos_sim")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b1 = best(g1); val b2 = best(g2)
    b1.foreach { case (srcId, b) =>
      assert(b2.getOrElse(srcId, Double.MinValue) >= b - 1e-12,
        s"node $srcId best-so-far degraded")
    }
  }

  test("iterate with ρ-cap below 2k: candidate volume bounded, convergence intact") {
    val vecs = NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding")
    val g0 = NnDescent.initGraph(clusteredVecs, "vec_id", 4)
    val nG0 = g0.count()
    // the shipped configuration's shape: cap < 2k (here 5 < 8). The
    // per-round candidate bound <= N*cap^2 + |g| must hold BY
    // CONSTRUCTION, and the cap must be deterministic (same call twice
    // == same candidates).
    val (cand1, r1) = NnDescent.iterate(g0, vecs, 4, cap = 5)
    assert(cand1.count() <= 40L * 5 * 5 + nG0,
      "capped two-hop expansion exceeded the N*cap^2 bound")
    val (cand2, _) = NnDescent.iterate(g0, vecs, 4, cap = 5)
    val c1 = cand1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c2 = cand2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c1 == c2, "md5-rank cap sample must be reproducible")
    // ranks stay contiguous 1..k under the cap
    r1.collect().groupBy(_.getLong(0)).foreach { case (srcId, rows) =>
      val ranks = rows.map(_.getLong(3)).sorted
      assert(ranks.sameElements(1L to ranks.length), s"node $srcId ranks: ${ranks.toSeq}")
    }
    // and the capped build still recovers the exact graph on the
    // clustered fixture. Config note (round 15): under the round-salted
    // ρ-sample the old (cap = 4, 5 rounds) trajectory permanently missed
    // ONE edge — once no edge is new the incremental skip freezes the
    // graph, so a cap-excluded pair can stay unscored forever (the
    // documented Dong-style approximation; salt churn re-routes which
    // pairs it hits on a 40-node fixture). cap = 5 (still < 2k = 6) with
    // one extra round converges exactly; at corpus scale the salt is
    // recall-neutral (SCALE.md round 15).
    val g = NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding",
        k = 3, iters = 6, cap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val v = NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding")
    val cos = graft.operators.Similarity.dot(col("a.dv"), col("b.dv")) /
      (col("a.nrm") * col("b.nrm"))
    val brute = v.alias("a").crossJoin(v.alias("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"), cos.as("c"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("c").desc, col("dst").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(g == brute, "capped build must still converge on the clustered fixture")
  }

  test("incremental rounds ≡ full rounds when the cap does not bind") {
    // With cap above every node's undirected degree there is no ρ-sample
    // churn, and the new-leg skip is EXACT: an old-old two-hop pair's
    // legs were both in the previous round's adjacency, so the pair was
    // scored then, and the per-src top-k threshold only rises (g ⊆ the
    // merged candidates each round) — rescoring cannot change the graph.
    // This pins the incremental recurrence (knnGraph's path) against the
    // full recurrence it replaced.
    val vecs = NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding")
    val bigCap = 1000 // > N, never binds on the 40-node fixture
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "cos_sim", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val inc = edges(NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding",
      k = 4, iters = 3, cap = bigCap))
    var g = NnDescent.initGraph(clusteredVecs, "vec_id", 4)
    for (_ <- 1 to 3) g = NnDescent.iterate(g, vecs, 4, cap = bigCap)._2
    val full = edges(g)
    assert(inc == full,
      "incremental new-leg rounds diverged from the full recurrence at an unbinding cap")
  }

  /** ShuffleDependencies in an RDD's lineage. */
  private def shuffles(r: org.apache.spark.rdd.RDD[_]): Int = r.dependencies.map {
    case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
    case d => shuffles(d.rdd)
  }.sum

  test("narrow round: one narrow pass per round, no ShuffleDependency") {
    // The narrow regime's contract: each round is ONE narrow pass over
    // the src ids — the cap² bag is expanded, scored and cut inside the
    // tasks, so no shuffle, window or sort ever sees it. An RDD lineage
    // without a ShuffleDependency is one stage per job. The walker is
    // checked against the shuffle regime's round, which must shuffle.
    import org.apache.spark.sql.graft.{CheckpointStats, NarrowRounds}
    val vecs = CheckpointStats.freshCheckpoint(
      NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding"))
    val g0 = CheckpointStats.freshCheckpoint(NnDescent.initGraph(clusteredVecs, "vec_id", 4))
    assert(shuffles(NnDescent.iterate(g0, vecs, 4, cap = 5)._2.queryExecution.toRdd) > 0,
      "the lineage walker found no shuffle in a shuffle-regime round")
    val rounds = new NarrowRounds(vecs, 4, 5)
    var g = g0
    for (t <- 0 until 3) {
      val (cand, ranked) = rounds(g, t)
      for ((name, df) <- Seq("ranked" -> ranked, "candidates" -> cand))
        assert(shuffles(df.queryExecution.toRdd) == 0,
          s"round $t's $name pass has a ShuffleDependency:\n${df.queryExecution.toRdd.toDebugString}")
      assert(cand.count() > 0 && ranked.count() > 0, s"round $t is empty")
      g = CheckpointStats.freshCheckpoint(ranked)
    }
  }

  test("forced shuffle regime (BroadcastMaxVecRows = 0): same graph, sort-merge plan") {
    // The documented 100 TB fallback (vector corpus beyond the broadcast
    // guard → shuffle joins) had never been exercised end-to-end before
    // round 14 — its correctness and plan were assertions in a comment.
    // Two pins: (1) the guard override forces the WHOLE build down the
    // shuffle path and the result is bit-identical to the broadcast
    // build (the plans must be semantically interchangeable, or the
    // guard boundary is a correctness cliff); (2) the scoring round's
    // physical plan under the stats-reset checkpoint really is
    // sort-merge — no auto-broadcast sneaks back in via stale stats.
    import org.apache.spark.sql.graft.{BroadcastBlocks, Narrow}
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    def build() = NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding", k = 4, iters = 3)
    val held = BroadcastBlocks.narrow(spark.sparkContext)
    val narrowGraph = build()
    val broadcastBuild = edges(narrowGraph)
    // the finished narrow build released its vector and round broadcasts
    // once its last lazy checkpoint was read, and still reads back
    assert(BroadcastBlocks.narrow(spark.sparkContext).subsetOf(held),
      "a finished knnGraph build left a narrow broadcast behind")
    assert(edges(narrowGraph) == broadcastBuild, "the released build no longer reads back")
    val shuffleBuild = edges(Narrow.withBudget(0)(build()))
    assert(shuffleBuild == broadcastBuild,
      "shuffle-regime build diverged from the broadcast build")
    // a budget one byte under the build's footprint sends it to the
    // shuffle regime, with the same graph
    val (n, dim) = NnDescent.vecStats(org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding")))
    val need = math.ceil(Narrow.Vectors(dim).bytes(n) + Narrow.Graph.bytes(4 * n)).toLong
    val under = Narrow.withBudget(need - 1)(build())
    assert(shuffles(under.queryExecution.toRdd) > 0, "a build over budget stayed narrow")
    assert(edges(under) == broadcastBuild, "the over-budget build diverged")
    // the round shape knnGraph runs in the shuffle regime: stats-reset
    // vector table, no broadcast hints
    val vecs = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding"))
    // the graph frame is stats-reset too (exactly knnGraph's round shape:
    // every per-round frame rides a freshCheckpoint)
    val g0 = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      NnDescent.initGraph(clusteredVecs, "vec_id", 4))
    val (_, ranked) = NnDescent.iterate(g0, vecs, 4, cap = 8)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"shuffle regime lost its sort-merge joins:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastHashJoin"),
      s"shuffle regime still broadcasts (stale stats?):\n${plan.take(2000)}")
  }

  test("shuffle regime: the cap² expansion join scores at the pivot — nothing wide above it") {
    // The round-16 scale fix, pinned structurally (r15 verdict item 1):
    // past the broadcast boundary the two-hop expansion must be a
    // LOCAL JOIN — vectors attach to the N·cap adjacency edges BEFORE
    // the pivot self-join, cos_sim is computed in the join's projection,
    // and only narrow (src, dst, cos_sim) triples flow above it. The old
    // shape (expand narrow pairs, then join vectors per endpoint) sorted
    // N·cap² rows WITH a 64-double payload — measured at >60 GB of spill
    // at 50k vectors · cap 56 (SCALE.md round-15 wave 8). Identification:
    // the expansion join is the ONLY join with a non-equi residual
    // condition (dst != src rides the pivot join); the flat passes are
    // pure equi-joins.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.types.ArrayType
    val vecs = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding"))
    val g0 = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      NnDescent.initGraph(clusteredVecs, "vec_id", 4))
    def isWide(p: SparkPlan): Boolean =
      p.output.exists(_.dataType.isInstanceOf[ArrayType])
    // expansion joins found; wideAbove = ancestors of p that output an array column
    var found = 0
    def check(p: SparkPlan, wideAbove: Seq[String]): Unit = p match {
      case j: SortMergeJoinExec if j.condition.isDefined =>
        found += 1
        assert(isWide(j.left) && isWide(j.right),
          s"expansion join must consume vector payloads on BOTH inputs " +
            s"(scoring at the pivot), got:\n${j.toString.take(1500)}")
        assert(wideAbove.isEmpty,
          s"wide operators above the expansion join (vector payload rides the " +
            s"N·cap² frame): ${wideAbove.mkString("; ")}")
        j.children.foreach(c => check(c, Seq.empty))
      case _ =>
        val wa = if (isWide(p)) wideAbove :+ p.nodeName else wideAbove
        p.children.foreach(c => check(c, wa))
    }
    // iterate (round 0): one expansion join
    val (_, r0) = NnDescent.iterate(g0, vecs, 4, cap = 8)
    check(r0.queryExecution.sparkPlan, Seq.empty)
    assert(found == 1, s"expected exactly 1 expansion join in iterate, found $found")
    // iterateInc: the new-leg predicate rides into the same pivot join
    found = 0
    val g1 = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
      NnDescent.markNew(r0, g0))
    val (_, r1) = NnDescent.iterateInc(g1, vecs, 4, cap = 8, round = 1)
    check(r1.queryExecution.sparkPlan, Seq.empty)
    assert(found == 1, s"expected exactly 1 expansion join in iterateInc, found $found")
  }

  test("sliced expansion (bounded peak disk) is bit-identical to the single pass") {
    // S > 1 slices run the shuffle-regime expansion as S checkpointed
    // pivot-slice jobs (peak disk ~1/S). Exactness pin:
    // a full shuffle-regime build at slices = 3 must equal the
    // single-pass shuffle build AND the broadcast build bit-for-bit —
    // the union of per-slice top-k cuts is a superset of the global
    // top-k, and the final re-rank reproduces ranks exactly. S = 3 is
    // derived, as deployed: a disk budget in [2·fp/3, fp) of the
    // fixture's round footprint fp makes autoSlices' ceil(2·fp/budget) 3.
    import org.apache.spark.sql.graft.Narrow
    val bKey = "graft.nnd.diskBudgetBytes"
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    def graph() = NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding", k = 4, iters = 3, cap = 5)
    def build() = edges(graph())
    val broadcastBuild = build()
    val fp = NnDescent.roundFootprintBytes(40, 5, 64)
    val (shuffle1, shuffle3) = Narrow.withBudget(0) {
      val s1 = build()
      try {
        sys.props(bKey) = (fp * 5 / 6).toString
        assert(NnDescent.buildParams(40, 64, 4, 5).slices === 3)
        // the sliced build runs the shuffle regime, slices and all
        val sliced = graph()
        assert(shuffles(sliced.queryExecution.toRdd) > 0, "the sliced build stayed narrow")
        (s1, edges(sliced))
      } finally sys.props.remove(bKey)
    }
    assert(shuffle1 == broadcastBuild, "single-pass shuffle build diverged")
    assert(shuffle3 == shuffle1, "sliced expansion diverged from the single pass")
  }

  test("derived-config sentinels are symmetric: k = 0 with default cap derives autoCap") {
    // Round-15 advice: cap's -1 default must not pair a derived width
    // with the legacy 2k sample when k derives. With k = 0 and cap left
    // at the default, the build must equal the fully-derived
    // (k = 0, cap = 0) build bit-for-bit.
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val derived = edges(NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding",
      k = 0, iters = 2, cap = 0))
    val defaulted = edges(NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding",
      k = 0, iters = 2))
    assert(defaulted == derived,
      "k = 0 with the default cap must derive autoCap, not the legacy 2k sample")
  }

  test("autoSlices: derivation arithmetic pinned at the round-16 anchors") {
    // Footprint model calibrated on the measured h120 round (SCALE.md
    // round-16 second wave): ~46 GB attach + ~39 GB narrow at
    // N = 600k, cap = 70, dim = 64. Budget fixed at this box's
    // measured ~39 GB (78 GB usable / 2) so the pins are host-free.
    val budget = 39L * 1000 * 1000 * 1000
    // h120 derived config: 2x29.4 GB per-slice-pair under the 39 GB
    // budget's half — S = 5 (round 16's hand-picked S = 3 survived with
    // 2x29+16 = 74 GB peak on a 78 GB device; the derivation must not
    // cut that close by default)
    assert(NnDescent.roundFootprintBytes(600000, 70, 64) === 88200000000L)
    assert(NnDescent.autoSlices(600000, 70, 64, budget) === 5)
    // h10 A/B (50k, cap 56): fits outright, must not slice
    assert(NnDescent.autoSlices(50000, 56, 64, budget) === 1)
    // the 1e9-derived width at 600k (the round-17 width-price run):
    // the one-resident model's S = 4 died of ENOSPC in round 2 when two
    // ~41 GB slices overlapped the cleaner lag; two-resident derives 9
    // at this fixed budget (8 at the live ~41 GB budget the run sees)
    assert(NnDescent.autoSlices(600000, 105, 64, budget) === 9)
    // degenerate inputs stay sane
    assert(NnDescent.autoSlices(0, 70, 64, budget) === 1)
    assert(NnDescent.autoSlices(600000, 70, 64, 1L) > 1)
  }

  test("descend: the q196 audit's eager walk is the shipped knnGraph, round by round") {
    // The audit calls the builder's own round driver with its fixed
    // params and eager checkpoints; knnGraph walks the same driver with
    // lazy ones. On this 40-node fixture knnGraph derives exactly the
    // audit's literal params (narrow regime, one slice), so every
    // round the observer sees must equal a knnGraph build stopped there.
    import org.apache.spark.sql.graft.CheckpointStats
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "cos_sim", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    def built(iters: Int) = edges(
      NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding", k = 4, iters = iters, cap = 5))
    val vecs = CheckpointStats.freshCheckpoint(
      NnDescent.vecFrame(clusteredVecs, "vec_id", "embedding"))
    val g0 = CheckpointStats.freshCheckpoint(NnDescent.initGraph(clusteredVecs, "vec_id", 4))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Set[(Long, Long, Double, Long)])]
    val last = NnDescent.descend(g0, vecs, NnDescent.BuildParams(4, 5, narrow = true, slices = 1),
      0 until 3, eager = true, observe = (t, cand, g) => {
        assert(cand.count() > 0, s"round $t scored no candidates")
        seen += (t -> edges(g))
      })
    assert(seen.map(_._1) == Seq(0, 1, 2), "observer must fire once per round, in order")
    seen.foreach { case (t, g) =>
      assert(g == built(t + 1), s"round $t of the audit walk != knnGraph(iters = ${t + 1})")
    }
    assert(edges(last) == built(3), "final audit graph != knnGraph(iters = 3)")
  }

  test("drawEdges: grid-step draw stays on the sampled ids; step 1 is initGraph's draw") {
    // q196 draws its init graph over a 1-in-m sample whose ids are
    // {0, m, ..., (n-1)·m}: dst = pmod(md5, n)·m must land on that grid.
    // The reference is the oracles' ag0 formula in Spark builtins
    // (conv of the first 15 md5 hex chars), independent of Md5Long60.
    import spark.implicits._
    val k = 5
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def reference(ids: Seq[Long], n: Long, m: Long) = pairs(ids.toDF("src")
      .selectExpr("src", s"explode(sequence(1L, ${k}L)) AS i")
      .selectExpr("src", "pmod(CAST(conv(substr(md5(concat_ws('_', 'nnd0', src, i)), 1, 15), " +
        s"16, 10) AS BIGINT), ${n}L) * $m AS dst")
      .filter("dst <> src"))
    val (n, m) = (20L, 3L)
    val grid = (0L until n).map(_ * m)
    val drawn = pairs(NnDescent.drawEdges(grid.toDF("src"), k, "nnd0", lit(n), lit(m)))
    assert(drawn.nonEmpty)
    assert(drawn.forall { case (_, d) => grid.contains(d) }, "dst off the sampled grid")
    assert(drawn.forall { case (s, d) => s != d }, "self-loop drawn")
    drawn.groupBy(_._1).foreach { case (s, es) => assert(es.size <= k, s"node $s") }
    assert(drawn == reference(grid, n, m), "grid draw != the oracle's ag0 formula")
    assert(pairs(NnDescent.initGraph(clusteredVecs, "vec_id", k)) ==
      reference(0L until 40L, 40L, 1L), "step-1 draw changed initGraph's edge set")
  }

  test("knnGraph: ranks are 1..k contiguous per node, k respected") {
    val g = NnDescent.knnGraph(clusteredVecs, "vec_id", "embedding", k = 4, iters = 2)
      .collect()
    g.groupBy(_.getLong(0)).foreach { case (srcId, rows) =>
      val ranks = rows.map(_.getLong(3)).sorted
      assert(ranks.sameElements(1L to ranks.length), s"node $srcId ranks: ${ranks.toSeq}")
      assert(ranks.length <= 4)
    }
  }

  /** Vectors for the regime differential tests, as double arrays: small
    * integer components (exact duplicates, so tied cos), the axis
    * (1, 0, 0, 0) (0.0 against orthogonal vectors), (-1e-300, 0, 0, 1e150)
    * (its cos with the axis underflows to -0.0, and with vectors whose
    * last component is 0 to ±0.0), and one NaN component (NaN cos, which
    * Spark's double ordering ranks first). `zero` adds a zero vector.
    */
  private def regimeVecs(seed: Long, n: Int, zero: Boolean = false) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def ints(): Seq[Double] = {
      val v = Seq.fill(4)((rnd.nextInt(5) - 2).toDouble)
      if (v.forall(_ == 0.0)) ints() else v
    }
    (0 until n).map { i =>
      val v = i % 9 match {
        case 0 => Seq(1.0, 0.0, 0.0, 0.0)
        case 1 => Seq(-1e-300, 0.0, 0.0, 1e150)
        case _ if i == 5 => Seq(Double.NaN, 1.0, 0.0, 0.0)
        case _ if zero && i == 7 => Seq(0.0, 0.0, 0.0, 0.0)
        case _ => ints()
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  /** (round, candidate pairs, ranked rows with cos_sim as raw bits) for
    * every round of one descend walk.
    */
  private type Walk = Seq[(Int, Set[(Long, Long)], Set[(Long, Long, Option[Long], Long, Boolean)])]

  private def walk(start: org.apache.spark.sql.DataFrame, vecs: org.apache.spark.sql.DataFrame,
      p: NnDescent.BuildParams, rounds: Range): Walk = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Set[(Long, Long)], Set[(Long, Long, Option[Long], Long, Boolean)])]
    NnDescent.descend(start, vecs, p, rounds, observe = (t, cand, g) =>
      seen += ((t,
        cand.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        g.select("src", "dst", "cos_sim", "rank", "is_new").collect().map(r =>
          (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
            r.getLong(3), r.getBoolean(4))).toSet)))
    seen.toSeq
  }

  private def assertSameWalks(what: String, narrow: Walk, shuffle: Walk): Unit = {
    assert(narrow.map(_._1) == shuffle.map(_._1), s"$what: rounds differ")
    narrow.zip(shuffle).foreach { case ((t, nc, ng), (_, sc, sg)) =>
      assert(nc == sc, s"$what round $t candidates: narrow-only ${(nc -- sc).take(5)}, " +
        s"shuffle-only ${(sc -- nc).take(5)}")
      assert(ng == sg, s"$what round $t graph: narrow-only ${(ng -- sg).toSeq.sorted.take(5)}, " +
        s"shuffle-only ${(sg -- ng).toSeq.sorted.take(5)}")
    }
  }

  /** knnGraph's walk (init draw + rounds from t = 0) in one regime. */
  private def knnWalk(vectors: org.apache.spark.sql.DataFrame, k: Int, cap: Int, rounds: Int,
      narrow: Boolean) = {
    import org.apache.spark.sql.graft.CheckpointStats
    val vecs = CheckpointStats.freshCheckpoint(NnDescent.vecFrame(vectors, "vec_id", "embedding"))
    val g0 = CheckpointStats.freshCheckpoint(NnDescent.initGraph(vectors, "vec_id", k))
    walk(g0, vecs, NnDescent.BuildParams(k, cap, narrow, slices = 1), 0 until rounds)
  }

  test("differential: narrow rounds == shuffle-regime rounds, round by round (knnGraph)") {
    // Every round's candidate set and (src, dst, cos_sim bits, rank,
    // is_new) must agree between the two regimes, on ties, ±0.0 and NaN
    // scores, with caps that bind (3, 5) and caps that do not (1000,
    // 2k), and with k at or above the number of neighbours (40 > n).
    val vectors = regimeVecs(11L, 30)
    for ((k, cap, rounds) <- Seq((4, 3, 4), (4, 1000, 3), (40, 5, 3), (40, -1, 2))) {
      val Seq(narrow, shuffle) = Seq(true, false).map(knnWalk(vectors, k, cap, rounds, _))
      assertSameWalks(s"knnGraph(k = $k, cap = $cap)", narrow, shuffle)
      if (k == 4 && cap == 3) {
        val all = narrow.flatMap(_._3)
        assert(all.exists(_._3.exists(b => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(b)))),
          "fixture produced no NaN score")
        assert(all.exists(_._3.contains(0L)), "fixture produced no 0.0 score")
        assert(all.exists(_._5) && all.exists(!_._5), "is_new never varied")
      }
    }
  }

  test("differential: narrow rounds == shuffle-regime rounds, round by round (upsertGraph)") {
    // The q203 shape: a base graph over ids 0..nb-1, then upsert rounds
    // from t = 1 over the merged corpus, seeds drawn for ids nb..n-1.
    import org.apache.spark.sql.graft.CheckpointStats
    val all = regimeVecs(23L, 36)
    val base = all.filter(col("vec_id") < 24)
    val vecs = CheckpointStats.freshCheckpoint(NnDescent.vecFrame(all, "vec_id", "embedding"))
    val newIds = all.filter(col("vec_id") >= 24).select(col("vec_id").as("src"))
    for ((k, cap, rounds) <- Seq((4, 3, 3), (40, 1000, 2))) {
      val baseGraph = NnDescent.knnGraph(base, "vec_id", "embedding", k, iters = 2, cap = cap)
      val Seq(narrow, shuffle) = Seq(true, false).map { narrow =>
        val p = NnDescent.BuildParams(k, cap, narrow, slices = 1)
        walk(NnDescent.upsertStart(baseGraph, vecs, newIds, 36L, p), vecs, p, 1 to rounds)
      }
      assertSameWalks(s"upsertGraph(k = $k, cap = $cap)", narrow, shuffle)
    }
  }

  test("differential: a zero vector scores null and ranks last, ANSI on and off") {
    // cos_sim divides by nrm_a · nrm_b: a zero divisor (the all-zero
    // vector 7) scores NULL, which the top-k order puts last (DESC NULLS
    // LAST), whether ANSI (the session default) is on or off
    val vectors = regimeVecs(5L, 27, zero = true)
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.get(key)
    try {
      for (ansi <- Seq("true", "false")) {
        spark.conf.set(key, ansi)
        val Seq(narrow, shuffle) = Seq(true, false).map(knnWalk(vectors, 4, 3, 3, _))
        assertSameWalks(s"zero vector, ANSI $ansi", narrow, shuffle)
        assert(narrow.flatMap(_._3).exists(r => r._3.isEmpty && (r._1 == 7L || r._2 == 7L)),
          s"ANSI $ansi: no null score ranked")
        for ((t, _, g) <- narrow; (src, rows) <- g.groupBy(_._1)) {
          val nullRanks = rows.filter(_._3.isEmpty).map(_._4)
          val scoredRanks = rows.filter(_._3.nonEmpty).map(_._4)
          if (nullRanks.nonEmpty && scoredRanks.nonEmpty)
            assert(nullRanks.min > scoredRanks.max,
              s"ANSI $ansi round $t src $src: a null score ranked before a scored one")
        }
      }
    } finally spark.conf.set(key, old)
  }
}
