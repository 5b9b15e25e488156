package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointStats, Md5Long60, Narrow, NarrowRounds}

/** kNN-graph construction by NN-Descent (Dong, Moses & Li, "Efficient
  * k-nearest neighbor graph construction for generic similarity
  * measures", WWW 2011) — the distribution-independent alternative to
  * banded LSH candidate generation.
  *
  * Why it exists here: on near-uniform embeddings (this corpus — global
  * cos mean 0.0, top-1 neighbor cos ~0.41) EVERY one-shot bucketed
  * generator (SRP bands, IVF single-probe) sits on the same poor
  * recall-vs-candidate-volume curve: the measured q196 audit gives SRP
  * 2x8 recall 0.047 at 0.9% of all pairs and 4x4 recall 0.478 only by
  * probing 23% of all pairs — near-brute-force. Widening the signature
  * just moves along that curve. NN-Descent beats the curve by
  * exploiting the GRAPH's structure instead of the (absent) data
  * structure: a neighbor of my neighbor is likely my neighbor, so
  * iterating "score neighbors-of-neighbors, keep the best k" converges
  * to the true graph in a handful of rounds (measured here: recall@3 =
  * 0.92 after 4 rounds at internal k = 20 on the sf0.1 corpus, vs
  * 0.047 for the SRP generator it replaces — the q196 audit certifies
  * both).
  *
  * Two regimes, one recurrence. The per-round candidate set is
  * <= N * cap^2 rows BY CONSTRUCTION (each node contributes its <= cap
  * undirected neighbors' <= cap neighbor lists), so total work is
  * LINEAR in N per round at fixed k; rounds needed grow ~log N.
  *   - NARROW regime, iff the vectors (N rows of their measured width)
  *     and the k·N graph rows fit the driver-heap budget together
  *     (Narrow.Vectors + Narrow.Graph against Narrow.budget — every
  *     registered corpus qualifies; SCALE.md gives the bounds): the
  *     vectors are broadcast once per build, the graph and its ρ-capped
  *     adjacency once per round, and each round is ONE narrow pass over
  *     the src ids that expands, scores and keeps the top k per src
  *     (NarrowRounds) — no shuffle, window or sort ever touches the cap²
  *     bag. A round's graph broadcast is destroyed once the round's
  *     checkpoint is cut from its lineage, the vectors' with the last
  *     one's. The broadcast is no scale path: at billions of vectors the
  *     co-location lever is partitioning the graph so neighbourhoods and
  *     their vectors land together.
  *   - SHUFFLE regime (the 100 TB shape; past the budget): every
  *     step is an equi-join or a bounded window — never a cross join,
  *     never a driver loop over data. Vector payloads never ride a
  *     cap²-sized frame: scoring happens INSIDE the pivot self-join
  *     (scoreTwoHopLocal) so only narrow (src, dst, cos_sim) triples flow
  *     above it — spill drops by the vector-width factor (round 16: the
  *     previously disk-fatal 50k·cap 56 A/B completes at 15.6 GB, and a
  *     600k·cap 70 build completes end-to-end). Peak disk is further
  *     boundable by pivot-slice execution (autoSlices).
  * Both regimes give bit-identical graphs (NnDescentSpec compares them
  * round by round). Every caller of the recurrence — knnGraph,
  * upsertGraph, the q196 audit and ScaleProbe's nnd-rounds curve —
  * walks it through ONE round driver (descend), which cuts each round
  * from lineage with freshCheckpoint (stats-reset localCheckpoint — see
  * CheckpointStats) exactly like resolveGroups' shuffle loop; on a
  * cluster this would be a reliable-storage checkpoint.
  *
  * Determinism: the init graph is k deterministic md5-arithmetic draws
  * per node (the q195/q161 content-stable trick — reproducible by a
  * SQL oracle bit-for-bit, id-space-uniform, partitioning/retry
  * independent), and every round's top-k cut orders by (cos_sim DESC,
  * dst ASC) — a total order both engines share.
  */
object NnDescent {

  /** Normalized vector side: (vec_id, dv double[], nrm). */
  def vecFrame(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(
        col(idCol).cast("long").as("vec_id"),
        Similarity.asDouble(col(vecCol)).as("dv"))
      .withColumn("nrm", Similarity.l2Norm(col("dv")))

  /** Deterministic random-regular init graph: k md5 draws per node over
    * the dense 0..N-1 id space, self-loops dropped, duplicates
    * collapsed — (src, dst) edge set with <= k out-edges per node.
    * NN-Descent's convergence does not depend on init quality (the
    * refinement rounds do the work), so the O(N) draw beats any
    * banded build as the starting point at scale.
    */
  def initGraph(vectors: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "init graph needs k >= 1")
    val nRow = vectors.agg(count(lit(1)).as("n"))
    drawEdges(vectors.select(col(idCol).cast("long").as("src")).crossJoin(broadcast(nRow)),
      k, "nnd0", col("n"), lit(1L))
  }

  /** The md5 edge draw behind every start graph: k draws per `src`,
    * dst = pmod(md5_60(salt_src_i), n) · step — the oracles' ag0 CTE
    * bit-for-bit. initGraph: "nnd0", step 1; upsert seeds: "nndu" over
    * the merged count; q196: "nnd0" over its 1-in-m sample grid, step m.
    */
  private[graft] def drawEdges(ids: DataFrame, k: Int, salt: String, n: Column,
      step: Column): DataFrame =
    ids.withColumn("i", explode(sequence(lit(1L), lit(k.toLong))))
      .withColumn("dst", pmod(
        Md5Long60.column(concat_ws("_", lit(salt), col("src"), col("i"))), n) * step)
      .filter(col("dst") =!= col("src"))
      .select("src", "dst")
      .distinct()

  /** Local-disk budget one shuffle-regime expansion pass may occupy,
    * in bytes. Override via graft.nnd.diskBudgetBytes; the default
    * measures the usable space
    * on the device Spark actually spills to (spark.local.dir, default
    * java.io.tmpdir) and takes HALF — the safety factor covers what the
    * footprint model leaves out (checkpoint blocks from earlier rounds
    * awaiting the periodic cleaner, the vector/adjacency frames, other
    * tenants of the device). On a real cluster this conf would be the
    * per-executor scratch allotment; measuring the driver's tmpdir is
    * the local[k] stand-in.
    */
  def DiskBudgetBytes: Long =
    sys.props.get("graft.nnd.diskBudgetBytes")
      .map(_.toLong)
      .getOrElse {
        val dir = new java.io.File(
          sys.props.getOrElse("spark.local.dir",
            System.getProperty("java.io.tmpdir", "/tmp")))
        math.max(1L << 30, dir.getUsableSpace / 2)
      }

  /** Resident-disk footprint model for ONE unsliced shuffle-regime
    * expansion pass, calibrated on the round-16 h120 measurement
    * (N = 600k, cap = 70, dim = 64: ~46 GB of wide attach shuffle +
    * ~22 GB of partial-window output + ~17 GB of flat-pass sort
    * resident in a single job — SCALE.md round-16 second wave):
    *
    *   attach  = 2 · N · cap · (8·dim + 48)   — both pivot sides carry
    *             one vector payload per adjacency edge (the narrow-
    *             triple fix bounds WIDE rows to these N·cap frames);
    *             48 B/row of ids/norm/shuffle framing. 47.0 GB at the
    *             anchor vs ~46 measured.
    *   narrow  = 14 · N · cap²                — the candidate bag's
    *             window partials + sort runs at ~13.3 B/row measured
    *             (the triples are 3 numbers, but sort framing and
    *             partial-window duplication ride along). 41.2 GB at
    *             the anchor vs ~39 measured.
    *
    * Total at the anchor: 88 GB modeled vs ~85 GB measured — the model
    * runs a few % conservative, which is the right side to miss on.
    */
  def roundFootprintBytes(n: Long, cap: Int, dim: Int): Long =
    2L * n * cap * (8L * dim + 48L) + 14L * n * cap * cap

  /** Derived slice count: the smallest S whose per-slice footprint
    * (footprint/S — both attach sides and the bag shrink linearly in S)
    * fits HALF the disk budget, because TWO slices' shuffle files can
    * be resident at once: slice s's files are freed by the periodic
    * ContextCleaner sweep AFTER slice s+1's jobs have started writing,
    * so the honest peak is base + 2·footprint/S, not base + footprint/S.
    * Measured, not assumed (round 17): at 600k·cap 105 the
    * one-resident model derived S = 4 (per-slice ~41 GB on a 78 GB
    * device, "fits") and the build died of ENOSPC in round 2 exactly
    * when two ~41 GB slices overlapped; the same model explains why
    * round 16's hand-picked S = 3 at cap 70 survived — 2·29 GB + 16 GB
    * base = 74 GB, just under the device. With the factor of 2: h120
    * cap 70 derives S = 5, cap 105 (the 1e9-width price run) derives
    * S = 8, and the h10 A/B still derives S = 1. NnDescentSpec pins
    * this arithmetic.
    */
  def autoSlices(n: Long, cap: Int, dim: Int,
      budget: Long = DiskBudgetBytes): Int =
    math.max(1, math.ceil(
      2.0 * roundFootprintBytes(n, cap, dim) / math.max(1L, budget)).toInt)

  private def vecSide(vecs: DataFrame, idAs: String, dvAs: String, nrmAs: String,
      bcast: Boolean): DataFrame = {
    val side = vecs.select(col("vec_id").as(idAs), col("dv").as(dvAs), col("nrm").as(nrmAs))
    if (bcast) broadcast(side) else side
  }

  /** cos_sim = dot(dv_a, dv_b) / (nrm_a · nrm_b) over the columns both
    * scoring shapes attach. A zero divisor (an all-zero vector, say an
    * empty document's embedding) scores null, which every top-k cut ranks
    * last (DESC NULLS LAST), under ANSI too, where a plain `/` would
    * raise DIVIDE_BY_ZERO and fail the whole build. (`nullif` on the
    * divisor would do the same, but it plans a common-expression Project
    * that carries both vectors above the expansion join.)
    */
  private def cosSim: Column =
    try_divide(Similarity.dot(col("dv_a"), col("dv_b")), col("nrm_a") * col("nrm_b"))

  /** Score a FLAT (src, dst) pair set: attach both endpoint vectors and
    * emit (src, dst, cos_sim). With `bcastVecs` (upsert seeds in the
    * narrow regime) both joins are map-side; in the shuffle regime the
    * pair rows carry ONE vector payload through one sorted shuffle —
    * acceptable ONLY for pair sets
    * linear in N (current edges, upsert seeds: k·N rows), never for the
    * N·cap² two-hop expansion (which scores at the pivot — see
    * scoreTwoHopLocal).
    */
  private def scoreFlat(pairs: DataFrame, vecs: DataFrame, bcastVecs: Boolean): DataFrame =
    pairs
      .join(vecSide(vecs, "src", "dv_a", "nrm_a", bcastVecs), Seq("src"))
      .join(vecSide(vecs, "dst", "dv_b", "nrm_b", bcastVecs), Seq("dst"))
      .withColumn("cos_sim", cosSim)
      .select("src", "dst", "cos_sim")

  /** Per-src top-k cut of a scored (src, dst, cos_sim) bag — the shared
    * tail of every scoring shape. dense_rank over the bag ≡ row_number
    * over the set: within a src partition the order key is strict
    * across DISTINCT pairs (equal keys ⟹ equal dst ⟹ same pair), so
    * ties are exactly the duplicates — dense_rank collapses them to one
    * rank and the post-cut distinct collapses the rows.
    */
  private def topKCut(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", dense_rank().over(
        Window.partitionBy("src").orderBy(col("cos_sim").desc, col("dst").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .distinct()

  /** The union of the slices' scored bags `bag(slice)`, each cut to its
    * per-src top k and checkpointed: the SHUFFLE-regime expansion in S
    * pivot slices (S = 1 is a single pass). Slicing bounds PEAK DISK,
    * which round 16 measured to be the shuffle regime's true capacity
    * limit even after the narrow-triple fix: one h120 (600k · cap 70)
    * round keeps ~46 GB of wide attach shuffle + ~22 GB of partial-window
    * output + ~17 GB of flat-pass sort resident in a single job — more
    * than this box's 78 GB budget, and at 1B nodes more than a
    * per-executor disk budget too. With S slices the round runs as S
    * independent jobs, each expanding only the pivots with
    * pivot_id % S == s, cutting that slice's bag to per-src top-k, and
    * CHECKPOINTING the narrow cut so the slice's shuffle files are
    * GC-able before the next slice starts — peak disk drops ~1/S at the
    * cost of S scans of the (tiny) vector table and adjacency.
    *
    * EXACT, not approximate: every bag occurrence of a candidate pair
    * lands in exactly the slice of its generating pivot, and a pair in
    * the final per-src top-k ranks <= k within any subset of the bag
    * it appears in — so the union of slice top-k cuts is a superset of
    * the global top-k, and the final (cheap, narrow) re-rank
    * reproduces ranks bit-for-bit (the NnDescentSpec slicing test pins
    * slices = 3 ≡ slices = 1 on the fixture). Ids are dense 0..N-1, so
    * pmod(pivot, S) is a balanced split with zero hashing cost.
    *
    * The slice count is DERIVED (autoSlices, from the disk budget) by
    * buildParams for knnGraph/upsertGraph — round 16 proved slicing is
    * load-bearing for any big shuffle-regime build (the unsliced 600k
    * pass needed ~95 GB of disk and died; S = 3 completed at 44 GB
    * peak), so the engine must not default to the plan that dies.
    */
  private def slicedCuts(slices: Int, k: Int)(bag: Int => DataFrame): DataFrame =
    (0 until slices).map(sl =>
      CheckpointStats.freshCheckpoint(topKCut(bag(sl), k).select("src", "dst", "cos_sim"))
    ).reduce(_.unionByName(_))

  /** The ρ-sample of an undirected adjacency (src, dst, ...): each src
    * keeps its first `capN` neighbours by (md5_60("nndr_round_src_dst"),
    * dst), the row_number window NarrowRounds reproduces on the driver.
    */
  private def capSample(und: DataFrame, round: Int, capN: Int): DataFrame =
    und.withColumn("rk", row_number().over(Window.partitionBy("src").orderBy(
        Md5Long60.column(concat_ws("_", lit("nndr"), lit(round), col("src"), col("dst"))).asc,
        col("dst").asc)))
      .filter(col("rk") <= capN)
      .drop("rk")

  /** Score the two-hop expansion of a capped undirected adjacency WITHOUT
    * ever materializing an N·cap²-row frame that carries a vector
    * payload — the shuffle-regime scale fix (round 16; the r15 verdict's
    * #1 item). Past the broadcast boundary the old shape (expand pairs,
    * then join vectors per endpoint) sorted N·cap² rows WITH a 64-double
    * payload riding along:
    * measured spill >60 GB at 50k·cap 56 and an 80 GB-disk death at
    * 600k·cap 28 (SCALE.md round-15 waves 6 & 8) — ~N·cap²·vecWidth
    * bytes of disk, which no cluster absorbs at 1B nodes.
    *
    * This shape is Dong et al.'s LOCAL JOIN made physical: attach each
    * endpoint's vector to the N·cap adjacency EDGES (two sorted shuffles
    * of N·cap wide rows — linear in N·cap·vecWidth), sort-merge the two
    * edge sides on the shared pivot (each pivot holds ≤ cap rows per
    * side, so the join output is the same N·cap² bag, bounded per key —
    * no skew blowup), and compute cos_sim IN the join's projection so
    * only narrow (src, dst, cos_sim) triples flow downstream. Spill
    * drops by the vector-width factor (~30× for 64-double embeddings);
    * the cos expression, operand order, and bag multiplicity are
    * identical to the flat shape, so scores are bit-identical and every
    * family oracle is unaffected.
    *
    * `extraCond` lets iterateInc push its new-leg predicate into the
    * pivot join (columns of the aliased sides "a"/"b" are in scope).
    */
  private def scoreTwoHopLocal(und: DataFrame, vecs: DataFrame,
      extraCond: Column = lit(true), slice: Int = 0, slices: Int = 1): DataFrame = {
    // slices > 1 restricts the expansion to the pivots with
    // pivot % slices == slice (the pivot is a.dst == b.src); ids are
    // dense 0..N-1 so pmod is a balanced, zero-cost split. See
    // slicedCuts for why and for the exactness argument.
    val undA = if (slices <= 1) und
      else und.filter(pmod(col("dst"), lit(slices.toLong)) === slice)
    val undB = if (slices <= 1) und
      else und.filter(pmod(col("src"), lit(slices.toLong)) === slice)
    val sideA = undA.join(
      vecs.select(col("vec_id").as("src"), col("dv").as("dv_a"), col("nrm").as("nrm_a")),
      Seq("src"))
    val sideB = undB.join(
      vecs.select(col("vec_id").as("dst"), col("dv").as("dv_b"), col("nrm").as("nrm_b")),
      Seq("dst"))
    sideA.alias("a").join(sideB.alias("b"),
        col("a.dst") === col("b.src") && col("b.dst") =!= col("a.src") && extraCond)
      .select(col("a.src").as("src"), col("b.dst").as("dst"),
        cosSim.as("cos_sim"))
  }

  /** One shuffle-regime NN-Descent round. `g` is the current edge set
    * (src, dst, ...); `vecs` is vecFrame's (vec_id, dv, nrm). Returns
    * (candidates, ranked): the round's distinct scored candidate set —
    * the undirected graph's two-hop pairs plus the current edges — and
    * its per-src top-k cut (src, dst, cos_sim, rank). descend runs it as
    * round 0 and hands the candidates to its observer, which is how the
    * q196 audit reports per-round candidate volume and recall.
    *
    * Scoring is the pivot-local join (scoreTwoHopLocal), so the sorted
    * shuffles carry vectors only on N·cap-row frames and the N·cap²
    * expansion flows as narrow (src, dst, cos_sim) triples, plus a flat
    * pass over the k·N current edges.
    *
    * `slices` is the shuffle-regime slice count (descend passes
    * BuildParams.slices, i.e. buildParams' pick); 1 is a single pass.
    */
  def iterate(g: DataFrame, vecs: DataFrame, k: Int, cap: Int = -1, round: Int = 0,
      slices: Int = 1): (DataFrame, DataFrame) = {
    // Undirected adjacency CAPPED per node (default 2k): out-degree is
    // <= k by construction, but REVERSE degree is unbounded — on
    // clustered data a hub vector can sit in millions of top-k lists,
    // and an uncapped two-hop self-join would emit in_degree^2 rows for
    // it. The cap is a deterministic md5-rank sample of the neighborhood
    // (Dong et al.'s reverse-neighbor ρ-sampling: cap = ρ·2k) — content-
    // stable, partitioning/retry independent, oracle-reproducible —
    // and makes the per-round candidate bound <= N*cap^2 TRUE by
    // construction rather than a uniform-data accident. ρ < 1 trades
    // a little per-round convergence for a quadratic candidate-volume
    // cut; the q196 audit certifies recall per round at the shipped cap.
    //
    // The sample is salted with the ROUND index (round 15): Dong et
    // al.'s ρ-sampling draws a FRESH sample every iteration, so over
    // rounds every neighbor eventually participates in the local join;
    // a round-independent md5 rank excluded the SAME edges every round.
    // Measured honestly: the salt lifts the 50k plateau only ~+0.01
    // (0.600 vs 0.588 at k = 20 x 8 rounds) — the convergence ceiling
    // is the working WIDTH (autoK), not sample staleness — but fresh-
    // per-round is the published recurrence and costs nothing, so it
    // ships. Callers pass the oracle's unroll index t; the default 0
    // keeps single-round uses (and the round-0 build) on the t = 0 draw.
    val capN = if (cap > 0) cap else 2 * k
    val und = capSample(g.select(col("src"), col("dst"))
      .union(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), round, capN)
    // the candidate SET: two-hop pairs plus the current edges —
    // returned for the audit's volume count (the oracle's c$t is
    // DISTINCT); the build itself never materializes it: deduping the
    // N·cap² bag was measured at 57 s of a 85 s round at the 25x corpus
    // while scoring the ~5% duplicate surplus costs ~1 s
    val cand = und.alias("a")
      .join(und.alias("b"),
        col("a.dst") === col("b.src") && col("b.dst") =!= col("a.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
      .union(g.select(col("src"), col("dst")))
      .distinct()
    // Scoring: the two-hop expansion AT THE PIVOT (scoreTwoHopLocal) so
    // no N·cap²-row frame ever carries a vector payload, plus a flat
    // pass over the k·N current edges — the candidate bag (one pair per
    // generating pivot), scored with one cos expression.
    val scoredBag =
      if (slices <= 1)
        scoreTwoHopLocal(und, vecs)
          .union(scoreFlat(g.select(col("src"), col("dst")), vecs, bcastVecs = false))
      else {
        // bounded-peak-disk execution (see slicedCuts): each
        // slice expands its pivots, scores, cuts to per-src top-k, and
        // CHECKPOINTS the narrow cut so its shuffle files free before
        // the next slice; the union re-ranks below — exact.
        slicedCuts(slices, k) { sl =>
          scoreTwoHopLocal(und, vecs, slice = sl, slices = slices)
            .union(scoreFlat(
              g.select(col("src"), col("dst"))
                .filter(pmod(col("dst"), lit(slices.toLong)) === sl),
              vecs, bcastVecs = false))
        }
      }
    // final per-src top-k (see topKCut for the bag ≡ set argument); the
    // cut output is ≤ N·k rows + duplicate surplus, ~40x smaller than
    // the bag (or ≤ slices·N·k when sliced)
    val ranked = topKCut(scoredBag, k)
    (cand, ranked)
  }

  /** Flag round 0's survivors: an edge of the first ranked cut is NEW
    * unless it was already present in the init graph `g0`. Incremental
    * rounds (iterateInc) key off this flag.
    */
  def markNew(ranked: DataFrame, g0: DataFrame): DataFrame = {
    val marks = g0.select(col("src"), col("dst")).withColumn("w0", lit(true))
    ranked
      .join(marks, Seq("src", "dst"), "left")
      .withColumn("is_new", col("w0").isNull)
      .drop("w0")
  }

  /** One INCREMENTAL shuffle-regime NN-Descent round (Dong et al. §2.2's "local join on
    * new items"): a two-hop pair needs scoring only if at least ONE of
    * its two legs entered the graph in the previous round. Rationale: an
    * old-old pair whose legs ALSO survived the previous round's cap was
    * generated (and scored, and possibly rejected) back then, and the
    * per-src top-k threshold only ever RISES (g ⊆ merged candidates each
    * round), so rescoring it cannot change the graph. With the ρ-cap the
    * skip is a mild approximation — an old-old pair whose leg was
    * cap-excluded last round but cap-included now is skipped even though
    * it was never scored — the same approximation Dong et al.'s own
    * ρ-sampling accepts; the q196 audit certifies recall at the shipped
    * (cap, rounds) config. Input `g` is the previous round's ranked cut
    * carrying the per-edge `is_new` flag (round 0 via iterate + markNew);
    * old edges' scores ride along from `g` itself, so the expensive
    * vector join touches ONLY the new-leg candidate pairs — a shrinking
    * fraction of the full two-hop set as rounds converge.
    *
    * Returns (newCandidates, ranked): the round's NEWLY SCORED pair set
    * (distinct, minus pairs already in the graph) and the merged top-k
    * cut with the next round's `is_new` flags. The q196 audit reports
    * n_cand from the first element, so the audit's candidate-volume
    * column measures exactly what this round paid for.
    */
  def iterateInc(g: DataFrame, vecs: DataFrame, k: Int, cap: Int = -1,
      round: Int = 0, slices: Int = 1): (DataFrame, DataFrame) = {
    val capN = if (cap > 0) cap else 2 * k
    // undirected capped adjacency as in `iterate` (the same round-salted
    // md5-rank sample — see iterate's scaladoc: a fresh draw per round is
    // what lets every neighbor eventually join the local join) — plus
    // the edge flag, OR-merged when both directions exist
    val und = capSample(g.select(col("src"), col("dst"), col("is_new"))
      .union(g.select(col("dst").as("src"), col("src").as("dst"), col("is_new")))
      .groupBy("src", "dst").agg(max(col("is_new")).as("is_new")), round, capN)
    // new-leg candidates; pairs already in the graph carry their score
    // in `g` and are never rescored (the anti-join also keeps the next
    // union free of (src,dst) collisions, which the dense_rank dedup
    // relies on). The SET is for the audit's volume count only (oracle
    // c$t is DISTINCT).
    val gPairs = g.select("src", "dst")
    val newCand = und.alias("a")
      .join(und.alias("b"),
        col("a.dst") === col("b.src") && col("b.dst") =!= col("a.src") &&
          (col("a.is_new") || col("b.is_new")))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
      .join(gPairs, Seq("src", "dst"), "left_anti")
      .distinct()
    // Scoring as in `iterate`: the new-leg two-hop expansion scores at
    // the pivot (the new-leg predicate rides INTO the pivot join) and the
    // already-narrow scored triples anti-join against gPairs AFTER — the
    // same pairs as newCand's bag, and the expensive frame never carries
    // a vector payload. Scoring a pair the anti-join then drops costs
    // only its in-join projection.
    val scored =
      if (slices <= 1)
        scoreTwoHopLocal(und.select("src", "dst", "is_new"), vecs,
          extraCond = col("a.is_new") || col("b.is_new"))
          .join(gPairs, Seq("src", "dst"), "left_anti")
      else
        // bounded-peak-disk slices (see slicedCuts / iterate);
        // the per-slice cut is a superset of each pair's final rank
        // eligibility, and the anti-join applies per slice so the union
        // stays (src, dst)-collision-free against g
        slicedCuts(slices, k) { sl =>
          scoreTwoHopLocal(und.select("src", "dst", "is_new"), vecs,
            extraCond = col("a.is_new") || col("b.is_new"), slice = sl, slices = slices)
            .join(gPairs, Seq("src", "dst"), "left_anti")
        }
    // dense_rank over the bag ≡ row_number over the set (see iterate);
    // g's rows are distinct and anti-joined away from scored, so the
    // only (src,dst) collisions are scored-side duplicates, which agree
    // on every column including is_new
    val ranked = topKCut(g.select("src", "dst", "cos_sim").withColumn("is_new", lit(false))
      .unionByName(scored.withColumn("is_new", lit(true))), k)
    (newCand, ranked)
  }

  /** INCREMENTAL GRAPH MAINTENANCE (the production ingest shape): insert
    * a batch of new vectors into a previously-built ranked graph without
    * rebuilding it. Each new node gets k deterministic md5 seed edges
    * into the MERGED id space (salt "nndu" — disjoint from the build's
    * "nnd0" draws, so re-running a build never aliases an upsert), the
    * seeds are scored and merged with the base graph flagged `is_new`,
    * and `rounds` incremental local-join rounds (iterateInc) propagate:
    * round 1 already scores old→new pairs (a new node's seed edge
    * reversed exposes its neighborhood to the old side) and new→new
    * pairs mix in as the rounds converge. Cost per round is bounded by
    * the NEW-leg two-hop set — proportional to the batch's neighborhood,
    * not the corpus (the audit-measured shrinking-volume property of
    * iterateInc) — which is the whole point: a rebuild pays O(N·cap²)
    * per round, an upsert pays O(batch·cap²).
    *
    * `baseGraph` is a previous knnGraph/upsertGraph result (src, dst,
    * cos_sim, ...) whose src ids are disjoint from `newVectors`'s ids;
    * `vectors` is the MERGED corpus (base ∪ new). Old edges keep their
    * scores (never rescored); old neighbors get DISPLACED when a new
    * vector out-ranks them — real maintenance, not append-only. Returns
    * the merged ranked edge list (src, dst, cos_sim, rank <= k).
    *
    * Determinism: seed draws are content-stable md5 arithmetic over the
    * dense merged id space (the initGraph convention) and every rank cut
    * shares iterate's total order — the whole upsert reproduces
    * bit-for-bit from SQL (the q203 oracle unrolls this recurrence).
    */
  def upsertGraph(
      baseGraph: DataFrame,
      vectors: DataFrame,
      newVectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int,
      cap: Int = -1
  ): DataFrame = {
    val vecs = CheckpointStats.freshCheckpoint(vecFrame(vectors, idCol, vecCol))
    // same regime policy as knnGraph (vector payloads plus narrow graph
    // rows against the budget), decided from the merged materialized count;
    // rounds <= 0 derives the count from merged N (autoIters — the h10
    // probe showed the 4-round upsert's new nodes beating the 3-round
    // rebuild's at a quarter of the wall)
    val (nAll, dim) = vecStats(vecs)
    val nRounds = if (rounds >= 1) rounds else autoIters(nAll)
    // k == 0 / cap == 0 derive from MERGED N (knnGraph's convention) —
    // the derived width may exceed the base graph's build width by a
    // little near an autoK breakpoint, which is safe: old lists simply
    // hold <= base-k edges until new candidates fill the wider cut.
    val params = buildParams(nAll, dim, k, cap)
    // rounds from t = 1: the oracle's upsert unroll indexes upg rounds
    // from t = 1 (t = 0 is the base build's iterate round)
    descend(upsertStart(baseGraph, vecs, newVectors.select(col(idCol).cast("long").as("src")),
        nAll, params), vecs, params, 1 to nRounds)
      .select("src", "dst", "cos_sim", "rank")
  }

  /** upsertGraph's start graph: base edges with their stored scores and
    * is_new = false (their build-time flags are stale by definition),
    * plus k md5 seed edges per new id (`newIds`: src) over the merged
    * count `n`, scored and flagged new. Src sets are disjoint, so the
    * union is (src, dst)-collision-free — the invariant iterateInc's
    * dense_rank dedup relies on.
    */
  private[graft] def upsertStart(baseGraph: DataFrame, vecs: DataFrame, newIds: DataFrame,
      n: Long, p: BuildParams): DataFrame = {
    // the merged count is already materialized (vecFrame is a pure
    // projection, row-for-row with the corpus): ride it as a literal
    // instead of re-aggregating the corpus for a 1-row broadcast
    val seeds = drawEdges(newIds, p.k, "nndu", lit(n), lit(1L))
    // flat-scored: batch·k rows — linear in the batch, so one wide sorted
    // shuffle in the shuffle regime is fine (see scoreFlat's scaladoc)
    val seedScored = scoreFlat(seeds, vecs, bcastVecs = p.narrow)
    CheckpointStats.freshCheckpoint(
      baseGraph.select("src", "dst", "cos_sim").withColumn("is_new", lit(false))
        .unionByName(seedScored.withColumn("is_new", lit(true))))
  }

  /** The ONE NN-Descent round driver, returning the last round's ranked
    * graph. In the narrow regime (`p.narrow`) every round is one
    * NarrowRounds pass; in the shuffle regime round t = 0 runs iterate +
    * markNew over `start` as the init graph and t >= 1 runs iterateInc
    * salted with t (the oracles' unroll index). `observe(t, candidates,
    * graph)` sees each round's scored candidates (lazy; only the q196
    * audit counts them) and its checkpointed cut (the audit's rows).
    *
    * Round 0 checkpoints eagerly, later rounds LAZILY unless `eager`
    * (round 18): round t+1's stage materialization is the action that
    * computes round t, and the checkpoint's block locks make the round's
    * four in-plan self-references compute it once, so a per-round eager
    * job is pure fixed cost. q196 (broadcast futures race a lazy cut)
    * and ScaleProbe (per-round timing) pass eager = true.
    *
    * In the narrow regime a round's candidates read its graph broadcast,
    * which is destroyed once the round's checkpoint is materialized (the
    * vectors' broadcast with the last round's), so the observer consumes
    * them before it returns. The q196 audit folds every round's
    * candidates into one later aggregate and passes `keepCandidates`,
    * which leaves the broadcasts to the context cleaner.
    */
  private[graft] def descend(start: DataFrame, vecs: DataFrame, p: BuildParams,
      rounds: Range, eager: Boolean = false, keepCandidates: Boolean = false,
      observe: (Int, DataFrame, DataFrame) => Unit = (_, _, _) => ()): DataFrame = {
    val narrow = if (p.narrow) Some(new NarrowRounds(vecs, p.k, p.cap)) else None
    val round: (DataFrame, Int) => (DataFrame, DataFrame) = narrow match {
      case Some(n) => n.apply
      case None => (g, t) =>
        if (t == 0) {
          val (c, r) = iterate(g, vecs, p.k, p.cap, slices = p.slices)
          (c, markNew(r, g))
        } else iterateInc(g, vecs, p.k, p.cap, round = t, slices = p.slices)
    }
    rounds.foldLeft(start) { (g, t) =>
      val (cand, ranked) = round(g, t)
      val next = CheckpointStats.freshCheckpoint(ranked, eager = eager || t == 0)
      observe(t, cand, next)
      if (!keepCandidates) narrow.foreach(_.release(next, last = t == rounds.last))
      next
    }
  }

  private def log2Ceil(n: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n) - 1)

  /** NN-Descent's two corpus-scaled knobs, derived from N (round-15
    * calibration at 50k near-uniform vectors — the worst case for the
    * recurrence, no cluster structure to exploit; SCALE.md round 15):
    *
    *   - ROUNDS alone cannot fix a fixed working width: at k = 20 the
    *     50k build plateaus at recall@3 ~0.60 by round 8 (0.246 at the
    *     previously shipped 3), and widening the ρ-cap to ρ = 1 made it
    *     WORSE at equal rounds (0.543) for more cost. Round-salting the
    *     ρ-sample (Dong et al. draw fresh every iteration) lifted the
    *     plateau only +0.01 — the ceiling is the WIDTH, not staleness.
    *   - k is the lever: at 50k (salted, cap = 0.7·2k) k = 32 plateaus
    *     at 0.890 while k = 40 CROSSES 0.9 at round 4 (0.928) and reads
    *     0.950 at round 5, 0.956 plateau. NN-Descent's own paper scales
    *     sampled neighborhoods ~log N on hard data.
    *
    * So: autoK = max(20, ceil(2.5·log2 N)) — 20 up to ~256 (the audited
    * small-corpus regime), 23 at 500, 28 at 2k, 40 at 50k, 53 at 2M,
    * 75 at 1B; autoIters = max(3, ceil(log2 N / 3.2)) — 3 up to ~512,
    * 4 at 2k, 5 at 50k (one round past the measured 0.9 crossing),
    * 7 at 2M, 10 at 1B. Per-round cost is N·cap² = N·(1.4·autoK)² —
    * the k² growth is the honest price of recall on structure-less
    * data; clustered corpora (the realistic regime) converge earlier
    * AND higher — round-16 calibration on a 200-cluster 50k mixture:
    * the derived config reads 0.998 at its own pick (0.989 by round 3)
    * and even the quarter-cost k = 20 / cap = 28 config reads 0.960
    * where it plateaus at 0.600 on uniform data — so these formulas
    * are a FLOOR calibration; deployments that measure structure can
    * halve k. The incremental rounds' candidate volume shrinks as the
    * graph converges, so late rounds cost little (h10: rounds 6-8 cost
    * 6-9 s vs 32-53 s for rounds 1-4 at k = 40; h120: round 7 costs
    * 185 s vs round 1's 1061 s). At 12× the calibration N the floor
    * regime loses ground (600k uniform: 0.800 at the derived pick —
    * SCALE.md round 16); structured corpora hold near 1.0. The
    * registry builds pass k = 0 / iters = 0 / cap = 0 and the
    * generated oracles unroll the SAME formulas from the primed corpus
    * count, so both engines walk one recurrence at every scale.
    */
  def autoIters(n: Long): Int =
    math.max(3, math.ceil(log2Ceil(n) / 3.2).toInt)

  /** Working neighbor-list width ~ 2.5·log2 N (floor 20, the audited
    * small-corpus config). See autoIters' scaladoc for the calibration.
    */
  def autoK(n: Long): Int =
    math.max(20, math.ceil(2.5 * log2Ceil(n)).toInt)

  /** Undirected ρ-sample cap for a width (ρ = 0.7, the round-12 audited
    * trade: candidate volume scales with cap² while convergence degrades
    * only gradually below ρ = 1).
    */
  def autoCap(k: Int): Int = math.max(1, math.round(0.7 * 2 * k).toInt)

  /** The composed builder: init + `iters` refinement rounds, each cut
    * from lineage with a stats-reset checkpoint. Round 0 scores the full
    * two-hop ∪ init set (every edge is new); later rounds run the
    * incremental local join (iterateInc). `iters <= 0` / `k <= 0` /
    * `cap <= 0` derive the round count, working width, and ρ-cap from
    * the corpus size (autoIters / autoK / autoCap — the shipped
    * registry configuration). Returns the final ranked edge list
    * (src, dst, cos_sim, rank <= k).
    */
  def knnGraph(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      cap: Int = -1
  ): DataFrame = {
    val vecs = CheckpointStats.freshCheckpoint(vecFrame(vectors, idCol, vecCol))
    // the regime is decided here from the materialized count and width
    // (the frame is already checkpointed; the job reads cached blocks):
    // the checkpoint resets stats, so Catalyst alone cannot size anything
    val (nVecs, dim) = vecStats(vecs)
    val nIters = if (iters >= 1) iters else autoIters(nVecs)
    val params = buildParams(nVecs, dim, k, cap)
    // initGraph's draw over the checkpointed ids, with the count held as
    // a literal: vecFrame is a pure projection, so nVecs is count(vectors)
    // row for row (null and duplicate ids included)
    val g0 = CheckpointStats.freshCheckpoint(drawEdges(vecs.select(col("vec_id").as("src")),
      params.k, "nnd0", lit(nVecs), lit(1L)))
    descend(g0, vecs, params, 0 until nIters).select("src", "dst", "cos_sim", "rank")
  }

  /** The per-build knobs of a descend walk: derived from the
    * materialized corpus count `n` by buildParams for the composed
    * builders (knnGraph, upsertGraph); fixed by construction for the
    * sample-bounded q196 audit.
    */
  private[graft] final case class BuildParams(k: Int, cap: Int, narrow: Boolean, slices: Int)

  /** k == 0 derives the working width from N; cap == 0 derives the
    * ρ-cap from that width (the shipped registry mode). cap < 0 keeps
    * the legacy "2k uncapped-in-expectation" default ONLY for
    * direct/spec callers with an explicit k — when k derives, any
    * cap <= 0 derives too (round-15 advice: the asymmetric sentinel
    * could silently build a derived-width/ρ=1 config no oracle models).
    * The regime is decided from the same count and the widest vector
    * `dim`: narrow iff N vectors of that width (Narrow.Vectors) and the
    * k·N graph rows (Narrow.Graph) fit the driver-heap budget together.
    */
  private[graft] def buildParams(n: Long, dim: Int, k: Int, cap: Int): BuildParams = {
    val kUse = if (k >= 1) k else autoK(n)
    val capUse = if (cap > 0) cap else if (cap == 0 || k < 1) autoCap(kUse) else cap
    val narrow = Narrow.fits(Narrow.Vectors(dim) -> n, Narrow.Graph -> kUse.toLong * n)
    val slices = if (narrow) 1 else autoSlices(n, capUse, dim)
    BuildParams(kUse, capUse, narrow, slices)
  }

  /** (rows, widest vector) of a vecFrame checkpoint in one job over its
    * internal rows — the job `rowCount` would run. Narrow-regime builds
    * never slice (the expansion never reaches disk there); past the
    * budget the width also sizes autoSlices' footprint, so a build costs
    * no separate width lookup.
    */
  private[graft] def vecStats(vecs: DataFrame): (Long, Int) = {
    def add(a: (Long, Int), b: (Long, Int)) = (a._1 + b._1, math.max(a._2, b._2))
    Narrow.collect(vecs.select(size(col("dv"))), "nnd/vectors/stats")(
      _.map(r => (1L, if (r.isNullAt(0)) 0 else r.getInt(0))).foldLeft((0L, 0))(add)
    ).foldLeft((0L, 0))(add)
  }
}
