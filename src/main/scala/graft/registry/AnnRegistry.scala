package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, NnDescent, Quota, Sampling, Similarity, Sketches, TextAnalysis}

/** Registry pillar: vector similarity + sketches: cosine/SRP/int8, IVF/PQ ANN with
  * trained codebooks, k-means, CMS/HLL, clustering. Split from SparkEntry.scala
  * (round 8); query semantics and oracle SQL unchanged.
  */
trait AnnRegistry extends RegistryBase {

  /** The oracle twin of knnGraphFrame up to the per-src top-K edge list
    * `topm` (src, dst, cos_sim, rank) — shared by q186 (mutual flag),
    * q192 (mutual components), q195 (contrastive export), and q197
    * (the refined graph's lower rank band). Unrolls the SAME NN-Descent
    * recurrence as NnDescent.knnGraph: md5-draw init, then per round
    * u (undirected edges) -> c (two-hop candidates ∪ current edges) ->
    * g (per-src top-NndK by cos desc, dst asc).
    */
  private val nndCosSql =
    "list_sum(list_transform(range(1, 65), i -> na.v[i::INT] * nb.v[i::INT])) / (na.nrm * nb.nrm)"

  /** All-pairs cosine over CTE `n` (vec_id, v, nrm), MATERIALIZED so
    * the unrolled NN-Descent rounds pay the 64-dim list dots ONCE
    * instead of twice per candidate per round (measured: 418 s -> ~15 s
    * for the q186 oracle at sf0.01). Oracle-side brute force is fine —
    * the exact truth pass needs the same relation anyway.
    */
  private def nndAllCosSql(pfx: String): String =
    s"""${pfx}allcos AS MATERIALIZED (
       |  SELECT na.vec_id AS src, nb.vec_id AS dst, $nndCosSql AS cos_sim
       |  FROM n na JOIN n nb ON na.vec_id <> nb.vec_id)""".stripMargin

  /** One unrolled NN-Descent round t -> t+1 over CTEs named with
    * `pfx`; cosine comes from the materialized `${pfx}allcos`. Set
    * semantics are explicit (DISTINCT over UNION ALL), never bare
    * UNION: under `WITH RECURSIVE` (the q192 component oracle) DuckDB
    * 1.0 stops deduplicating UNION inside non-self-referencing CTE
    * bodies, which silently turns the candidate SET into a bag and
    * corrupts every downstream row_number rank.
    *
    * Round 13: mirrors NnDescent's INCREMENTAL recurrence (Dong et al.
    * §2.2). Round 0 scores the full two-hop ∪ init set and flags each
    * surviving edge `nw` = not-in-g0; round t >= 1 generates only
    * two-hop pairs with at least one new leg, anti-joins pairs already
    * in g$t (their score rides along from g$t itself), and re-ranks the
    * merged set — `nw` on g${t+1} marks edges that entered this round.
    */
  private def nndIterSql(pfx: String, t: Int, k: Int, cap: Int): String =
    if (t == 0)
      s"""${pfx}u0 AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY
         |        ('0x' || substr(md5('nndr_' || $t || '_' || src || '_' || dst), 1, 15))::BIGINT ASC,
         |        dst ASC) AS rk
         |    FROM (SELECT DISTINCT src, dst FROM (
         |        SELECT src, dst FROM ${pfx}g0 UNION ALL SELECT dst, src FROM ${pfx}g0)))
         |  WHERE rk <= $cap),
         |${pfx}c0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT a.src, b.dst FROM ${pfx}u0 a JOIN ${pfx}u0 b
         |      ON a.dst = b.src AND b.dst <> a.src
         |    UNION ALL SELECT src, dst FROM ${pfx}g0)),
         |${pfx}g1 AS MATERIALIZED (SELECT r.src, r.dst, r.cos_sim, r.rank,
         |    (z.src IS NULL) AS nw
         |  FROM (
         |    SELECT c.src, c.dst, ac.cos_sim,
         |           row_number() OVER (PARTITION BY c.src ORDER BY ac.cos_sim DESC, c.dst ASC) AS rank
         |    FROM ${pfx}c0 c JOIN ${pfx}allcos ac ON ac.src = c.src AND ac.dst = c.dst) r
         |  LEFT JOIN ${pfx}g0 z ON z.src = r.src AND z.dst = r.dst
         |  WHERE r.rank <= $k)""".stripMargin
    else
      s"""${pfx}u$t AS MATERIALIZED (SELECT src, dst, nw FROM (
         |    SELECT src, dst, nw, row_number() OVER (PARTITION BY src ORDER BY
         |        ('0x' || substr(md5('nndr_' || $t || '_' || src || '_' || dst), 1, 15))::BIGINT ASC,
         |        dst ASC) AS rk
         |    FROM (SELECT src, dst, max(nw) AS nw FROM (
         |        SELECT src, dst, nw FROM ${pfx}g$t
         |        UNION ALL SELECT dst AS src, src AS dst, nw FROM ${pfx}g$t)
         |      GROUP BY src, dst))
         |  WHERE rk <= $cap),
         |${pfx}c$t AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT DISTINCT a.src, b.dst FROM ${pfx}u$t a JOIN ${pfx}u$t b
         |      ON a.dst = b.src AND b.dst <> a.src AND (a.nw OR b.nw)) p
         |  WHERE NOT EXISTS (SELECT 1 FROM ${pfx}g$t o
         |                    WHERE o.src = p.src AND o.dst = p.dst)),
         |${pfx}g${t + 1} AS MATERIALIZED (SELECT src, dst, cos_sim, rank, nw FROM (
         |    SELECT m.src, m.dst, m.cos_sim, m.nw,
         |           row_number() OVER (PARTITION BY m.src ORDER BY m.cos_sim DESC, m.dst ASC) AS rank
         |    FROM (SELECT src, dst, cos_sim, FALSE AS nw FROM ${pfx}g$t
         |          UNION ALL
         |          SELECT c.src, c.dst, ac.cos_sim, TRUE AS nw
         |          FROM ${pfx}c$t c JOIN ${pfx}allcos ac
         |            ON ac.src = c.src AND ac.dst = c.dst) m)
         |  WHERE rank <= $k)""".stripMargin

  /** Round count derived from the primed corpus size — the SAME formula
    * the Spark build derives at runtime (knnGraph iters = 0), so the
    * unrolled oracle walks exactly the recurrence the engine runs at
    * THIS corpus's scale (round-14 verdict item 1: a fixed unroll
    * certifies a fixed-round build that silently underscales).
    */
  private def knnCtesSql: String = {
    val n = nndOracleN
    val k = NnDescent.autoK(n)
    val cap = NnDescent.autoCap(k)
    val nIters = NnDescent.autoIters(n)
    val iters = (0 until nIters).map(t => nndIterSql("", t, k, cap)).mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |np AS (SELECT count(*) AS n FROM embeddings),
       |${nndAllCosSql("")},
       |g0 AS (SELECT DISTINCT src, dst FROM (
       |    SELECT e.vec_id AS src,
       |           ('0x' || substr(md5('nnd0_' || e.vec_id || '_' || g.i), 1, 15))::BIGINT % np.n AS dst
       |    FROM e, np, range(1, ${k + 1}) g(i))
       |  WHERE dst <> src),
       |$iters,
       |topm AS MATERIALIZED (SELECT src, dst, cos_sim, rank FROM g$nIters WHERE rank <= $KnnGraphK)""".stripMargin
  }

  /** Oracle twin of the q203/q204 graph upsert — shared VERBATIM by the
    * batch query and the streaming gate (the q121/q130 bridge
    * convention). Unrolls the exact recurrence NnDescent runs: the base
    * build restricted to the dense id prefix (vec_id < nbase, init draws
    * mod nbase — the same "nnd0" recurrence as knnCtesSql on a smaller
    * n), then the upsert: "nndu" seed draws for the id tail over the
    * MERGED space, base edges reset to nw = FALSE, seeds scored and
    * flagged TRUE, and the derived upsert rounds (the same nndIterSql
    * template the build uses — the upsert IS iterateInc from a
    * different starting graph). Round counts: the base build unrolls
    * autoIters(nbase) — knnGraph derives from ITS input's count, which
    * for the base artifact is the id prefix — and the upsert unrolls
    * autoIters(n) over the merged corpus, matching upsertGraph's
    * rounds = 0 derivation from the merged count.
    */
  protected def knnUpsertOracle: String = {
    val n = nndOracleN
    // memoized per primed N (round-15 advice): the multi-KB unrolled SQL
    // is referenced by BOTH q203 and q204 and annOracle is a def, so an
    // unmemoized build re-renders it on every oracleSql access
    val cached = knnUpsertOracleCache
    if (cached != null && cached._1 == n) return cached._2
    val rendered = renderKnnUpsertOracle(n)
    knnUpsertOracleCache = (n, rendered)
    rendered
  }

  @volatile private var knnUpsertOracleCache: (Long, String) = null

  private def renderKnnUpsertOracle(n: Long): String = {
    val nBase = n - n / IncrementalMod
    // base build sized from the id prefix (knnGraph derives from ITS
    // input's count); upsert rounds sized from the merged corpus
    val kBase = NnDescent.autoK(nBase)
    val capBase = NnDescent.autoCap(kBase)
    val nBaseIters = NnDescent.autoIters(nBase)
    val kUp = NnDescent.autoK(n)
    val capUp = NnDescent.autoCap(kUp)
    val upRounds = NnDescent.autoIters(n)
    val baseIters = (0 until nBaseIters).map(t => nndIterSql("", t, kBase, capBase)).mkString(",\n")
    val upIters = (1 to upRounds).map(t => nndIterSql("up", t, kUp, capUp)).mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |np AS (SELECT count(*) AS n, count(*) - count(*) // $IncrementalMod AS nbase FROM embeddings),
       |${nndAllCosSql("")},
       |g0 AS (SELECT DISTINCT src, dst FROM (
       |    SELECT e.vec_id AS src,
       |           ('0x' || substr(md5('nnd0_' || e.vec_id || '_' || g.i), 1, 15))::BIGINT % np.nbase AS dst
       |    FROM e, np, range(1, ${kBase + 1}) g(i) WHERE e.vec_id < np.nbase)
       |  WHERE dst <> src),
       |$baseIters,
       |seeds AS (SELECT DISTINCT src, dst FROM (
       |    SELECT e.vec_id AS src,
       |           ('0x' || substr(md5('nndu_' || e.vec_id || '_' || g.i), 1, 15))::BIGINT % np.n AS dst
       |    FROM e, np, range(1, ${kUp + 1}) g(i) WHERE e.vec_id >= np.nbase)
       |  WHERE dst <> src),
       |upallcos AS (SELECT * FROM allcos),
       |upg1 AS MATERIALIZED (
       |  SELECT src, dst, cos_sim, FALSE AS nw FROM g$nBaseIters
       |  UNION ALL
       |  SELECT sd.src, sd.dst, ac.cos_sim, TRUE AS nw
       |  FROM seeds sd JOIN allcos ac ON ac.src = sd.src AND ac.dst = sd.dst),
       |$upIters
       |SELECT src, dst, cos_sim, rank FROM upg${upRounds + 1}
       |WHERE rank <= $KnnGraphK ORDER BY src, rank""".stripMargin
  }

  /** q186's candidate build — the NN-Descent-refined ranked edge list
    * (rank <= NndK per src), built ONCE per corpus and persisted as a
    * trained artifact (the q126/q132 persisted-index pattern): q186
    * cuts it at rank <= K, q192/q195 consume its mutual edges, q197
    * mines the ranks just below the cut as hard negatives — four
    * queries, one graph build. Replaced the SRP 2x8 banded generator
    * in round 12: the q196 audit measured its recall at 0.047 of the
    * exact top-K on this near-uniform corpus, a curve no band width
    * fixes (see NnDescent's scaladoc); the refined graph reaches ~0.92+
    * with linear per-round cost.
    */
  private def knnRankedFrame(s: SparkSession, dir: String): DataFrame =
    trainedArtifact(s, dir, "nndGraph", layout = _.repartition(col("src"))) {
      NnDescent.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding",
        k = 0, iters = 0, cap = 0)
    }

  /** knnRankedFrame cut at the top-K edge list, with the mutual flag —
    * q186's output, and the pair source for q192/q195.
    */
  private def knnGraphFrame(s: SparkSession, dir: String): DataFrame = {
    val topm = knnRankedFrame(s, dir)
      .filter(col("rank") <= KnnGraphK)
      .select("src", "dst", "rank", "cos_sim")
      .localCheckpoint(false) // feeds the edge list AND its reversal
    topm.alias("x")
      .join(topm.select(col("src").as("rsrc"), col("dst").as("rdst")).alias("r"),
        col("x.src") === col("r.rdst") && col("x.dst") === col("r.rsrc"), "left")
      .select(col("x.src").as("src"), col("x.dst").as("dst"),
        col("x.rank").as("rank"), col("x.cos_sim").as("cos_sim"),
        col("r.rsrc").isNotNull.as("mutual"))
  }

  protected def annQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // pillar similarity: brute-force exact cosine top-k
    "q34_embed_cosine_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      Similarity.cosineTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .orderBy("q_id", "rank")
    }),

    // pillar similarity: IVF-style quantized centroid assignment — the
    // coarse quantizer is TRAINED (Lloyd's from the vec_id < 8 seed),
    // not the raw seed vectors
    "q35_embed_ivf_assign" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val cents = trainedArtifact(s, dir, "cent8") {
        val (tr35, init35) = trainSample8(s, e)
        Similarity.trainCentroids(tr35, "vec_id", "embedding", init35, KmeansIters)
      }
      Similarity.assignToCentroids(spread(s, e), cents, "vec_id", "embedding")
        .orderBy("id")
    }),

    // pillar similarity: full IVF probe-and-refine ANN search — since
    // round 12 on the CORPUS-SCALED quantizer: k = ceil(sqrt(N)) trained
    // centroids (the q46 "centSqrt" artifact, shared), the PERSISTED
    // bucket index (never rebuilt per run — the q126/q132 pattern), and
    // probe depth ceil(sqrt(k)) derived in-plan. Per-query refine cost
    // is nprobe·N/k = N^(3/4) — sublinear — vs the old fixed k=8 whose
    // probed volume was N/4. q131 is the recall monitor.
    "q43_embed_ivf_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      Similarity.ivfTopKOnIndex(
          e.filter(col("vec_id") < 10), ivfSqrtIndex(s, dir),
          sqrtCentroids(s, dir), "vec_id", "embedding", k = 3)
        .orderBy("q_id", "rank")
    }),

    // pillar similarity: FILTERED ANN — IVF top-k constrained to
    // same-label corpus vectors, with the label joined as part of the
    // BUCKET KEY (centroid_id, label) instead of post-filtering the
    // top-k (which under-returns whenever the label is rare in the
    // probed buckets). Same trained coarse quantizer as q43.
    "q179_ivf_filtered_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      Similarity.ivfTopKOnIndex(
          e.filter(col("vec_id") < 10), ivfSqrtIndex(s, dir),
          sqrtCentroids(s, dir), "vec_id", "embedding", k = 3,
          labelCol = Some("label"))
        .orderBy("q_id", "rank")
    }),

    // pillar similarity: one k-means centroid-update step (the iterate
    // half of Lloyd's algorithm). Per-dimension means accumulate as
    // QUANTIZED longs — exact and order-independent under any
    // partitioning/AQE/retry schedule, unlike a float sum — then divide
    // once. Long-form (centroid, dim) output keeps the compare scalar.
    "q60_embed_centroid_update" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      // the 8 seed rows as the centroid table: what trainCentroids
      // returns at iters = 0, without the trainer's seed join (measured
      // +0.1-0.25 s on this 0.5 s query)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), Similarity.quantize(col("embedding")).as("cv"))
      val assign = Similarity.assignToCentroids(e, seeds, "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("centroid_id"))
      val q = e
        .select(col("vec_id"), posexplode(Similarity.asDouble(col("embedding"))).as(Seq("dim", "x")))
        .select(
          col("vec_id"),
          col("dim").cast("long").as("dim"),
          floor(col("x") * 1000000).cast("long").as("qx"))
      assign.join(q, Seq("vec_id"))
        .groupBy("centroid_id", "dim")
        .agg(sum(col("qx")).as("sum_q"), count(lit(1)).as("n"))
        .withColumn("mean_q", col("sum_q").cast("double") / col("n"))
        .orderBy("centroid_id", "dim")
    }),

    // pillar similarity: signed-random-projection signatures (SimHash for
    // embeddings) — each of the 16 Rademacher hyperplanes contributes the
    // sign bit of its dot product; vectors hashing to the same signature
    // are ANN candidates via a plain equi-join on `srp_sig` (the same
    // pigeonhole banding Dedup.simhashCandidates uses would extend it to
    // hamming>0). Hyperplanes are md5-derived constants shared with the
    // generated oracle SQL.
    "q72_embed_srp" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      val sig = SrpPlanes.zipWithIndex.map { case (p, b) =>
        val plane = array(p.map(lit(_)): _*).cast("array<double>")
        // codegen'd sequential dot (same accumulation order as the HOF
        // fold it replaced — bit-equal to the oracle's list_sum)
        val dot = org.apache.spark.sql.graft.ArrayDot.doubleDot(v, plane)
        when(dot > 0.0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      rd(s, dir, "embeddings")
        .select(col("vec_id"), sig.as("srp_sig"))
        .withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy("srp_sig")).cast("long"))
        .orderBy("vec_id")
    }),

    // pillar similarity: int8 scalar quantization of embeddings (the
    // compression step before shipping vectors to an ANN index) — exact
    // per-vector max-abs scale; all-integer-or-IEEE-deterministic math so
    // the codes reproduce bit-for-bit from SQL
    "q82_embed_quantize" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      rd(s, dir, "embeddings")
        .select(col("vec_id"), v.as("v"))
        .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
        .select(col("vec_id"), col("mx"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(
          col("vec_id"),
          col("dim").cast("long").as("dim"),
          when(col("mx") === 0.0, lit(0L))
            .otherwise(floor(col("x") / col("mx") * 127).cast("long")).as("q"))
        .orderBy("vec_id", "dim")
    }),

    // pillar similarity/dedup: SRP-BANDED embedding near-dup pairs — the
    // scale path for embedding dedup (the q72 signatures put to work, as
    // the q46 IVF prefilter's banding alternative): the 16-bit signature
    // splits into two 8-bit bands, same-(band, key) vectors become
    // candidates through a plain equi-join (pigeonhole: signature
    // hamming <= 1 guarantees a shared band), and exact cosine verifies.
    // Candidate generation is NARROW (ids + band keys); vectors re-join
    // only for the verify. Deterministic end-to-end: the md5-derived
    // planes are shared with the oracle, which re-derives the same
    // bands, the same candidate set, and the same IEEE cosines.
    "q107_embed_srp_pairs" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      val sig = SrpPlanes.zipWithIndex.map { case (p, b) =>
        val plane = array(p.map(lit(_)): _*).cast("array<double>")
        // codegen'd sequential dot (same accumulation order as the HOF
        // fold it replaced — bit-equal to the oracle's list_sum)
        val dot = org.apache.spark.sql.graft.ArrayDot.doubleDot(v, plane)
        when(dot > 0.0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      val e = rd(s, dir, "embeddings")
        .select(col("vec_id"), sig.as("srp_sig"), v.as("dv"))
        .withColumn("nrm", Similarity.l2Norm(col("dv")))
      val vecs = e.select(col("vec_id"), col("dv"), col("nrm"))
      val banded = e.select(col("vec_id"),
          explode(array(
            struct(lit(0).as("band"), col("srp_sig").bitwiseAND(lit(255L)).as("key")),
            struct(lit(1).as("band"), shiftright(col("srp_sig"), 8).as("key")))).as("bk"))
        .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      banded.alias("a")
        .join(banded.alias("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct() // a pair can collide in both bands
        .join(vecs.select(col("vec_id").as("id_a"), col("dv").as("dv_a"), col("nrm").as("nrm_a")), Seq("id_a"))
        .join(vecs.select(col("vec_id").as("id_b"), col("dv").as("dv_b"), col("nrm").as("nrm_b")), Seq("id_b"))
        .withColumn("cos_sim", Similarity.dot(col("dv_a"), col("dv_b")) / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    }),

    // pillar similarity: product-quantization encode — each 64-dim vector
    // compresses to 8 codeword ids (8 subspaces x 8 codewords, codebook =
    // per-subspace k-means TRAINED from the vec_id < 8 slices — Jégou et
    // al.'s PQ trains one quantizer per subspace, it does not sample
    // rows). Integer squared-L2 throughout, so the codes are
    // oracle-exact; the argmin folds into one partial aggregate.
    "q109_pq_encode" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val cb = trainedArtifact(s, dir, "pq8") {
        val (tr109, init109) = trainSample8(s, e)
        Similarity.trainPqCodebooks(tr109, "vec_id", "embedding", m = 8,
          init109, KmeansIters)
      }
      Similarity.pqEncode(spread(s, e), cb, "vec_id", "embedding", m = 8)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "sub_id")
    }),

    // pillar similarity: ADC top-10 over the PQ codes — the query stays
    // full-precision, corpus distances come from a broadcast
    // query x subspace x codeword lookup table joined onto the CODES
    // table (the raw corpus vectors are never touched in the scan).
    "q110_pq_adc_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val cb = trainedArtifact(s, dir, "pq8") {
        val (tr110, init110) = trainSample8(s, e)
        Similarity.trainPqCodebooks(tr110, "vec_id", "embedding", m = 8,
          init110, KmeansIters)
      }
      Similarity.pqAdcTopK(
        e.filter(col("vec_id") < 3), spread(s, e), cb,
        "vec_id", "embedding", m = 8, k = 10)
        .orderBy("q_id", "rank")
    }),

    // pillar sketches: HLL APPROXIMATE DISTINCT COUNT — per-event-type
    // distinct active user-days (the DAU-style metric) from a 64-register
    // HyperLogLog: one map-side-combined max shuffle builds the register
    // table, and registers are MERGEABLE (max is associative), so
    // per-partition/per-day/per-source sketches union into a corpus
    // sketch without re-touching raw data. Audited against the exact
    // count(DISTINCT) in the same result (the exact side is the sf-scale
    // audit; at 100 TB only the sketch runs). Integer shift-and-mask
    // registers + one final IEEE division keep the estimate oracle-exact
    // bit-for-bit.
    "q133_hll_distinct" -> ((s, dir) => {
      val ud = spread(s, rd(s, dir, "events"))
        .select(col("event_type"),
          concat(col("user_id").cast("string"), lit(":"),
            expr("ts div 86400000000000").cast("string")).as("user_day"))
        .localCheckpoint(false) // feeds the sketch AND the exact audit
      val sk = Sketches.hllDistinct(ud, "event_type", "user_day")
      val exact = ud.groupBy("event_type")
        .agg(countDistinct(col("user_day")).as("n_exact"))
      sk.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_zero_regs"), col("hll_est"),
          col("n_exact"),
          ((col("hll_est") - col("n_exact")) / col("n_exact")).as("rel_err"))
        .orderBy("event_type")
    }),

    // pillar sketches: BIN-QUANTILE SKETCH — per-event-type p50/p90/p99
    // of the value column from an equi-width bin-count sketch ($10 bins,
    // ~50 rows per group at ANY corpus size). The exact per-value
    // histogram (q145's machinery) would carry the full value
    // cardinality through the shuffle; the sketch is one map-side-
    // combined aggregate with fixed memory, its chosen bin provably
    // CONTAINS the exact quantile (error <= bin width by construction),
    // and bin counts are additive — per-partition/day/micro-batch
    // sketches sum-merge without re-reading raw data (the q182 gate).
    // The exact side here is the sf-scale AUDIT (err_cents < width is
    // the testable guarantee); at 100 TB only the sketch runs.
    "q181_bin_quantile_sketch" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .localCheckpoint(false) // feeds the sketch AND the exact audit
      val est = Sketches.quantileFromBins(
        Sketches.binCounts(ev, "event_type", "cents", QSketchWidthCents),
        "event_type", QSketchWidthCents, QSketchPcts)
      val exact = Sketches.quantileFromBins(
          Sketches.binCounts(ev, "event_type", "cents", 1L),
          "event_type", 1L, QSketchPcts)
        .select(col("event_type"), col("pct"), col("est_lo").as("exact_cents"))
      est.join(exact, Seq("event_type", "pct"))
        .select(col("event_type"), col("pct"), col("target"),
          col("est_lo").as("est_lo_cents"), col("est_hi").as("est_hi_cents"),
          col("exact_cents"),
          (col("exact_cents") - col("est_lo")).as("err_cents"))
        .orderBy("event_type", "pct")
    }),

    // pillar similarity: k-NN GRAPH BUILD — the neighbor-graph
    // construction step under graph-based clustering and NN-descent
    // seeding: per node, the top-K most-cosine-similar neighbors among
    // its SRP band collisions (q107's candidate machinery, both
    // directions), plus the MUTUAL flag (i in j's list AND j in i's) that
    // graph algorithms cut on — mutual edges are the high-precision
    // backbone. Scale: candidates bounded by band-bucket occupancy (no
    // all-pairs), the per-node rank is WindowGroupLimit-able top-k over
    // those bounded lists, and the mutual check is an equi-join of the
    // (already tiny) edge list against its own reversal.
    "q186_knn_graph" -> ((s, dir) =>
      knnGraphFrame(s, dir).orderBy("src", "rank")),

    // pillar similarity: MUTUAL-kNN CLUSTERS — graph clustering over
    // q186's graph: connected components of the MUTUAL edge subset (the
    // high-precision backbone — a one-directional edge only says "b is
    // among a's closest", a mutual edge says they agree), resolved by
    // q52's resolveGroups. The scalable
    // SemDeDup alternative: no trained centroids, cluster structure
    // emerges from band-bounded local neighborhoods.
    "q192_mutual_knn_groups" -> ((s, dir) => {
      val mutual = knnGraphFrame(s, dir)
        .filter(col("mutual") && col("src") < col("dst"))
        .select(col("src").as("id_a"), col("dst").as("id_b"))
      Dedup.resolveGroups(rd(s, dir, "embeddings"), "vec_id", mutual)
        .select(col("vec_id"), col("keep_id").as("cluster_id"))
        .orderBy("vec_id")
    }),

    // pillar similarity: CONTRASTIVE TRAINING-PAIR EXPORT — the
    // embedding-model training-data op: every MUTUAL kNN edge is an
    // (anchor, positive) pair, and each pair gets NumNegatives random
    // negatives that avoid the anchor itself, the positive, and the
    // anchor's own candidate neighborhood (its top-K edge list — the
    // standard easy-negative draw; HARD negatives are what q177's
    // reranker stage mines). Draws are content-stable md5 arithmetic
    // (the q161 trick): deterministic under any partitioning/retry
    // schedule, reproducible by the oracle, and id-space-uniform. The
    // draw assumes the dense 0..N-1 vec_id layout the testdata ships; a
    // sparse id space would route the draw through an id-index table
    // (one more equi-join), never a different algorithm. Per-pair cost
    // is a fixed M draws + one anti-join against the (N*K)-row edge
    // list — no corpus-sized scan per pair.
    "q195_contrastive_negatives" -> ((s, dir) => {
      val g = knnGraphFrame(s, dir)
        .localCheckpoint(false) // feeds the anchors AND the exclusion list
      val pos = g.filter(col("mutual"))
        .select(col("src").as("anchor"), col("dst").as("positive"))
      val nRow = rd(s, dir, "embeddings").agg(count(lit(1)).as("n"))
      val draws = pos.crossJoin(broadcast(nRow))
        .select(col("anchor"), col("positive"), col("n"),
          explode(sequence(lit(1L), lit(NegDrawsM))).as("i"))
        .withColumn("neg_id", pmod(
          org.apache.spark.sql.graft.Md5Long60.column(concat_ws("_",
            lit("neg"), col("anchor"), col("positive"), col("i"))),
          col("n")))
        .filter(col("neg_id") =!= col("anchor") && col("neg_id") =!= col("positive"))
      val excl = g.select(col("src").as("anchor"), col("dst").as("neg_id"))
      draws.join(excl, Seq("anchor", "neg_id"), "left_anti")
        .withColumn("neg_rank", row_number().over(
            Window.partitionBy("anchor", "positive").orderBy(col("i").asc))
          .cast("long"))
        .filter(col("neg_rank") <= NumNegatives)
        .select("anchor", "positive", "neg_rank", "neg_id")
        .orderBy("anchor", "positive", "neg_rank")
    }),

    // pillar similarity: CANDIDATE-GENERATOR AUDIT — the tuning report
    // behind the q186 family. One row per generator config: the four
    // SRP band layouts over the (round-12-widened) 64-plane signature
    // {1x16, 2x8 (the pre-round-12 generator), 4x4, 8x8} and each
    // NN-Descent round of the SHIPPED generator (nnd_iter_1..NndIters),
    // with its candidate volume and its top-K recall against the exact
    // brute-force graph. This is the audit that killed banding here: on
    // this near-uniform corpus every band layout sits on one poor
    // recall-vs-volume curve (4x4 buys recall 0.478 only by probing
    // ~23% of all pairs), while the NND rounds converge past 0.9 at
    // linear cost. Audit scale BY DESIGN (the q147/q154/q170/q183
    // class): everything runs on the corpus-scaled 1-in-m sample.
    "q196_srp_band_audit" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      // the 64 plane signs are computed ONCE per sampled row (inside
      // the checkpoint) and sliced into keys per config — three of the
      // four configs share the first 16 planes, so inlining the dot per
      // (config, plane) would nearly double the projection work
      val planeBits = array(SrpPlanes64.map { p =>
        val plane = array(p.map(lit(_)): _*).cast("array<double>")
        when(org.apache.spark.sql.graft.ArrayDot.doubleDot(
          Similarity.asDouble(col("embedding")), plane) > 0.0, lit(1L)).otherwise(lit(0L))
      }: _*)
      val e = Sampling.oneInM(emb, "vec_id", LshAuditSampleTarget)
        .select(col("vec_id"), col("m"), Similarity.asDouble(col("embedding")).as("dv"),
          planeBits.as("pb"))
        .withColumn("nrm", Similarity.l2Norm(col("dv")))
        // EAGER (round 13): the sample feeds the truth pass, every SRP
        // config, AND ~30 broadcast subtrees; broadcast futures
        // materialize CONCURRENTLY, and with a lazy checkpoint each
        // raced ahead of the cache and re-scanned the full embeddings
        // table — measured 23-60 s of summed executor time on a
        // 1000-row audit
        .localCheckpoint(true)
      val nRow = e.agg(count(lit(1)).as("n_nodes"), max(col("m")).as("mm"))
      val cos = Similarity.dot(col("dv_a"), col("dv_b")) / (col("nrm_a") * col("nrm_b"))
      val exact = e.select(col("vec_id").as("src"), col("dv").as("dv_a"), col("nrm").as("nrm_a"))
        // broadcast the right side: the sample is target-bounded (~1000
        // rows) by construction, and a non-broadcast cross of two
        // 32-partition frames is a 1024-task CartesianProduct grid —
        // pure scheduling overhead on audit-sized inputs
        .crossJoin(broadcast(
          e.select(col("vec_id").as("dst"), col("dv").as("dv_b"), col("nrm").as("nrm_b"))))
        .filter(col("src") =!= col("dst"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("src").orderBy(cos.desc, col("dst").asc)))
        .filter(col("rank") <= KnnGraphK)
        .select("src", "dst")
        .localCheckpoint(true) // probed once per config; eager — see `e`
      val vecs = e.select("vec_id", "dv", "nrm")
      val banded = SrpBandConfigs.map { case (cfg, nb, w) =>
        val bandStructs = (0 until nb).map { b =>
          val key = (0 until w).map { j =>
            element_at(col("pb"), b * w + j + 1) * lit(1L << j)
          }.reduce(_ + _)
          struct(lit(b).as("band"), key.as("key"))
        }
        e.select(lit(cfg).as("config"), col("vec_id"),
            explode(array(bandStructs: _*)).as("bk"))
          .select(col("config"), col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      }.reduce(_ union _)
      val cand = banded.alias("x")
        .join(banded.alias("y"),
          col("x.config") === col("y.config") && col("x.band") === col("y.band") &&
            col("x.key") === col("y.key") && col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.config").as("config"), col("x.vec_id").as("src"),
          col("y.vec_id").as("dst"))
        .distinct()
        .localCheckpoint(true) // feeds the volume count AND the top-K hits; eager — see `e`
      // ROUND-14 floor shave (r13 carry-over item): ONE volume aggregate
      // and ONE hit aggregate over ALL configs — SRP layouts and NND
      // rounds folded through tagged unions — instead of per-config/
      // per-round 1-row aggregates. The old shape built ~10 broadcast-
      // exchange subtrees whose codegen constants WERE the measured
      // 7.8 s warm floor. Values are unchanged: same counts, same
      // zero-fill left join from the config list, same recall expression.
      // Round 18 tightens the fold: the truth join runs ONCE over the
      // tagged union of every config's top-K rows (SRP layouts here, NND
      // rounds below) instead of once per family/round — inner joins
      // distribute over unions, so the hit counts are unchanged while
      // 1 + NndIters join subtrees (each with its own exchanges and
      // codegen constants) collapse into one.
      val srpTopRows = cand
        .join(vecs.select(col("vec_id").as("src"), col("dv").as("dv_a"), col("nrm").as("nrm_a")), Seq("src"))
        .join(vecs.select(col("vec_id").as("dst"), col("dv").as("dv_b"), col("nrm").as("nrm_b")), Seq("dst"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("config", "src").orderBy(cos.desc, col("dst").asc)))
        .filter(col("rank") <= KnnGraphK)
        .select("config", "src", "dst")
      // NN-Descent rounds on the SAME sample through the shipped round
      // driver (NnDescent.descend, as knnGraph runs it), so n_cand
      // reports exactly what each shipped round pays. Init draws land on
      // the sampled id grid (vec_id = idx * m), so m = 1 reproduces the
      // shipped build's init exactly. Narrow regime by construction
      // (the sample is ~1000 rows); rounds checkpoint EAGERLY because each
      // round's frame feeds the folded unions' broadcast futures, which
      // race a lazy checkpoint and recompute the whole chain (see `e`)
      val g0 = org.apache.spark.sql.graft.CheckpointStats.freshCheckpoint(
        NnDescent.drawEdges(e.select(col("vec_id").as("src")).crossJoin(broadcast(nRow)),
          NndK, "nnd0", col("n_nodes"), col("mm")))
      val nndRounds = scala.collection.mutable.ArrayBuffer.empty[(Int, DataFrame, DataFrame)]
      NnDescent.descend(g0, vecs, NnDescent.BuildParams(NndK, NndCap, narrow = true, slices = 1),
        0 until NndIters, eager = true, keepCandidates = true,
        observe = (t, candT, gT) => nndRounds += ((t + 1, candT, gT)))
      val volRows = nndRounds.map { case (t, candT, _) =>
          candT.select(lit(s"nnd_iter_$t").as("config"))
        }.foldLeft(cand.select("config"))(_ union _)
      val topRows = nndRounds.map { case (t, _, gT) =>
          gT.filter(col("rank") <= KnnGraphK)
            .select(lit(s"nnd_iter_$t").as("config"), col("src"), col("dst"))
        }.foldLeft(srpTopRows)(_ union _)
      // the ONE truth join (see the fold note above); exact is the
      // sample's k·N truth edges — broadcast by construction
      val hitRows = topRows.join(broadcast(exact), Seq("src", "dst"))
        .select("config")
      // ONE shared aggregate for both counts (round 18): candidate rows
      // and hit rows ride one tagged union into a single groupBy, so the
      // report pays one exchange + one join instead of two of each.
      // sum(c)/sum(h) over the tags equal the two old count(1)s exactly.
      val counts = volRows.select(col("config"), lit(1L).as("c"), lit(0L).as("h"))
        .union(hitRows.select(col("config"), lit(0L).as("c"), lit(1L).as("h")))
        .groupBy("config").agg(sum(col("c")).as("n_cand"), sum(col("h")).as("n_hit"))
      // left-join from the config LIST so a layout with zero band
      // collisions reports n_cand = 0 instead of vanishing from the
      // audit (the q183 zero-candidate convention)
      val cfgDf = { import s.implicits._;
        (SrpBandConfigs.map(_._1) ++ (1 to NndIters).map(t => s"nnd_iter_$t")).toDF("config") }
      cfgDf
        .join(counts, Seq("config"), "left")
        .crossJoin(broadcast(nRow.select(col("n_nodes"))))
        .select(col("config"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") /
            (col("n_nodes") * KnnGraphK).cast("double")).as("recall"))
        .orderBy("config")
    }),

    // pillar similarity: HARD-NEGATIVE MINING — the companion export to
    // q195's easy negatives: for every (anchor, positive) mutual pair,
    // the band-collision candidates ranked JUST BELOW the top-K cut
    // (ranks K+1..K+HardNegM) — similar enough to collide and score
    // high, excluded from the positive set: exactly what contrastive
    // training wants as hard negatives. Zero new joins at scale — the
    // ranked candidate frame q186 already builds, read one rank band
    // lower; anchors with exhausted candidate lists under-return
    // deterministically.
    "q197_hard_negatives" -> ((s, dir) => {
      val ranked = knnRankedFrame(s, dir)
        .localCheckpoint(false) // feeds the top-K cut AND the hard band
      val topm = ranked.filter(col("rank") <= KnnGraphK)
      val pos = topm.alias("x")
        .join(topm.select(col("src").as("rsrc"), col("dst").as("rdst")).alias("r"),
          col("x.src") === col("r.rdst") && col("x.dst") === col("r.rsrc"))
        .select(col("x.src").as("anchor"), col("x.dst").as("positive"))
      val hard = ranked
        .filter(col("rank") > KnnGraphK && col("rank") <= KnnGraphK + HardNegM)
        .select(col("src").as("anchor"), col("dst").as("neg_id"), col("cos_sim"),
          (col("rank") - KnnGraphK).as("neg_rank"))
      pos.join(hard, Seq("anchor"))
        .select("anchor", "positive", "neg_rank", "neg_id", "cos_sim")
        .orderBy("anchor", "positive", "neg_rank")
    }),

    // pillar similarity: INCREMENTAL kNN-GRAPH MAINTENANCE — the missing
    // member of the incremental family (text q118/q132, image q169,
    // containment q175/q190): a batch of new vectors (the id tail — ids
    // are assigned at ingest) lands in the PERSISTED base graph without a
    // rebuild: md5 seed edges into the merged id space, then
    // autoIters(merged N) incremental local-join rounds touching only
    // new-leg pairs. Cost ∝ batch neighborhood, not corpus; a rebuild
    // pays O(N·cap²) per round, this pays O(batch·cap²).
    // GraphUpsertSpec gates recall ≥ 0.98 of the full rebuild; the
    // oracle unrolls the exact upsert recurrence (bit-equal, not just
    // recall-close). q204 is the streaming twin, same oracle verbatim.
    "q203_knn_graph_upsert" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val arrivals = e.crossJoin(broadcast(graphUpsertSplit(e)))
        .filter(col("vec_id") >= col("nbase"))
      upsertIntoBaseGraph(s, dir, arrivals).orderBy("src", "rank")
    }),

    // pillar similarity: ANN QUALITY REPORT — the recall@k / MRR audit
    // an ANN deployment runs continuously, as a first-class query: the
    // trained-IVF index (q43's exact configuration) joined against
    // exhaustive cosine truth for the same queries; per query the hit
    // count, recall@3, and the reciprocal rank the index gives the TRUE
    // nearest neighbor (0.0 when it falls outside the probed cells).
    // This operationalizes the spec-level recall gates as a monitorable
    // data-pipeline surface.
    "q131_ann_quality_report" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      val approx = Similarity.ivfTopKOnIndex(queries,
          ivfSqrtIndex(s, dir), sqrtCentroids(s, dir),
          "vec_id", "embedding", k = 3)
        .select("q_id", "r_id", "rank")
      val truth = Similarity.cosineTopK(queries, spread(s, e), "vec_id", "embedding", 3)
        .select(col("q_id"), col("r_id"), col("rank").as("xrank"))
      truth.join(approx, Seq("q_id", "r_id"), "left")
        .groupBy("q_id")
        .agg(
          count(col("rank")).as("n_hits"),
          min(when(col("xrank") === 1, col("rank"))).as("rot"))
        .select(col("q_id"), col("n_hits"),
          (col("n_hits").cast("double") / 3).as("recall_at_3"),
          coalesce(lit(1.0) / col("rot"), lit(0.0)).as("rr_top1"))
        .orderBy("q_id")
    }),

    // pillar similarity: ANN FAMILY ROUTING — the round-16 serving bar
    // ("IVF at the shipped auto probe depth iff measured recall@3 >= 0.9
    // on its corpus; below the bar, recall-sensitive consumers route to
    // the NND kNN-graph family or buy probe depth along the measured
    // curve" — SCALE.md round-16 fourth wave) as an EXECUTABLE query
    // instead of a paragraph: a 100 TB deployment runs queries, not
    // prose. Measures the SHIPPED serving path (the same persisted
    // self-contained index + ceil(sqrt k) auto depth q43/q131/q194
    // serve from) against exhaustive cosine truth on the q131 query
    // sample, aggregates to one corpus-level recall, and emits the
    // routing decision. The recall double is one integer division
    // (n_hits / n_truth) so both engines produce the identical IEEE
    // value; decision/fallback are pure threshold CASE arithmetic over
    // it. ScaleProbe ivf-sweep is the same bar at probe-level depth
    // resolution (~500 queries, explicit depths); this is the
    // continuously-runnable per-corpus verdict.
    "q205_ann_serving_route" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      val approx = Similarity.ivfTopKOnIndex(queries,
          ivfSqrtIndex(s, dir), sqrtCentroids(s, dir),
          "vec_id", "embedding", k = 3)
        .select("q_id", "r_id").withColumn("hit", lit(1))
      val truth = Similarity.cosineTopK(queries, spread(s, e), "vec_id", "embedding", 3)
        .select("q_id", "r_id")
      truth.join(approx, Seq("q_id", "r_id"), "left")
        .agg(
          countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_truth"),
          count(col("hit")).as("n_hits"))
        .withColumn("recall_at_auto",
          col("n_hits").cast("double") / col("n_truth"))
        .select(
          lit("embeddings").as("corpus"),
          col("n_queries"), col("n_truth"), col("n_hits"),
          col("recall_at_auto"),
          lit(0.9).as("bar"),
          when(col("recall_at_auto") >= 0.9, lit("ivf_auto_depth"))
            .otherwise(lit("nnd_knn_graph")).as("decision"),
          when(col("recall_at_auto") >= 0.9, lit("nnd_knn_graph"))
            .otherwise(lit("deeper_ivf_probes")).as("fallback"))
    }),

    // pillar similarity: k-means TRAINING itself as a gradeable surface —
    // the trained coarse-quantizer centroids (Lloyd's, KmeansIters steps
    // from the vec_id < 8 seed) in long form (centroid_id, dim, cval),
    // hash-matched against the oracle re-running the same iterations in
    // SQL. This is the frame q35/q43 assign against; exposing it directly
    // pins the training math, not just its downstream effects.
    "q123_kmeans_train" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val (tr123, init123) = trainSample8(s, e)
      Similarity.trainCentroids(tr123, "vec_id", "embedding", init123, KmeansIters)
        .select(col("centroid_id"),
          posexplode(col("cv")).as(Seq("dim", "cval")))
        .select(col("centroid_id"), col("dim").cast("long").as("dim"), col("cval"))
        .orderBy("centroid_id", "dim")
    }),

    // pillar text analysis: COUNT-MIN SKETCH heavy hitters — the
    // fixed-memory frequency sketch (Cormode & Muthukrishnan '05): d=4
    // md5-derived hash rows x w=256 buckets, built map-side-combined
    // from the term dictionary; per-term estimate = min over rows of its
    // bucket counter (>= exact count ALWAYS — the sketch's one-sided
    // guarantee, which the output exposes as `over` = est - exact). At
    // 100 TB the 4x256-long sketch replaces the unbounded exact term
    // dictionary for frequency estimation; candidates here come from
    // the dictionary so the oracle can check every estimate exactly.
    // Integer end-to-end.
    "q129_cms_heavy_hitters" -> ((s, dir) => {
      val terms = spread(s, rd(s, dir, "documents"))
        .select(explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // feeds the sketch build AND the estimate probe
      Sketches.cmsEstimate(terms, Sketches.cmsRows(terms, "term", "cnt"), "term", "cnt")
        .withColumn("over", col("est") - col("cnt"))
        .orderBy(col("est").desc, col("term").asc)
        .limit(20)
        .select("term", "cnt", "est", "over")
    }),

    // pillar similarity: full IVF-PQ with RESIDUAL coding — the FAISS
    // IndexIVFPQ shape end-to-end: trained coarse quantizer, residuals
    // qv - cv (exact integer subtraction), per-subspace codebooks
    // TRAINED ON THE RESIDUALS, per-(query, probed-cell) LUT search over
    // the codes table. q110 approximates raw vectors; this is the
    // variant a production ANN index actually ships, and the whole
    // train->encode->probe->score pipeline stays oracle-exact.
    "q124_ivfpq_residual_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val (tr124, init124) = trainSample8(s, e)
      val cents = trainedArtifact(s, dir, "cent8") {
        Similarity.trainCentroids(tr124, "vec_id", "embedding", init124, KmeansIters)
      }
      val cb = trainedArtifact(s, dir, "respq8") {
        Similarity.trainResidualCodebooks(tr124, cents, init124,
          "vec_id", "embedding", m = 8, iters = KmeansIters)
      }
      Similarity.ivfPqAdcTopK(
          e.filter(col("vec_id") < 3), spread(s, e), cents, cb,
          "vec_id", "embedding", m = 8, k = 10, nprobe = 2)
        .orderBy("q_id", "rank")
    }),

    // pillar text analysis + similarity: DOCUMENT CLUSTERING over
    // feature-hashed token counts — the text-side twin of the embedding
    // k-means family (cluster-balanced sampling / SemDeDup-style
    // bucketing when no embeddings exist): tokens feature-hash into 16
    // integer dims (md5-derived, zero-filled dense via one
    // map_from_entries lookup), the SAME sample-bounded Lloyd's trainer
    // as q123 (~40 points/centroid, integer-exact) fits k = 8 centroids,
    // and every document is assigned by the aggregate argmin (no
    // window). Output carries the exact squared distance and the cluster
    // size (broadcast join of the tiny per-cluster counts).
    "q141_doc_cluster_assign" -> ((s, dir) => {
      val asg = docClusterAsg(s, dir)
      val sizes = asg.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      asg.join(broadcast(sizes), Seq("cluster_id"))
        .select("doc_id", "cluster_id", "dist", "cluster_size")
        .orderBy("doc_id")
    }),

    // pillar pipeline: CLUSTER-BALANCED SAMPLING — the curation move the
    // q141 clustering exists for (SemDeDup-adjacent: sample the corpus
    // so big topical clusters stop dominating): per-cluster quota =
    // min(n, floor(sqrt(n) * MixSqrtScale)) (q112's IEEE-exact
    // temperature form, per CLUSTER instead of per source), selection by
    // the content-stable md5 order via Quota.rankedQuota — never a
    // one-task-per-cluster window.
    "q143_cluster_balanced_sample" -> ((s, dir) => {
      val asg = docClusterAsg(s, dir).select("doc_id", "cluster_id")
      val quotas = asg.groupBy("cluster_id").agg(count(lit(1)).as("n_c"))
        .withColumn("quota",
          least(col("n_c"), floor(sqrt(col("n_c").cast("double")) * MixSqrtScale).cast("long")))
        .select("cluster_id", "quota")
      val ord = md5(concat(lit("cb-"), col("doc_id")))
      Quota.rankedQuota(
          asg.select(col("doc_id"), col("cluster_id"), ord.as("ord")),
          "cluster_id",
          bucket = conv(substring(col("ord"), 1, 2), 16, 10).cast("long"),
          bucketAsc = true,
          ordCols = Seq(col("ord").asc, col("doc_id").asc),
          quotas = quotas)
        .select("cluster_id", "doc_id", "rk")
        .orderBy("cluster_id", "rk")
    })
  )

  protected def annOracle: Map[String, String] = Map(
    "q34_embed_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |p AS (
        |  SELECT q.vec_id AS q_id, r.vec_id AS r_id,
        |         list_sum(list_transform(range(1, 65), i -> q.v[i::INT] * r.v[i::INT])) / (q.nrm * r.nrm) AS cos_sim
        |  FROM n q JOIN n r ON q.vec_id < 10 AND q.vec_id <> r.vec_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS rank FROM p)
        |SELECT q_id, r_id, cos_sim, rank FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q35_embed_ivf_assign" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv FROM embeddings),
        |${trainSampleCtesSql("v")},
        |${lloydCtesSql("tv", "kinit", 64, KmeansIters, Seq.empty, "c")},
        |s AS (
        |  SELECT v.vec_id AS id, c.centroid_id,
        |         CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i::INT] * c.cv[i::INT])) AS BIGINT) AS score
        |  FROM v CROSS JOIN c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, centroid_id ASC) AS rk FROM s)
        |SELECT id, centroid_id, score FROM r WHERE rk = 1 ORDER BY id""".stripMargin,

    // shared with the streaming q194 serving gate — see
    // RegistryBase.ivfSqrtTopkOracle
    "q43_embed_ivf_topk" -> ivfSqrtTopkOracle("id < 10"),

    // q43's oracle chain with the label riding the candidate equi-key
    "q179_ivf_filtered_topk" ->
      s"""WITH $embAssignCtes,
        |npr AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS np FROM c),
        |lbl AS (SELECT vec_id, label FROM embeddings),
        |probes AS (
        |  SELECT id AS q_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk
        |    FROM score WHERE id < 10), npr
        |  WHERE rk <= npr.np),
        |cand AS (
        |  SELECT p.q_id, a.vec_id AS r_id
        |  FROM probes p JOIN assign a USING (centroid_id)
        |       JOIN lbl qa ON qa.vec_id = p.q_id
        |       JOIN lbl rb ON rb.vec_id = a.vec_id
        |  WHERE p.q_id <> a.vec_id AND qa.label = rb.label),
        |ref AS (
        |  SELECT cand.q_id, cand.r_id,
        |         list_sum(list_transform(range(1, 65), i -> qn.dv[i::INT] * rn.dv[i::INT])) / (qn.nrm * rn.nrm) AS cos_sim
        |  FROM cand JOIN n qn ON qn.vec_id = cand.q_id JOIN n rn ON rn.vec_id = cand.r_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS rank FROM ref)
        |SELECT q_id, r_id, cos_sim, rank FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    "q107_embed_srp_pairs" -> {
      val planeSum = SrpPlanes.zipWithIndex.map { case (p, b) =>
        val lst = p.mkString("[", ", ", "]")
        s"CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i::INT] * ($lst)[i::INT])) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |s AS (SELECT vec_id, $planeSum::BIGINT AS srp_sig FROM e),
         |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         |banded AS (
         |  SELECT vec_id, 0 AS band, srp_sig % 256 AS key FROM s
         |  UNION ALL
         |  SELECT vec_id, 1 AS band, srp_sig // 256 AS key FROM s),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM banded a JOIN banded b
         |         ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         |scored AS (SELECT c.id_a, c.id_b,
         |    list_sum(list_transform(range(1, 65), i -> na.v[i::INT] * nb.v[i::INT])) / (na.nrm * nb.nrm) AS cos_sim
         |  FROM cand c JOIN n na ON na.vec_id = c.id_a JOIN n nb ON nb.vec_id = c.id_b)
         |SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.3 ORDER BY id_a, id_b""".stripMargin
    },

    // q107's SRP banding CTEs with directed candidates, then per-src
    // top-K rank and the mutual self-join of the edge list
    "q186_knn_graph" ->
      s"""WITH $knnCtesSql
         |SELECT t.src, t.dst, t.rank, t.cos_sim, r.src IS NOT NULL AS mutual
         |FROM topm t LEFT JOIN topm r ON r.src = t.dst AND r.dst = t.src
         |ORDER BY t.src, t.rank""".stripMargin,

    // q186's CTEs -> mutual edge subset -> q52's recursive min-label
    // reachability over the (already symmetric) mutual graph
    "q192_mutual_knn_groups" ->
      s"""WITH RECURSIVE $knnCtesSql,
         |edges AS MATERIALIZED (SELECT t.src, t.dst FROM topm t
         |          JOIN topm r ON r.src = t.dst AND r.dst = t.src),
         |reach(id, r) AS (
         |  SELECT vec_id::BIGINT, vec_id::BIGINT FROM embeddings
         |  UNION
         |  SELECT e2.dst, w.r FROM reach w JOIN edges e2 ON e2.src = w.id)
         |SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    // q186's CTEs -> mutual (anchor, positive) pairs -> md5-arithmetic
    // negative draws with the anchor-neighborhood exclusion
    "q195_contrastive_negatives" ->
      s"""WITH $knnCtesSql,
         |pos AS (SELECT t.src AS anchor, t.dst AS positive FROM topm t
         |        JOIN topm r ON r.src = t.dst AND r.dst = t.src),
         |draws AS (
         |  SELECT anchor, positive, g.i,
         |         ('0x' || substr(md5('neg_' || anchor || '_' || positive || '_' || g.i), 1, 15))::BIGINT % np.n AS neg_id
         |  FROM pos, np, range(1, ${NegDrawsM + 1}) g(i)),
         |kept AS (
         |  SELECT d.* FROM draws d
         |  WHERE d.neg_id <> d.anchor AND d.neg_id <> d.positive
         |    AND NOT EXISTS (SELECT 1 FROM topm e
         |                    WHERE e.src = d.anchor AND e.dst = d.neg_id)),
         |ranked AS (SELECT anchor, positive, neg_id,
         |    row_number() OVER (PARTITION BY anchor, positive ORDER BY i ASC) AS neg_rank
         |  FROM kept)
         |SELECT anchor, positive, neg_rank, neg_id FROM ranked
         |WHERE neg_rank <= $NumNegatives
         |ORDER BY anchor, positive, neg_rank""".stripMargin,

    // the graph-upsert recurrence unrolled; q204 (the streaming twin in
    // StreamingRegistry) shares it VERBATIM — single-trigger staging
    // makes streaming == batch provable, so the bridge must not change
    // answers
    "q203_knn_graph_upsert" -> knnUpsertOracle,
    "q204_stream_knn_upsert" -> knnUpsertOracle,

    // the q186-family generator audit over the corpus-scaled 1-in-m
    // sample: SRP band configs from the shared SrpPlanes64 constants +
    // the unrolled NN-Descent rounds, each against the brute-force
    // exact truth pass (audit scale by design, the q147/q154/q170/q183
    // class)
    "q196_srp_band_audit" -> {
      val planeBitsSql = SrpPlanes64.map { p =>
        val lst = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i::INT] * ($lst)[i::INT])) > 0 THEN 1 ELSE 0 END)"
      }.mkString("[", ",\n   ", "]::BIGINT[]")
      val bandedSql = SrpBandConfigs.flatMap { case (cfg, nb, w) =>
        (0 until nb).map { b =>
          val key = (0 until w).map { j =>
            s"pb[${b * w + j + 1}] * ${1L << j}"
          }.mkString("(", " + ", ")")
          s"SELECT '$cfg' AS config, vec_id, $b AS band, $key AS key FROM sb"
        }
      }.mkString("\n  UNION ALL\n  ")
      // audit config stays FIXED (NndK/NndCap): q196 certifies the
      // recurrence on a size-capped sample, where the constants are the
      // audited regime — production builds derive via autoK/autoIters
      val nndIters = (0 until NndIters)
        .map(t => nndIterSql("a", t, NndK, NndCap)).mkString(",\n")
      val nndRowsSql = (1 to NndIters).map { t =>
        s"""SELECT 'nnd_iter_$t' AS config,
           |  (SELECT count(*) FROM ac${t - 1}) AS n_cand,
           |  (SELECT count(*) FROM ag$t g JOIN exact x ON x.src = g.src AND x.dst = g.dst
           |    WHERE g.rank <= $KnnGraphK) AS n_hit""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH kpa AS (SELECT greatest(1, count(*) // $LshAuditSampleTarget) AS m FROM embeddings),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM embeddings, kpa WHERE vec_id % kpa.m = 0),
         |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         |sb AS MATERIALIZED (SELECT vec_id, $planeBitsSql AS pb FROM e),
         |np AS (SELECT count(*) AS n_nodes FROM e),
         |${nndAllCosSql("a")},
         |exact AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst,
         |           row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst ASC) AS rank
         |    FROM aallcos)
         |  WHERE rank <= $KnnGraphK),
         |cbanded AS MATERIALIZED (
         |  $bandedSql),
         |ccand AS MATERIALIZED (SELECT DISTINCT x.config, x.vec_id AS src, y.vec_id AS dst
         |          FROM cbanded x JOIN cbanded y
         |          ON x.config = y.config AND x.band = y.band AND x.key = y.key
         |             AND x.vec_id <> y.vec_id),
         |chits AS (SELECT config, count(*) AS n_hit FROM (
         |    SELECT c.config, c.src, c.dst,
         |           row_number() OVER (PARTITION BY c.config, c.src ORDER BY
         |             ac.cos_sim DESC, c.dst ASC) AS rank
         |    FROM ccand c JOIN aallcos ac ON ac.src = c.src AND ac.dst = c.dst) r
         |  JOIN exact e2 ON e2.src = r.src AND e2.dst = r.dst
         |  WHERE r.rank <= $KnnGraphK GROUP BY config),
         |cvol AS (SELECT config, count(*) AS n_cand FROM ccand GROUP BY config),
         |ag0 AS (SELECT DISTINCT src, dst FROM (
         |    SELECT e.vec_id AS src,
         |           (('0x' || substr(md5('nnd0_' || e.vec_id || '_' || g.i), 1, 15))::BIGINT % np.n_nodes) * kpa.m AS dst
         |    FROM e, np, kpa, range(1, ${NndK + 1}) g(i))
         |  WHERE dst <> src),
         |$nndIters,
         |cfgs AS (SELECT unnest([${SrpBandConfigs.map(c => s"'${c._1}'").mkString(", ")}]) AS config),
         |rows AS (
         |  SELECT f.config, coalesce(v.n_cand, 0)::BIGINT AS n_cand,
         |         coalesce(h.n_hit, 0)::BIGINT AS n_hit
         |  FROM cfgs f LEFT JOIN cvol v USING (config) LEFT JOIN chits h USING (config)
         |  UNION ALL
         |  $nndRowsSql)
         |SELECT r.config, r.n_cand::BIGINT AS n_cand, r.n_hit::BIGINT AS n_hit,
         |       r.n_hit::DOUBLE / (np.n_nodes * $KnnGraphK)::DOUBLE AS recall
         |FROM rows r, np ORDER BY r.config""".stripMargin
    },

    // q186's CTEs: the mutual pairs joined with the rank band just below
    // the top-K cut of the SAME refined ranked edge list
    "q197_hard_negatives" ->
      s"""WITH $knnCtesSql,
         |pos AS (SELECT t.src AS anchor, t.dst AS positive FROM topm t
         |        JOIN topm r ON r.src = t.dst AND r.dst = t.src),
         |hard AS (SELECT src AS anchor, dst AS neg_id, cos_sim,
         |                rank - $KnnGraphK AS neg_rank
         |         FROM g$NndIters
         |         WHERE rank > $KnnGraphK AND rank <= ${KnnGraphK + HardNegM})
         |SELECT p.anchor, p.positive, h.neg_rank, h.neg_id, h.cos_sim
         |FROM pos p JOIN hard h ON h.anchor = p.anchor
         |ORDER BY p.anchor, p.positive, h.neg_rank""".stripMargin,

    "q109_pq_encode" ->
      s"""$pqDistsSql
         |SELECT vec_id, sub_id, code, dist_q FROM (
         |  SELECT s.vec_id, s.sub_id, c.code, $pqSqDistSql AS dist_q,
         |         row_number() OVER (PARTITION BY s.vec_id, s.sub_id
         |                            ORDER BY $pqSqDistSql, c.code) AS rn
         |  FROM subs s JOIN cents c USING (sub_id))
         |WHERE rn = 1 ORDER BY vec_id, sub_id""".stripMargin,

    "q110_pq_adc_topk" ->
      s"""$pqDistsSql,
         |codes AS (
         |  SELECT vec_id AS r_id, sub_id, code FROM (
         |    SELECT s.vec_id, s.sub_id, c.code,
         |           row_number() OVER (PARTITION BY s.vec_id, s.sub_id
         |                              ORDER BY $pqSqDistSql, c.code) AS rn
         |    FROM subs s JOIN cents c USING (sub_id))
         |  WHERE rn = 1),
         |lut AS (
         |  SELECT s.vec_id AS q_id, s.sub_id, c.code, $pqSqDistSql AS dq
         |  FROM subs s JOIN cents c USING (sub_id) WHERE s.vec_id < 3),
         |adc AS (
         |  SELECT q_id, r_id, CAST(sum(dq) AS BIGINT) AS adc_dist
         |  FROM codes JOIN lut USING (sub_id, code)
         |  WHERE q_id <> r_id GROUP BY q_id, r_id)
         |SELECT q_id, r_id, adc_dist, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, r_id) AS rank
         |  FROM adc)
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    // HLL re-derived register-by-register: same md5-derived hash, same
    // shift/mask window, same integer contribution sum; the estimator
    // numerator is the SAME Scala-computed double literal on both sides,
    // so the one final division is IEEE-identical
    "q133_hll_distinct" -> hllOracle,

    // shared with the streaming q182 gate — see RegistryBase.binQuantOracle
    "q181_bin_quantile_sketch" -> binQuantOracle,

    "q123_kmeans_train" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv FROM embeddings),
         |${trainSampleCtesSql("v")},
         |${lloydCtesSql("tv", "kinit", 64, KmeansIters, Seq.empty, "c")}
         |SELECT centroid_id, unnest(range(0, 64)) AS dim, unnest(cv) AS cval
         |FROM c ORDER BY centroid_id, dim""".stripMargin,

    "q131_ann_quality_report" ->
      s"""WITH $embAssignCtes,
        |npr AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS np FROM c),
        |probes AS (
        |  SELECT id AS q_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk
        |    FROM score WHERE id < 10), npr
        |  WHERE rk <= npr.np),
        |cand AS (SELECT q_id, vec_id AS r_id FROM probes JOIN assign USING (centroid_id)
        |         WHERE q_id <> vec_id),
        |ref AS (
        |  SELECT cand.q_id, cand.r_id,
        |         list_sum(list_transform(range(1, 65), i -> qn.dv[i::INT] * rn.dv[i::INT])) / (qn.nrm * rn.nrm) AS cos_sim
        |  FROM cand JOIN n qn ON qn.vec_id = cand.q_id JOIN n rn ON rn.vec_id = cand.r_id),
        |approx AS (SELECT q_id, r_id, rank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS rank FROM ref)
        |  WHERE rank <= 3),
        |ex AS (
        |  SELECT q.vec_id AS q_id, r.vec_id AS r_id,
        |         list_sum(list_transform(range(1, 65), i -> q.dv[i::INT] * r.dv[i::INT])) / (q.nrm * r.nrm) AS cos_sim
        |  FROM n q JOIN n r ON q.vec_id < 10 AND q.vec_id <> r.vec_id),
        |truth AS (SELECT q_id, r_id, xrank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS xrank FROM ex)
        |  WHERE xrank <= 3),
        |hits AS (
        |  SELECT t.q_id, CAST(count(a.rank) AS BIGINT) AS n_hits,
        |         min(CASE WHEN t.xrank = 1 THEN a.rank END) AS rot
        |  FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.r_id = t.r_id
        |  GROUP BY t.q_id)
        |SELECT q_id, n_hits, n_hits::DOUBLE / 3 AS recall_at_3,
        |       coalesce(1.0 / rot, 0.0) AS rr_top1
        |FROM hits ORDER BY q_id""".stripMargin,

    // the q131 serving-vs-truth CTEs aggregated to the one-row routing
    // verdict; decision arithmetic is a threshold CASE over the single
    // integer-division double, so both engines agree bit-for-bit
    "q205_ann_serving_route" ->
      s"""WITH $embAssignCtes,
        |npr AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS np FROM c),
        |probes AS (
        |  SELECT id AS q_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk
        |    FROM score WHERE id < 10), npr
        |  WHERE rk <= npr.np),
        |cand AS (SELECT q_id, vec_id AS r_id FROM probes JOIN assign USING (centroid_id)
        |         WHERE q_id <> vec_id),
        |ref AS (
        |  SELECT cand.q_id, cand.r_id,
        |         list_sum(list_transform(range(1, 65), i -> qn.dv[i::INT] * rn.dv[i::INT])) / (qn.nrm * rn.nrm) AS cos_sim
        |  FROM cand JOIN n qn ON qn.vec_id = cand.q_id JOIN n rn ON rn.vec_id = cand.r_id),
        |approx AS (SELECT q_id, r_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS rank FROM ref)
        |  WHERE rank <= 3),
        |ex AS (
        |  SELECT q.vec_id AS q_id, r.vec_id AS r_id,
        |         list_sum(list_transform(range(1, 65), i -> q.dv[i::INT] * r.dv[i::INT])) / (q.nrm * r.nrm) AS cos_sim
        |  FROM n q JOIN n r ON q.vec_id < 10 AND q.vec_id <> r.vec_id),
        |truth AS (SELECT q_id, r_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS xrank FROM ex)
        |  WHERE xrank <= 3),
        |agg AS (
        |  SELECT CAST(count(DISTINCT t.q_id) AS BIGINT) AS n_queries,
        |         CAST(count(*) AS BIGINT) AS n_truth,
        |         CAST(count(a.r_id) AS BIGINT) AS n_hits
        |  FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.r_id = t.r_id)
        |SELECT 'embeddings' AS corpus, n_queries, n_truth, n_hits,
        |       n_hits::DOUBLE / n_truth AS recall_at_auto,
        |       0.9::DOUBLE AS bar,
        |       CASE WHEN n_hits::DOUBLE / n_truth >= 0.9 THEN 'ivf_auto_depth' ELSE 'nnd_knn_graph' END AS decision,
        |       CASE WHEN n_hits::DOUBLE / n_truth >= 0.9 THEN 'nnd_knn_graph' ELSE 'deeper_ivf_probes' END AS fallback
        |FROM agg""".stripMargin,

    // shared with the streaming q188 gate — see RegistryBase.cmsOracle
    "q129_cms_heavy_hitters" -> cmsOracle,

    "q124_ivfpq_residual_topk" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv FROM embeddings),
         |${trainSampleCtesSql("v")},
         |${lloydCtesSql("tv", "kinit", 64, KmeansIters, Seq.empty, "c")},
         |ad AS (
         |  SELECT v.vec_id, c.centroid_id,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> (v.qv[i::INT] - c.cv[i::INT]) * (v.qv[i::INT] - c.cv[i::INT]))) AS BIGINT) AS d
         |  FROM v JOIN c ON TRUE),
         |ar AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, centroid_id ASC) AS rk FROM ad),
         |assign AS (SELECT vec_id, centroid_id FROM ar WHERE rk = 1),
         |res AS (
         |  SELECT a.vec_id, a.centroid_id,
         |         list_transform(range(1, 65), i -> v.qv[i::INT] - c.cv[i::INT]) AS rv
         |  FROM assign a JOIN v USING (vec_id) JOIN c USING (centroid_id)),
         |rsub AS (SELECT vec_id, centroid_id, r.range AS sub_id,
         |                rv[(r.range * 8 + 1)::INT:(r.range * 8 + 8)::INT] AS sv
         |         FROM res, range(0, 8) r),
         |pv AS (SELECT sub_id, vec_id, sv AS qv FROM rsub),
         |ptv AS (SELECT pv.* FROM pv, kp WHERE vec_id % kp.m = 0),
         |pinit AS (SELECT sub_id, vec_id AS centroid_id, qv AS cv FROM ptv, kp WHERE vec_id < 8 * kp.m),
         |${lloydCtesSql("ptv", "pinit", 8, KmeansIters, Seq("sub_id"), "pcb", prefix = "p")},
         |cb AS (SELECT sub_id, centroid_id AS code, cv AS cbv FROM pcb),
         |ed AS (
         |  SELECT s.vec_id, s.centroid_id, s.sub_id, b.code,
         |         CAST(list_sum(list_transform(range(1, 9),
         |           i -> (s.sv[i::INT] - b.cbv[i::INT]) * (s.sv[i::INT] - b.cbv[i::INT]))) AS BIGINT) AS dq
         |  FROM rsub s JOIN cb b USING (sub_id)),
         |codes AS (SELECT vec_id AS r_id, centroid_id, sub_id, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY dq ASC, code ASC) AS rn FROM ed)
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, centroid_id FROM ar WHERE vec_id < 3 AND rk <= 2),
         |qres AS (
         |  SELECT p.q_id, p.centroid_id,
         |         list_transform(range(1, 65), i -> v.qv[i::INT] - c.cv[i::INT]) AS rv
         |  FROM probes p JOIN v ON v.vec_id = p.q_id JOIN c USING (centroid_id)),
         |qsub AS (SELECT q_id, centroid_id, r.range AS sub_id,
         |                rv[(r.range * 8 + 1)::INT:(r.range * 8 + 8)::INT] AS sv
         |         FROM qres, range(0, 8) r),
         |lut AS (
         |  SELECT q.q_id, q.centroid_id, q.sub_id, b.code,
         |         CAST(list_sum(list_transform(range(1, 9),
         |           i -> (q.sv[i::INT] - b.cbv[i::INT]) * (q.sv[i::INT] - b.cbv[i::INT]))) AS BIGINT) AS dq
         |  FROM qsub q JOIN cb b USING (sub_id)),
         |adc AS (
         |  SELECT l.q_id, cd.r_id, CAST(sum(l.dq) AS BIGINT) AS adc_dist
         |  FROM codes cd JOIN lut l USING (centroid_id, sub_id, code)
         |  WHERE l.q_id <> cd.r_id GROUP BY l.q_id, cd.r_id)
         |SELECT q_id, r_id, adc_dist, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, r_id) AS rank FROM adc)
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "q60_embed_centroid_update" ->
      """WITH v AS (SELECT vec_id,
        |             list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv,
        |             list_transform(embedding, x -> x::DOUBLE) AS dv
        |           FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, qv AS cv FROM v WHERE vec_id < 8),
        |score AS (
        |  SELECT v.vec_id AS id, c.centroid_id,
        |         CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i::INT] * c.cv[i::INT])) AS BIGINT) AS sc
        |  FROM v CROSS JOIN c),
        |assign AS (
        |  SELECT id AS vec_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk FROM score)
        |  WHERE rk = 1),
        |q AS (SELECT vec_id, i::BIGINT - 1 AS dim, floor(dv[i::INT] * 1000000)::BIGINT AS qx
        |      FROM v, range(1, 65) t(i))
        |SELECT a.centroid_id, q.dim,
        |       sum(q.qx)::BIGINT AS sum_q, count(*) AS n,
        |       (sum(q.qx)::BIGINT)::DOUBLE / count(*) AS mean_q
        |FROM assign a JOIN q USING (vec_id)
        |GROUP BY a.centroid_id, q.dim ORDER BY a.centroid_id, q.dim""".stripMargin,

    "q72_embed_srp" -> {
      val planeSum = SrpPlanes.zipWithIndex.map { case (p, b) =>
        val lst = p.mkString("[", ", ", "]")
        s"CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i::INT] * ($lst)[i::INT])) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |s AS (SELECT vec_id, $planeSum::BIGINT AS srp_sig FROM e)
         |SELECT vec_id, srp_sig, (count(*) OVER (PARTITION BY srp_sig))::BIGINT AS bucket_n
         |FROM s ORDER BY vec_id""".stripMargin
    },

    "q82_embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e)
        |SELECT vec_id, i - 1 AS dim,
        |       CASE WHEN mx = 0 THEN 0 ELSE floor(v[i::INT] / mx * 127)::BIGINT END AS q
        |FROM m, range(1, 65) t(i)
        |ORDER BY vec_id, dim""".stripMargin,

    // same feature hashing, dense zero-fill, sample-bounded Lloyd chain
    // (shared lloydCtesSql generator), aggregate argmin re-derived as the
    // (d, centroid_id)-ordered row_number
    "q141_doc_cluster_assign" ->
      s"""WITH $docClusterCtes,
         |cs AS (SELECT centroid_id, count(*) AS cluster_size FROM asg GROUP BY 1)
         |SELECT a.vec_id AS doc_id, a.centroid_id AS cluster_id, a.d AS dist,
         |       cs.cluster_size::BIGINT AS cluster_size
         |FROM asg a JOIN cs USING (centroid_id) ORDER BY doc_id""".stripMargin,

    // q112's naive-window oracle form per CLUSTER (the Quota rewrite is
    // row-identical by construction)
    "q143_cluster_balanced_sample" ->
      s"""WITH $docClusterCtes,
         |q AS (SELECT centroid_id,
         |        least(count(*), floor(sqrt(count(*)::DOUBLE) * $MixSqrtScale)::BIGINT) AS quota
         |      FROM asg GROUP BY 1),
         |r AS (SELECT centroid_id, vec_id,
         |        row_number() OVER (PARTITION BY centroid_id
         |                           ORDER BY md5('cb-' || vec_id), vec_id) AS rk
         |      FROM asg)
         |SELECT r.centroid_id AS cluster_id, r.vec_id AS doc_id, rk::BIGINT AS rk
         |FROM r JOIN q USING (centroid_id) WHERE rk <= quota
         |ORDER BY cluster_id, rk""".stripMargin
  )
}
