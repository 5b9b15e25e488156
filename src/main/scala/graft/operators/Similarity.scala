package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (builder-brief pillar). The reference has no
  * vector operators; this follows the same filter-and-refine shape as its
  * text pipeline (SURVEY §0): cheap bucket/quantized prune -> exact cosine
  * on survivors.
  *
  * Each index family trains, builds once and probes many times:
  *   - IVF: trainCentroids -> ivfIndex (build; assignToCentroids is its
  *     bucket assignment) -> ivfTopKOnIndex (probe);
  *   - PQ: trainPqCodebooks -> pqEncode / pqAdcTopK;
  *   - IVF-PQ: trainCentroids + trainResidualCodebooks -> ivfPqAdcTopK.
  * Centroid tables and codebooks are always the quantized (integer) form
  * the trainers emit; a table of raw seed rows is the trainer run with
  * iters = 0, which returns the quantized seeds unchanged.
  *
  * Scale design (100 TB):
  *   - brute-force top-k broadcasts the (small) query set and streams the
  *     corpus — one shuffle for the per-query top-k window, carrying only
  *     (q_id, r_id, score).
  *   - the IVF build assigns every vector to a centroid bucket (narrow
  *     map) and stores it inside that bucket's list; a query batch then
  *     searches only the probed buckets — an equi-join on bucket id,
  *     never an all-pairs product, and no corpus-side join per batch.
  *   - quantized (integer) scoring is used where a DuckDB oracle must
  *     reproduce results exactly; float kernels sum strictly
  *     left-to-right so results are deterministic under retries/AQE.
  */
object Similarity {

  /** Elementwise float->double view of an embedding column. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential (left-to-right) dot product of two double arrays —
    * deterministic across partitionings and engines. Codegen'd custom
    * expression (org.apache.spark.sql.graft.DoubleArrayDot) with the
    * SAME accumulation order as the HOF `aggregate(zip_with(...))` form
    * it replaced, so scores stay bit-equal to the DuckDB oracles.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ArrayDot.doubleDot(a, b)

  /** L2 norm, sequential sum (same kernel: dot(v, v) accumulates
    * acc + v(i)*v(i) in index order, exactly as the HOF fold did).
    */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force exact cosine top-k: for every query vector the k nearest
    * corpus vectors. Queries are broadcast; ties break on ascending ref id.
    * Returns (q_id, r_id, cos_sim, rank).
    */
  def cosineTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    // norms are computed ONCE per vector, not per pair — cosine per pair is
    // then a single dot product + one divide (3x less per-pair arithmetic;
    // same doubles, so oracle parity is unchanged)
    val q = queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_nrm", l2Norm(col("q_vec")))
    val c0 = corpus.select(col(idCol).as("r_id"), asDouble(col(vecCol)).as("r_vec"))
      .withColumn("r_nrm", l2Norm(col("r_vec")))
    // the per-pair dot work inherits the CORPUS side's partitioning —
    // a broadcast join adds no exchange — so a compact corpus (one
    // parquet file ≈ 3 splits) would compute |corpus|·|queries| dots
    // on 3 tasks while every other core idles (measured: the 600k x
    // 1000-query truth pass sat at ~1 core for 15+ min). One narrow
    // round-robin shuffle of the corpus rows buys full-width scoring;
    // values are unchanged (the window re-sorts per q_id anyway).
    // Skipped when the scan is already at least shuffle-width (round-15
    // advice: don't pay a shuffle that buys no parallelism), and read
    // via the resolved Int conf (the string key may hold "auto").
    val width = org.apache.spark.sql.graft.SessionConf.numShufflePartitions(corpus)
    val c = if (c0.rdd.getNumPartitions >= width) c0 else c0.repartition(width)
    val scored = c
      .crossJoin(broadcast(q))
      .where(col("q_id") =!= col("r_id"))
      .withColumn("cos_sim", dot(col("q_vec"), col("r_vec")) / (col("q_nrm") * col("r_nrm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("r_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "r_id", "cos_sim", "rank")
  }

  /** Scalar-quantized embedding: floor(x * 1000) per component, as longs.
    * Integer arithmetic makes downstream scores exactly reproducible by
    * any engine (the oracle), and is the standard memory/bandwidth
    * reduction for the first ANN pass. Every centroid table and codebook
    * in this object lives at this one scale.
    */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000).cast("long"))

  /** Integer dot product of two quantized vectors (exact; codegen'd). */
  def dotQ(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ArrayDot.longDot(a, b)

  /** Every (vector, centroid) pair scored by quantized dot product and
    * ranked per vector, best first (ties -> lowest centroid id):
    * (id, qv, centroid_id, cv, score, rank). `qcentroids` is small and
    * broadcast.
    */
  private def rankByDot(
      vectors: DataFrame,
      qcentroids: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("centroid_id").asc)
    v.crossJoin(broadcast(qcentroids.select(col("centroid_id"), col("cv"))))
      .withColumn("score", dotQ(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
  }

  /** IVF-style coarse assignment: each vector's nearest centroid by
    * quantized dot product (ties -> lowest centroid id). Returns
    * (id, centroid_id, score), one row per id. At scale this bucket id
    * becomes the partition/join key for probing (see ivfIndex).
    *
    * `qcentroids` is (centroid_id, cv: array<long>) at the quantize()
    * scale — what trainCentroids produces. Trained centroids are integer
    * means, so they are never re-quantized from a float view; a table of
    * raw seed rows is trainCentroids(..., iters = 0).
    */
  def assignToCentroids(
      vectors: DataFrame,
      qcentroids: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame =
    rankByDot(vectors, qcentroids, idCol, vecCol)
      .filter(col("rank") <= 1)
      .select("id", "centroid_id", "score")

  /** Per-subspace slices of a quantized vector: m rows (idOut, sub_id, sv)
    * per input row. Slice width derives from the vector's own length so
    * the same helper serves any dimensionality.
    */
  private def subVectors(
      df: DataFrame, idCol: String, vecCol: String, m: Int, idOut: String): DataFrame =
    slicesQ(df.select(col(idCol).as(idOut), quantize(col(vecCol)).as("__qv")),
      Seq(idOut), "__qv", m)

  /** Per-subspace slices of an ALREADY-QUANTIZED long-array column,
    * keeping `keep` passthrough columns: m rows (keep..., sub_id, sv)
    * per input row.
    */
  private def slicesQ(df: DataFrame, keep: Seq[String], vecCol: String, m: Int): DataFrame =
    df.withColumn("__d", size(col(vecCol)) / m)
      .select(keep.map(col) :+ explode(sequence(lit(0), lit(m - 1))).as("sub_id")
        :+ col(vecCol) :+ col("__d"): _*)
      .withColumn("sv", slice(col(vecCol), col("sub_id") * col("__d") + 1, col("__d")))
      .select(keep.map(col) :+ col("sub_id").cast("long").as("sub_id") :+ col("sv"): _*)

  /** Integer squared L2 distance between two quantized slices (exact).
    * Codegen'd custom expression with the SAME accumulation as the HOF
    * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)` it
    * replaced — the k-means/PQ hot kernel (HOFs drop out of whole-stage
    * codegen and allocate per element).
    */
  def sqDistQ(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ArrayDot.longSqDist(a, b)

  /** Lloyd's k-means iterations over quantized vectors — the training
    * half the reference-free ANN/SemDeDup family needs (init alone is
    * not a clustering). Runs any number of INDEPENDENT k-means problems
    * at once keyed by `grp` (one per PQ subspace, or a single lit(0)
    * group for whole-vector training).
    *
    * Exact arithmetic end-to-end so a SQL oracle reproduces the trained
    * centroids bit-for-bit on any engine:
    *   - assignment: integer squared-L2 argmin, ties -> lowest
    *     centroid_id (a map-side-combinable min(struct) aggregate, no
    *     window);
    *   - update: per-dimension floor(mean) of the members' quantized
    *     coords — an exact long sum then ONE IEEE double divide + floor,
    *     identical on every engine (never a float running sum). Empty
    *     clusters drop out (both engines agree).
    *
    * Scale shape: centroids are k·dims longs — always broadcast; each
    * iteration is one narrow map over the corpus + two partial-aggregated
    * shuffles (argmin, then per-(centroid,dim) mean). The corpus frame is
    * lazily checkpointed once (it feeds every iteration), and each
    * iteration's centroids are checkpointed so iteration i's plan does
    * not re-run iterations 1..i-1 (the classic iterative-lineage trap).
    *
    * @param vectors (grp, id, qv: array<long>)
    * @param init    (grp, centroid_id, cv: array<long>)
    * @return        (grp, centroid_id, cv) after `iters` Lloyd steps
    */
  def lloydIterate(vectors: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    val v = vectors.localCheckpoint(false)
    var cents = init
    for (_ <- 1 to iters) {
      // the vector rides THROUGH the argmin (first() over the k
      // identical copies the broadcast join expands per id — exact) so
      // the update step needs no join back to `v`: round 18 shaved each
      // iteration from 4 exchanges (argmin agg, v re-exchange for the
      // join, per-dim agg, per-centroid agg) to 2 — same rows, same
      // bytes (the old join shuffled the same qv payload), two fewer
      // barriers (guide §2.4)
      val assigned = v.join(broadcast(cents), Seq("grp"))
        .withColumn("d", sqDistQ(col("qv"), col("cv")))
        .groupBy("grp", "id")
        .agg(min(struct(col("d"), col("centroid_id"))).as("best"),
          first(col("qv")).as("qv"))
        .select(col("grp"), col("best.centroid_id").as("centroid_id"), col("qv"))
      // ONE exchange for both update aggregations: hash(grp, centroid_id)
      // clusters every (grp, centroid_id, pos) group AND every
      // (grp, centroid_id) group, so the per-dim mean and the vector
      // reassembly reuse the same partitioning
      cents = assigned
        .repartition(col("grp"), col("centroid_id"))
        .select(col("grp"), col("centroid_id"), posexplode(col("qv")).as(Seq("pos", "val")))
        .groupBy("grp", "centroid_id", "pos")
        .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
        .withColumn("c", floor(col("s").cast("double") / col("n")).cast("long"))
        .groupBy("grp", "centroid_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("grp"), col("centroid_id"),
          transform(col("pc"), x => x.getField("c")).as("cv"))
        // k x dims longs: one block, not shuffle.partitions blocks — the
        // per-iteration checkpoint barrier is otherwise pure scheduling
        // overhead on a tiny frame
        .coalesce(1)
        .localCheckpoint(false)
    }
    cents
  }

  /** Whole-vector k-means training: quantize, seed from `initIds` (the
    * id set whose vectors become iteration-0 centroids, keeping their
    * ids as centroid ids), run `iters` Lloyd steps. Returns
    * (centroid_id, cv) at the quantize() scale — feed to
    * assignToCentroids / ivfIndex / ivfTopKOnIndex. With iters = 0 the
    * result is the quantized seed rows themselves.
    */
  def trainCentroids(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      initIds: DataFrame,
      iters: Int
  ): DataFrame = {
    val v = vectors.select(lit(0L).as("grp"), col(idCol).as("id"),
      quantize(col(vecCol)).as("qv"))
    val init = v.join(initIds.select(col(idCol).as("id")).distinct(), Seq("id"))
      .select(col("grp"), col("id").as("centroid_id"), col("qv").as("cv"))
    lloydIterate(v, init, iters).select("centroid_id", "cv")
  }

  /** Per-subspace PQ codebook training: one independent k-means per
    * subspace (grp = sub_id), seeded from `initIds`' slices. Returns
    * (sub_id, code, cv) — feed to pqEncode / pqAdcTopK. This is the
    * training half of Jégou et al.'s PQ (the codebook is per-subspace
    * k-means, not a row sample). With iters = 0 the codebook is the
    * seed rows' quantized slices, each keeping its row id as its code.
    */
  def trainPqCodebooks(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      initIds: DataFrame,
      iters: Int
  ): DataFrame = {
    val v = subVectors(vectors, idCol, vecCol, m, "id")
      .select(col("sub_id").as("grp"), col("id"), col("sv").as("qv"))
    val init = v.join(initIds.select(col(idCol).as("id")).distinct(), Seq("id"))
      .select(col("grp"), col("id").as("centroid_id"), col("qv").as("cv"))
    lloydIterate(v, init, iters)
      .select(col("grp").as("sub_id"), col("centroid_id").as("code"), col("cv"))
  }

  /** Product-quantization encode (the PQ half of IVF-PQ, Jégou et al.
    * TPAMI'11 shape): each vector splits into `m` contiguous subvectors;
    * each subvector maps to the id of its nearest per-subspace codeword
    * (integer squared-L2 on quantized components — exact, so the DuckDB
    * oracle reproduces codes bit-for-bit; ties break on ascending
    * codeword id via the struct min). `codebook` is (sub_id, code,
    * cv: array<long>), the form trainPqCodebooks produces. Returns
    * (id, sub_id, code, dist_q): m small codes replace the full float
    * vector.
    *
    * Scale shape: the codebook is tiny and broadcast; encode is a narrow
    * per-row map plus a per-(id, sub_id) argmin folded into ONE partial
    * aggregate (no window, no extra shuffle beyond the agg). The codes
    * table is what a 100 TB ANN index actually stores — m bytes per
    * vector instead of 4·dim.
    */
  def pqEncode(
      vectors: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int
  ): DataFrame = {
    val v = subVectors(vectors, idCol, vecCol, m, "id")
    val c = codebook.select(col("sub_id"), col("code"), col("cv"))
    v.join(broadcast(c), Seq("sub_id"))
      .withColumn("dist_q", sqDistQ(col("sv"), col("cv")))
      .groupBy("id", "sub_id")
      .agg(min(struct(col("dist_q"), col("code"))).as("best"))
      .select(
        col("id"), col("sub_id"),
        col("best.code").as("code"), col("best.dist_q").as("dist_q"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * full-precision; each corpus vector's distance is approximated by the
    * sum over subspaces of the (query subvector -> assigned codeword)
    * distance, read from a per-query lookup table. `codebook` is
    * (sub_id, code, cv) as for pqEncode. Exact integer arithmetic
    * end-to-end, so the approximation itself is oracle-reproducible.
    * Returns (q_id, r_id, adc_dist, rank), rank by ascending distance,
    * ties on ascending r_id.
    *
    * Scale shape: the LUT is |queries|·m·k rows — tiny, broadcast. The
    * corpus side touches only the CODES table (never the raw vectors):
    * one equi-join on (sub_id, code), one partial-aggregated sum per
    * (q_id, r_id), one top-k window on rows already reduced to one per
    * pair. This is the bandwidth win PQ exists for.
    */
  def pqAdcTopK(
      queries: DataFrame,
      corpus: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int
  ): DataFrame = {
    val codes = pqEncode(corpus, codebook, idCol, vecCol, m)
      .select(col("id").as("r_id"), col("sub_id"), col("code"))
    val qs = subVectors(queries, idCol, vecCol, m, "q_id")
    val cs = codebook.select(col("sub_id"), col("code"), col("cv"))
    val lut = qs.join(cs, Seq("sub_id"))
      .select(col("q_id"), col("sub_id"), col("code"), sqDistQ(col("sv"), col("cv")).as("dq"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("r_id").asc)
    codes.join(broadcast(lut), Seq("sub_id", "code"))
      .groupBy("q_id", "r_id")
      .agg(sum(col("dq")).as("adc_dist"))
      .where(col("q_id") =!= col("r_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "r_id", "adc_dist", "rank")
  }

  /** The IVF index BUILD: every corpus vector assigned to its nearest
    * centroid (assignToCentroids), with the vector itself stored INSIDE
    * its inverted list — (r_id, centroid_id, [lbl,] dv double[], nrm),
    * the way a real IVF store lays data out. `labelCol` = Some(name)
    * carries that column as `lbl` for label-filtered probes. Built once
    * (O(N·k) assignment — the standard IVF build cost) and probed by any
    * number of query batches through ivfTopKOnIndex; at scale the table
    * is persisted partitioned by centroid_id so a probe reads just its
    * partitions.
    */
  def ivfIndex(
      corpus: DataFrame,
      qcentroids: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: Option[String] = None
  ): DataFrame = {
    val vecs = corpus.select((col(idCol).as("r_id") +: labelCol.map(col(_).as("lbl")).toSeq)
      :+ asDouble(col(vecCol)).as("dv"): _*)
    assignToCentroids(corpus, qcentroids, idCol, vecCol)
      .select(col("id").as("r_id"), col("centroid_id"))
      .join(vecs, Seq("r_id"))
      .withColumn("nrm", l2Norm(col("dv")))
  }

  /** IVF probe-and-refine ANN search over an ivfIndex: each query probes
    * its `nprobe` nearest buckets (quantized dot, ties -> lowest centroid
    * id) and refines with EXACT cosine over only those buckets' members,
    * self excluded. Approximate by construction (recall < 1 when a true
    * neighbor lives in an unprobed bucket) but fully deterministic: the
    * coarse phase is integer math, refine tie-breaks on ref id. Returns
    * (q_id, r_id, cos_sim, rank). `qcentroids` must be the table the
    * index was built with.
    *
    * The vectors live inside the index, so a probe joins no corpus frame:
    * per-query work is bounded by probed-bucket sizes, never the corpus.
    *
    * `nprobe` = 0 (the default, every serving query) derives the depth
    * FROM the quantizer: nprobe = ceil(sqrt(k_centroids)), arriving as a
    * broadcast 1-row aggregate of the centroid table — no driver action,
    * no constant to retune per corpus. With the √N-centroid quantizer
    * this keeps the probed fraction √k/k = k^(-1/2) (the FAISS nprobe~√k
    * sizing rule): per-query refine cost is nprobe·(N/k) = N^(3/4) —
    * sublinear — while at oracle scales the probed fraction stays close
    * to a quarter of the corpus so measured recall holds (q131 is the
    * monitor). On near-uniform vectors recall at a shrinking probed
    * fraction decays with N — inherent to one-shot bucketed ANN (see
    * NnDescent's scaladoc for the measured wall); real clustered
    * embeddings are the favourable case. nprobe > 0 pins an explicit
    * depth (q180's vector leg; ScaleProbe ivf-sweep's depth→recall
    * curve).
    *
    * `labelCol` = Some(name) (the index built with a label) keys the
    * bucket join on (centroid_id, label) — FILTERED ANN over the same
    * index. The filter is part of the BUCKET KEY, not a post-filter on
    * the top-k: post-filtering an unfiltered top-k returns < k (or zero)
    * results whenever the label is rare in the probed buckets, while the
    * composite key partitions each inverted list by label so candidates
    * are right by construction — at 100 TB the difference between
    * k·nprobe useful candidates and a recall cliff on selective
    * predicates.
    */
  def ivfTopKOnIndex(
      queries: DataFrame,
      index: DataFrame,
      qcentroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      labelCol: Option[String] = None,
      nprobe: Int = 0
  ): DataFrame = {
    val baseProbes = probes(queries, qcentroids, idCol, vecCol, nprobe)
    val (probed, joinKeys) = labelCol match {
      case Some(lc) => (
        baseProbes
          .join(queries.select(col(idCol).as("q_id"), col(lc).as("lbl")), Seq("q_id"))
          .select(col("q_id"), col("centroid_id"), col("lbl")),
        Seq("centroid_id", "lbl"))
      case None => (baseProbes, Seq("centroid_id"))
    }
    val q = queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_nrm", l2Norm(col("q_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("r_id").asc)
    // probes are query-batch-sized (|queries| x ~sqrt(k) rows), never
    // corpus-sized — broadcasting them turns the bucket join into a
    // BroadcastHashJoin, so the index side is never exchanged per
    // batch (measured at the 25x corpus: q194 11.7 -> 9.1 s, 4.5
    // ms/query). Writing the index partitionBy(centroid_id) and
    // letting DPP prune the scan to the probed directories was
    // measured a net LOSS at this scale (listing + per-batch pruning
    // subquery > bytes saved); it becomes the right knob only when an
    // inverted list outgrows what a full scan can stream.
    broadcast(probed)
      .join(index, joinKeys)
      .where(col("q_id") =!= col("r_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos_sim", dot(col("q_vec"), col("dv")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "r_id", "cos_sim", "rank")
  }

  /** Probe set (q_id, centroid_id): each query's top-`nprobe` centroids,
    * the depth arriving as a broadcast 1-row aggregate of the centroid
    * table — ceil(sqrt(k)) when `nprobe` = 0.
    */
  private def probes(
      queries: DataFrame,
      qcentroids: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int
  ): DataFrame = {
    val npRow =
      if (nprobe > 0) qcentroids.agg(lit(nprobe.toLong).as("np"))
      else qcentroids.agg(ceil(sqrt(count(lit(1)))).cast("long").as("np"))
    rankByDot(queries, qcentroids, idCol, vecCol)
      .crossJoin(broadcast(npRow))
      .filter(col("rank") <= col("np"))
      .select(col("id").as("q_id"), col("centroid_id"))
  }

  /** L2 (squared-distance) ranks against trained centroids — the coarse
    * quantizer IVF-PQ needs (residual magnitude is defined by the L2
    * assignment, exactly the Lloyd assignment function). Returns
    * (id, centroid_id, d) with `nprobe` rows per id, ties -> lowest
    * centroid_id.
    */
  private def centroidRanksL2(
      vectors: DataFrame,
      qcentroids: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int
  ): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
    val scored = v
      .crossJoin(broadcast(qcentroids.select(col("centroid_id"), col("cv"))))
      .withColumn("d", sqDistQ(col("qv"), col("cv")))
    val w = Window.partitionBy("id").orderBy(col("d").asc, col("centroid_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= nprobe)
      .select("id", "centroid_id", "d")
  }

  /** Residuals qv - cv of every vector from each of its `nprobe` nearest
    * (L2) coarse cells: (idOut, centroid_id, rv), integer subtraction —
    * exact. `cents` is (centroid_id, cv).
    */
  private def residuals(
      vectors: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      idOut: String
  ): DataFrame =
    centroidRanksL2(vectors, cents, idCol, vecCol, nprobe)
      .join(broadcast(cents), Seq("centroid_id"))
      .join(vectors.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv")), Seq("id"))
      .select(col("id").as(idOut), col("centroid_id"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("rv"))

  /** The TRAIN half of ivfPqAdcTopK, split out so a model registry can
    * persist the artifact: residuals of `trainVecs` from their L2-assigned
    * coarse cell, then one independent k-means per subspace over those
    * residuals, seeded from `codebookInitIds`' residual slices. Returns
    * (sub_id, code, cbv) — ivfPqAdcTopK's `codebook`. Residuals are
    * per-row against the broadcast centroid set, so training on a sample
    * frame yields bit-identical codebooks to training on the sample
    * within the full corpus.
    */
  def trainResidualCodebooks(
      trainVecs: DataFrame,
      qcentroids: DataFrame,
      codebookInitIds: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      iters: Int
  ): DataFrame = {
    val cents = qcentroids.select(col("centroid_id"), col("cv"))
    val rs = slicesQ(residuals(trainVecs, cents, idCol, vecCol, 1, "id"),
        Seq("id", "centroid_id"), "rv", m)
      .localCheckpoint(false) // feeds the seed join AND the iterate input
    lloydIterate(
      rs.select(col("sub_id").as("grp"), col("id"), col("sv").as("qv")),
      rs.join(codebookInitIds.select(col(idCol).as("id")).distinct(), Seq("id"))
        .select(col("sub_id").as("grp"), col("id").as("centroid_id"), col("sv").as("cv")),
      iters)
      .select(col("grp").as("sub_id"), col("centroid_id").as("code"), col("cv").as("cbv"))
  }

  /** Full IVF-PQ with RESIDUAL coding (Jégou et al. TPAMI'11, the shape
    * FAISS ships as IndexIVFPQ): corpus vectors L2-assign to a trained
    * coarse centroid and are encoded as the residual qv - cv (integer
    * subtraction — exact) against `codebook`, the per-subspace codebooks
    * trainResidualCodebooks fits ON THE RESIDUALS, which is what makes PQ
    * distances sharp (residuals are small and centered, raw vectors are
    * not); a query probes its `nprobe` nearest coarse cells and scores
    * each member from a per-(query, probed-cell) LUT over the query's
    * OWN residual in that cell. Everything is integer/floor arithmetic,
    * so the full train->encode->search pipeline is oracle-reproducible
    * bit-for-bit.
    *
    * Returns (q_id, r_id, adc_dist, rank), rank ascending by approximate
    * distance, ties -> ascending r_id.
    *
    * Scale shape: coarse centroids and codebooks are tiny and broadcast;
    * the corpus is touched once to assign+encode (narrow maps + one
    * argmin aggregate); search joins the m-codes table against a
    * broadcast LUT of |queries|*nprobe*m*k' rows on
    * (centroid_id, sub_id, code) — bucket membership rides the coarse
    * id in the join key, so only probed cells' members are scored.
    */
  def ivfPqAdcTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qcentroids: DataFrame,
      codebook: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val cents = qcentroids.select(col("centroid_id"), col("cv"))
    val cb = codebook.select(col("sub_id"), col("code"), col("cbv"))
    // encode: nearest residual codeword per (vector, subspace)
    val codes = slicesQ(residuals(corpus, cents, idCol, vecCol, 1, "id"),
        Seq("id", "centroid_id"), "rv", m)
      .join(broadcast(cb), Seq("sub_id"))
      .withColumn("dq", sqDistQ(col("sv"), col("cbv")))
      .groupBy("id", "centroid_id", "sub_id")
      .agg(min(struct(col("dq"), col("code"))).as("best"))
      .select(col("id").as("r_id"), col("centroid_id"), col("sub_id"),
        col("best.code").as("code"))
    // query-side: residual per PROBED cell -> LUT against the codebooks
    val lut = slicesQ(residuals(queries, cents, idCol, vecCol, nprobe, "q_id"),
        Seq("q_id", "centroid_id"), "rv", m)
      .join(cb, Seq("sub_id"))
      .select(col("q_id"), col("centroid_id"), col("sub_id"), col("code"),
        sqDistQ(col("sv"), col("cbv")).as("dq"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("r_id").asc)
    codes.join(broadcast(lut), Seq("centroid_id", "sub_id", "code"))
      .where(col("q_id") =!= col("r_id"))
      .groupBy("q_id", "r_id")
      .agg(sum(col("dq")).as("adc_dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "r_id", "adc_dist", "rank")
  }
}
