package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, HeurFuzz, NnDescent, Similarity}
import org.apache.spark.sql.graft.{CheckpointStats, Narrow}

/** Builder-local measurement harness behind SCALE.md's at-scale rows —
  * the numbers the bench suite cannot produce: same-JVM paired A/Bs
  * (the only trustworthy comparison on this drifting host; see SCALE.md
  * round-13 second wave) and quality audits that need a brute-force
  * truth pass too expensive for the per-round oracle gate. Subcommands:
  *
  *   nnd-ab <table-dir>       knnGraph build, shipped budget (narrow
  *                            regime when vectors and graph fit it) vs
  *                            the forced-shuffle regime (budget pinned
  *                            to 0), interleaved B S B S in one
  *                            pinned-heap JVM
  *   nnd-rounds <table-dir> [rounds=8] [k=NndK] [cap=NndCap]
  *                            one NN-Descent build at (k, cap) with
  *                            recall@3 vs sampled exact truth, wall time,
  *                            spill and shuffle write after EVERY round
  *                            (the autoIters calibration curve)
  *   ivf-quality <table-dir>  recall@3/MRR of the q179 filtered-ANN
  *                            consumer per label-frequency band against
  *                            exact same-label truth, the q180 vector
  *                            leg's recall@10, and q180's fused ranking
  *                            vs a fusion with an EXACT vector leg
  *   ivf-sweep <table-dir>    recall@3 (unfiltered and label-filtered)
  *                            and wall per explicit probe depth around
  *                            the √N-IVF serving path's auto nprobe
  *   upsert-quality <table-dir>
  *                            recall of the q203 upserted graph vs the
  *                            full rebuild and vs sampled exact truth,
  *                            both wall times, and a 2-4 round sweep
  *   groups-ab [pairs...]     resolveGroups on synthetic long chains at
  *                            each pair count (default 1M and 3.99M,
  *                            just under the old 4M row bound): the
  *                            shipped entry point (narrow regime) vs the
  *                            forced shuffle loop, interleaved N S N S
  *                            in one JVM
  *   screen-ab [docs...]      the exact containment screen on synthetic
  *                            corpora of each doc count (default 1,000
  *                            and 3,600 docs, ~0.55M and ~2.0M postings,
  *                            just under the old 2M bound): build and
  *                            per-batch probe times of the shipped entry
  *                            point (narrow regime) vs the forced shuffle
  *                            regime, interleaved N S N S in one JVM
  *
  *   match-ab <table-dir> [QxW...]
  *                            HeurFuzz.matchTable (K 10, cutoff 70, as
  *                            q50) at each grid cell: Q queries (the
  *                            lowercased names of the parts with
  *                            p_partkey <= Q, q10's scan, one partition
  *                            on a one-file table)
  *                            against W 40-byte windows of every
  *                            document (default 10x1, 10x32, 200x1,
  *                            2000x1: 5k or 160k refs at sf0.1);
  *                            the shipped entry point (narrow regime) vs
  *                            the forced cross join, interleaved N S N S
  *                            in one JVM
  *
  * The four A/Bs force the shuffle arm with Narrow.withBudget(0), and
  * each narrow arm prints the driver's used heap around its build (see
  * heapAround): the measurement behind the Narrow regimes' peak factors.
  *
  * Prints one JSON line per subcommand (the Bench convention). Extends
  * RegistryBase so the probes run the SAME constants and helpers the
  * registry queries run — a probe that re-derives k or the df stop cut
  * by hand would audit a config nobody ships.
  */
object ScaleProbe extends RegistryBase {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    // SPARK_GRAFT_SHUFFLE_PARTS > cpus shrinks PER-TASK state: a
    // shuffle-regime bag sort's transient disk is (concurrent tasks ×
    // per-task spill), and per-task spill scales with rows/partition —
    // at h120's 2.9B-row round-0 bag, 32 partitions put ~90M rows under
    // each local sort (≈ 2.7 GB spill/task × 28 concurrent > the box's
    // disk) where 256 partitions keep each sort near-memory-resident.
    // On a real cluster this is just "don't undersize
    // spark.sql.shuffle.partitions for the biggest stage". (The 60 s
    // ContextCleaner sweep these builds also need is a SparkContext
    // conf, so tools/run_scale_probe.sh passes it as a -D flag.)
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    args(0) match {
      case "nnd-ab"         => nndAb(spark, args(1))
      case "nnd-rounds"     => nndRounds(spark, args(1),
        if (args.length > 2) args(2).toInt else 8,
        if (args.length > 3) args(3).toInt else NndK,
        if (args.length > 4) args(4).toInt else NndCap)
      case "ivf-quality"    => ivfQuality(spark, args(1))
      case "ivf-sweep"      => ivfSweep(spark, args(1))
      case "upsert-quality" => upsertQuality(spark, args(1))
      case "groups-ab"      => groupsAb(spark,
        if (args.length > 1) args.drop(1).map(_.toLong).toSeq
        else Seq(1000000L, 3990000L))
      case "screen-ab"      => screenAb(spark,
        if (args.length > 1) args.drop(1).map(_.toLong).toSeq else Seq(1000L, 3600L))
      case "match-ab"       => matchAb(spark, args(1),
        if (args.length > 2) args.drop(2).toSeq else Seq("10x1", "10x32", "200x1", "2000x1"))
      case other            => sys.error(s"unknown subcommand: $other")
    }
    spark.stop()
  }

  /** At-scale twin of GraphUpsertSpec's sf0.001 gate: recall@KnnGraphK of
    * the q203 upserted graph against the FULL NN-Descent REBUILD on the
    * merged corpus at the shipped config, plus both wall times — the
    * cheap-maintenance-vs-rebuild trade stated with its quality cost on
    * the same corpus it was measured on.
    */
  private def upsertQuality(s: SparkSession, dir: String): Unit = {
    def edges(df: DataFrame) =
      df.filter(col("rank") <= KnnGraphK).select("src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // warm the base-graph artifact UNTIMED first: the production shape
    // is "graph exists, batch arrives", so the maintenance cost to
    // report is the warm upsert, not base-build + upsert
    SparkEntry.queries("q203_knn_graph_upsert")(s, dir)
      .write.format("noop").mode("overwrite").save()
    reset(s)
    val t0 = System.nanoTime()
    val up = edges(SparkEntry.queries("q203_knn_graph_upsert")(s, dir))
    val tUp = (System.nanoTime() - t0) / 1e9
    reset(s)
    val t1 = System.nanoTime()
    val rebuild = edges(NnDescent.knnGraph(
      rd(s, dir, "embeddings"), "vec_id", "embedding",
      k = 0, iters = 0, cap = 0))
    val tRb = (System.nanoTime() - t1) / 1e9
    val rec = if (rebuild.isEmpty) 1.0 else (up & rebuild).size.toDouble / rebuild.size
    // SAMPLED EXACT TRUTH (1-in-50 queries, full corpus scan per query):
    // on the near-uniform synthetic corpus the 3-round rebuild is itself
    // an approximation, so "recall vs rebuild" alone cannot distinguish
    // "upsert is bad" from "both are far from exact and disagree" —
    // anchor both against exact before concluding anything.
    val e = rd(s, dir, "embeddings")
    val exact = edges(Similarity.cosineTopK(
        e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", KnnGraphK.toInt)
      .select(col("q_id").as("src"), col("r_id").as("dst"), col("rank")))
    val nb = graphUpsertSplit(e).collect()(0)
    val nbase = nb.getLong(1)
    def vsExact(g: Set[(Long, Long)], newOnly: Boolean) = {
      val t = if (newOnly) exact.filter(_._1 >= nbase) else exact
      if (t.isEmpty) 1.0 else (g & t).size.toDouble / t.size
    }
    // rounds sweep: does the gap to the rebuild close with more
    // incremental rounds (log-N mixing), and at what cost?
    val arrivals = e.crossJoin(broadcast(graphUpsertSplit(e)))
      .filter(col("vec_id") >= col("nbase")).select("vec_id", "embedding")
    val baseGraph = nndGraphBase(s, dir)
    val sweep = (2 to 4).map { r =>
      reset(s)
      val t2 = System.nanoTime()
      val g = edges(NnDescent.upsertGraph(baseGraph, e, arrivals,
        "vec_id", "embedding", k = 0, rounds = r, cap = 0))
      val w = (System.nanoTime() - t2) / 1e9
      s""""rounds_$r":{"recall_vs_rebuild":${"%.4f".format(if (rebuild.isEmpty) 1.0 else (g & rebuild).size.toDouble / rebuild.size)},""" +
        s""""recall_vs_exact":${"%.4f".format(vsExact(g, newOnly = false))},""" +
        s""""new_node_recall_vs_exact":${"%.4f".format(vsExact(g, newOnly = true))},"wall_s":${"%.1f".format(w)}}"""
    }.mkString(",")
    println(
      s"""{"probe":"upsert_quality","n_edges_rebuild":${rebuild.size},"recall_vs_rebuild":${"%.4f".format(rec)},""" +
        s""""upsert_s":${"%.1f".format(tUp)},"rebuild_s":${"%.1f".format(tRb)},""" +
        s""""rebuild_recall_vs_exact":${"%.4f".format(vsExact(rebuild, newOnly = false))},""" +
        s""""rebuild_new_node_recall_vs_exact":${"%.4f".format(vsExact(rebuild, newOnly = true))},""" +
        s""""upsert_recall_vs_exact":${"%.4f".format(vsExact(up, newOnly = false))},""" +
        s""""upsert_new_node_recall_vs_exact":${"%.4f".format(vsExact(up, newOnly = true))},""" +
        s"""$sweep}""")
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** An A/B arm: `f` with the budget pinned to 0 for the "shuffle" arm;
    * any other arm runs the shipped budget under heapAround.
    */
  private def arm[T](regime: String)(f: => T): T =
    if (regime == "shuffle") Narrow.withBudget(0)(f) else heapAround(f)

  /** The last heapAround reading, as a JSON field. */
  private var heap = ""

  /** `f`, recording in `heap` the driver's used heap around it, in MB:
    * after a GC before it (base), the most a 1 ms sampler read while it
    * ran (peak), and after a GC once it ends (after). The sampled peak
    * includes garbage not yet collected, so the probes that measure it
    * pin a small young generation (SCALE.md); (peak - base) over a
    * regime's declared bytes is its peak factor.
    */
  private def heapAround[T](f: => T): T = {
    val rt = Runtime.getRuntime
    def used = rt.totalMemory - rt.freeMemory
    System.gc()
    val base = used
    val peak = new java.util.concurrent.atomic.AtomicLong(base)
    val sampler = new Thread(() =>
      try while (true) { peak.accumulateAndGet(used, math.max); Thread.sleep(1) }
      catch { case _: InterruptedException => () })
    sampler.start()
    val out = try f finally { sampler.interrupt(); sampler.join() }
    System.gc()
    heap = s""""heap_mb":{"budget":${Narrow.budget >> 20},"base":${base >> 20},""" +
      s""""peak":${peak.get >> 20},"after":${used >> 20}}"""
    out
  }

  private def reset(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Same-JVM interleaved A/B of the two knnGraph regimes: the
    * "broadcast" arm runs the shipped budget (narrow rounds when the
    * vectors and their graph fit it, else the shuffle regime) and the
    * "shuffle" arm pins the budget to 0 (the documented 100 TB
    * fallback: stats-reset sort-merge joins everywhere).
    * Interleaving B S B S samples both regimes early and late in the
    * JVM's life, so codegen/heap warm-up cannot masquerade as a regime
    * difference.
    */
  private def nndAb(s: SparkSession, dir: String): Unit = {
    val e = rd(s, dir, "embeddings")
    val n = e.count()
    val itersUsed = NnDescent.autoIters(n) // the shipped derived counts
    val kUsed = NnDescent.autoK(n)
    def build(regime: String): Double = { reset(s); timed { arm(regime) {
      NnDescent.knnGraph(e, "vec_id", "embedding", k = 0, iters = 0, cap = 0)
        .write.format("noop").mode("overwrite").save()
    } } }
    // spill + shuffle-write bytes per arm: round 15's shuffle arms DIED
    // on disk with no number attached — the A/B's job now includes
    // recording what each regime writes (the r15 verdict's done-bar)
    val metrics = new org.apache.spark.sql.graft.TaskMetricsAgg(s.sparkContext)
    var rows = Vector.empty[(String, Double, Long, Long)]
    for (regime <- Seq("broadcast", "shuffle", "broadcast", "shuffle")) {
      metrics.snapshotAndReset()
      val w = build(regime)
      val (spill, shuf) = metrics.snapshotAndReset()
      rows :+= ((regime, w, spill, shuf))
    }
    def arr(r: String) =
      rows.filter(_._1 == r).map(v => "%.1f".format(v._2)).mkString("[", ",", "]")
    def mb(r: String, f: ((String, Double, Long, Long)) => Long) =
      rows.filter(_._1 == r).map(v => (f(v) / (1L << 20)).toString).mkString("[", ",", "]")
    println(s"""{"probe":"nnd_ab","n_vecs":$n,"k":$kUsed,"iters":$itersUsed,"cap":${NnDescent.autoCap(kUsed)},""" +
      s""""broadcast_s":${arr("broadcast")},"shuffle_s":${arr("shuffle")},""" +
      s""""broadcast_spill_mb":${mb("broadcast", _._3)},"shuffle_spill_mb":${mb("shuffle", _._3)},""" +
      s""""broadcast_shufwrite_mb":${mb("broadcast", _._4)},"shuffle_shufwrite_mb":${mb("shuffle", _._4)},""" +
      s"""$heap}""")
  }

  /** Same-JVM interleaved A/B of resolveGroups' two regimes (SCALE.md,
    * group resolution). The pairs are chains of ChainIds consecutive ids,
    * so the shuffle loop pays its full pointer-jumping round count. Each
    * arm reads the same cached pair frame and counts the distinct
    * keep_ids of its output, which must be one per chain.
    */
  private def groupsAb(s: SparkSession, sizes: Seq[Long]): Unit = {
    val ChainIds = 10000L
    for (m <- sizes) {
      val perChain = ChainIds - 1
      val pairs = s.range(m)
        .select((col("id") + col("id").divide(perChain).cast("long")).as("id_a"))
        .withColumn("id_b", col("id_a") + 1)
      val chains = (m + perChain - 1) / perChain
      val nIds = m + chains
      val docs = s.range(nIds).select(col("id").as("doc_id"))
      var rows = Vector.empty[(String, Double)]
      for (regime <- Seq("narrow", "shuffle", "narrow", "shuffle")) {
        // each arm starts from the cached inputs alone: an earlier arm's
        // checkpoint blocks would sit under the next one's heap reading
        reset(s)
        pairs.cache().count(); docs.cache().count()
        var groups = 0L
        val w = timed {
          val out = arm(regime)(Dedup.resolveGroups(docs, "doc_id", pairs))
          groups = out.select("keep_id").distinct().count()
        }
        require(groups == chains, s"$regime: $groups groups for $chains chains")
        rows :+= ((regime, w))
      }
      def arr(r: String) =
        rows.filter(_._1 == r).map(v => "%.1f".format(v._2)).mkString("[", ",", "]")
      println(s"""{"probe":"groups_ab","pairs":$m,"ids":$nIds,"chains":$chains,""" +
        s""""narrow_s":${arr("narrow")},"shuffle_s":${arr("shuffle")},$heap}""")
      reset(s)
    }
  }

  /** Same-JVM interleaved A/B of the exact containment screen's two
    * regimes (SCALE.md, containment screen). The corpus is `n` docs of 80
    * words drawn with a squared-uniform skew from 20,000 seeded random
    * lowercase words; the batch is 100 excerpts (a 150-char substring of
    * a corpus doc) and 100 fresh docs, probed at graftbench's width 5 and
    * t = 0.8. Each arm builds the index the way a streaming gate does
    * (the shuffle regime eager), then probes the same cached batch three
    * times; both arms must report the same container total, and the
    * shipped arm must have picked the narrow regime.
    */
  private def screenAb(s: SparkSession, sizes: Seq[Long]): Unit = {
    val rnd = new scala.util.Random(11)
    val vocab = typedLit(Seq.fill(20000)(
      Seq.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString))
    def words(n: Int, salt: String) = concat_ws(" ", transform(sequence(lit(0), lit(n - 1)), i => {
      val u = pmod(xxhash64(lit(salt), col("id"), i), lit(1000000L)).cast("double") / 1e6
      element_at(vocab, (u * u * 20000).cast("int") + 1)
    }))
    for (n <- sizes) {
      val corpus = s.range(n).select(col("id").as("doc_id"), words(80, "c").as("text"))
      val batch = s.range(200).select((col("id") + n).as("doc_id"),
        when(col("id") < 100, substring(words(80, "c"), 20, 150))
          .otherwise(words(30, "f")).as("text"))
      def warm(): Unit = { corpus.cache().count(); batch.cache().count() }
      warm()
      var rows = Vector.empty[(String, Double, Seq[Double])]
      var postings = 0L
      var found = Set.empty[Long]
      for (regime <- Seq("narrow", "shuffle", "narrow", "shuffle")) {
        System.gc()
        var index: Dedup.ContainmentScreenIndex = null
        val build = timed {
          index = arm(regime)(Dedup.containmentScreenIndex(corpus, "doc_id", "text", 5, eager = true))
        }
        require((regime == "narrow") == index.narrow.isDefined, s"$regime arm built the other regime")
        val probes = (0 until 3).map(_ => timed {
          val total = Dedup.incrementalContainmentScreenOnIndex(batch, index, "doc_id", "text", 5, 0.8)
            .agg(sum("n_containers")).head().getLong(0)
          found += total
        })
        if (postings == 0L) postings = index.postings.count()
        rows :+= ((regime, build, probes))
        reset(s)
        warm()
      }
      require(found.size == 1, s"the regimes disagree: container totals $found")
      def arr(r: String, f: ((String, Double, Seq[Double])) => Seq[Double]) =
        rows.filter(_._1 == r).flatMap(f).map("%.2f".format(_)).mkString("[", ",", "]")
      println(s"""{"probe":"screen_ab","docs":$n,"postings":$postings,"containers":${found.head},""" +
        s""""narrow_build_s":${arr("narrow", v => Seq(v._2))},"shuffle_build_s":${arr("shuffle", v => Seq(v._2))},""" +
        s""""narrow_probe_s":${arr("narrow", _._3)},"shuffle_probe_s":${arr("shuffle", _._3)},$heap}""")
      reset(s)
    }
  }

  /** Same-JVM interleaved A/B of matchTable's two regimes (SCALE.md, the
    * fuzzy match's narrow regime). The refs are cached once per cell, so
    * the arms differ only in the match; the query side stays an uncached
    * scan, so the narrow pass runs on the partitions the scan gives it.
    * (Part names repeat: sf0.1 has 64 distinct ones, so q50's distinct
    * names cannot make a 2,000-query cell.) Both arms must return the
    * same table.
    */
  private def matchAb(s: SparkSession, dir: String, cells: Seq[String]): Unit = {
    val docs = rd(s, dir, "documents")
    for (cell <- cells) {
      val Array(nq, nw) = cell.split("x").map(_.toInt)
      val queries = rd(s, dir, "part").filter(col("p_partkey") <= nq)
        .select(col("p_partkey").as("id"), lower(col("p_name")).as("term"))
      val refs = docs.select(col("doc_id"), col("text"), explode(sequence(lit(0), lit(nw - 1))).as("w"))
        .select((col("doc_id") * nw + col("w")).as("id"), substring(col("text"), lit(1) + col("w") * 7, lit(40)).as("term"))
        .cache()
      val nRefs = refs.count()
      var rows = Vector.empty[(String, Double)]
      var tables = Set.empty[Seq[String]]
      var tasks = 0
      for (regime <- Seq("narrow", "shuffle", "narrow", "shuffle")) {
        System.gc()
        rows :+= ((regime, timed { arm(regime) {
          val out = HeurFuzz.matchTable(queries, refs, HeurFuzz.Params(topK = 10, scoreCutoff = 70))
          if (regime == "narrow") tasks = out.queryExecution.toRdd.getNumPartitions
          tables += out.collect().map(_.mkString("\t")).sorted.toSeq
        } }))
      }
      require(tables.size == 1, s"the regimes disagree at $cell")
      def arr(r: String) = rows.filter(_._1 == r).map(v => "%.3f".format(v._2)).mkString("[", ",", "]")
      println(s"""{"probe":"match_ab","queries":${queries.count()},"refs":$nRefs,"narrow_tasks":$tasks,""" +
        s""""narrow_s":${arr("narrow")},"shuffle_s":${arr("shuffle")},$heap}""")
      refs.unpersist(blocking = true)
    }
  }

  /** Calibration curve behind autoIters (round-14 verdict item 1): ONE
    * incremental NN-Descent build at the shipped (k, cap), with
    * recall@KnnGraphK against SAMPLED EXACT truth (1-in-50 queries,
    * full-corpus scan each) measured after EVERY round — rounds 1..max
    * from a single NnDescent.descend walk (its per-round observer
    * reports), because round r's graph IS round r-1's plus one
    * iterateInc. The registry's derived round count is set from this
    * curve, not from the q196 audit (which certifies the recurrence on a
    * size-capped sample and is blind to round-count underscaling by
    * construction — the round-14 finding).
    */
  private def nndRounds(s: SparkSession, dir: String, maxRounds: Int,
      k: Int, cap: Int): Unit = {
    val e = rd(s, dir, "embeddings")
    val n = e.count()
    val vecs = CheckpointStats.freshCheckpoint(
      NnDescent.vecFrame(e, "vec_id", "embedding"))
    // exact-truth sample: ~1000 queries regardless of N (each query is a
    // full corpus scan, so the truth pass stays ~1000*N dots at any scale)
    val qMod = math.max(50L, n / 1000L)
    val exact = Similarity.cosineTopK(
        e.filter(col("vec_id") % qMod === 0), e, "vec_id", "embedding", KnnGraphK.toInt)
      .select("q_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(g: DataFrame): Double = {
      val got = g.filter(col("rank") <= KnnGraphK && col("src") % qMod === 0)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      if (exact.isEmpty) 1.0 else (got & exact).size.toDouble / exact.size
    }
    // the composed builders' own derivation (guards and slice count) and
    // their own round driver: the probe must exercise the plan the
    // engine ships, and the shipped default is the sliced plan that
    // survives, not the unsliced one that died at 600k
    val (_, dim) = NnDescent.vecStats(vecs)
    val p = NnDescent.buildParams(n, dim, k, cap)
    System.err.println(s"[nnd-rounds] n=$n k=${p.k} cap=${p.cap} slices=${p.slices} " +
      s"(budget=${NnDescent.DiskBudgetBytes / (1L << 30)}GB)")
    val metrics = new org.apache.spark.sql.graft.TaskMetricsAgg(s.sparkContext)
    val g0 = CheckpointStats.freshCheckpoint(NnDescent.initGraph(e, "vec_id", p.k))
    // eager rounds: each round's wall time is its own checkpoint job
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    metrics.snapshotAndReset()
    var t0 = System.nanoTime()
    NnDescent.descend(g0, vecs, p, 0 until maxRounds, eager = true, observe = { (t, _, g) =>
      val w = (System.nanoTime() - t0) / 1e9
      val (spill, shuf) = metrics.snapshotAndReset()
      val rec = recall(g)
      val r = t + 1
      System.err.println(f"[nnd-rounds] k=${p.k} cap=${p.cap} round $r recall3=$rec%.4f " +
        f"wall=$w%.1fs spill=${spill / (1L << 20)}MB shufwrite=${shuf / (1L << 20)}MB")
      rows += f"""{"round":$r,"recall3":$rec%.4f,"wall_s":$w%.1f,"spill_mb":${spill / (1L << 20)},"shufwrite_mb":${shuf / (1L << 20)},"auto_pick":${NnDescent.autoIters(n) == r}}"""
      // the recall pass is not the next round's cost
      metrics.snapshotAndReset()
      t0 = System.nanoTime()
    })
    println(s"""{"probe":"nnd_rounds","n_vecs":$n,"k":${p.k},"cap":${p.cap},"slices":${p.slices},"bcast_vecs":${p.narrow},"bcast_graph":${p.narrow},"rounds":[${rows.mkString(",")}]}""")
  }

  /** Quality record for the IVF consumers (round-13 verdict item 1):
    * q179's bucket key is (centroid_id, label), so rare labels inside
    * probed buckets can under-return harder than the unfiltered q131
    * sweep shows — this measures it per label-frequency band. q180's
    * vector leg is the cent8 ivfTopKOnIndex at nprobe = 2; its at-scale effect
    * on the FUSED ranking is what matters, so the probe swaps in an
    * exact vector leg and diffs the fusion.
    */
  private def ivfQuality(s: SparkSession, dir: String): Unit = {
    val e = rd(s, dir, "embeddings")

    // ---- q179 (filtered ANN) vs exact same-label truth ----------------
    val got179 = SparkEntry.queries("q179_ivf_filtered_topk")(s, dir)
      .select("q_id", "r_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_lbl"),
        Similarity.asDouble(col("embedding")).as("qv"))
      .withColumn("qn", Similarity.l2Norm(col("qv")))
    val c = e.select(col("vec_id").as("r_id"), col("label").as("r_lbl"),
        Similarity.asDouble(col("embedding")).as("rv"))
      .withColumn("rn", Similarity.l2Norm(col("rv")))
    val truth179 = c.join(broadcast(q),
        col("q_lbl") === col("r_lbl") && col("q_id") =!= col("r_id"))
      .withColumn("cos_sim",
        Similarity.dot(col("qv"), col("rv")) / (col("qn") * col("rn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("r_id").asc))
        .cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "r_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val labelN = e.groupBy("label").agg(count(lit(1)).as("cnt"))
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val qLbl = q.select("q_id", "q_lbl").collect()
      .map(r => r.getLong(0) -> String.valueOf(r.get(1))).toMap
    val perQ = qLbl.keys.toSeq.sorted.map { qid =>
      val truth = truth179.filter(_._1 == qid)
      val got = got179.filter(_._1 == qid).sortBy(_._3).map(_._2)
      val hit = truth.count(t => got.contains(t._2))
      val recall = if (truth.isEmpty) 1.0 else hit.toDouble / truth.length
      val top1 = truth.find(_._3 == 1L).map(_._2)
      val rr = top1.map(t => got.indexOf(t)).filter(_ >= 0)
        .map(i => 1.0 / (i + 1)).getOrElse(0.0)
      (qid, labelN(qLbl(qid)), recall, rr)
    }
    // label-frequency bands: terciles of the queries by their label's
    // corpus count (rare | mid | common)
    val sortedByFreq = perQ.sortBy(_._2)
    val bandOf = sortedByFreq.zipWithIndex.map { case (r, i) =>
      r._1 -> Seq("rare", "mid", "common")(math.min(2, 3 * i / sortedByFreq.length))
    }.toMap
    def agg(rows: Seq[(Long, Long, Double, Double)]) =
      if (rows.isEmpty) (0, 0.0, 0.0)
      else (rows.length, rows.map(_._3).sum / rows.length, rows.map(_._4).sum / rows.length)
    val bands = Seq("rare", "mid", "common").map { b =>
      val (nq, rec, mrr) = agg(perQ.filter(r => bandOf(r._1) == b))
      s""""$b":{"n":$nq,"recall3":${"%.3f".format(rec)},"mrr":${"%.3f".format(mrr)}}"""
    }.mkString(",")
    val (_, rec179, mrr179) = agg(perQ)
    val perQJson = perQ.map { case (qid, ln, rec, rr) =>
      s"""{"q":$qid,"label_n":$ln,"recall3":${"%.3f".format(rec)},"rr":${"%.3f".format(rr)}}"""
    }.mkString("[", ",", "]")

    // ---- q180 (hybrid RRF): IVF leg recall + fusion vs exact-leg fusion
    val queries180 = e.filter(col("vec_id") % Bm25QueryMod === 0)
    val exactVec = Similarity.cosineTopK(queries180, e, "vec_id", "embedding", 10)
      .select(col("q_id"), col("r_id").as("doc_id"), col("rank").as("rk_v"))
      .localCheckpoint(false) // feeds the leg recall AND the exact fusion
    val cents = trainedArtifact(s, dir, "cent8") {
      val (tr, init) = trainSample8(s, e)
      Similarity.trainCentroids(tr, "vec_id", "embedding", init, KmeansIters)
    }
    val ivfVec = Similarity.ivfTopKOnIndex(queries180,
        Similarity.ivfIndex(spread(s, e), cents, "vec_id", "embedding"), cents,
        "vec_id", "embedding", k = 10, nprobe = 2)
      .select(col("q_id"), col("r_id").as("doc_id"), col("rank").as("rk_v"))
    val exactSets = exactVec.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val ivfSets = ivfVec.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val legRecall = exactSets.toSeq.map { case (qid, t) =>
      if (t.isEmpty) 1.0 else (ivfSets.getOrElse(qid, Set.empty) & t).size.toDouble / t.size
    }
    val legRecall10 = if (legRecall.isEmpty) 1.0 else legRecall.sum / legRecall.length
    val hybrid = SparkEntry.queries("q180_hybrid_rrf")(s, dir)
      .select("q_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val text = SparkEntry.queries("q159_bm25_selective")(s, dir)
      .select(col("q_id"), col("doc_id"), col("rk").as("rk_t"))
    val exactFused = text.join(exactVec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000000L div (60 + rk_t)"), lit(0L))
          + coalesce(expr("1000000000L div (60 + rk_v)"), lit(0L)))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rank") <= 5)
      .select("q_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val qids = exactFused.map(_._1).distinct.sorted
    val fusionRows = qids.map { qid =>
      val ex = exactFused.filter(_._1 == qid).sortBy(_._3).map(_._2)
      val hy = hybrid.filter(_._1 == qid).sortBy(_._3).map(_._2)
      val overlap =
        if (ex.isEmpty) 1.0 else (ex.toSet & hy.toSet).size.toDouble / ex.length
      val top1 = ex.headOption == hy.headOption
      (overlap, top1)
    }
    val overlap5 =
      if (fusionRows.isEmpty) 1.0 else fusionRows.map(_._1).sum / fusionRows.length
    val top1Agree =
      if (fusionRows.isEmpty) 1.0 else fusionRows.count(_._2).toDouble / fusionRows.length

    println(
      s"""{"probe":"ivf_quality","n_vecs":${e.count()},""" +
        s""""q179":{"recall3":${"%.3f".format(rec179)},"mrr":${"%.3f".format(mrr179)},"bands":{$bands},"per_query":$perQJson},""" +
        s""""q180":{"n_queries":${qids.length},"vec_leg_recall10":${"%.3f".format(legRecall10)},"fused_overlap5":${"%.3f".format(overlap5)},"fused_top1_agree":${"%.3f".format(top1Agree)}}}""")
  }

  /** Probe-depth → recall curve for the √N-IVF serving family (round-15
    * verdict item 3): the rare-label revisit trigger is dead — label
    * frequency is not the failure axis — while absolute recall@3 sits
    * at ~0.37–0.53 at h10, and the keep-IVF decision had no numeric bar
    * under it. This sweeps EXPLICIT probe depths around the shipped
    * auto rule (nprobe = ceil(sqrt(k_centroids))) on the exact serving
    * path (ivfTopKOnIndex over the persisted self-contained
    * index), measuring recall@3 vs exact truth for the unfiltered
    * q43 shape AND the label-filtered q179 shape, plus per-depth wall —
    * the depth/recall/cost curve the serving bar is written against.
    * ~500 sampled queries so the truth pass stays ~500·N dots at any N.
    */
  private def ivfSweep(s: SparkSession, dir: String): Unit = {
    val e = rd(s, dir, "embeddings")
    val n = e.count()
    val kc = math.ceil(math.sqrt(n.toDouble)).toLong
    val autoNp = math.ceil(math.sqrt(kc.toDouble)).toInt
    val qMod = math.max(50L, n / 500L)
    val queries = e.filter(col("vec_id") % qMod === 0).localCheckpoint(true)
    val index = ivfSqrtIndex(s, dir)
    val cents = sqrtCentroids(s, dir)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(queries, e, "vec_id", "embedding", 3))
    // same-label exact truth (the q179 contract: top-3 among same-label
    // corpus vectors, self excluded)
    val q = queries.select(col("vec_id").as("q_id"), col("label").as("q_lbl"),
        Similarity.asDouble(col("embedding")).as("qv"))
      .withColumn("qn", Similarity.l2Norm(col("qv")))
    val c = e.select(col("vec_id").as("r_id"), col("label").as("r_lbl"),
        Similarity.asDouble(col("embedding")).as("rv"))
      .withColumn("rn", Similarity.l2Norm(col("rv")))
    val exactF = pairs(c.join(broadcast(q),
        col("q_lbl") === col("r_lbl") && col("q_id") =!= col("r_id"))
      .withColumn("cos_sim",
        Similarity.dot(col("qv"), col("rv")) / (col("qn") * col("rn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("r_id").asc)))
      .filter(col("rank") <= 3))
    def recall(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
      if (truth.isEmpty) 1.0 else (got & truth).size.toDouble / truth.size
    val depths = Seq(1, 2, 4, autoNp / 2, autoNp, 2 * autoNp, 4 * autoNp, 8 * autoNp)
      .filter(d => d >= 1 && d <= kc).distinct.sorted
    val rows = depths.map { np =>
      val t0 = System.nanoTime()
      val got = pairs(Similarity.ivfTopKOnIndex(
        queries, index, cents, "vec_id", "embedding", k = 3, nprobe = np))
      val w = (System.nanoTime() - t0) / 1e9
      val gotF = pairs(Similarity.ivfTopKOnIndex(
        queries, index, cents, "vec_id", "embedding", k = 3,
        labelCol = Some("label"), nprobe = np))
      val rec = recall(got, exact)
      val recF = recall(gotF, exactF)
      System.err.println(f"[ivf-sweep] nprobe=$np%3d (auto=$autoNp) recall3=$rec%.3f " +
        f"filtered=$recF%.3f wall=$w%.1fs probed_frac=${np.toDouble / kc}%.3f")
      f"""{"nprobe":$np,"recall3":$rec%.4f,"recall3_filtered":$recF%.4f,""" +
        f""""wall_s":$w%.1f,"probed_frac":${np.toDouble / kc}%.4f,"auto":${np == autoNp}}"""
    }.mkString(",")
    println(s"""{"probe":"ivf_sweep","n_vecs":$n,"k_centroids":$kc,"auto_nprobe":$autoNp,"n_queries":${queries.count()},"depths":[$rows]}""")
  }
}
