package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** NN-Descent's narrow regime (graft.operators.NnDescent.descend runs it
  * when the vectors and the graph fit the Narrow budget together): each
  * round is ONE narrow pass over the src ids — no shuffle, no window and
  * no sort over the N·cap² candidate bag.
  *
  * The vectors are collected and broadcast once per build. Each round
  * collects the current graph, derives its ρ-capped undirected adjacency
  * once on the driver, and broadcasts both as CSR arrays over dense
  * vector indices (all through Narrow). A task then walks its src ids: it
  * expands x → p → y
  * (Dong et al.'s local join), scores each distinct candidate with the
  * DoubleArrayDot accumulation and NnDescent.cosSim's null rules, and keeps
  * the k best by (cos_sim DESC NULLS LAST under Spark's double ordering,
  * dst ASC) with their `rank` and `is_new`.
  *
  * Row for row and bit for bit this is the shuffle regime's recurrence
  * (NnDescent.iterate + markNew at t = 0, iterateInc at t >= 1), with
  * the same round-salted md5 cap sample, the same new-leg rule and the
  * same -0.0/NaN normalisation the shuffle regime's final distinct
  * applies; NnDescentSpec's differential test compares the two round by
  * round. Preconditions, all met by every caller: vector ids are
  * distinct, every graph id has a vector, and the graph is an edge set.
  *
  * `apply(g, t)` returns (candidates, ranked) like the shuffle-regime
  * round functions: the ranked cut and, lazily, the round's distinct
  * scored candidate set from a second pass over the same broadcasts
  * (only the q196 audit's observer counts it). `release(cp, last)` hands
  * the round's graph broadcast, and after the last round the vectors',
  * to Narrow.releaseWith the round's checkpoint `cp`.
  */
final class NarrowRounds(vecs: DataFrame, k: Int, cap: Int) {
  require(k >= 1, "narrow rounds need k >= 1")
  private val spark = vecs.sparkSession
  private val sc = spark.sparkContext
  private val capN = if (cap > 0) cap else 2 * k

  private lazy val vectors: NarrowVectors = {
    val rows = Narrow.collect(vecs.select("vec_id", "dv", "nrm"), "nnd/vectors/collect") { it =>
      it.filter(!_.isNullAt(0)).map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getArray(1).toDoubleArray(),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toArray
    }.flatten.sortBy(_._1)
    val ids = rows.map(_._1)
    require(ids.indices.drop(1).forall(i => ids(i) > ids(i - 1)), "vector ids must be distinct")
    new NarrowVectors(ids, rows.map(_._2), rows.map(_._3))
  }
  private lazy val vectorsB: Broadcast[NarrowVectors] = Narrow.share(spark, vectors)
  private var graphB: Broadcast[NarrowGraph] = _

  def apply(g: DataFrame, t: Int): (DataFrame, DataFrame) = {
    graphB = Narrow.share(spark, graph(g, t))
    (pass(graphB, candidates = true), pass(graphB, candidates = false))
  }

  def release(cp: DataFrame, last: Boolean): Unit =
    Narrow.releaseWith(cp, (if (last) Seq(graphB, vectorsB) else Seq(graphB)): _*)

  private def index(id: Long): Int = {
    val i = java.util.Arrays.binarySearch(vectors.ids, id)
    require(i >= 0, s"graph id $id has no vector")
    i
  }

  /** The round's broadcast: out-edges of the current graph (with their
    * scores at t >= 1) and the ρ-capped undirected adjacency, whose
    * is_new flag is OR-merged over both directions. The cap keeps, per
    * node, the `capN` neighbours first by (md5_60("nndr_t_src_dst"),
    * dst) — the shuffle regime's row_number window.
    */
  private def graph(g: DataFrame, t: Int): NarrowGraph = {
    val scored = t > 0
    val cols = if (scored) Seq("src", "dst", "cos_sim", "is_new") else Seq("src", "dst")
    val parts = Narrow.collect(g.select(cols.map(g.col): _*), "nnd/graph/collect") { it =>
      val (src, dst) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long])
      val (cos, nul, nw) =
        (ArrayBuilder.make[Double], ArrayBuilder.make[Boolean], ArrayBuilder.make[Boolean])
      it.foreach { r =>
        src += r.getLong(0); dst += r.getLong(1)
        if (scored) {
          nul += r.isNullAt(2); cos += (if (r.isNullAt(2)) 0.0 else r.getDouble(2))
          nw += r.getBoolean(3)
        }
      }
      (src.result(), dst.result(), cos.result(), nul.result(), nw.result())
    }
    val src = Narrow.flat(parts.map(_._1)).map(index)
    val dst = Narrow.flat(parts.map(_._2)).map(index)
    val (cos, nul) = (Narrow.flat(parts.map(_._3)), Narrow.flat(parts.map(_._4)))
    val isNew = if (scored) Narrow.flat(parts.map(_._5)) else Array.fill(src.length)(true)
    val n = vectors.ids.length

    // out-edges, CSR by src
    val outStart = new Array[Int](n + 1)
    src.foreach(s => outStart(s + 1) += 1)
    for (s <- 0 until n) outStart(s + 1) += outStart(s)
    val fill = outStart.clone()
    val outDst = new Array[Int](src.length)
    val outCos = new Array[Double](if (scored) src.length else 0)
    val outNull = new Array[Boolean](if (scored) src.length else 0)
    for (e <- src.indices) {
      val at = fill(src(e)); fill(src(e)) += 1
      outDst(at) = dst(e)
      if (scored) { outCos(at) = cos(e); outNull(at) = nul(e) }
    }

    // distinct undirected pairs sorted by (a, b), flags OR-merged: key =
    // a << 32 | b << 1 | is_new (indices < 2^31)
    def key(a: Int, b: Int, f: Boolean) = (a.toLong << 32) | (b.toLong << 1) | (if (f) 1L else 0L)
    val keys = new Array[Long](2 * src.length)
    for (e <- src.indices) {
      keys(2 * e) = key(src(e), dst(e), isNew(e))
      keys(2 * e + 1) = key(dst(e), src(e), isNew(e))
    }
    java.util.Arrays.sort(keys)
    val (ua, ub, uf) = (ArrayBuilder.make[Int], ArrayBuilder.make[Int], ArrayBuilder.make[Boolean])
    var i = 0
    while (i < keys.length) {
      val pair = keys(i) >>> 1
      var f = false
      while (i < keys.length && (keys(i) >>> 1) == pair) { f |= (keys(i) & 1L) != 0; i += 1 }
      ua += (pair >>> 31).toInt; ub += (pair & 0x7fffffffL).toInt; uf += f
    }
    val (a, b, f) = (ua.result(), ub.result(), uf.result())

    // ρ-cap per node; a node within the cap keeps every neighbour (its
    // adjacency order does not matter), so only hubs pay the md5 ranks
    val undStart = new Array[Int](n + 1)
    val (nbr, nbrNew) = (ArrayBuilder.make[Int], ArrayBuilder.make[Boolean])
    var lo = 0
    while (lo < a.length) {
      var hi = lo
      while (hi < a.length && a(hi) == a(lo)) hi += 1
      val kept = if (hi - lo <= capN) lo until hi else {
        val srcId = vectors.ids(a(lo))
        // stable sort over dst-ascending entries: ties on the hash keep dst order
        (lo until hi).sortBy(e => Md5Long60.hash(
          UTF8String.fromString(s"nndr_${t}_${srcId}_${vectors.ids(b(e))}"))).take(capN)
      }
      kept.foreach { e => nbr += b(e); nbrNew += f(e) }
      undStart(a(lo) + 1) = kept.size
      lo = hi
    }
    for (s <- 0 until n) undStart(s + 1) += undStart(s)
    new NarrowGraph(t, outStart, outDst, outCos, outNull, undStart, nbr.result(), nbrNew.result())
  }

  private def pass(graphB: Broadcast[NarrowGraph], candidates: Boolean): DataFrame = {
    // locals only: the task closure must not capture this driver-side object
    val (vb, kk) = (vectorsB, k)
    val n = vectors.ids.length
    val rows = sc.parallelize(0 until n, math.max(1, math.min(n, sc.defaultParallelism)))
      .mapPartitions { srcs =>
        val x = new LocalJoin(vb.value, graphB.value, kk)
        srcs.flatMap(s => if (candidates) x.candidateRows(s) else x.rankedRows(s))
      }
    Narrow.frame(spark, rows,
      if (candidates) NarrowRounds.CandidateSchema else NarrowRounds.RankedSchema)
  }
}

object NarrowRounds {
  val CandidateSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false), StructField("dst", LongType, nullable = false)))
  val RankedSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false), StructField("dst", LongType, nullable = false),
    StructField("cos_sim", DoubleType), StructField("rank", LongType, nullable = false),
    StructField("is_new", BooleanType, nullable = false)))
}

/** The build's vectors sorted by id: index i is the dense handle of ids(i). */
final class NarrowVectors(val ids: Array[Long], val dv: Array[Array[Double]],
    val nrm: Array[Double]) extends Serializable

/** One round's graph as CSR arrays over vector indices: out-edges
  * (outStart/outDst, plus their scores at t >= 1) and the ρ-capped
  * undirected adjacency (undStart/undNbr with OR-merged is_new).
  */
final class NarrowGraph(val t: Int, val outStart: Array[Int], val outDst: Array[Int],
    val outCos: Array[Double], val outNull: Array[Boolean], val undStart: Array[Int],
    val undNbr: Array[Int], val undNew: Array[Boolean]) extends Serializable

/** One task's local join: per src, expand, score, keep the top k. Scratch
  * arrays are reused across the task's srcs; `stamp` = src + 1 marks them.
  */
private final class LocalJoin(v: NarrowVectors, g: NarrowGraph, k: Int) {
  private val n = v.ids.length
  private val seen = new Array[Int](n) // candidate already collected
  private val inG = new Array[Int](n) // dst is an out-edge of src in the current graph
  private var cand = new Array[Int](64)
  private var nCand = 0
  private val topDst = new Array[Int](k)
  private val topCos = new Array[Double](k)
  private val topNull = new Array[Boolean](k)
  private val topNew = new Array[Boolean](k)
  private var m = 0
  private var sNull = false
  private var sCos = 0.0

  private def add(y: Int): Unit = {
    if (nCand == cand.length) cand = java.util.Arrays.copyOf(cand, 2 * nCand)
    cand(nCand) = y; nCand += 1
  }

  /** s's candidate set: at t = 0 every two-hop y != s plus s's own
    * edges; at t >= 1 the two-hop y != s with a new leg that are not
    * already edges of s.
    */
  private def expand(s: Int): Unit = {
    val stamp = s + 1
    nCand = 0
    var e = g.outStart(s)
    while (e < g.outStart(s + 1)) { inG(g.outDst(e)) = stamp; e += 1 }
    var i = g.undStart(s)
    while (i < g.undStart(s + 1)) {
      val p = g.undNbr(i)
      val newA = g.undNew(i)
      var j = g.undStart(p)
      while (j < g.undStart(p + 1)) {
        val y = g.undNbr(j)
        if (y != s && seen(y) != stamp &&
            (g.t == 0 || ((newA || g.undNew(j)) && inG(y) != stamp))) {
          seen(y) = stamp; add(y)
        }
        j += 1
      }
      i += 1
    }
    if (g.t == 0) {
      e = g.outStart(s)
      while (e < g.outStart(s + 1)) {
        val y = g.outDst(e)
        if (seen(y) != stamp) { seen(y) = stamp; add(y) }
        e += 1
      }
    }
  }

  /** cos_sim = dot(dv_a, dv_b) / (nrm_a · nrm_b), as NnDescent.cosSim
    * evaluates it: null for a null side, a ragged pair or a zero divisor
    * (an all-zero vector), with or without ANSI.
    */
  private def score(a: Int, b: Int): Unit = {
    val x = v.dv(a)
    val y = v.dv(b)
    sNull = true
    if (x == null || y == null) return
    val d = v.nrm(a) * v.nrm(b)
    if (d == 0.0 || x.length != y.length) return
    var acc = 0.0
    var i = 0
    while (i < x.length) { acc += x(i) * y(i); i += 1 }
    sNull = false
    sCos = acc / d
  }

  /** Does (dst, cos, isNull) rank strictly before top entry i? */
  private def before(dst: Int, cos: Double, isNull: Boolean, i: Int): Boolean =
    if (isNull != topNull(i)) !isNull
    else {
      val c = if (isNull) 0 else SQLOrderingUtil.compareDoubles(cos, topCos(i))
      if (c != 0) c > 0 else dst < topDst(i) // index order is id order
    }

  private def offer(dst: Int, cos: Double, isNull: Boolean, isNew: Boolean): Unit =
    if (m < k || before(dst, cos, isNull, m - 1)) {
      var pos = math.min(m, k - 1)
      while (pos > 0 && before(dst, cos, isNull, pos - 1)) {
        topDst(pos) = topDst(pos - 1); topCos(pos) = topCos(pos - 1)
        topNull(pos) = topNull(pos - 1); topNew(pos) = topNew(pos - 1)
        pos -= 1
      }
      topDst(pos) = dst; topCos(pos) = cos; topNull(pos) = isNull; topNew(pos) = isNew
      if (m < k) m += 1
    }

  def candidateRows(s: Int): Iterator[InternalRow] = {
    expand(s)
    val src = v.ids(s)
    Iterator.tabulate(nCand)(i => InternalRow(src, v.ids(cand(i))))
  }

  def rankedRows(s: Int): Iterator[InternalRow] = {
    expand(s)
    m = 0
    if (g.t > 0) {
      var e = g.outStart(s)
      while (e < g.outStart(s + 1)) {
        offer(g.outDst(e), g.outCos(e), g.outNull(e), isNew = false)
        e += 1
      }
    }
    val stamp = s + 1
    var i = 0
    while (i < nCand) {
      val y = cand(i)
      score(s, y)
      offer(y, sCos, sNull, isNew = g.t > 0 || inG(y) != stamp)
      i += 1
    }
    val src = v.ids(s)
    // the shuffle regime's final distinct normalises -0.0 and NaN
    Iterator.tabulate(m)(r => InternalRow(src, v.ids(topDst(r)),
      if (topNull(r)) null
      else if (topCos(r).isNaN) Double.NaN
      else if (topCos(r) == 0.0) 0.0
      else topCos(r),
      (r + 1).toLong, topNew(r)))
  }
}
