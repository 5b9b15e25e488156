package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** The corpus side of Dedup's exact containment filter in its narrow
  * regime (Dedup.containmentScreenIndex takes it while the corpus
  * postings fit the Narrow.Postings budget): the hashed corpus,
  * collected once through Narrow and broadcast as flat arrays. Two
  * operators read it: the screen probes it with each incoming batch, and
  * containmentPairs probes it with the corpus itself.
  *
  *   - the shingle dictionary: `dict` (distinct hashes, ascending) with
  *     each shingle's document frequency `df`;
  *   - the rare-first postings as CSR over dictionary indices: the docs
  *     holding dict(i) are postDoc(postStart(i) until postStart(i + 1)),
  *     and postPos is the shingle's 0-based position in that doc's
  *     (df, h) order, the shuffle regime's `c_pos`;
  *   - each doc's sorted hashes as CSR (docStart/docH), whose length is
  *     the doc's `c_nsh`, its per-doc key `c_rk` (`docRk`), and whether
  *     its id is non-null (`docLive`): a null-id doc counts toward df and
  *     holds postings, but is never a container, as in the shuffle
  *     regime's verify join.
  *
  * 16 bytes per posting, 16 per distinct shingle and 13 per doc; a
  * shingle and a doc each hold at least one posting, so a posting
  * carries at most 45 (Narrow.Postings).
  */
final class ContainmentCorpus private (
    val dict: Array[Long], val df: Array[Int],
    val postStart: Array[Int], val postDoc: Array[Int], val postPos: Array[Int],
    val docStart: Array[Int], val docH: Array[Long], val docRk: Array[Long],
    val docLive: Array[Boolean])
    extends Serializable

object ContainmentCorpus {
  val CountSchema: StructType = StructType(Seq(
    StructField("rk", LongType, nullable = false),
    StructField("n_containers", LongType, nullable = false)))
  val PairSchema: StructType = StructType(Seq(StructField("rk", LongType, nullable = false),
    StructField("c_rk", LongType, nullable = false), StructField("containment", DoubleType)))

  /** The postings a hashed corpus (id, hs, nsh > 0) would hold: the sum
    * of nsh, in one job (on a lazy checkpoint, the job that materializes
    * it).
    */
  def postingRows(hashed: DataFrame): Long =
    Narrow.collect(hashed.select(col("nsh")), "containment/corpus/size")(_.map(_.getInt(0).toLong).sum).sum

  /** Collect a hashed corpus (id, hs sorted ascending and distinct, nsh
    * > 0, c_rk) in one job and build the arrays. The caller bounds its
    * size.
    */
  def collect(hashed: DataFrame, idCol: String): ContainmentCorpus = {
    val parts = Narrow.collect(hashed.select(col(idCol).isNotNull, col("hs"), col("c_rk")),
        "containment/corpus/collect") { it =>
      val (live, len, hs, rk) = (ArrayBuilder.make[Boolean], ArrayBuilder.make[Int],
        ArrayBuilder.make[Long], ArrayBuilder.make[Long])
      it.foreach { r =>
        val a = r.getArray(1)
        live += r.getBoolean(0); len += a.numElements(); rk += r.getLong(2)
        var i = 0
        while (i < a.numElements()) { hs += a.getLong(i); i += 1 }
      }
      (live.result(), len.result(), hs.result(), rk.result())
    }
    val docLive = Narrow.flat(parts.map(_._1))
    val lens = Narrow.flat(parts.map(_._2))
    val docH = Narrow.flat(parts.map(_._3))
    val docRk = Narrow.flat(parts.map(_._4))
    val nDocs = lens.length
    val docStart = new Array[Int](nDocs + 1)
    for (d <- 0 until nDocs) docStart(d + 1) = docStart(d) + lens(d)

    // dictionary: distinct hashes with their document frequency
    val all = docH.clone()
    java.util.Arrays.sort(all)
    val (dictB, dfB) = (ArrayBuilder.make[Long], ArrayBuilder.make[Int])
    var i = 0
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j) == all(i)) j += 1
      dictB += all(i); dfB += j - i
      i = j
    }
    val (dict, df) = (dictB.result(), dfB.result())

    // postings, CSR by dictionary index; a doc's position of a shingle is
    // its rank under (df, h), and dictionary order is h order
    val postStart = new Array[Int](dict.length + 1)
    for (s <- dict.indices) postStart(s + 1) = postStart(s) + df(s)
    val fill = postStart.clone()
    val postDoc = new Array[Int](docH.length)
    val postPos = new Array[Int](docH.length)
    for (d <- 0 until nDocs) {
      val keys = Array.tabulate(lens(d)) { e =>
        val s = java.util.Arrays.binarySearch(dict, docH(docStart(d) + e))
        (df(s).toLong << 32) | s
      }
      java.util.Arrays.sort(keys)
      for (pos <- keys.indices) {
        val s = (keys(pos) & 0xffffffffL).toInt
        postDoc(fill(s)) = d; postPos(fill(s)) = pos; fill(s) += 1
      }
    }
    new ContainmentCorpus(dict, df, postStart, postDoc, postPos, docStart, docH, docRk, docLive)
  }

  /** (rk, n_containers) for each row of `probe` (rk, hs, nsh > 0) with at
    * least one verified container, in one narrow pass over the probe's
    * partitions; every row keeps the shuffle regime's filters (see
    * ContainmentProbe).
    */
  def containers(probe: DataFrame, corpus: Broadcast[ContainmentCorpus],
      threshold: Double): DataFrame =
    pass(probe, corpus, threshold, CountSchema) { (rk, _, n) =>
      Iterator.single(InternalRow(rk, n.toLong))
    }

  /** (rk, c_rk, containment) for each row of `probe` (rk, hs, nsh > 0)
    * and each of its verified containers, in the same narrow pass.
    */
  def pairs(probe: DataFrame, corpus: Broadcast[ContainmentCorpus],
      threshold: Double): DataFrame =
    pass(probe, corpus, threshold, PairSchema) { (rk, p, n) =>
      Iterator.tabulate(n)(i => InternalRow(rk, p.containerRk(i), p.containment(i)))
    }

  /** One narrow pass over the probe rows, emitting `rows(rk, probe, n)`
    * for each row with n > 0 verified containers.
    */
  private def pass(probe: DataFrame, corpus: Broadcast[ContainmentCorpus], threshold: Double,
      schema: StructType)(rows: (Long, ContainmentProbe, Int) => Iterator[InternalRow]): DataFrame = {
    val out = probe.select(col("rk"), col("hs")).asInstanceOf[Dataset[_]]
      .queryExecution.toRdd.mapPartitions { it =>
        val p = new ContainmentProbe(corpus.value, threshold)
        it.flatMap { r =>
          val n = p.containers(r.getArray(1).toLongArray())
          if (n > 0) rows(r.getLong(0), p, n) else Iterator.empty
        }
      }
    Narrow.frame(probe.sparkSession, out, schema)
  }
}

/** One task's probe of the broadcast corpus: the shuffle regime's
  * one-sided prefix filter, evaluated per incoming row with the same
  * arithmetic.
  *
  *   - The row's shingles are ordered by (corpus df, h); a shingle the
  *     corpus lacks takes df 0, so it sorts first and matches nothing.
  *   - With `needed` = Dedup.minOverlap(t, nsh), the least overlap the
  *     verify accepts, its first nsh - needed + 1 shingles probe the
  *     postings of docs with c_nsh >= needed; pa and pb are the least
  *     positions of a shared prefix shingle in the row and in the doc.
  *   - A doc passes the position bound when
  *     1 + min(nsh - pa - 1, c_nsh - pb - 1) >= needed, and is a
  *     container when its exact intersection / nsh >= t.
  *
  * Scratch arrays over the corpus docs are reused across the task's rows;
  * `stamp` = the row's ordinal marks them. The last row's containers and
  * their containment stay readable until the next row is probed.
  */
private final class ContainmentProbe(c: ContainmentCorpus, t: Double) {
  private val nDocs = c.docLive.length
  private val stamp = new Array[Int](nDocs)
  private val pa = new Array[Int](nDocs)
  private val pb = new Array[Int](nDocs)
  private val share = new Array[Double](nDocs)
  private var touched = new Array[Int](64)
  private var row = 0

  /** Doc `c_rk` of the last row's i-th container. */
  def containerRk(i: Int): Long = c.docRk(touched(i))

  /** |A ∩ B| / |A| of the last row A and its i-th container B. */
  def containment(i: Int): Double = share(touched(i))

  /** Probe one row's sorted distinct hashes; returns how many containers
    * it has.
    */
  def containers(hs: Array[Long]): Int = {
    val nsh = hs.length
    row += 1
    val needed = Dedup.minOverlap(t, nsh)
    val prefix = nsh - needed + 1
    // the shingles the corpus holds, as (df, dictionary index) keys; the
    // absent ones occupy the first `absent` positions
    val keys = new Array[Long](nsh)
    var present = 0
    var i = 0
    while (i < nsh) {
      val s = java.util.Arrays.binarySearch(c.dict, hs(i))
      if (s >= 0) { keys(present) = (c.df(s).toLong << 32) | s; present += 1 }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, present)
    val absent = nsh - present
    var nTouched = 0
    var r = 0
    while (r < present && absent + r < prefix) {
      val pos = absent + r
      val s = (keys(r) & 0xffffffffL).toInt
      var e = c.postStart(s)
      while (e < c.postStart(s + 1)) {
        val d = c.postDoc(e)
        if (c.docStart(d + 1) - c.docStart(d) >= needed) {
          if (stamp(d) != row) {
            stamp(d) = row; pa(d) = pos; pb(d) = c.postPos(e)
            if (nTouched == touched.length) touched = java.util.Arrays.copyOf(touched, 2 * nTouched)
            touched(nTouched) = d; nTouched += 1
          } else if (c.postPos(e) < pb(d)) pb(d) = c.postPos(e)
        }
        e += 1
      }
      r += 1
    }
    var n = 0
    var k = 0
    while (k < nTouched) {
      val d = touched(k)
      val cnsh = c.docStart(d + 1) - c.docStart(d)
      val ub = 1 + math.min(nsh - pa(d) - 1, cnsh - pb(d) - 1)
      if (c.docLive(d) && ub >= needed) {
        share(d) = intersect(hs, d).toDouble / nsh
        // the containers are compacted to the front of `touched`
        if (share(d) >= t) { touched(n) = d; n += 1 }
      }
      k += 1
    }
    n
  }

  /** |hs ∩ doc d's hashes| by a merge scan of the two ascending arrays. */
  private def intersect(hs: Array[Long], d: Int): Int = {
    var i = 0
    var j = c.docStart(d)
    val end = c.docStart(d + 1)
    var n = 0
    while (i < hs.length && j < end) {
      val (x, y) = (hs(i), c.docH(j))
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}
