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
  * collected once through Narrow and broadcast as flat arrays. Three
  * operators read it: the screen probes it with each incoming batch, and
  * containmentPairs and ngramJaccardPairs probe it with the corpus
  * itself.
  *
  *   - the shingle dictionary: `dict` (distinct hashes, ascending) with
  *     each shingle's document frequency `df`;
  *   - the rare-first postings as CSR over dictionary indices: the docs
  *     holding dict(i) are postDoc(postStart(i) until postStart(i + 1)),
  *     and postPos is the shingle's 0-based position in that doc's
  *     (df, h) order, the shuffle regime's `c_pos`. Each list holds its
  *     docs in ascending doc order;
  *   - each doc's sorted hashes as CSR (docStart/docH), whose length is
  *     the doc's `c_nsh`, its per-doc key `c_rk` (`docRk`, strictly
  *     rising with the doc, so with a list's postings), and whether
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
    StructField("c_rk", LongType, nullable = false), StructField("score", DoubleType)))

  /** The postings a hashed corpus (id, hs, nsh > 0) would hold: the sum
    * of nsh, in one job (on a lazy checkpoint, the job that materializes
    * it).
    */
  def postingRows(hashed: DataFrame): Long =
    Narrow.collect(hashed.select(col("nsh")), "containment/corpus/size")(_.map(_.getInt(0).toLong).sum).sum

  /** Collect a hashed corpus (id, hs sorted ascending and distinct, nsh
    * > 0, c_rk rising in partition and row order, as
    * monotonically_increasing_id gives it) in one job and build the
    * arrays. The caller bounds its size.
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
    require((1 until nDocs).forall(d => docRk(d) > docRk(d - 1)), "c_rk must rise with the doc")
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
    pass(probe, corpus, threshold, CountSchema, jaccard = false) { (rk, _, n) =>
      Iterator.single(InternalRow(rk, n.toLong))
    }

  /** (rk, c_rk, score) for each row of `probe` (rk, hs, nsh > 0) and each
    * of its verified matches, in the same narrow pass: its containers
    * (score = containment), or with `jaccard` the docs with c_rk > rk at
    * Jaccard >= t, when the probe is the corpus's own docs keyed by c_rk.
    */
  def pairs(probe: DataFrame, corpus: Broadcast[ContainmentCorpus],
      threshold: Double, jaccard: Boolean): DataFrame =
    pass(probe, corpus, threshold, PairSchema, jaccard) { (rk, p, n) =>
      Iterator.tabulate(n)(i => InternalRow(rk, p.matchRk(i), p.score(i)))
    }

  /** One narrow pass over the probe rows, emitting `rows(rk, probe, n)`
    * for each row with n > 0 verified matches.
    */
  private def pass(probe: DataFrame, corpus: Broadcast[ContainmentCorpus], threshold: Double,
      schema: StructType, jaccard: Boolean)(rows: (Long, ContainmentProbe, Int) => Iterator[InternalRow]): DataFrame = {
    val out = probe.select(col("rk"), col("hs")).asInstanceOf[Dataset[_]]
      .queryExecution.toRdd.mapPartitions { it =>
        val p = new ContainmentProbe(corpus.value, threshold)
        it.flatMap { r =>
          val (rk, hs) = (r.getLong(0), r.getArray(1).toLongArray())
          val n = if (jaccard) p.similar(rk, hs) else p.containers(hs)
          if (n > 0) rows(rk, p, n) else Iterator.empty
        }
      }
    Narrow.frame(probe.sparkSession, out, schema)
  }
}

/** One task's probe of the broadcast corpus: the shuffle regime's prefix
  * filters, evaluated per incoming row with the same arithmetic.
  *
  *   - The row's shingles are ordered by (corpus df, h); a shingle the
  *     corpus lacks takes df 0, so it sorts first and matches nothing.
  *   - With `needed` = Dedup.minOverlap(t, nsh), the least overlap the
  *     verify accepts, its first nsh - needed + 1 shingles probe the
  *     postings of docs with c_nsh >= needed; pa and pb are the least
  *     positions of a shared probed shingle in the row and in the doc.
  *   - Containment (`containers`, one-sided): every posting is probed. A
  *     doc passes the position bound when
  *     1 + min(nsh - pa - 1, c_nsh - pb - 1) >= needed, and is a
  *     container when its exact intersection / nsh >= t.
  *   - Jaccard (`similar`, symmetric): only postings inside the doc's own
  *     prefix (c_pos < c_nsh - minOverlap(t, c_nsh) + 1) of docs with
  *     c_rk > rk and nsh >= minOverlap(t, c_nsh) are probed, so each
  *     unordered pair is met once. A list's docs rise in c_rk, so its
  *     walk starts at its first doc past rk, found by binary search. A
  *     doc passes PPJoin's bound when that
  *     bound + 1e-9 >= t / (1 + t) · (nsh + c_nsh), and matches when
  *     I / (nsh + c_nsh - I) >= t for its exact intersection I.
  *
  * Scratch arrays over the corpus docs are reused across the task's rows;
  * `stamp` = the row's ordinal marks them. The last row's matches and
  * their scores stay readable until the next row is probed.
  */
private final class ContainmentProbe(c: ContainmentCorpus, t: Double) {
  private val nDocs = c.docLive.length
  private val stamp = new Array[Int](nDocs)
  private val pa = new Array[Int](nDocs)
  private val pb = new Array[Int](nDocs)
  private val scores = new Array[Double](nDocs)
  private var touched = new Array[Int](64)
  private var nTouched = 0
  private var keys = new Array[Long](64)
  private var row = 0
  /** Each doc's prefix length, c_nsh - minOverlap(t, c_nsh) + 1: the
    * Jaccard form's corpus side only.
    */
  private lazy val docPrefix = Array.tabulate(nDocs)(d => docLen(d) - Dedup.minOverlap(t, docLen(d)) + 1)

  /** Doc `c_rk` of the last row's i-th match. */
  def matchRk(i: Int): Long = c.docRk(touched(i))

  /** The last row's score with its i-th match. */
  def score(i: Int): Double = scores(touched(i))

  /** Probe one row's sorted distinct hashes for containers; returns how
    * many it has.
    */
  def containers(hs: Array[Long]): Int = {
    val needed = Dedup.minOverlap(t, hs.length)
    val absent = order(hs)
    var pos = absent
    while (pos < hs.length - needed + 1) {
      val s = (keys(pos - absent) & 0xffffffffL).toInt
      var e = c.postStart(s)
      while (e < c.postStart(s + 1)) {
        val d = c.postDoc(e)
        if (docLen(d) >= needed) touch(d, pos, c.postPos(e))
        e += 1
      }
      pos += 1
    }
    verify(hs, needed, jaccard = false)
  }

  /** Probe corpus doc `rk`'s sorted distinct hashes for the docs with
    * c_rk > rk at Jaccard >= t; returns how many there are.
    */
  def similar(rk: Long, hs: Array[Long]): Int = {
    val (nsh, prefix) = (hs.length, docPrefix)
    val needed = Dedup.minOverlap(t, nsh)
    val absent = order(hs)
    var pos = absent
    while (pos < nsh - needed + 1) {
      val s = (keys(pos - absent) & 0xffffffffL).toInt
      var e = firstAfter(s, rk)
      while (e < c.postStart(s + 1)) {
        val d = c.postDoc(e)
        val len = docLen(d)
        if (c.postPos(e) < prefix(d) && len >= needed && nsh >= len - prefix(d) + 1)
          touch(d, pos, c.postPos(e))
        e += 1
      }
      pos += 1
    }
    verify(hs, needed, jaccard = true)
  }

  /** The first posting of dictionary index s whose doc has c_rk > rk. */
  private def firstAfter(s: Int, rk: Long): Int = {
    var lo = c.postStart(s)
    var hi = c.postStart(s + 1)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (c.docRk(c.postDoc(mid)) > rk) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Bound and verify the row's touched docs; the matches are compacted
    * to the front of `touched`, and their count is returned.
    */
  private def verify(hs: Array[Long], needed: Int, jaccard: Boolean): Int = {
    val nsh = hs.length
    var n = 0
    var k = 0
    while (k < nTouched) {
      val d = touched(k)
      val len = docLen(d)
      val ub = 1 + math.min(nsh - pa(d) - 1, len - pb(d) - 1)
      if (c.docLive(d) && (if (jaccard) ub.toDouble + 1e-9 >= t / (1.0 + t) * (nsh + len) else ub >= needed)) {
        val i = intersect(hs, d)
        scores(d) = if (jaccard) i.toDouble / (nsh + len - i) else i.toDouble / nsh
        if (scores(d) >= t) { touched(n) = d; n += 1 }
      }
      k += 1
    }
    n
  }

  /** Start a row: clear the touched docs and sort the shingles the corpus
    * holds into `keys` as (df, dictionary index); the absent ones occupy
    * the row's first positions, and their count is returned.
    */
  private def order(hs: Array[Long]): Int = {
    row += 1
    nTouched = 0
    if (keys.length < hs.length) keys = new Array[Long](hs.length)
    var present = 0
    var i = 0
    while (i < hs.length) {
      val s = java.util.Arrays.binarySearch(c.dict, hs(i))
      if (s >= 0) { keys(present) = (c.df(s).toLong << 32) | s; present += 1 }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, present)
    hs.length - present
  }

  /** Record that the row's shingle at `pos` is doc d's at `cPos`. */
  private def touch(d: Int, pos: Int, cPos: Int): Unit =
    if (stamp(d) != row) {
      stamp(d) = row; pa(d) = pos; pb(d) = cPos
      if (nTouched == touched.length) touched = java.util.Arrays.copyOf(touched, 2 * nTouched)
      touched(nTouched) = d; nTouched += 1
    } else if (cPos < pb(d)) pb(d) = cPos

  private def docLen(d: Int): Int = c.docStart(d + 1) - c.docStart(d)

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
