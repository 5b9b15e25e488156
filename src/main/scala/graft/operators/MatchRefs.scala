package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.graft.{Narrow, SortedCoverage}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Fuzz

/** HeurFuzz's refs in its narrow regime: collected once through Narrow and
  * broadcast as flat arrays, in ref order. Ref order is ascending r_id
  * with a null id first, i.e. below every non-null id, as `desc` NULLS
  * LAST ranks it in the shuffle regime's windows; refs that share an id
  * are ordered by their term the same way.
  *
  *   - `len`: each term's byte length, -1 for a null term;
  *   - the sorted ByteBigramCodes as CSR: ref i's codes are
  *     codes(start(i) until start(i + 1)), none for a null term;
  *   - `terms`: what the verify scores and the output emits.
  */
final class MatchRefs private (
    val len: Array[Int], val start: Array[Int], val codes: Array[Int], val terms: Array[String])
    extends Serializable

object MatchRefs {

  /** (refs, term bytes) of prepared refs (r_id, r_term, r_bigrams), in one
    * job: the footprint the caller checks against the Narrow budget.
    */
  def footprint(refs: DataFrame): (Long, Long) =
    Narrow.collect(refs, "heurfuzz/refs/size") { it =>
      var (n, bytes) = (0L, 0L)
      it.foreach { r => n += 1; if (!r.isNullAt(1)) bytes += r.getUTF8String(1).numBytes }
      (n, bytes)
    }.foldLeft((0L, 0L)) { case ((n, b), (pn, pb)) => (n + pn, b + pb) }

  /** Collect prepared refs (r_id, r_term, r_bigrams) in one job, sort them
    * into ref order on the driver and build the arrays. The caller bounds
    * their size.
    */
  def collect(refs: DataFrame): MatchRefs = {
    val order = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(0, refs.schema(0).dataType, nullable = true), Ascending),
      SortOrder(BoundReference(1, StringType, nullable = true), Ascending)))
    val rows = Narrow.flat(Narrow.collect(refs, "heurfuzz/refs/collect")(_.map(_.copy()).toArray))
    java.util.Arrays.sort(rows, order)
    val n = rows.length
    val (len, start, terms) = (new Array[Int](n), new Array[Int](n + 1), new Array[String](n))
    for (i <- 0 until n) {
      val r = rows(i)
      len(i) = if (r.isNullAt(1)) -1 else r.getUTF8String(1).numBytes
      if (len(i) >= 0) terms(i) = r.getUTF8String(1).toString
      start(i + 1) = start(i) + (if (r.isNullAt(2)) 0 else r.getArray(2).numElements())
    }
    val codes = new Array[Int](start(n))
    for (i <- 0 until n if start(i + 1) > start(i)) {
      val a = rows(i).getArray(2).asInstanceOf[UnsafeArrayData]
      Platform.copyMemory(a.getBaseObject, SortedCoverage.elements(a),
        codes, Platform.INT_ARRAY_OFFSET + 4L * start(i), 4L * (start(i + 1) - start(i)))
    }
    new MatchRefs(len, start, codes, terms)
  }

  private val NA = UTF8String.fromString("NA")

  /** The query rows over at least the context's default parallelism in
    * tasks, without a shuffle: each task scans every ref per query, so a
    * query side with fewer partitions (q50's groupBy, which AQE coalesces
    * to one) would leave cores idle. An under-partitioned side is read
    * `fan` times, and read f keeps the rows whose content hash is f mod
    * `fan`, so each row lands in exactly one task whatever order a re-read
    * yields.
    */
  private def spread(rows: RDD[InternalRow]): RDD[InternalRow] = {
    val (p, target) = (rows.getNumPartitions, rows.sparkContext.defaultParallelism)
    if (p == 0 || p >= target) rows
    else {
      val fan = (target + p - 1) / p
      rows.sparkContext.union((0 until fan).map(f =>
        rows.mapPartitions(_.filter(r => Math.floorMod(r.hashCode, fan) == f))))
    }
  }

  /** Every prepared query row (q_id, q_term, q_bigrams) with its match, in
    * one narrow pass over the broadcast refs: (q_id, query, match) rows
    * under `schema`, "NA" where nothing scores above 0. The pass's rows
    * are lazily checkpointed, so a downstream sort's sampling job does not
    * run it a second time, and `shared` is released once the checkpoint
    * is cut. The checkpoint is cut at the RDD level, one identity step
    * above the pass, whose closure holds the broadcast and so must not be
    * serialized after the release; each row is a fresh object, so this
    * skips the Dataset checkpoint's extra action and row copy (on
    * graftbench's fuzzy_match inputs, 4 cores: 8 ms against 16 ms over a
    * 125 ms match).
    */
  def matches(queries: DataFrame, shared: Broadcast[MatchRefs], topK: Int, cutoff: Int,
      schema: StructType): DataFrame = {
    val idType = schema.head.dataType
    val rows = spread(queries.asInstanceOf[Dataset[_]].queryExecution.toRdd).mapPartitions { it =>
      val scan = new MatchScan(shared.value, topK)
      it.map { r =>
        val term = if (r.isNullAt(1)) null else r.getUTF8String(1)
        // a null query scores 0 against every ref
        val m = if (term == null) null else {
          scan.candidates(r.getArray(2).asInstanceOf[UnsafeArrayData], term.numBytes)
          scan.best(term.toString, cutoff)
        }
        InternalRow(InternalRow.copyValue(r.get(0, idType)), if (term == null) null else term.clone(),
          if (m == null) NA else UTF8String.fromString(m))
      }
    }
    val out = Narrow.frame(queries.sparkSession,
      rows.mapPartitions(identity, preservesPartitioning = true).localCheckpoint(), schema)
    Narrow.releaseWith(out, shared)
    out
  }
}

/** One task's scan of the broadcast refs, its buffers reused across the
  * task's queries. `candidates` merge-scans every ref with the
  * SortedCoverage kernel and keeps the top K in a bounded insertion
  * buffer ordered desc(coverage, len_diff, ref order); `best` verifies
  * them. Coverage is kept as the hit count, which orders the refs of one
  * query as hits / n does; a null query or ref term takes -1 for both
  * keys, below every real value, as NULLS LAST ranks a null in `desc`.
  */
private[graft] final class MatchScan(refs: MatchRefs, topK: Int) {
  val hits = new Array[Int](math.max(topK, 0))
  val diff = new Array[Int](hits.length)
  val ref = new Array[Int](hits.length)
  var size = 0

  /** Fill the buffer for a query's codes `q` and byte length `qLen`; a
    * null `q` is a null term. Returns the buffer's size.
    */
  def candidates(q: UnsafeArrayData, qLen: Int): Int = {
    size = 0
    val qOff = if (q == null) 0L else SortedCoverage.elements(q)
    var i = 0
    while (i < refs.len.length) {
      val rLen = refs.len(i)
      if (q == null || rLen < 0) insert(-1, -1, i)
      else insert(
        SortedCoverage.hits(q.getBaseObject, qOff, q.numElements(), refs.codes,
          Platform.INT_ARRAY_OFFSET + 4L * refs.start(i), refs.start(i + 1) - refs.start(i)),
        math.abs(qLen - rLen), i)
      i += 1
    }
    size
  }

  // refs arrive in ascending ref order, so a newcomer ranks above every
  // kept ref with its (coverage, len_diff)
  private def insert(h: Int, d: Int, i: Int): Unit = {
    var p = size
    while (p > 0 && (h > hits(p - 1) || (h == hits(p - 1) && d >= diff(p - 1)))) p -= 1
    if (p < topK) {
      val moved = math.min(size, topK - 1) - p
      System.arraycopy(hits, p, hits, p + 1, moved)
      System.arraycopy(diff, p, diff, p + 1, moved)
      System.arraycopy(ref, p, ref, p + 1, moved)
      hits(p) = h; diff(p) = d; ref(p) = i
      if (size < topK) size += 1
    }
  }

  /** The buffer's best match for `query`: the survivor with the highest
    * Fuzz.partialRatioCutoff score, ties to the smaller len_diff, then the
    * later ref; null when none scores above 0.
    */
  def best(query: String, cutoff: Int): String = {
    var (b, bScore, bDiff) = (-1, 0, 0)
    for (j <- 0 until size) {
      val s = Fuzz.partialRatioCutoff(refs.terms(ref(j)), query, cutoff)
      if (s > bScore || (s == bScore && s > 0 &&
          (diff(j) < bDiff || (diff(j) == bDiff && ref(j) > b)))) {
        b = ref(j); bScore = s; bDiff = diff(j)
      }
    }
    if (b < 0) null else refs.terms(b)
  }
}
