package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayTransform, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointPlans, Md5Long60, ShingleHashes}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions
import graft.operators.Dedup

/** ShingleHashes against the higher-order chains it replaces, on the same
  * child: every form and width, element for element (sorted, distinct),
  * in interpreted and generated code, over text that exercises the
  * lead-byte table — multi-byte chars, a lowercase that grows by a byte,
  * NUL, whitespace runs, null, lengths around n, and malformed UTF-8.
  */
class ShingleHashesSpec extends SparkSpec {
  import spark.implicits._
  import ShingleHashes.{Form, Md5, Md5ModP, Xxhash64}

  private val widths = Seq(1, 3, 5, 8)
  private val forms: Seq[Form] = Seq(Xxhash64, Md5, Md5ModP)

  /** The chain each form replaced: containmentHashed / dupSpanStats
    * (xxhash64), hashedShingles and the span sites (md5), and
    * hashedSignatures (md5 mod p, reduced before the distinct).
    */
  private def chain(text: Column, n: Int, form: Form): Column = form match {
    case Xxhash64 => array_sort(array_distinct(transform(Dedup.shingleSet(text, n), g => xxhash64(g))))
    case Md5 => array_sort(array_distinct(transform(Dedup.shingleSet(text, n), g => Md5Long60.column(g))))
    case Md5ModP => array_sort(array_distinct(transform(
      TextFunctions.charShingles(lower(text), n), g => TextFunctions.shingleBaseHash(g))))
  }

  /** The same chain over the child as given, without `lower`. */
  private def rawChain(text: Column, n: Int, form: Form): Column = {
    val h: Column => Column = form match {
      case Xxhash64 => g => xxhash64(g)
      case Md5 => g => Md5Long60.column(g)
      case Md5ModP => g => TextFunctions.shingleBaseHash(g)
    }
    array_sort(array_distinct(transform(TextFunctions.charShingles(text, n), h)))
  }

  private val alphabet = Seq("a", "B", "c", "D", "é", "É", "中", "😀", "İ", "\u0000",
    " ", "   ", "\t\n", "x", "Y")

  /** Seeded text: every length 0 to 9 chars and longer runs, with
    * repeats so the distinct matters.
    */
  private lazy val wellFormed: Seq[String] = {
    val rnd = new scala.util.Random(15)
    val short = for (len <- 0 to 9; _ <- 0 until 6) yield
      Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val long = Seq.fill(40)(Seq.fill(10 + rnd.nextInt(50))(alphabet(rnd.nextInt(6))).mkString)
    short ++ long ++ Seq("aaaaaaaaaaaa", "AbAbAbAbAbAb", "İİİİİİ", "ab\u0000\u0000ab\u0000\u0000ab")
  }

  /** Malformed UTF-8: a lone continuation byte, a 3-byte lead truncated
    * mid-string and at the end (the last, id 1007), 0xF8 (no valid
    * lead), and 0xC0.
    */
  private val malformedHex = Seq("61806263646566", "6162E4B86364656667", "41F8424344454647",
    "F8F8F8F8F8F8", "80808080", "61C0626364656667", "4142F8E4B84344", "616263E4B8")
  private val endTruncated = 1007L

  private lazy val docs: DataFrame =
    wellFormed.zipWithIndex.map { case (t, i) => (i.toLong, Option(t)) }
      .:+((-1L, Option.empty[String])).toDF("id", "text")
      .unionByName(malformedHex.zipWithIndex.map { case (h, i) => (1000L + i, h) }.toDF("id", "hex")
        .select(col("id"), unhex(col("hex")).cast("string").as("text")))

  private def rows(df: DataFrame): Seq[(Long, Seq[Long], Seq[Long])] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))

  test("each form == the HOF chain it replaces over lower(text), n in {1, 3, 5, 8}") {
    for (form <- forms; n <- widths) {
      val got = rows(docs.select(col("id"), ShingleHashes.column(col("text"), n, form),
        chain(col("text"), n, form)))
      assert(got.size == wellFormed.size + 1 + malformedHex.size)
      val bad = got.filter(r => r._2 != r._3)
      assert(bad.isEmpty, s"$form n=$n: ${bad.take(3)}")
      assert(got.exists(_._2.nonEmpty), s"$form n=$n")
    }
    // the distinct is exercised: some row repeats a window
    val windows = docs.select(size(TextFunctions.charShingles(lower(col("text")), 3)),
      size(ShingleHashes.column(col("text"), 3, Md5))).collect()
    assert(windows.exists(r => r.getInt(0) > r.getInt(1)))
  }

  /** (raw bytes of `c`) per row of docs, null for null. */
  private def bytesOf(c: Column): Seq[(Long, UTF8String)] =
    docs.select(col("id"), c.cast("binary")).collect().toSeq
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else UTF8String.fromBytes(r.getAs[Array[Byte]](1))))

  /** Interpreted eval and a generated projection of the kernel over `in`. */
  private def both(in: Seq[(Long, UTF8String)], n: Int, form: Form): Seq[(Long, Seq[Long], Seq[Long])] = {
    val proj = GenerateUnsafeProjection.generate(Seq(ShingleHashes(BoundReference(0, StringType, true), n, form)))
    in.map { case (id, s) =>
      val interp = ShingleHashes(Literal.create(s, StringType), n, form).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      val gen = proj(InternalRow(s)).getArray(0).toLongArray().toSeq
      (id, interp, gen)
    }
  }

  test("raw child: the window bytes follow substring's lead-byte table; interpreted == codegen") {
    val raw = bytesOf(col("text"))
    for (form <- forms; n <- widths) {
      val want = docs.select(col("id"), rawChain(col("text"), n, form)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      for ((id, interp, gen) <- both(raw, n, form)) {
        assert(interp == gen, s"$form n=$n id=$id")
        // substring copies a lead byte's whole claimed width, so on a
        // lead truncated by the end its window reads past the string
        if (id != endTruncated) assert(interp == want(id), s"$form n=$n id=$id")
      }
    }
    // the kernel ends that window at the string's end instead
    val tail = Seq("61", "62", "63", "E4B8").map(h =>
      spark.range(1).select(xxhash64(unhex(lit(h)).cast("string"))).head().getLong(0)).sorted
    assert(both(raw.filter(_._1 == endTruncated), 1, Xxhash64).head._2 == tail)
  }

  test("lowered child: interpreted == codegen == the frame's result") {
    val lowered = bytesOf(lower(col("text")))
    for (form <- forms; n <- widths) {
      val frame = docs.select(col("id"), ShingleHashes.column(col("text"), n, form)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      for ((id, interp, gen) <- both(lowered, n, form)) {
        assert(interp == gen, s"$form n=$n id=$id")
        assert(interp == frame(id), s"$form n=$n id=$id")
      }
    }
  }

  test("null and text shorter than n give an empty, non-null array") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("")), (3L, Some("abcd")), (4L, Some("abcde")))
      .toDF("id", "text")
    val out = df.select(col("id"), ShingleHashes.column(col("text"), 5, Xxhash64).as("hs"))
    assert(!out.schema("hs").nullable)
    val got = out.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).size).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  /** The expressions aliased `hs` in `plans`. */
  private def hashing(plans: Seq[LogicalPlan]) =
    plans.flatMap(_.collect { case p => p.expressions }.flatten)
      .flatMap(_.collect { case a: Alias if a.name == "hs" => a.child })

  test("plan pin: the hashing projections hold the kernel and no ArrayTransform") {
    val corpus = docs.filter(col("text").isNotNull).repartition(2)
    def pinned(hs: Seq[org.apache.spark.sql.catalyst.expressions.Expression], what: String): Unit = {
      assert(hs.nonEmpty, what)
      hs.foreach { e =>
        assert(e.find(_.isInstanceOf[ShingleHashes]).isDefined, s"$what: $e")
        assert(e.find(_.isInstanceOf[ArrayTransform]).isEmpty, s"$what: $e")
      }
    }
    pinned(hashing(Seq(corpus.select(Dedup.hashedShingles(col("text"), 3).as("hs"))
      .queryExecution.optimizedPlan)), "hashedShingles")
    pinned(hashing(CheckpointPlans.during(spark) {
      Dedup.containmentScreenIndex(corpus, "id", "text", 3)
    }), "containmentScreenIndex")
    pinned(hashing(CheckpointPlans.during(spark) {
      Dedup.signatureBands(corpus, "id", "text", shingleN = 3)
    }), "signatureBands")
  }
}
