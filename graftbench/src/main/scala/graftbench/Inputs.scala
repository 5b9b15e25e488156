package graftbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. They run on the driver without Spark, and the
  * same seed always gives the same inputs. Text is built from
  * pronounceable pseudo-words, so n-gram statistics look like language
  * (shared syllables) without depending on any data file.
  */
object Inputs {
  private val onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "w", "z", "br", "cr", "dr", "gr", "pl", "st", "tr", "sh", "ch", "th")
  private val vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
  private val codas = Array("", "", "", "n", "r", "s", "t", "l", "m", "x", "nd", "st", "ck")

  private def word(rnd: Random, syllables: Int): String =
    (0 until syllables).map { _ =>
      onsets(rnd.nextInt(onsets.length)) + vowels(rnd.nextInt(vowels.length)) +
        codas(rnd.nextInt(codas.length))
    }.mkString

  /** `n` distinct lowercase words of 1 to `maxSyl` syllables. */
  def vocabulary(rnd: Random, n: Int, maxSyl: Int): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(rnd, 1 + rnd.nextInt(maxSyl))
    seen.toIndexedSeq
  }

  private def pick[T](rnd: Random, xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  /** Exactly round(n * share) of n positions, chosen at random, so every
    * seed gives the same mix and only the content varies.
    */
  private def exactShare(rnd: Random, n: Int, share: Double): IndexedSeq[Boolean] = {
    val k = math.round(n * share).toInt
    rnd.shuffle(IndexedSeq.fill(k)(true) ++ IndexedSeq.fill(n - k)(false))
  }

  private def words(rnd: Random, vocab: IndexedSeq[String], lo: Int, hi: Int): IndexedSeq[String] =
    IndexedSeq.fill(lo + rnd.nextInt(hi - lo + 1))(pick(rnd, vocab))

  // ---------------------------------------------------------------- fuzzy_match

  /** Canonical reference terms and dirty queries. `source(i)` is the ref a
    * query was derived from, or -1 for unmatched noise.
    */
  final case class Fuzzy(refs: IndexedSeq[String], queries: IndexedSeq[String],
      source: IndexedSeq[Int])

  private val extraTokens = IndexedSeq("inc", "ltd", "co", "the", "group", "intl", "llc", "new")

  def fuzzy(seed: Long, nRefs: Int, nQueries: Int, noiseShare: Double = 0.2): Fuzzy = {
    val rnd = new Random(seed)
    val vocab = vocabulary(rnd, math.max(200, nRefs / 2), 3).map(_.capitalize)
    val refSet = mutable.LinkedHashSet.empty[String]
    while (refSet.size < nRefs) refSet += words(rnd, vocab, 2, 4).mkString(" ")
    val refs = refSet.toIndexedSeq
    val noiseVocab = vocabulary(new Random(seed ^ 0x5eedL), 400, 3).map(_.capitalize)
    val noise = exactShare(rnd, nQueries, noiseShare)
    val (queries, source) = (0 until nQueries).map { i =>
      if (noise(i)) (words(rnd, noiseVocab, 2, 4).mkString(" "), -1)
      else {
        val src = rnd.nextInt(nRefs)
        (dirty(rnd, refs(src)), src)
      }
    }.unzip
    Fuzzy(refs, queries, source)
  }

  /** One or two edits a user might make: a typo, a case change, or an
    * extra token.
    */
  private def dirty(rnd: Random, term: String): String = {
    var t = term
    (0 until 1 + rnd.nextInt(2)).foreach { _ =>
      t = rnd.nextInt(4) match {
        case 0 => // substitute one letter
          val i = rnd.nextInt(t.length)
          t.updated(i, ('a' + rnd.nextInt(26)).toChar)
        case 1 => // drop one letter
          val i = rnd.nextInt(t.length)
          if (t.length > 3) t.patch(i, "", 1) else t
        case 2 => if (rnd.nextBoolean()) t.toLowerCase else t.toUpperCase
        case _ =>
          val e = pick(rnd, extraTokens)
          if (rnd.nextBoolean()) s"$e $t" else s"$t $e"
      }
    }
    t
  }

  // ---------------------------------------------------------------- dedup_groups

  /** Documents with planted near-duplicate clusters, a quality score and a
    * clustered embedding. Ids are the dense positions 0..n-1; `cluster(i)`
    * is the planted cluster of doc i, or -1 for a singleton.
    */
  final case class Docs(text: IndexedSeq[String], quality: IndexedSeq[Double],
      vec: IndexedSeq[Array[Float]], cluster: IndexedSeq[Int])

  def docs(seed: Long, n: Int, dim: Int, topics: Int = 16, clusterShare: Double = 0.3): Docs = {
    val rnd = new Random(seed)
    val vocab = vocabulary(rnd, 4000, 3)
    val centers = IndexedSeq.fill(topics)(unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    // a doc's embedding: its topic's center plus noise of the same norm,
    // so topic-mates sit near cosine 0.5 and unrelated docs near 0
    def topicVec(): Array[Float] = {
      val c = pick(rnd, centers)
      val noise = unit(Array.fill(dim)(rnd.nextGaussian().toFloat))
      unit(Array.tabulate(dim)(i => c(i) + noise(i)))
    }
    def nearby(v: Array[Float]): Array[Float] = {
      val noise = unit(Array.fill(dim)(rnd.nextGaussian().toFloat))
      unit(Array.tabulate(dim)(i => v(i) + 0.08f * noise(i)))
    }
    // planted clusters of 2, 3, 4, 5, 2, ... docs until `clusterShare` of
    // the docs are planted; the rest are singletons
    val out = mutable.ArrayBuffer.empty[(String, Array[Float], Int)]
    var nextCluster = 0
    while (out.size < n) {
      val base = words(rnd, vocab, 20, 40)
      val v = topicVec()
      val size = 2 + nextCluster % 4
      if (out.size + size <= n * clusterShare) {
        out += ((base.mkString(" "), v, nextCluster))
        (1 until size).foreach { _ =>
          out += ((edit(rnd, base, vocab).mkString(" "), nearby(v), nextCluster))
        }
        nextCluster += 1
      } else out += ((base.mkString(" "), v, -1))
    }
    val shuffled = rnd.shuffle(out.toIndexedSeq)
    Docs(shuffled.map(_._1), shuffled.map(_ => rnd.nextDouble()), shuffled.map(_._2),
      shuffled.map(_._3))
  }

  /** A near-copy: about one word in twenty replaced, dropped or doubled. */
  private def edit(rnd: Random, ws: IndexedSeq[String], vocab: IndexedSeq[String]): IndexedSeq[String] =
    ws.flatMap { w =>
      if (rnd.nextDouble() >= 0.05) Seq(w)
      else rnd.nextInt(3) match {
        case 0 => Seq(pick(rnd, vocab))
        case 1 => Seq.empty
        case _ => Seq(w, w)
      }
    }

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  // ---------------------------------------------------------------- stream_screen

  /** A corpus and the incoming documents, split into micro-batch files.
    * An incoming doc is either a planted excerpt of a corpus doc (a
    * contiguous run of its words, sometimes with one word replaced) or a
    * fresh doc; `planted` says which.
    */
  final case class Incoming(id: Long, text: String, planted: Boolean)
  final case class Stream(corpus: IndexedSeq[String], batches: IndexedSeq[IndexedSeq[Incoming]])

  val IncomingIdBase = 1000000L

  def stream(seed: Long, nCorpus: Int, nBatches: Int, perBatch: Int,
      plantedShare: Double = 0.3): Stream = {
    val rnd = new Random(seed)
    val vocab = vocabulary(rnd, 4000, 3)
    val corpus = IndexedSeq.fill(nCorpus)(words(rnd, vocab, 40, 90))
    val batches = (0 until nBatches).map { b =>
      val planted = exactShare(rnd, perBatch, plantedShare)
      (0 until perBatch).map { j =>
        val id = IncomingIdBase + b * perBatch + j
        if (planted(j)) {
          val src = pick(rnd, corpus)
          val len = math.max(8, (src.length * (0.6 + 0.3 * rnd.nextDouble())).toInt)
          val from = rnd.nextInt(src.length - len + 1)
          val span = src.slice(from, from + len)
          val text =
            if (rnd.nextBoolean()) span.updated(rnd.nextInt(span.length), pick(rnd, vocab))
            else span
          Incoming(id, text.mkString(" "), planted = true)
        } else Incoming(id, words(rnd, vocab, 30, 70).mkString(" "), planted = false)
      }
    }
    Stream(corpus.map(_.mkString(" ")), batches)
  }
}
