package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, Quota, Similarity, Sketches, TextAnalysis}

/** Registry pillar: multimodal binary columns: metadata, decode, frames/resize. Split from SparkEntry.scala
  * (round 8); query semantics and oracle SQL unchanged.
  */
trait MultimodalRegistry extends RegistryBase {
  protected def multimodalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // pillar multimodal: binary content + metadata extraction (decode is a
    // documented stub; this is the declarative pre-filter side)
    "q41_multimodal_meta" -> ((s, dir) =>
      Multimodal.contentMeta(
          Multimodal.withContent(rd(s, dir, "documents"), "text"), "doc_id")
        .orderBy("doc_id")),

    // pillar multimodal: the DECODE path itself through the oracle gate —
    // Dataset.mapPartitions feature extraction (the per-partition batch
    // shape a real codec plugs into), exploded to scalar rows so the
    // md5-derived stub features hash-compare bit-for-bit vs DuckDB
    "q76_multimodal_decode" -> ((s, dir) => {
      val withC = Multimodal.withContent(spread(s, rd(s, dir, "documents")), "text")
      Multimodal.decodeFeatures(s, withC, "doc_id")
        .select(
          col("id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_f")))
        .select(
          col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("feat_idx").cast("long").as("feat_idx"),
          col("feat_f").cast("double").as("feat"))
        .orderBy("doc_id", "feat_idx")
    }),

    // pillar multimodal: frame sampling + resize planning — up to 4
    // evenly-spaced frame indices per asset (explode of an arithmetic
    // sequence; the decode itself stays behind the documented stub) and
    // the aspect-preserving integer fit into a 256-box; per-frame
    // signature is md5-derived so the oracle reproduces it bit-for-bit
    "q103_frames_resize" -> ((s, dir) => {
      val h = md5(col("text"))
      spread(s, rd(s, dir, "documents"))
        .select(
          col("doc_id"), col("text"),
          (conv(substring(h, 1, 4), 16, 10).cast("long") % 1024).as("width"),
          (conv(substring(h, 5, 4), 16, 10).cast("long") % 1024).as("height"),
          (conv(substring(h, 9, 2), 16, 10).cast("long") % 16 + 1).as("n_frames"))
        .withColumn("step", expr("greatest((n_frames + 3) div 4, 1)"))
        .select(col("doc_id"), col("text"), col("width"), col("height"),
          explode(sequence(lit(0L), col("n_frames") - 1, col("step"))).as("frame_idx"))
        .select(
          col("doc_id"), col("frame_idx"), col("width"), col("height"),
          expr("width * 256 div greatest(greatest(width, height), 1)").as("out_w"),
          expr("height * 256 div greatest(greatest(width, height), 1)").as("out_h"),
          (conv(substring(md5(concat(col("text"), lit(":"), col("frame_idx"))), 1, 4), 16, 10)
            .cast("long") % 256).as("frame_sig"))
        .orderBy("doc_id", "frame_idx")
    }),

    // pillar multimodal x dedup: IMAGE NEAR-DUP — perceptual hash +
    // hamming banding + exact verify, the LAION-style pipeline step that
    // pairs the two pillars. The hash column on this parquet path is the
    // 24-bit md5 pseudo-dHash (testdata content bytes are not images; the
    // REAL 64-bit javax.imageio dHash runs through the same banding in
    // MultimodalSpec's fixture gate, with 16-bit bands — the 100 TB
    // config); candidate generation is the q47 pigeonhole machinery —
    // maxHamming+1 contiguous bands are a LOSSLESS index for the
    // hamming<=maxHamming ball (q154's audited recall-1.0 argument
    // applies verbatim), exact bit_count verify prunes band false
    // positives, no cross join in the plan.
    "q164_image_neardup" -> ((s, dir) => {
      val withC = Multimodal.withContent(spread(s, rd(s, dir, "documents")), "text")
      val hashed = withC.select(col("doc_id"),
        Multimodal.pseudoDHash(col("content")).as("dhash"))
      Dedup.simhashCandidates(hashed, "doc_id", "dhash", bits = 24, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // pillar multimodal x dedup: IMAGE NEAR-DUP GROUPS — q164's pair set
    // collapsed to connected components (min-id per component via
    // Dedup.resolveGroups, the q52/q122 machinery):
    // transitive chains a~b~c where only adjacent pairs clear the
    // hamming threshold land in ONE keep-group, the form a dedup sweep
    // actually consumes.
    "q168_image_neardup_groups" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val hashed = Multimodal.withContent(docs, "text").select(col("doc_id"),
        Multimodal.pseudoDHash(col("content")).as("dhash"))
      val pairs = Dedup.simhashCandidates(hashed, "doc_id", "dhash",
          bits = 24, maxHamming = 3)
        .select("id_a", "id_b")
      Dedup.resolveGroups(docs, "doc_id", pairs)
        .orderBy("doc_id")
    }),

    // pillar multimodal x dedup x incremental: IMAGE NEAR-DUP SCREEN for
    // NEW content — each incoming item (the q132 IncrementalMod split)
    // counts its hamming<=3 neighbors in the existing corpus via the
    // lossless pigeonhole band join + exact verify; kept = no neighbor.
    // The ingest-time answer to "is this image already in the training
    // set" — at 100 TB the corpus bands are the persisted bucketed
    // table (q132 layout), incoming shuffles into it, corpus never
    // moves.
    "q169_image_neardup_incremental" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val hashed = Multimodal.withContent(docs, "text")
        .select(col("doc_id"), Multimodal.pseudoDHash(col("content")).as("dhash"))
        .localCheckpoint(false) // feeds both sides of the band join
      val incoming = hashed.filter(col("doc_id") % IncrementalMod === IncrementalMod - 1)
      val corpus = hashed.filter(col("doc_id") % IncrementalMod =!= IncrementalMod - 1)
      Dedup.incrementalHammingScreenOnBands(incoming,
          Dedup.hammingBands(corpus, "doc_id", "dhash", bits = 24, numBands = 4),
          "doc_id", "dhash", bits = 24, maxHamming = 3)
        .orderBy("doc_id")
    }),

    // pillar multimodal x dedup: VIDEO near-dup by FRAME-SET overlap —
    // the q103 frame grid, each sampled frame fingerprinted by its
    // 48-byte content window (deterministic stand-in for a per-frame
    // perceptual hash), assets sharing >= 2 fingerprints pair with
    // frame-set Jaccard. Third multimodal x dedup pairing: q164/q168
    // compare one whole-asset hash; this matches overlapping frame SETS.
    // Inverted index on the fingerprint, df cap 16 (the blank-frame /
    // boilerplate-intro guard) — no all-pairs at any scale.
    "q174_video_frame_neardup" -> ((s, dir) => {
      val frames = Multimodal.frameWindows(
        spread(s, rd(s, dir, "documents")), "doc_id", "text",
        windowBytes = 48, maxFrames = 4)
      Multimodal.frameSetNearDupPairs(frames, "doc_id", minShared = 2, dfCap = 16)
        .orderBy("id_a", "id_b")
    }),

    // pillar multimodal x dedup: DHASH BANDING-PARAMETER AUDIT — q154's
    // tuning-table shape on the q164 perceptual-hash config (24 bits,
    // 4 bands, maxHamming 3): per band count, candidate volume (the
    // shuffle-cost knob), recall against the EXACT hamming<=3 pair set
    // (4 contiguous bands are lossless by pigeonhole, so the truth is
    // complete), and the fp fraction the exact verify pays. 2 bands =
    // 12-bit keys (cheapest, lossy); 4 = the shipped lossless config;
    // 6 = lossless at 4-bit keys (wider buckets, more verifies). Same
    // corpus-scaled 1-in-m sample as q147/q154.
    "q170_dhash_tuning_audit" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val sig = Multimodal.withContent(
          graft.operators.Sampling.oneInM(docs, "doc_id", LshAuditSampleTarget)
            .localCheckpoint(false), "text")
        .select(col("doc_id"), Multimodal.pseudoDHash(col("content")).as("dhash"))
      // eager-checkpoint the 3-row audit before the sort (the q147/q154
      // lesson: orderBy's range-partitioner sampling re-executes the
      // whole multi-branch union otherwise)
      Dedup.hammingBandTuningAudit(sig, "doc_id", "dhash",
          bits = 24, bandConfigs = Seq(2, 4, 6), maxHamming = 3)
        .localCheckpoint(true)
        .orderBy("bands")
    }),

    // pillar multimodal x dedup x text: MULTI-SIGNAL CONSENSUS PAIRS —
    // the LAION-style signal combination: the text MinHash-LSH pair set
    // (q31) full-outer-joined with the image perceptual-hash pair set
    // (q164) on the pair key. A pair flagged by BOTH signals is a
    // consensus near-dup (drop with confidence); one-signal pairs are
    // the review band (caption copied under a new image, image reposted
    // with a new caption). Both inputs are banded candidate joins — the
    // consensus join itself is an equi-join of two already-tiny pair
    // frames, so the combination adds nothing to the scale cost.
    "q198_multimodal_consensus" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
        .localCheckpoint(false) // feeds both signal paths
      val text = Dedup.nearDuplicates(docs, "doc_id", "text",
          shingleN = 4, numHashes = 8, rowsPerBand = 4, threshold = 0.4)
        .select(col("id_a"), col("id_b"), col("jacc"))
      val img = Dedup.simhashCandidates(
          Multimodal.withContent(docs, "text")
            .select(col("doc_id"), Multimodal.pseudoDHash(col("content")).as("dhash")),
          "doc_id", "dhash", bits = 24, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
      text.join(img, Seq("id_a", "id_b"), "full_outer")
        .select(col("id_a"), col("id_b"), col("jacc"), col("hamming"),
          col("jacc").isNotNull.as("by_text"),
          col("hamming").isNotNull.as("by_image"),
          (col("jacc").isNotNull && col("hamming").isNotNull).as("consensus"))
        .orderBy("id_a", "id_b")
    }),

    // pillar multimodal: AUDIO PCM FEATURE EXTRACTION (round 12 — the
    // third standard modality after image q164/q76 and video q174):
    // windowed mean-amplitude features through the SAME mapPartitions
    // decode injection point the real wavDecode uses (per-partition
    // codec setup amortized, Tungsten encoders, no shuffle). The
    // parquet path interprets the opaque bytes as 8-bit PCM (a real
    // windowed-DSP computation the oracle reproduces from codepoints);
    // AudioSpec gates the real RIFF/WAVE 16-bit decoder on generated
    // fixtures through the identical plumbing.
    "q201_audio_pcm_features" -> ((s, dir) => {
      val withC = Multimodal.withContent(spread(s, rd(s, dir, "documents")), "text")
      Multimodal.decodeFeaturesWith(s, withC, "doc_id")(Multimodal.pcmDecode)
        .select(
          col("id").as("doc_id"),
          col("n_frames").cast("long").as("n_samples"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_f")))
        .select(col("doc_id"), col("n_samples"),
          col("feat_idx").cast("long").as("feat_idx"),
          col("feat_f").cast("double").as("feat"))
        .orderBy("doc_id", "feat_idx")
    }),

    // pillar multimodal x dedup: AUDIO NEAR-DUP by ENERGY-CONTOUR hash —
    // 32 adjacent-window loudness-trend bits (the audio dHash; VOLUME-
    // INVARIANT by the cross-multiplied integer comparison, AudioSpec
    // pins it on real WAV fixtures) driven through the q47/q164
    // pigeonhole banding + exact bit_count verify: 4 contiguous bands
    // are a lossless index for the hamming<=3 ball, no cross join at
    // any scale. Completes the modality x dedup matrix: text q31,
    // image q164, video q174, audio here.
    "q202_audio_contour_neardup" -> ((s, dir) => {
      val withC = Multimodal.withContent(spread(s, rd(s, dir, "documents")), "text")
      val hashed = Multimodal.pcmContourHashes(s, withC, "doc_id")
      Dedup.simhashCandidates(hashed, "doc_id", "ahash", bits = 32, maxHamming = 3)
        .orderBy("id_a", "id_b")
    })
  )

  protected def multimodalOracle: Map[String, String] = Map(
    "q41_multimodal_meta" ->
      """SELECT doc_id,
        |       strlen(text) AS n_bytes,
        |       ('0x' || substr(md5(text), 1, 4))::BIGINT % 1024 AS width,
        |       ('0x' || substr(md5(text), 5, 4))::BIGINT % 1024 AS height,
        |       ('0x' || substr(md5(text), 9, 2))::BIGINT % 16 + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q76_multimodal_decode" ->
      """WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
        |SELECT doc_id,
        |       ('0x' || substr(hx, 1, 4))::BIGINT % 1024 AS width,
        |       ('0x' || substr(hx, 5, 4))::BIGINT % 1024 AS height,
        |       ('0x' || substr(hx, 9, 2))::BIGINT % 16 + 1 AS n_frames,
        |       r.range AS feat_idx,
        |       ('0x' || substr(hx, (4 * r.range + 1)::INT, 2))::INT / 256.0 AS feat
        |FROM h, range(0, 8) r
        |ORDER BY doc_id, feat_idx""".stripMargin,

    "q103_frames_resize" ->
      """WITH m AS (SELECT doc_id, text,
        |  ('0x' || substr(md5(text), 1, 4))::BIGINT % 1024 AS width,
        |  ('0x' || substr(md5(text), 5, 4))::BIGINT % 1024 AS height,
        |  ('0x' || substr(md5(text), 9, 2))::BIGINT % 16 + 1 AS n_frames
        |  FROM documents),
        |f AS (SELECT *, greatest((n_frames + 3) // 4, 1) AS step FROM m),
        |e AS (SELECT doc_id, text, width, height, unnest(range(0, n_frames, step)) AS frame_idx FROM f)
        |SELECT doc_id, frame_idx, width, height,
        |  width * 256 // greatest(greatest(width, height), 1) AS out_w,
        |  height * 256 // greatest(greatest(width, height), 1) AS out_h,
        |  ('0x' || substr(md5(text || ':' || frame_idx), 1, 4))::BIGINT % 256 AS frame_sig
        |FROM e ORDER BY doc_id, frame_idx""".stripMargin,

    // all-pairs + exact hamming: the oracle recomputes the candidate set
    // the lossless banding is provably equal to (pigeonhole over 4 bands)
    "q164_image_neardup" ->
      """WITH d AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT AS dh
        |           FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       bit_count(xor(a.dh, b.dh))::BIGINT AS hamming
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // q52's recursive transitive closure over the q164 pair graph
    "q168_image_neardup_groups" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT AS dh FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dh, b.dh)) <= 3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id::BIGINT, doc_id::BIGINT FROM documents
        |  UNION
        |  SELECT e.dst, w.r FROM reach w JOIN edges e ON e.src = w.id)
        |SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // incoming x corpus all-pairs exact hamming — the set the lossless
    // band screen provably equals (shared with the streaming q171 gate)
    "q169_image_neardup_incremental" -> imageScreenOracle,

    // same frame grid + window fingerprints + df cap, recomputed in SQL
    "q174_video_frame_neardup" ->
      """WITH m AS (SELECT doc_id, text,
        |  ('0x' || substr(md5(text), 9, 2))::BIGINT % 16 + 1 AS n_frames FROM documents),
        |f AS (SELECT doc_id, text, n_frames,
        |        greatest((n_frames + 3) // 4, 1) AS step FROM m),
        |e AS (SELECT doc_id, text, unnest(range(0, n_frames, step)) AS fi FROM f),
        |w AS (SELECT DISTINCT doc_id, substr(text, (fi * 48 + 1)::INT, 48) AS win
        |      FROM e WHERE substr(text, (fi * 48 + 1)::INT, 48) <> ''),
        |dfc AS (SELECT win FROM w GROUP BY win HAVING count(*) <= 16),
        |k AS (SELECT w.doc_id, w.win FROM w JOIN dfc USING (win)),
        |sz AS (SELECT doc_id, count(*) AS n FROM k GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |      FROM k a JOIN k b ON a.win = b.win AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT id_a, id_b, n_shared,
        |       n_shared::DOUBLE / (sa.n + sb.n - n_shared) AS jacc
        |FROM p JOIN sz sa ON sa.doc_id = p.id_a JOIN sz sb ON sb.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin,

    // the q154 audit-oracle pattern over the 24-bit pseudo-dhash
    "q170_dhash_tuning_audit" -> {
      val bits = 24
      def bandCte(name: String, nb: Int): String = {
        val sels = (0 until nb).map { b =>
          val lo = b * bits / nb
          val hi = (b + 1) * bits / nb
          val mask = (1L << (hi - lo)) - 1
          s"SELECT doc_id, $b AS band, ((sh >> $lo) & $mask) AS key FROM shs"
        }.mkString("\n  UNION ALL ")
        s"$name AS (\n  $sels)"
      }
      def candCte(name: String, bandName: String): String =
        s"""$name AS (SELECT id_a, id_b, bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
           |  FROM (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |        FROM $bandName x JOIN $bandName y
           |        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id) c
           |  JOIN shs a ON a.doc_id = c.id_a JOIN shs b ON b.doc_id = c.id_b)""".stripMargin
      def cfgRow(cand: String, nb: Int): String =
        s"""SELECT $nb::BIGINT AS bands, count(*)::BIGINT AS n_candidates,
           |  sum(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END)::BIGINT AS n_true_found
           |FROM $cand""".stripMargin
      s"""WITH kpa AS (SELECT greatest(1, count(*) // $LshAuditSampleTarget) AS m FROM documents),
         |shs AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT AS sh
         |        FROM documents, kpa WHERE doc_id % kpa.m = 0),
         |${bandCte("band2", 2)},
         |${bandCte("band4", 4)},
         |${bandCte("band6", 6)},
         |${candCte("cand2", "band2")},
         |${candCte("cand4", "band4")},
         |${candCte("cand6", "band6")},
         |tot AS (SELECT count(*)::BIGINT AS n_true_total FROM cand4 WHERE hamming <= 3),
         |r AS (${cfgRow("cand2", 2)}
         |  UNION ALL ${cfgRow("cand4", 4)}
         |  UNION ALL ${cfgRow("cand6", 6)})
         |SELECT r.*, tot.n_true_total,
         |       CAST(n_true_found AS DOUBLE) / nullif(n_true_total, 0) AS recall,
         |       CAST(n_candidates - n_true_found AS DOUBLE) / nullif(n_candidates, 0) AS fp_rate
         |FROM r CROSS JOIN tot ORDER BY bands""".stripMargin
    },

    // q31's nd_pairs CTE full-outer-joined with q164's exact-hamming
    // image pair set on the pair key
    "q198_multimodal_consensus" ->
      s"""WITH $lshPairsCtes,
         |imgd AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT AS dh
         |         FROM documents),
         |img AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |               bit_count(xor(a.dh, b.dh))::BIGINT AS hamming
         |        FROM imgd a JOIN imgd b ON a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.dh, b.dh)) <= 3)
         |SELECT coalesce(t.id_a, img.id_a) AS id_a,
         |       coalesce(t.id_b, img.id_b) AS id_b,
         |       t.jacc, img.hamming,
         |       t.id_a IS NOT NULL AS by_text,
         |       img.id_a IS NOT NULL AS by_image,
         |       (t.id_a IS NOT NULL AND img.id_a IS NOT NULL) AS consensus
         |FROM nd_pairs t FULL OUTER JOIN img
         |  ON t.id_a = img.id_a AND t.id_b = img.id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // the 8-bit PCM interpretation recomputed from ASCII codepoints
    // (the q115 byte-stand-in convention): per-eighth integer mean
    // amplitude / 256 — exactly float32-representable on both engines
    "q201_audio_pcm_features" ->
      """WITH b AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(list_transform(range(1, n + 1), j -> unicode(substr(text, j::INT, 1))::BIGINT)) AS amp,
        |        unnest(list_transform(range(1, n + 1), j -> ((j - 1) * 8) // n)) AS w
        |      FROM b WHERE n > 0),
        |f AS (SELECT doc_id, w, (sum(amp) // count(*))::BIGINT AS mi FROM s GROUP BY 1, 2)
        |SELECT bb.doc_id, bb.n AS n_samples, bb.w AS feat_idx,
        |       coalesce(f.mi, 0)::DOUBLE / 256 AS feat
        |FROM (SELECT b.doc_id, b.n, g.w FROM b CROSS JOIN range(0, 8) g(w)) bb
        |LEFT JOIN f ON f.doc_id = bb.doc_id AND f.w = bb.w
        |ORDER BY bb.doc_id, bb.w""".stripMargin,

    // 33-window energy contour -> 32 comparison bits (cross-multiplied
    // integer sums, division-free) -> brute-force hamming<=3 truth (the
    // banded Spark plan computes the same relation by pigeonhole)
    "q202_audio_contour_neardup" ->
      """WITH b AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(list_transform(range(1, n + 1), j -> unicode(substr(text, j::INT, 1))::BIGINT)) AS amp,
        |        unnest(list_transform(range(1, n + 1), j -> ((j - 1) * 33) // n)) AS w
        |      FROM b WHERE n > 0),
        |e AS (SELECT doc_id, w, sum(amp)::BIGINT AS sm, count(*)::BIGINT AS ct FROM s GROUP BY 1, 2),
        |wn AS (SELECT bb.doc_id, bb.w, coalesce(e.sm, 0) AS sm, coalesce(e.ct, 0) AS ct
        |       FROM (SELECT b.doc_id, g.w FROM b CROSS JOIN range(0, 33) g(w)) bb
        |       LEFT JOIN e ON e.doc_id = bb.doc_id AND e.w = bb.w),
        |bits AS (SELECT c.doc_id,
        |           sum(CASE WHEN nx.sm * c.ct > c.sm * nx.ct
        |               THEN (1::BIGINT << c.w::INT) ELSE 0 END)::BIGINT AS ahash
        |         FROM wn c JOIN wn nx ON nx.doc_id = c.doc_id AND nx.w = c.w + 1
        |         WHERE c.w < 32 GROUP BY c.doc_id)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |       bit_count(xor(a.ahash, b2.ahash))::BIGINT AS hamming
        |FROM bits a JOIN bits b2 ON a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.ahash, b2.ahash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin
  )
}
