package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, Quota, Similarity, Sketches, TextAnalysis}

/** Registry pillar: the reference heurFuzz pipeline: scan/strip, bigrams, pair generation,
  * coverage/top-K heuristics, partial_ratio verify, argmax + export. Split from SparkEntry.scala
  * (round 8); query semantics and oracle SQL unchanged.
  */
trait MatchRegistry extends RegistryBase {
  protected def matchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_strip" -> ((s, dir) =>
      rd(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.pyStrip(col("text")).as("term"))
        .orderBy("doc_id")),

    // §2 op 2: byte-length projection
    "q02_byte_len" -> ((s, dir) =>
      rd(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("byte_len"))
        .orderBy("doc_id")),

    // §2 op 3: bigram extraction (counts; list payloads stay engine-side).
    // The byte bigrams as codegen'd int codes, one per bigram, so the
    // count is the array size and distinct codes are distinct bigrams; a
    // null text counts as the empty string
    "q03_bigram_stats" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.byteBigramCodes(coalesce(col("text"), lit(""))).as("c"))
        .select(col("doc_id"), size(col("c")).cast("long").as("n_bigrams"),
          size(array_distinct(col("c"))).cast("long").as("n_distinct"))
        .orderBy("doc_id")),

    // §2 ops 4-6: cross join + per-pair coverage + length difference
    "q05_pair_coverage" -> ((s, dir) =>
      partPairs(s, dir).select("q_id", "r_id", "coverage", "len_diff").orderBy("q_id", "r_id")),

    // §2 op 7: per-query top-K window, desc(coverage, len_diff, ref_id)
    "q07_pair_topk" -> ((s, dir) => {
      val w = Window.partitionBy("q_id")
        .orderBy(col("coverage").desc, col("len_diff").desc, col("r_id").desc)
      partPairs(s, dir)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("q_id", "r_id", "coverage", "len_diff", "rank")
        .orderBy("q_id", "rank")
    }),

    // §2 op 9: partial_ratio verify scorer (codegen'd expression — no SQL
    // oracle, rows-only)
    "q09_fuzzy_score" -> ((s, dir) => {
      val w = Window.partitionBy("q_id")
        .orderBy(col("coverage").desc, col("len_diff").desc, col("r_id").desc)
      partPairs(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .withColumn("score",
          org.apache.spark.sql.graft.GraftFunctions.partialRatioCutoff(col("r_name"), col("q_name"), 60))
        .select(col("q_id"), col("r_id"), col("score").cast("long").as("score"))
        .orderBy("q_id", "r_id")
    }),

    // §2 op 10: argmax + tie-break reduce — the full match pipeline
    // (depends on the scorer — rows-only check)
    "q10_fuzzy_match" -> ((s, dir) => {
      val parts = rd(s, dir, "part")
      val queries = parts.select(col("p_partkey").as("id"), lower(col("p_name")).as("term"))
        .filter(col("id") < 100)
      val refs = parts.groupBy(col("p_name").as("term"))
        .agg(min(col("p_partkey")).cast("long").as("id"))
      HeurFuzz.matchTable(queries, refs, HeurFuzz.Params(topK = 5, scoreCutoff = 80))
        .orderBy("q_id")
    }),

    // §2 op 11: map-ratio global aggregate (depends on the scorer — rows-only)
    "q11_map_ratio" -> ((s, dir) => {
      val parts = rd(s, dir, "part")
      val queries = parts.select(col("p_partkey").as("id"), lower(col("p_name")).as("term"))
        .filter(col("id") < 100)
      val refs = parts.groupBy(col("p_name").as("term"))
        .agg(min(col("p_partkey")).cast("long").as("id"))
      HeurFuzz.matchTable(queries, refs, HeurFuzz.Params(topK = 5, scoreCutoff = 80))
        .agg(round(avg(when(col("match") =!= "NA", 1.0).otherwise(0.0)) * 100, 2).as("map_ratio"))
    }),

    // §2 op 12: ordered export (the sink's SELECT; file format in ReadersSpec)
    "q12_ordered_export" -> ((s, dir) =>
      rd(s, dir, "documents").select("doc_id", "lang", "source").orderBy("doc_id")),

    // §2 op 14: ETL dedup + normalize
    "q14_etl_dedup" -> ((s, dir) =>
      rd(s, dir, "documents")
        .select(lower(TextFunctions.pyStrip(col("text"))).as("term"))
        .filter(octet_length(col("term")) > 1)
        .distinct()
        .orderBy("term")),

    // §2 op 15: delimited-field extract (dmp-style split)
    "q15_field_extract" -> ((s, dir) =>
      rd(s, dir, "part")
        .select(col("p_partkey"), split(col("p_name"), " ").getItem(1).as("field"))
        .orderBy("p_partkey")),

    // the fuzzy match at document scale: distinct part names vs
    // document-prefix refs; its SQL oracle is the full pipeline incl. the
    // LCS scorer, so the oracle check holds it to the reference semantics
    // exactly
    "q50_match_cross_5k" -> ((s, dir) => matchDocs(s, dir)),

    // SQL surface: the codegen'd Catalyst expression invoked through
    // spark.sql — gates the SparkSessionExtensions function (registered
    // idempotently so it works on ANY caller's session) against the same
    // LCS oracle as the Column API queries
    "q64_sql_scorer" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftExtensions.ensureRegistered(s)
      rd(s, dir, "part").createOrReplaceTempView("graft_part_v")
      s.sql(
        """SELECT p_partkey, CAST(partial_ratio_cutoff(p_name, 'gadget', 50) AS BIGINT) AS score
          |FROM graft_part_v ORDER BY p_partkey""".stripMargin)
    }),

    // optimizer-rule surface: a filter-only scorer comparison — the
    // FoldPartialRatioCutoffPredicate rule rewrites it into the
    // early-exit partial_ratio_at_least expression (OptimizerRuleSpec
    // pins the rewrite; this gate pins that the rewrite is
    // answer-preserving vs the full LCS oracle)
    "q86_scorer_predicate" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftExtensions.ensureRegistered(s)
      rd(s, dir, "part").createOrReplaceTempView("graft_part_pred_v")
      s.sql(
        """SELECT p_partkey, p_name
          |FROM graft_part_pred_v
          |WHERE partial_ratio_cutoff(p_name, 'gadget', 65) > 0
          |ORDER BY p_partkey""".stripMargin)
    }),

    // similarity: edit-distance threshold self-join via SEGMENT-SIGNATURE
    // blocking (PassJoin, Li et al. VLDB'12 family). Pigeonhole: lev(a,b)
    // <= t means at least one of b's t+1 contiguous segments is edit-free,
    // so it occurs VERBATIM in a at a start shifted by x with
    // |x| + |(len(a)-len(b)) - x| <= t (edits before the segment produce
    // the shift, edits after produce the rest of the length delta). The
    // index side explodes each string into its t+1 segments; the probe
    // side generates only the admissible substrings; the join key is
    // (indexed_len, segment_idx, segment_text) — selective CONTENT, not
    // length (length-only blocking keeps whole same-length classes and
    // goes quadratic at scale). Strings too short to partition
    // (len <= t, a bounded set: <= |alphabet|^t distinct names) pair
    // through a residual length-band branch. levenshtein verifies only
    // the deduplicated candidates.
    "q100_edit_distance_join" -> ((s, dir) => {
      val t = 3
      val n = rd(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("id"))
        .withColumn("len", length(col("name")))

      // index side: t+1 contiguous segments, seg i = [i*l/(t+1), (i+1)*l/(t+1))
      val segs = n
        .filter(col("len") >= t + 1) // every segment non-empty
        .select(col("id"), col("name"), col("len"),
          expr(
            s"""explode(transform(sequence(0, $t), i -> struct(
               |  i AS seg_idx,
               |  substring(name, cast(i * len div ${t + 1} AS int) + 1,
               |            cast((i+1) * len div ${t + 1} AS int)
               |              - cast(i * len div ${t + 1} AS int)) AS seg)))""".stripMargin)
            .as("sg"))
        .select(col("id"), col("name"), col("len"),
          col("sg.seg_idx").as("seg_idx"), col("sg.seg").as("seg"))

      // probe side: for every indexed length l in [len-t, len+t] (l > t)
      // and segment i, the substrings of this string whose start q obeys
      // the shift bound; qpos is 0-based, p = segment start in a length-l
      // string
      val probes = n
        .filter(col("len") >= 1)
        .select(col("id"), col("name"), col("len"),
          expr(
            s"""explode(flatten(transform(
               |  filter(sequence(${t + 1}, len + $t), l -> l >= len - $t), l ->
               |    flatten(transform(sequence(0, $t), i ->
               |      filter(
               |        transform(
               |          sequence(cast(i * l div ${t + 1} AS int) - $t,
               |                   cast(i * l div ${t + 1} AS int) + $t),
               |          q -> struct(
               |            l AS blen, i AS seg_idx, q AS qpos,
               |            cast(i * l div ${t + 1} AS int) AS p,
               |            cast((i+1) * l div ${t + 1} AS int)
               |              - cast(i * l div ${t + 1} AS int) AS slen)),
               |        c -> c.qpos >= 0 AND c.qpos + c.slen <= len
               |          AND abs(c.qpos - c.p)
               |            + abs((len - c.blen) - (c.qpos - c.p)) <= $t))))))""".stripMargin)
            .as("c"))
        .select(col("id"), col("name"),
          col("c.blen").as("blen"), col("c.seg_idx").as("seg_idx"),
          expr("substring(name, c.qpos + 1, c.slen)").as("seg"))

      val segCands = probes.alias("a")
        .join(segs.alias("b"),
          col("a.blen") === col("b.len") && col("a.seg_idx") === col("b.seg_idx") &&
            col("a.seg") === col("b.seg") && col("a.id") =!= col("b.id"))

      // residual: strings with len <= t can't donate t+1 non-empty
      // segments; pair them among themselves by length band (both sides
      // bounded — n holds DISTINCT names, so at most |alphabet|^t rows).
      // Mixed short/long pairs are already covered above (the probe side
      // is unrestricted; only the INDEXED side needs len > t).
      val shortN = n.filter(col("len") <= t)
      val shortCands = shortN
        .withColumn("lb", explode(sequence(col("len") - t, col("len") + t)))
        .alias("a")
        .join(shortN.alias("b"),
          col("a.lb") === col("b.len") && col("a.id") =!= col("b.id"))

      def normalize(j: DataFrame): DataFrame = j.select(
        when(col("a.id") < col("b.id"),
          struct(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.name").as("name_a"), col("b.name").as("name_b")))
          .otherwise(
            struct(col("b.id").as("id_a"), col("a.id").as("id_b"),
              col("b.name").as("name_a"), col("a.name").as("name_b")))
          .as("p"))
        .select(col("p.*"))

      normalize(segCands).unionByName(normalize(shortCands))
        .distinct() // one pair can be found through several segments
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= t)
        .orderBy("id_a", "id_b")
    }),

    // scorer LONG-NEEDLE gate: needles of 63-126 chars force the Spark
    // scorer off the 64-bit Allison-Dix fast path onto the generic
    // DP/window path (Fuzz.lcsDp + partialRatioGeneric), which the other
    // scorer gates never reach (testdata names max at 40 chars). The
    // oracle re-derives every score with a HUGEINT (128-bit) bit vector —
    // same published algorithm, wide enough for the long needles — so the
    // DP path is hash-exact-gated, not just unit-tested.
    "q105_scorer_long_needle" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftExtensions.ensureRegistered(s)
      rd(s, dir, "documents").createOrReplaceTempView("graft_docs_v")
      // REPARTITION(q_id) (round 17): the one-file scan left the cross
      // join's stream side in a single task, serializing ~400 generic-DP
      // long-needle scores (profile sweep: 2.6 s at 0.9x parallelism);
      // the keyed repartition spreads the needles at the session's
      // shuffle width without changing a row
      s.sql(
        """SELECT q.q_id, r.r_id,
          |       CAST(partial_ratio_cutoff(q.needle, r.text, 55) AS BIGINT) AS score
          |FROM (SELECT /*+ REPARTITION(q_id) */ doc_id AS q_id,
          |             substr(text, 1, CAST(63 + doc_id % 64 AS INT)) AS needle
          |      FROM graft_docs_v WHERE doc_id < 40 AND length(text) >= 130) q
          |CROSS JOIN (SELECT doc_id AS r_id, text FROM graft_docs_v
          |            WHERE doc_id >= 40 AND doc_id < 50 AND length(text) >= 130) r
          |ORDER BY q_id, r_id""".stripMargin)
    })
  )

  protected def matchOracle: Map[String, String] = Map(
    "q01_scan_strip" ->
      """SELECT doc_id, regexp_replace(text, '^\s+|\s+$', '', 'g') AS term
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q02_byte_len" ->
      "SELECT doc_id, strlen(text) AS byte_len FROM documents ORDER BY doc_id",

    "q03_bigram_stats" ->
      """SELECT doc_id,
        |       greatest(strlen(text) - 1, 0) AS n_bigrams,
        |       len(list_distinct(list_transform(range(1, strlen(text)), i -> substr(text, i::INT, 2)))) AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q05_pair_coverage" ->
      (partPairsSql + "SELECT q_id, r_id, coverage, len_diff FROM pairs ORDER BY q_id, r_id"),

    "q07_pair_topk" ->
      (partPairsSql +
        """, ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY coverage DESC, len_diff DESC, r_id DESC) AS rank
          |  FROM pairs)
          |SELECT q_id, r_id, coverage, len_diff, rank FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // the verify scorer over the q07 top-5 candidates (argument order
    // matches the Spark query: partialRatioCutoff(r_name, q_name, 60))
    "q09_fuzzy_score" ->
      (partPairsSql +
        s""", ranked AS (
           |  SELECT q_id, r_id, row_number() OVER (PARTITION BY q_id ORDER BY coverage DESC, len_diff DESC, r_id DESC) AS rank
           |  FROM pairs),
           |topk AS (SELECT q_id, r_id FROM ranked WHERE rank <= 5),
           |named AS (
           |  SELECT t.q_id, t.r_id, q.q_name, r.r_name
           |  FROM topk t JOIN q ON q.q_id = t.q_id JOIN r ON r.r_id = t.r_id),
           |${scorerCtes("named", "r_name", "q_name", 60)}
           |SELECT q_id, r_id, score FROM scored ORDER BY q_id, r_id""".stripMargin),

    "q10_fuzzy_match" ->
      s"""WITH ${matchPipelineCtes(
           "SELECT p_partkey AS id, lower(p_name) AS term FROM part WHERE p_partkey < 100",
           "SELECT min(p_partkey)::BIGINT AS id, p_name AS term FROM part GROUP BY p_name",
           topK = 5, cutoff = 80)}
         |SELECT q_id, query, match FROM mt ORDER BY q_id""".stripMargin,

    "q11_map_ratio" ->
      s"""WITH ${matchPipelineCtes(
           "SELECT p_partkey AS id, lower(p_name) AS term FROM part WHERE p_partkey < 100",
           "SELECT min(p_partkey)::BIGINT AS id, p_name AS term FROM part GROUP BY p_name",
           topK = 5, cutoff = 80)}
         |SELECT round(avg(CASE WHEN match <> 'NA' THEN 1.0 ELSE 0.0 END) * 100, 2) AS map_ratio FROM mt""".stripMargin,

    // the full fuzzy pipeline at document scale
    "q50_match_cross_5k" ->
      s"""WITH ${matchPipelineCtes(
           "SELECT min(p_partkey)::BIGINT AS id, lower(p_name) AS term FROM part GROUP BY lower(p_name)",
           "SELECT doc_id AS id, substr(text, 1, 40) AS term FROM documents",
           topK = 10, cutoff = 70)}
         |SELECT q_id, query, match FROM mt ORDER BY q_id""".stripMargin,

    "q12_ordered_export" ->
      "SELECT doc_id, lang, source FROM documents ORDER BY doc_id",

    "q14_etl_dedup" ->
      """SELECT DISTINCT lower(regexp_replace(text, '^\s+|\s+$', '', 'g')) AS term
        |FROM documents
        |WHERE strlen(lower(regexp_replace(text, '^\s+|\s+$', '', 'g'))) > 1
        |ORDER BY term""".stripMargin,

    "q15_field_extract" ->
      "SELECT p_partkey, split_part(p_name, ' ', 2) AS field FROM part ORDER BY p_partkey",

    "q64_sql_scorer" ->
      s"""WITH named AS (SELECT p_partkey, p_name, 'gadget' AS probe FROM part),
         |${scorerCtes("named", "p_name", "probe", 50)}
         |SELECT p_partkey, score FROM scored ORDER BY p_partkey""".stripMargin,

    "q105_scorer_long_needle" ->
      s"""WITH q AS (SELECT doc_id AS q_id, substr(text, 1, (63 + doc_id % 64)::INT) AS needle
         |           FROM documents WHERE doc_id < 40 AND strlen(text) >= 130),
         |r AS (SELECT doc_id AS r_id, text FROM documents
         |      WHERE doc_id >= 40 AND doc_id < 50 AND strlen(text) >= 130),
         |named AS (SELECT q_id, r_id, needle, text FROM q CROSS JOIN r),
         |${scorerCtes("named", "needle", "text", 55, "HUGEINT")}
         |SELECT q_id, r_id, score FROM scored ORDER BY q_id, r_id""".stripMargin,

    "q86_scorer_predicate" ->
      s"""WITH named AS (SELECT p_partkey, p_name, 'gadget' AS probe FROM part),
         |${scorerCtes("named", "p_name", "probe", 65)}
         |SELECT p_partkey, p_name FROM scored WHERE score > 0 ORDER BY p_partkey""".stripMargin,

    "q100_edit_distance_join" ->
      """WITH n AS (SELECT p_name AS name, min(p_partkey) AS id FROM part GROUP BY p_name)
        |SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
        |       levenshtein(a.name, b.name) AS dist
        |FROM n a JOIN n b ON a.id < b.id
        |WHERE abs(strlen(a.name) - strlen(b.name)) <= 3 AND levenshtein(a.name, b.name) <= 3
        |ORDER BY id_a, id_b""".stripMargin
  )
}
