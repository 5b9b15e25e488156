package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, Quota, Similarity, Sketches, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a SURVEY §2 operator or a builder-brief
  * pillar (dedup / similarity / text analysis / multimodal / events)
  * expressed over the driver's parquet testdata; `oracleSql` holds the
  * DuckDB-equivalent SQL for every query — including the partial_ratio
  * scorer pipeline (q09/q10/q11/q50), whose oracle re-derives the
  * bit-parallel LCS scorer in SQL lambdas (see scorerCtes).
  *
  * Oracle-parity conventions used throughout:
  *   - integer outputs are long/BIGINT on both sides;
  *   - double outputs are either raw parquet values or derived with
  *     deterministic IEEE ops (integer-valued numerators/denominators,
  *     sequential fold order) so Spark and DuckDB agree bit-for-bit;
  *   - money-like sums go through DECIMAL(18,2/4) (exact) then cast to
  *     double;
  *   - every result carries a deterministic total ORDER BY.
  */
object SparkEntry extends MatchRegistry with RelationalRegistry with DedupRegistry with AnnRegistry with TextRegistry with EventsRegistry with StreamingRegistry with MultimodalRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    matchQueries ++
      relationalQueries ++
      dedupQueries ++
      annQueries ++
      textQueries ++
      eventsQueries ++
      streamingQueries ++
      multimodalQueries

  /** How many corpus artifacts this JVM has staged so far: entries of the
    * trained-artifact registry (centroids, codebooks, IVF and kNN-graph
    * indexes) plus catalog tables and views (bucketed layouts, persisted
    * signature tables). A query run that grows it paid a one-time build.
    */
  def stagedArtifacts(s: SparkSession): Int =
    modelPaths.size + s.catalog.listTables().collect().length

  def oracleSql: Map[String, String] =
    matchOracle ++
      relationalOracle ++
      dedupOracle ++
      annOracle ++
      textOracle ++
      eventsOracle ++
      streamingOracle ++
      multimodalOracle
}
