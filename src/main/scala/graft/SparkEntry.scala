package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Audio, Basket, BpeTrainer, Behavior, Cdc, Clustering, Components, Corpus, Dedup, Drift, Graph, Layout, Learn, Linkage, Markov, Multimodal, Pipeline, Profile, RegexpQueries, Relational, Retrieval, Similarity, Sketches, Skyline, SqlFunctions, Substring, TextAnalysis, TimeSeries, TpchSuite, UnigramLm, UrlOps, Winnow}
import graft.sources.Sources

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator (SURVEY.md §2 +
  * LLM-pipeline extensions) to a `(SparkSession, sfDir) => DataFrame`;
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's hash
  * compare. Queries without an oracle entry get a rows-only check (used for
  * the cases where DuckDB throws but the reference returns "", and for
  * non-SQL-expressible ops).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Mirrors the
    * reference's EP1 (reference: readme.md:38-57): scan -> project with the
    * registered parity function -> aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    Graft.init(spark)
    val d = "/root/testdata/sf0.001"
    Tables.events(spark, d)
      .select(col("event_type"),
        Graft.regexp_extract_ref(col("props"), lit("\"k\": (\\d+)"), lit(1))
          .cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg(col("k")).as("avg_k"))
      .orderBy("event_type")
  }

  /** Every query self-initializes its session (idempotent registry +
    * rule wiring): the driver contract passes an ARBITRARY session into
    * these lambdas, and library plans resolve graft-registered functions
    * (e.g. `graft_h60`) at analysis time — a session that never saw
    * Graft.init would throw UNRESOLVED_ROUTINE.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.view.mapValues { f =>
      (s: SparkSession, d: String) => f(Graft.init(s), d)
    }.toMap

  /** Names from a comma-separated list ("a, b,c"). */
  def names(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** `all` (`queries` or `oracleSql`) limited to the names listed in
    * SPARK_GRAFT_ONLY, the local-iteration filter of Bench and Verify;
    * all of it when that is unset (a full run).
    */
  def only[V](all: Map[String, V]): Map[String, V] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(all) { csv =>
      all.view.filterKeys(names(csv).toSet).toMap
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    RegexpQueries.queries ++ Relational.queries ++ TpchSuite.queries ++
      Dedup.queries ++ Similarity.queries ++ TextAnalysis.queries ++
      Multimodal.queries ++ Sources.queries ++ SqlFunctions.queries ++
      Pipeline.queries ++ Components.queries ++ Corpus.queries ++ Clustering.queries ++
      Layout.queries ++ Graph.queries ++ TimeSeries.queries ++ Linkage.queries ++
      Behavior.queries ++ Sketches.queries ++ Retrieval.queries ++ Substring.queries ++
      Profile.queries ++ Learn.queries ++ Basket.queries ++ Drift.queries ++
      Markov.queries ++ Skyline.queries ++ Cdc.queries ++ BpeTrainer.queries ++ UnigramLm.queries ++ UrlOps.queries ++
      Winnow.queries ++ Audio.queries

  def oracleSql: Map[String, String] =
    RegexpQueries.oracles ++ Relational.oracles ++ TpchSuite.oracles ++
      Dedup.oracles ++ Similarity.oracles ++ TextAnalysis.oracles ++
      Multimodal.oracles ++ Sources.oracles ++ SqlFunctions.oracles ++
      Pipeline.oracles ++ Components.oracles ++ Corpus.oracles ++ Clustering.oracles ++
      Layout.oracles ++ Graph.oracles ++ TimeSeries.oracles ++ Linkage.oracles ++
      Behavior.oracles ++ Sketches.oracles ++ Retrieval.oracles ++ Substring.oracles ++
      Profile.oracles ++ Learn.oracles ++ Basket.oracles ++ Drift.oracles ++
      Markov.oracles ++ Skyline.oracles ++ Cdc.oracles ++ BpeTrainer.oracles ++ UnigramLm.oracles ++ UrlOps.oracles ++
      Winnow.oracles ++ Audio.oracles
}
