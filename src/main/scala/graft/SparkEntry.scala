package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Registry of every implemented operator query (SURVEY §2 inventory plus
  * the LLM-pipeline extensions), each paired with DuckDB oracle SQL where
  * the semantics are ANSI-SQL-expressible.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Since round 12 this is q_pipeline_run — the end-to-end
    * curation run (quarantine → quality → exact + near dedup →
    * decontamination → source caps → pack) with its per-stage
    * doc/token attrition table: the LLM-data-pipeline deliverable the
    * library exists for, composing the standalone registry operators
    * through shared code. (The previous flagship, the UserHotcar-shaped
    * q_recommend, remains oracle-gated in the registry.)
    */
  def entry(spark: SparkSession): DataFrame =
    ext.Pipeline.qPipelineRun(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * LLM-pipeline extensions (dedup, similarity, text, temporal,
    * multimodal).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (jobs.CoreQueries.queries ++ jobs.RecPipeline.queries ++
      jobs.AnalyticsQueries.queries ++
      ext.Dedup.queries ++ ext.Similarity.queries ++ ext.TextOps.queries ++
      ext.Sessions.queries ++ ext.Multimodal.queries ++ ext.Pipeline.queries ++
      ext.Corpus.queries ++ ext.Stats.queries ++ ext.Layout.queries ++
      sources.KvTable.queries).map { case (name, q) => name -> stableCodegen(q) }

  /** Whole-stage codegen names each generated class after its codegen
    * stage id, and under AQE the ids follow the order in which a query's
    * stages materialize, which varies from run to run: the same operator
    * pipeline then gets a new class body and misses the codegen cache
    * (q_dedup_minhash compiled 12 classes again on its second run in one
    * session, all but one of them a class of its first run under another
    * id). With
    * the id left out of the class name, equal pipelines generate equal
    * source and hit the cache; the id stays in a comment of the generated
    * code. Set on the session each registry query is built on, since the
    * caller, not this library, builds the session.
    */
  private def stableCodegen(q: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, d) => {
    s.conf.set("spark.sql.codegen.useIdInClassName", "false")
    q(s, d)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops (those get
    * the driver's weaker rows-only check).
    */
  def oracleSql: Map[String, String] =
    jobs.CoreQueries.oracles ++ jobs.RecPipeline.oracles ++
      jobs.AnalyticsQueries.oracles ++
      ext.Dedup.oracles ++ ext.Similarity.oracles ++ ext.TextOps.oracles ++
      ext.Sessions.oracles ++ ext.Multimodal.oracles ++ ext.Pipeline.oracles ++
      ext.Corpus.oracles ++ ext.Stats.oracles ++ ext.Layout.oracles ++
      sources.KvTable.oracles
}
