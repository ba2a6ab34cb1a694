package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 surfaces here as a named query; each
  * SQL-expressible one carries a DuckDB oracle in [[oracleSql]] (driver
  * hash-matches at sf0.01). Non-SQL-expressible operators (iterative graph
  * algorithms, hash-seeded sketches) are registered without an oracle →
  * rows-only check + ScalaTest golden/invariant specs.
  */
object SparkEntry {

  /** Flagship on sf0.001 — the reference's EP2 pipeline end-to-end:
    * co-engagement projection (J1) → Louvain communities (G6) → one-pass
    * per-community structure metrics (A7–A10). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val edges = graft.graph.Projection.supplierGraph(spark, dir)
    val communities = graft.graph.Louvain.run(edges, distRounds = 2)
    graft.metrics.CommunityMetrics.structure(edges, communities)
  }

  /** Local-mode core count of the `Verify` and `Bench` mains, which also
    * use it as their shuffle partition count (`SPARK_GRAFT_CPUS`). */
  private[graft] def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.defs ++
      VectorQueries.defs ++
      TextQueries.defs ++
      GraphQueries.defs ++
      PipelineQueries.defs ++
      IngestQueries.defs ++
      CorpusQueries.defs

  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++
      VectorQueries.oracles ++
      TextQueries.oracles ++
      GraphQueries.oracles ++
      PipelineQueries.oracles ++
      IngestQueries.oracles ++
      CorpusQueries.oracles
}
