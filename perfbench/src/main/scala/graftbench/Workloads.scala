package graftbench

import graft.queries._

/** The benchmark's workloads. Queries are resolved straight from the
  * family objects, never through `graft.SparkEntry`, whose registry also
  * initializes the IMDB/TPC-H families that read SQL files from outside the
  * repository. Every selected query carries a static DuckDB oracle. */
object Workloads {

  /** Families the workloads may draw from. */
  def families: Seq[Q] =
    JobWide.all ++ OperatorGates.all ++ TextOps.all ++ ScaleOps.all ++
      Relational.all ++ Analytics.all ++ Extended.all ++ TextSearch.all ++
      StatsOps.all ++ GovernanceOps.all ++ VectorOps.all

  /** Name → query list per workload. Why each set was chosen is in
    * perfbench/DESIGN.md. */
  val names: Map[String, Seq[String]] = Map(
    // the only workload where the UCT rule, SampleStore, the runtime switch
    // and the WCOJ route do most of the work
    "job_joins" -> Seq(
      "q110_job_wide17", "q154_runtime_switch_wide", "q167_wcoj_sql_routed"),
    // a MemoryStream micro-batch gate: state commit, no join learning
    "stream_gates" -> Seq("q229_stream_cdc_latest"))

  /** Only job_joins holds learned join-order state worth checking. */
  def learnsOrders(workload: String): Boolean = workload == "job_joins"

  def streaming(workload: String): Boolean = workload == "stream_gates"

  /** Cycles an untraced run measures at least. A stream_gates cycle takes
    * about 11 s and a job_joins one about 26 s, so stream_gates runs three:
    * its median per state then rests on three samples and on about as much
    * timed work as job_joins' single sample. */
  def minCycles(workload: String): Int = if (streaming(workload)) 3 else 1

  /** The workload's queries in their listed order; fails on an unknown
    * workload or a name no family defines. */
  def resolve(workload: String): Seq[Q] = {
    val wanted = names.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; " +
        s"expected one of ${names.keys.toSeq.sorted.mkString(", ")}"))
    val byName = families.map(q => q.name -> q).toMap
    wanted.map(n => byName.getOrElse(n,
      throw new NoSuchElementException(s"$workload: no family defines $n")))
  }
}
