package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query workloads' operation sets, read through graft's public
  * `SparkEntry.queries` and each `QueryModule`'s `queries` map. */
object Queries {

  type Query = (SparkSession, String) => DataFrame

  /** Every module `SparkEntry` unions, by the name the roll-up prints. */
  val modules: Seq[(String, graft.core.QueryModule)] = Seq(
    "Tpch" -> graft.relational.Tpch,
    "Tpch2" -> graft.relational.Tpch2,
    "AnalyticsQueries" -> graft.analytics.AnalyticsQueries,
    "LlmQueries" -> graft.llm.LlmQueries,
    "CorpusQueries" -> graft.llm.CorpusQueries,
    "IndexQueries" -> graft.llm.IndexQueries,
    "QualityQueries" -> graft.llm.QualityQueries,
    "Extras" -> graft.relational.Extras,
    "Temporal" -> graft.relational.Temporal,
    "GraphQueries" -> graft.relational.GraphQueries,
    "TimOracle" -> graft.sources.TimOracle,
    "FixtureOracles" -> graft.sources.FixtureOracles)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, q) => q.queries.keys.map(_ -> m) }.toMap

  /** Queries no workload runs, with the reason printed on every run. */
  val excluded: Seq[(String, String)] = Seq(
    "tim1_backend_stats" -> "reads TimOracle's hard-coded reference data, absent from a checkout",
    "tim2_tspan_nfreqs" -> "reads TimOracle's hard-coded reference data, absent from a checkout",
    "par1_param_table" -> "reads TimOracle's hard-coded reference data, absent from a checkout",
    "s6_noisefile_roundtrip" -> "writes fixed paths under /tmp, outside the checkout (FixtureOracles)",
    "s9_chain_roundtrip" -> "writes fixed paths under /tmp, outside the checkout (FixtureOracles)",
    "s8_covariance_roundtrip" -> "writes fixed paths under /tmp, outside the checkout (FixtureOracles)",
    "s13_bilby_roundtrip" -> "writes fixed paths under /tmp, outside the checkout (FixtureOracles)")

  /** Every registered query a workload may run, by name. */
  def runnable: Seq[(String, Query)] = {
    val skip = excluded.map(_._1).toSet
    graft.SparkEntry.queries.toSeq.filterNot(q => skip(q._1)).sortBy(_._1)
  }

  /** One pass's operations in seed-shuffled order; pass `p` of seed `s`
    * always gives the same order. */
  def order[T](ops: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}
