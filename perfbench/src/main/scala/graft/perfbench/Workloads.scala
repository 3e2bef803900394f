package graft.perfbench

import graft.core.Catalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One op of a workload: a single call into a public entry point, with
  * the DuckDB SQL that must reproduce its result and the input tables it
  * reads.
  */
final case class Op(name: String, registry: String,
                    fn: (SparkSession, String) => DataFrame, oracle: Option[String],
                    tables: Seq[String])

object Workloads {
  type Registry = Map[String, ((SparkSession, String) => DataFrame, Option[String])]

  val registries: Seq[(String, Registry)] = Seq(
    "RelationalQueries" -> graft.queries.RelationalQueries.registry,
    "OlapQueries" -> graft.queries.OlapQueries.registry,
    "EtlQueries" -> graft.queries.EtlQueries.registry,
    "TimeSeriesQueries" -> graft.queries.TimeSeriesQueries.registry,
    "ExtensionQueries" -> graft.queries.ExtensionQueries.registry)

  private val docs = Seq("documents")

  /** The ops each workload runs per pass, by registry name, with the
    * input tables each reads (the numerator of `rows_per_s`).
    */
  val opNames: Map[String, Seq[(String, Seq[String])]] = Map(
    "retail_batch" -> Seq(
      "q3_join_agg" -> Seq("lineitem", "supplier", "nation", "region"),
      "q22_rollup" -> Seq("lineitem"),
      "q53_trailing_window" -> Seq("events"),
      "q31_etl_transactions" -> Seq("lineitem", "orders"),
      "q33_etl_customer" -> Seq("lineitem", "orders", "customer")),
    "corpus_curate" -> Seq(
      "t2_quality" -> docs, "d2_minhash_signatures" -> docs, "d3_minhash_pairs" -> docs,
      "d4_ngram_jaccard" -> docs, "d6_simhash_pairs" -> docs))

  /** Two deliberately broken ops for the self-test: one throws, one
    * returns a result its oracle does not reproduce.
    */
  val faults: Seq[Op] = Seq(
    Op("inject_throw", "injected",
      (_: SparkSession, _: String) => throw new IllegalStateException("injected failure"),
      Some("SELECT 1 AS x"), Nil),
    Op("inject_wrong", "injected",
      (s: SparkSession, d: String) => Catalog(s, d).region.select(col("r_regionkey")),
      Some("SELECT r_regionkey + 1 AS r_regionkey FROM region"), Seq("region")))

  def op(name: String, tables: Seq[String]): Op =
    registries.collectFirst { case (reg, m) if m.contains(name) =>
      Op(name, reg, m(name)._1, m(name)._2, tables)
    }.getOrElse(throw new IllegalArgumentException(s"unknown op $name"))

  def ops(workload: String, injectFaults: Boolean): Seq[Op] = {
    val names = opNames.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    names.map { case (n, t) => op(n, t) } ++ (if (injectFaults) faults else Nil)
  }
}
