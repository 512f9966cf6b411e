package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{etl, ext, functions, sources}

/** A closed-loop query workload: one client runs the workload's queries,
  * each fully materialised with `collect` (a `count` would let column
  * pruning skip the output expressions), in an order the seed shuffles
  * anew every sweep. `artifacts` are the serving state the queries read
  * (index-store and session-memo builds); they are built during set-up. */
final case class QueryWorkload(name: String, queries: Seq[String],
                               artifacts: Seq[(String, (SparkSession, String) => Unit)])

object Queries {
  type Q = (SparkSession, String) => DataFrame

  /** Every query-registering module, by the name the per-layer metrics use. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "etl.Analyze" -> etl.Analyze.queries,
    "etl.Projections" -> etl.Projections.queries,
    "functions.FnQueries" -> functions.FnQueries.queries,
    "functions.WelfordQueries" -> functions.WelfordQueries.queries,
    "ext.SetOps" -> ext.SetOps.queries,
    "ext.Dedup" -> ext.Dedup.queries,
    "ext.Similarity" -> ext.Similarity.queries,
    "ext.TextStats" -> ext.TextStats.queries,
    "ext.Curate" -> ext.Curate.queries,
    "ext.Classify" -> ext.Classify.queries,
    "ext.Joins" -> ext.Joins.queries,
    "ext.WindowFns" -> ext.WindowFns.queries,
    "ext.Graph" -> ext.Graph.queries,
    "sources.Sources" -> sources.Sources.queries)

  def moduleOf(query: String): String =
    modules.find(_._2.contains(query)).map(_._1).getOrElse("other")

  def fn(query: String): Q =
    modules.iterator.flatMap(_._2.get(query)).nextOption()
      .getOrElse(throw new NoSuchElementException(s"no query $query"))

  private def run(q: String)(s: SparkSession, d: String): Unit = fn(q)(s, d).collect()

  /** One client over a mix of the dashboard, curation and relational
    * families: a query from each main module, the faster ones of each
    * family, so that four sweeps (64 samples) take a short run and still
    * put ten samples beyond the 80th percentile.
    * The artifacts are the ingest-time state three of them serve from. */
  val serving = QueryWorkload("serving", Seq(
    "a2_group_count_desc", "o5_top_n", "f11_json_extract", "e1_union",
    "u1_welford_stats",
    "d3_minhash_lsh", "d13_pii_redact", "sim1_cosine_topk", "sim21_int8_ann",
    "t12_nb_classifier", "t27_readability", "mm1_binary_meta",
    "j5_range_join", "w1_topn_per_group", "g3_degree_stats", "s7_json_roundtrip"),
    Seq(
      "int8" -> ((s, d) => ext.Similarity.int8CodesFor(s, d).count()),
      "nb" -> run("t12_nb_classifier"),
      "graph-edges" -> ((s, d) => ext.Graph.graphFor(s, d)._2.count())))

  val workloads: Seq[QueryWorkload] = Seq(serving)
}
