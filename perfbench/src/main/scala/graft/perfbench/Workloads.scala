package graft.perfbench

import graft._

/** The benchmark's workloads, as lists of registered queries.
  *
  * The package workloads partition [[SparkEntry.defs]]: every query is
  * owned by exactly one query-registering object, and every object by
  * exactly one package workload, except the queries [[heavy]] moves to a
  * workload of their own. `recsys_cold` runs the `recsys` queries with the
  * program's caches bypassed (see [[Harness]]).
  *
  * The split follows the engine's packages (`graft.etl`/`rank`/`score`,
  * `graft.rel`, `graft.ext`), cut further where one package would not fit
  * a benchmark run: `Lifecycle`'s one query runs the whole pipeline again
  * through the on-disk split cache and takes 12 to 24 s depending on what
  * ran before it, and `graft.rel`'s `EventQueries` (`events`: event
  * logs, funnels and four of the six streaming queries) runs apart from
  * the other four `graft.rel` objects (`relational`).
  */
object Workloads {

  final case class Query(name: String, module: String, build: QueryDef)

  /** (package workload, object name, its registered queries) for each of
    * the query-registering objects behind [[SparkEntry.defs]]. The queries
    * are read on demand, so a run initializes only its own objects.
    */
  val modules: Seq[(String, String, () => Map[String, QueryDef])] = Seq(
    ("recsys", "EtlQueries", () => etl.EtlQueries.defs),
    ("recsys", "Metrics", () => rank.Metrics.defs),
    ("recsys", "ScoreQueries", () => score.ScoreQueries.defs),
    ("lifecycle", "Lifecycle", () => Lifecycle.defs),
    ("relational", "StarQueries", () => rel.StarQueries.defs),
    ("relational", "DimQueries", () => rel.DimQueries.defs),
    ("relational", "SeriesQueries", () => rel.SeriesQueries.defs),
    ("relational", "TemporalQueries", () => rel.TemporalQueries.defs),
    ("events", "EventQueries", () => rel.EventQueries.defs),
    ("curation", "LinkQueries", () => ext.LinkQueries.defs),
    ("curation", "DedupQueries", () => ext.DedupQueries.defs),
    ("curation", "TextQueries", () => ext.TextQueries.defs),
    ("curation", "GraphQueries", () => ext.GraphQueries.defs),
    ("curation", "CurateQueries", () => ext.CurateQueries.defs),
    ("curation", "IvfQueries", () => ext.IvfQueries.defs),
    ("curation", "SimilarityQueries", () => ext.SimilarityQueries.defs),
    ("curation", "AssocQueries", () => ext.AssocQueries.defs),
    ("curation", "BpeQueries", () => ext.BpeQueries.defs),
    ("curation", "CorpusQueries", () => ext.CorpusQueries.defs),
    ("curation", "PackQueries", () => ext.PackQueries.defs),
    ("curation", "Multimodal", () => ext.Multimodal.defs),
    ("curation", "MmdRbf", () => ext.MmdRbf.defs))

  /** The costliest queries of `recsys` and `relational`, each group run
    * as a workload of its own. A listed workload is run 22 times in one
    * check that must end within 3,420 s, with every query run in three
    * passes; these queries took over half of their package's time.
    * `recsys` keeps one query per pipeline stage (`q_leave_two_out`,
    * `q_candidates`, `q_rank_metrics`, which share the memoized splits and
    * candidates) and the scoring operators; `relational` keeps one
    * stateful stream (`q_stream_session`) and a query of every object.
    */
  val heavy: Seq[(String, String, Set[String])] = Seq(
    ("recsys_heavy", "recsys", Set("q_neg_sample_scalable", "q_neg_sample", "q_rank_topk_agg",
      "q_approx_counts", "q_rank_metrics_agg", "q_train_subsample", "q_rank_topk",
      "q_merge_upsert", "q_sample_priority", "q_seq_windows", "q_id_densify",
      "q_user_collect", "q_embed_pca", "q_score_deciles")),
    ("relational_heavy", "relational", Set("q_stream_enrich", "q_concurrency", "q_gap_fill",
      "q3_shipping_priority", "q_histogram", "q5_region_revenue", "q_retention",
      "q_scd2_lookup", "q_trailing_24h", "q_set_ops", "q_scd2",
      "q_uniques_cumulative", "q_twa", "q_salted_agg")))

  val packages: Seq[String] = Seq("recsys", "recsys_heavy", "lifecycle", "relational",
    "relational_heavy", "events", "curation")

  /** The package workload that runs query `q` of a module of package `pkg`. */
  private def owner(pkg: String, q: String): String =
    heavy.collectFirst { case (w, `pkg`, qs) if qs(q) => w }.getOrElse(pkg)

  /** The package whose modules hold a package workload's queries. */
  private def source(pkg: String): String =
    heavy.collectFirst { case (`pkg`, p, _) => p }.getOrElse(pkg)

  /** The objects whose queries a workload may run, without initializing
    * any of them.
    */
  def moduleNames(workload: String): Seq[String] =
    modules.filter(_._1 == source(names(workload))).map(_._2)

  /** Workload name → the package whose queries it runs. */
  val names: Map[String, String] =
    packages.map(p => p -> p).toMap + ("recsys_cold" -> "recsys")

  /** Whether the run persists the interaction log, as `graft.Bench` does:
    * not in `recsys_cold`, and not where no query reads it.
    */
  def readsInteractions(workload: String): Boolean =
    Set("recsys", "recsys_heavy", "lifecycle", "curation")(workload)

  /** Reasons the package workloads do not partition the registry; empty
    * when every registered query belongs to exactly one workload.
    */
  def partitionErrors: Seq[String] = {
    val owners = modules.flatMap { case (p, m, d) => d().keys.map(q => q -> s"${owner(p, q)}/$m") }
      .groupMap(_._1)(_._2)
    val registered = SparkEntry.defs.keySet
    val unassigned = registered.diff(owners.keySet).toSeq.sorted
      .map(q => s"$q is registered but belongs to no workload")
    val shared = owners.collect { case (q, os) if os.size > 1 =>
      s"$q belongs to ${os.sorted.mkString(", ")}" }.toSeq.sorted
    val stale = owners.keySet.diff(registered).toSeq.sorted
      .map(q => s"$q is listed but not registered in SparkEntry.defs")
    val unknownPkg = (modules.map(_._1) ++ heavy.map(_._1)).distinct.filterNot(packages.contains)
      .map(p => s"package $p is not a workload")
    val unmoved = heavy.flatMap { case (w, p, qs) =>
      qs.filterNot(q => owners.get(q).exists(_.forall(_.startsWith(s"$w/"))))
        .map(q => s"$q is moved to $w but is not a query of a $p module")
    }.sorted
    unassigned ++ shared ++ stale ++ unknownPkg ++ unmoved
  }

  /** The workload's queries in the run order of pass `pass` for `seed`:
    * stored-index builds (`*_index_build`) first, in name order, as
    * [[SparkEntry.orderedQueries]] runs them; the rest in the `pass`-th
    * of a sequence of permutations drawn from `seed`, so that every pass
    * of a run has an order of its own. Results must not depend on the
    * order.
    */
  def ordered(workload: String, seed: Long, pass: Int = 0): Seq[Query] = {
    val pkg = names.getOrElse(workload,
      throw new IllegalArgumentException(
        s"unknown workload $workload (known: ${names.keys.toSeq.sorted.mkString(", ")})"))
    val qs = modules.filter(_._1 == source(pkg)).flatMap { case (p, m, d) =>
      d().toSeq.collect { case (n, q) if owner(p, n) == pkg => Query(n, m, q) }
    }.sortBy(_.name)
    val (builds, rest) = qs.partition(_.name.endsWith("_index_build"))
    val rng = new scala.util.Random(seed)
    builds ++ (0 to pass).map(_ => rng.shuffle(rest)).last
  }
}
