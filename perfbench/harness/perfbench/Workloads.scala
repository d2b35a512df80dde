package perfbench

import graft.queries._

/** The batch workloads: fixed query sets drawn from the repository's
  * query registries. Every seed runs the same set; the seed only orders
  * each pass. Each set samples the families of one layer and is sized so
  * that a whole run (fresh JVM, set-up, first pass, warm passes) takes
  * well under a minute on a 4-core host. README.md lists the families
  * each set stands for. */
object Workloads {

  /** One query of a workload and the registry object it comes from. */
  final case class Op(module: String, spec: QuerySpec) {
    def name: String = spec.name
  }

  private def pick(module: String, all: Seq[QuerySpec], names: String*): Seq[Op] =
    names.map { n =>
      Op(module, all.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$module has no query $n")))
    }

  /** The printer-fleet family (the reference-surface registries),
    * sampled at three points of its measured cost: `x8_pipeline_e2e`,
    * the reference pipeline composed end to end and the family's
    * heaviest query; `q18_big_orders`, the query in which the middle
    * second of the family's warm time falls; and `a9_toner_ticket`, its
    * median query. README.md records the measurement. No memo registry
    * or iterative loop. */
  val fleetEtl: Seq[Op] =
    pick("PipelineE2EQueries", PipelineE2EQueries.all, "x8_pipeline_e2e") ++
      pick("CoreQueries", CoreQueries.all, "q18_big_orders") ++
      pick("TicketQueries", TicketQueries.all, "a9_toner_ticket")

  /** Eager materialization inside the query functions: the k-means loop,
    * PageRank's power iteration, and star clusters over connected
    * components behind a memo registry (built in the first pass and
    * reused after). */
  val graphIter: Seq[Op] =
    pick("VectorQueries", VectorQueries.all, "t25_kmeans_assign") ++
      pick("GraphQueries", GraphQueries.all, "t81b_graph_pagerank") ++
      pick("TextQueries", TextQueries.all, "t33_star_parity")

  /** Executor kernels over the documents table, one or two queries from
    * each curation family: lexical dedup (exact, SimHash), containment
    * and spans (boilerplate blocks), decontamination and line dedup
    * (winnowing), quality rules. */
  val textCuration: Seq[Op] =
    pick("TextQueries", TextQueries.all, "t1_exact_dedup", "t3_simhash",
      "t37_block_boilerplate", "t60_winnowing") ++
      pick("CurationQueries", CurationQueries.all, "t72b_c4_rules")

  val batch: Map[String, Seq[Op]] = Map(
    "fleet_etl" -> fleetEtl,
    "graph_iter" -> graphIter,
    "text_curation" -> textCuration)

  val names: Seq[String] = Seq("fleet_etl", "graph_iter", "text_curation",
    "stream_ingest")
}
