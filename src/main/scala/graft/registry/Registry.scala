package graft.registry

/** Every registry query, one spec each; `graft.SparkEntry`'s maps and
  * `graft.Plans` derive from this list. */
object Registry {
  val families: Seq[QueryFamily] = Seq(
    AnalyticsLineitemQueries, AnalyticsOrderQueries, AnalyticsEventQueries,
    ReconcileQueries, CdcQueries, TextDedupQueries, TextCorpusQueries,
    VectorQueries, MultimodalQueries, DegenerateQueries)

  val specs: Seq[QuerySpec] = families.flatMap(_.specs)
}
