package graft.queries

import graft.pipelines.{DimensionRefresh, Lending}

/** The reference's three ETL lifecycles as oracle-checked batch queries
  * (SURVEY.md §3): funding stats is registered separately as the flagship;
  * these cover the lending ingest and the two dimension refreshes. The
  * builders return unordered frames (their sinks keep no order); each
  * entry here adds the sort its oracle SQL ends with, so the row-by-row
  * compare sees one order.
  */
object PipelineQueries {

  val all: Seq[QueryDef] = Seq(
    QueryDef("lending_pipeline",
      (s, dir) => Lending.build(s, dir).orderBy("loan_duration_days"),
      Lending.oracleSql),
    QueryDef("dim_refresh_spot",
      (s, dir) => DimensionRefresh.buildSpot(s, dir).orderBy("ticker_id"),
      DimensionRefresh.spotOracleSql),
    QueryDef("dim_refresh_futures",
      (s, dir) => DimensionRefresh.buildFutures(s, dir)
        .orderBy("contract_id"),
      DimensionRefresh.futuresOracleSql)
  )
}
