package graft.queries

/** Single aggregation point for every declared query. SparkEntry (the
  * driver contract) derives its `queries` / `oracleSql` maps from here;
  * adding a QueryDef to one of the collections below is all it takes to
  * put it under the DuckDB correctness gate.
  */
object Registry {
  def all: Seq[QueryDef] =
    CoreQueries.all ++ EventQueries.all ++ TextQueries.all ++
      BpeQueries.all ++ CurationQueries.all ++ IngestQueries.all ++
      EmbeddingQueries.all ++ MediaQueries.all ++ SurfaceQueries.all

  def byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
