package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every registered query catalog in the engine;
  * each catalog is a Seq[QueryDef] in graft.queries.*. `oracleSql` carries
  * the DuckDB-runnable ANSI SQL for the SQL-expressible subset.
  */
object SparkEntry {

  /** Every query catalog the engine ships. Add new modules here. */
  def catalogs: Seq[QueryDef] =
    graft.queries.Relational.all ++
    graft.queries.ArrayFnQueries.all ++
    graft.queries.TemporalQueries.all ++
    graft.queries.JobEtlQueries.all ++
    graft.queries.TextQueries.all ++
    graft.queries.DedupQueries.all ++
    graft.queries.SimilarityQueries.all ++
    graft.queries.MlQueries.all ++
    graft.queries.SketchQueries.all ++
    graft.queries.RelationalExt.all ++
    graft.queries.FilterQueries.all ++
    graft.queries.PipelineQueries.all ++
    graft.queries.RetrievalQueries.all ++
    graft.queries.MaintenanceQueries.all ++
    graft.queries.TokenizerQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q03StarJoinRevenue.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.map(q => q.name -> q.fn).toMap

  /** The queries a run selects, sorted by name. `only` is the
    * SPARK_GRAFT_ONLY value — comma-separated name prefixes (e.g.
    * `q01,jq04`); unset selects every registered query. Bench, Verify
    * and PlanAudit all select through here. */
  def selected(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val prefixes = only.map(_.split(",").map(_.trim).toSet)
    queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.forall(_.exists(name.startsWith)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalogs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The names tagged [[QueryDef.measured]] — rows whose output is an
    * engine metric (recall, latency split, drift, footprint), not a
    * query answer. Bench subtotals them apart from the engine queries. */
  def measurementRows: Set[String] =
    catalogs.filter(_.measurement).map(_.name).toSet
}
