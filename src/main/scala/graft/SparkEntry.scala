package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
  /** Every query, one family file each under `graft.queries`. */
  lazy val all: Seq[Query] = {
    val qs = CoreQueries.all ++ PipelineQueries.all ++ EdaQueries.all ++
      DedupQueries.all ++ AnnQueries.all ++ LmQueries.all ++ CurationQueries.all
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }
  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
