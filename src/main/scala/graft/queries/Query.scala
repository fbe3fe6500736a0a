package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, its Spark plan over an SF directory,
  * and the equivalent DuckDB SQL the correctness gate compares the
  * plan's result against (same column names, total ORDER BY). The
  * domain files write each record as its plan, then its oracle:
  * `Query(name) { (s, dir) => plan } (oracle = sql)`. A query is
  * identified by its name: equality and hashing read `name` only. */
final case class Query(name: String)(
    val run: (SparkSession, String) => DataFrame)(val oracle: String)

object Query {

  /** `queries` in name order. Throws naming every name written more
    * than once: a duplicate would otherwise shadow a query in Verify,
    * the gate and Bench alike. */
  def inNameOrder(queries: Seq[Query]): Seq[Query] = {
    val dup = queries.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }.toSeq.sorted
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(", ")}")
    queries.sortBy(_.name)
  }
}
