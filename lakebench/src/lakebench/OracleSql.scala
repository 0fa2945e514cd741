package lakebench

/** Prints `SparkEntry.oracleSql` for the headline queries as one JSON
  * object, for `make_oracle.py` to run in DuckDB.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    println(Json.render(QueryHeadline.Queries.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
  }
}
