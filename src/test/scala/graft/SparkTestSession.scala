package graft

import org.apache.spark.sql.SparkSession

/** one shared local session for all suites (sbt test forks a single JVM),
  * built like the Bench and Verify sessions (GraftSession.local)
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
