package graft

import org.apache.spark.sql.SparkSession

/** The suites' session: [[Session]] at 4 cores. `getOrCreate` hands every
  * suite in the forked test JVM this same session, so a suite that
  * changes a runtime conf must restore it.
  */
trait LocalSpark {
  lazy val spark: SparkSession = Session(4)
}
