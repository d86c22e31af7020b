package graft

import org.apache.spark.sql.SparkSession

/** One local session shared across suites (lazily created): the entry
  * points' factory at 4 cores, without the top-k planner rule (the
  * specs that need it install it). */
object SparkSessionTestWrapper {
  lazy val spark: SparkSession = graft.core.Sessions.local("4", topK = false)
}
