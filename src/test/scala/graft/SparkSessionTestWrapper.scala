package graft

import org.apache.spark.sql.SparkSession

/** One local session shared across suites (lazily created): the entry
  * points' factory at 4 cores, so the specs plan what production
  * plans, top-k strategy included. */
object SparkSessionTestWrapper {
  lazy val spark: SparkSession = graft.core.Sessions.local("4")
}
