package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run; 4 workers keep the
  * tests' partitioning independent of the machine.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", cpus = 4)
}
