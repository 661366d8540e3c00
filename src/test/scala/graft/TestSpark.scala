package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession =
    sql.GraftExtensions.localSession("4", "spark.app.name" -> "graft-test")
}
