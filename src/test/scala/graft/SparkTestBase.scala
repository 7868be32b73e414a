package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession across all suites (object, not per-suite —
  * session startup costs ~5s), built like every main's: GraftSession.local. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
}
