package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built by
  * the engine's own [[GraftSession.builder]] so tests run under exactly
  * the production confs; only test-only options are added here.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // explicit, so tests never follow SPARK_GRAFT_SHUFFLE_PARTITIONS
      .config("spark.sql.shuffle.partitions", "4")
      // Regression gate for runtime codegen health: a custom Expression
      // whose generated Java fails to compile normally falls back to
      // interpreted execution silently (only an ERROR log). Disabling
      // the fallback turns any codegen compile failure into a test
      // failure — plan-string audits can't see these.
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
