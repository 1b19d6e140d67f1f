package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Warm sessions reuse generated code (GraftSession's codegen cache
  * settings): a re-run of a query batch whose distinct generated
  * classes exceed Spark's default 100-entry cache compiles nothing,
  * and neither does a re-run stream on its cloned session.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The IMPC etl batch: one pass generates 176 distinct classes. */
  private val etl = Seq("q_pipeline_e2e", "q_observations", "q_derive_runtime",
    "q_asof_plan", "q_doc_assembly", "q_scd2", "q_agg_pricing", "q_unique_id",
    "q_xml_observations", "q_json_extract", "q_stream_sessions")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles it took to run `names` once through the noop sink. */
  private def compilesOf(names: Seq[String]): Long = {
    val before = compiles
    names.foreach(n => SparkEntry.queries(n)(spark, SparkTestSession.sfDir)
      .write.format("noop").mode("overwrite").save())
    compiles - before
  }

  test("the shared session carries GraftSession's codegen cache size") {
    spark
    assert(SQLConf.get.codegenCacheMaxEntries == GraftSession.CodegenCacheEntries)
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a warm re-run of the etl batch compiles nothing") {
    compilesOf(etl)
    assert(compilesOf(etl) == 0)
  }

  test("a re-run of q_stream_sessions on its cloned session compiles nothing") {
    compilesOf(Seq("q_stream_sessions"))
    assert(compilesOf(Seq("q_stream_sessions")) == 0)
  }
}
