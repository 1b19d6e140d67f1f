package org.apache.spark.sql.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JVM side of the benchmark (run.py drives it).
  *
  * `Main <config>` reads a `key=value` config file and, by `mode`:
  *  - `oracles`: writes every query name with its DuckDB oracle SQL
  *    (null where the query has none);
  *  - `probe`: creates the session, stamps the time, and exits;
  *  - `run`: sets up, runs the untimed `warmup` queries, then
  *    `passes` × the `plan` queries; digests every
  *    execution's output and the DuckDB oracle results found in
  *    `oracle`, and writes every raw measurement as JSON to `out`.
  *
  * The engine is driven only through its public entry points:
  * `graft.GraftSession.local`, `graft.SparkEntry.queries`, and the
  * noop-sink write `graft.Bench` uses. Tracing listeners are registered
  * only when `trace=1`. */
object Main {

  /** Order-insensitive output digest: rows, and two 32-bit halves of the
    * sum of xxhash64 over the columns in name order. Float columns get
    * `+ 0.0` so -0.0 and 0.0 hash alike. */
  def digestColumns(schema: StructType): Seq[Column] = {
    val cols = schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case DoubleType => col(f.name) + lit(0.0)
        case FloatType => col(f.name) + lit(0.0f)
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  def digestOf(row: Map[String, Any]): String = {
    def l(k: String) = row.get(k) match {
      case Some(null) | None => 0L
      case Some(v) => v.asInstanceOf[Number].longValue
    }
    f"${l("rows")}%d:${l("lo")}%x:${l("hi")}%x"
  }

  /** A JSON string literal, or null. */
  def jstr(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final case class Exec(query: String, pass: Int, buildS: Double, sinkS: Double, cpuS: Double,
                        clearS: Double, rows: Long, digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val conf = new String(Files.readAllBytes(Paths.get(args(0))), UTF_8)
      .linesIterator.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim
      }.toMap
    val out = conf("out")
    val dataDir = conf("data")
    val cores = conf.getOrElse("cores", "4")
    val trace = conf.getOrElse("trace", "0") == "1"
    val mode = conf.getOrElse("mode", "run")

    if (mode == "oracles") {
      val o = graft.SparkEntry.oracleSql
      val body = graft.SparkEntry.queries.keys.toSeq.sorted
        .map(k => jstr(k) + ":" + jstr(o.getOrElse(k, null))).mkString("{", ",", "}")
      Files.write(Paths.get(out), body.getBytes(UTF_8))
      return
    }
    // ---- set-up: process start → session ready
    val createT0 = System.nanoTime()
    val tracer = if (trace) Some(new Tracer(cores.toInt)) else None
    val spark = graft.GraftSession.local(cores)
    val createS = (System.nanoTime() - createT0) / 1e9
    val readyEpochMs = System.currentTimeMillis()
    if (mode == "probe") {
      Files.write(Paths.get(out), s"""{"ready_epoch_ms":$readyEpochMs}""".getBytes(UTF_8))
      Runtime.getRuntime.halt(0)
    }
    tracer.foreach(_.register(spark))
    val jvm = new JvmProbe
    val json = new StringBuilder
    json ++= s"""{"ready_epoch_ms":$readyEpochMs,"session_create_s":$createS"""

    val plan = conf("plan").split(",").toSeq.filter(_.nonEmpty)
    val passes = conf.getOrElse("passes", "1").toInt
    val warmup = conf.getOrElse("warmup", "").split(",").toSeq.filter(_.nonEmpty)
    val queries = graft.SparkEntry.queries
    val schemas = mutable.Map.empty[String, StructType]
    val sc = spark.sparkContext

    def execute(name: String, pass: Int, execId: Int): Exec = {
      tracer.foreach(_.beginExec(execId, name))
      if (trace) sc.setJobGroup(s"perfbench-$execId", null)
      def phase(p: String): Unit = if (trace) {
        sc.setLocalProperty(Tracer.PhaseProperty, p)
        tracer.foreach(_.phase(p))
      }
      var buildS, sinkS = 0.0
      var rows = -1L
      var digest = ""
      var error: String = null
      val cpu0 = JvmProbe.processCpuNs
      val t0 = System.nanoTime()
      try {
        phase("build")
        val df = queries(name)(spark, dataDir)
        val t1 = System.nanoTime()
        buildS = (t1 - t0) / 1e9
        schemas.getOrElseUpdate(name, df.schema)
        phase("sink")
        val obs = Observation("perfbench_digest")
        val dcols = digestColumns(df.schema)
        df.observe(obs, dcols.head, dcols.tail: _*)
          .write.mode("overwrite").format("noop").save()
        sinkS = (System.nanoTime() - t1) / 1e9
        val m = obs.get
        rows = m.get("rows").map(_.asInstanceOf[Number].longValue).getOrElse(-1L)
        digest = digestOf(m)
      } catch {
        case e: Throwable =>
          if (buildS == 0.0) buildS = (System.nanoTime() - t0) / 1e9
          else sinkS = (System.nanoTime() - t0) / 1e9 - buildS
          error = s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")
          System.err.println(s"[perfbench] $name failed: $error")
      }
      val cpuS = (JvmProbe.processCpuNs - cpu0) / 1e9
      phase("clear")
      val c0 = System.nanoTime()
      tracer.foreach(_.endExecBeforeClear(spark))
      if (!sc.isStopped) {
        spark.catalog.clearCache()
        sc.listenerBus.waitUntilEmpty(10000)
      }
      if (trace) {
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.PhaseProperty, null)
      }
      val clearS = (System.nanoTime() - c0) / 1e9
      tracer.foreach(_.endExec())
      Exec(name, pass, buildS, sinkS, cpuS, clearS, rows, digest, error)
    }

    // ---- untimed warm-up: the fresh process's class loading, JIT and
    // first codegen (etl, curate), or a warm session (interactive)
    var execId = 0
    val warmT0 = System.nanoTime()
    val warmupExecs = warmup.map { q => execId += 1; execute(q, 0, execId) }
    json ++= s""","session_warm_s":${(System.nanoTime() - warmT0) / 1e9}"""

    // ---- timed phase: a fixed amount of work, `passes` × the plan
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passWalls = mutable.ArrayBuffer.empty[(Double, Double)] // (elapsed, clear)
    jvm.start()
    tracer.foreach(_.startTimed())
    val tStart = System.nanoTime()
    (1 to passes).foreach { pass =>
      val p0 = System.nanoTime()
      val these = plan.map { q => execId += 1; execute(q, pass, execId) }
      execs ++= these
      passWalls += (((System.nanoTime() - p0) / 1e9, these.map(_.clearS).sum))
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val jvmStats = jvm.stop()
    tracer.foreach(_.stopTimed(timedS))

    // ---- output check against the DuckDB oracle results (untimed)
    val oracleDir = conf.getOrElse("oracle", "")
    val oracleDigest = mutable.LinkedHashMap.empty[String, String]
    if (oracleDir.nonEmpty) (warmupExecs ++ execs).map(_.query).distinct.foreach { q =>
      val f = new java.io.File(s"$oracleDir/$q.parquet")
      if (f.exists && schemas.contains(q)) {
        val d = try {
          val exp = spark.read.parquet(f.getPath)
          val byLower = exp.columns.map(c => c.toLowerCase -> c).toMap
          val cast = schemas(q).fields.toSeq.map { fld =>
            byLower.get(fld.name.toLowerCase) match {
              case Some(c) => col(s"`$c`").cast(fld.dataType).as(fld.name)
              case None => lit(null).cast(fld.dataType).as(fld.name)
            }
          }
          val extra = exp.columns.filterNot(c =>
            schemas(q).fieldNames.exists(_.equalsIgnoreCase(c)))
          if (extra.nonEmpty) s"schema: oracle has ${extra.mkString(",")}"
          else {
            val aligned = exp.select(cast: _*)
            val dcols = digestColumns(aligned.schema)
            val r = aligned.agg(dcols.head, dcols.tail: _*).head()
            digestOf(Map("rows" -> r.get(0), "lo" -> r.get(1), "hi" -> r.get(2)))
          }
        } catch { case e: Throwable => s"oracle read failed: ${e.getMessage}" }
        oracleDigest(q) = d
      }
    }

    // ---- result
    def execJson(e: Exec) =
      s"""{"query":${jstr(e.query)},"pass":${e.pass},"build_s":${e.buildS},"sink_s":${e.sinkS},"cpu_s":${e.cpuS},""" +
        s""""clear_s":${e.clearS},"rows":${e.rows},"digest":${jstr(e.digest)},"error":${jstr(e.error)}}"""
    json ++= s""","timed_s":$timedS"""
    json ++= ",\"passes\":" + passWalls.map { case (w, c) => s"""{"elapsed_s":$w,"clear_s":$c}""" }
      .mkString("[", ",", "]")
    json ++= ",\"warmup\":" + warmupExecs.map(execJson).mkString("[", ",", "]")
    json ++= ",\"execs\":" + execs.map(execJson).mkString("[", ",", "]")
    json ++= ",\"oracle\":" + oracleDigest.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    json ++= ",\"jvm\":" + jvmStats
    json ++= ",\"host\":" + JvmProbe.hostFacts(spark, cores)
    tracer.foreach(t => json ++= ",\"trace\":" + t.toJson)
    json ++= "}"
    Files.write(Paths.get(out), json.toString.getBytes(UTF_8))
    spark.stop()
  }
}

/** Process-level resources over the timed phase: CPU, GC, heap peak,
  * resident-set high-water mark. */
class JvmProbe {
  import scala.jdk.CollectionConverters._
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var cpu0, gc0 = 0L

  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    cpu0 = JvmProbe.processCpuNs
    gc0 = gcMs
  }

  /** JSON object of the deltas since `start`. */
  def stop(): String = {
    val cpuS = (JvmProbe.processCpuNs - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    s"""{"cpu_s":$cpuS,"gc_s":$gcS,"heap_peak_mb":$heapPeakMb,"rss_hwm_mb":${JvmProbe.rssHwmMb}}"""
  }
}

object JvmProbe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime

  /** VmHWM from /proc/self/status (Linux); -1 where unavailable. */
  def rssHwmMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  } catch { case _: Throwable => -1.0 }

  def hostFacts(spark: SparkSession, cores: String): String = {
    val rt = Runtime.getRuntime
    s"""{"requested_cores":$cores,"available_processors":${rt.availableProcessors},""" +
      s""""heap_max_mb":${rt.maxMemory / 1048576.0},"java_version":"${System.getProperty("java.version")}",""" +
      s""""spark_version":"${spark.version}","default_parallelism":${spark.sparkContext.defaultParallelism}}"""
  }
}
