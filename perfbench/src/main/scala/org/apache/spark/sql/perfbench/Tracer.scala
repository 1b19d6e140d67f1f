package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** The traced run's recorder. Spans are kept in memory: `run` → `setup`,
  * and per execution `query` → `build` / `sink` (`clear` is the
  * harness's own clean-up). Jobs, stages and tasks attach to the
  * execution through the job group the benchmark sets (falling back to
  * the execution in flight for jobs started under another group, such
  * as streaming micro-batches), and to `build` or `sink` through the
  * phase property the harness sets. Layer counters come from Spark's
  * public listener APIs: SparkListener (tasks, stages, jobs, cached blocks),
  * QueryExecutionListener (planning phases and the executed plan's
  * SQL metrics), StreamingQueryListener (micro-batches) and
  * CodegenMetrics / CodeGenerator (compiles). */
class Tracer(cores: Int) {
  private def now = System.nanoTime()
  private val t0 = now
  // listener events carry epoch-ms times; spans use nanoTime
  private val epochOffsetNs = t0 - System.currentTimeMillis() * 1000000L
  private def eventNs(epochMs: Long) = epochMs * 1000000L + epochOffsetNs
  private def sec(ns: Long) = (ns - t0) / 1e9

  final class ExecRec(val id: Int, val query: String, val begin: Long) {
    val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val phases = mutable.ArrayBuffer.empty[(String, Long)] // phase start marks
    var end = 0L
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val taskRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // per stage
    def add(k: String, v: Double): Unit = c(k) += v
    def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
  }
  final class JobRec(val id: Int, val exec: ExecRec, val phase: String,
                     val target: String, val start: Long) { var end = 0L }

  @volatile private var cur: ExecRec = _
  private val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val byGroup = mutable.Map.empty[String, ExecRec]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val cachedStages = mutable.Set.empty[Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private val streamState = mutable.Map.empty[java.util.UUID, Long]
  private var timedIds = Set.empty[Int]
  private var timed0 = 0L
  private var timedWall = 0.0
  private var codegen0 = (0L, 0L)
  private var setupEnd = 0L

  private def execOf(props: java.util.Properties): ExecRec = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.flatMap(byGroup.get).getOrElse(cur)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val ex = execOf(e.properties)
      if (ex != null) {
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        val target = desc.filter(_.startsWith("target: ")).map(_.stripPrefix("target: ")).orNull
        val phase = Option(e.properties).map(_.getProperty(Tracer.PhaseProperty)).orNull
        val j = new JobRec(e.jobId, ex, phase, target, eventNs(e.time))
        jobs(e.jobId) = j
        ex.jobs += j
        e.stageInfos.foreach(s => stageJob(s.stageId) = j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach(_.end = eventNs(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      if (e.stageInfo.rddInfos.exists(_.storageLevel != StorageLevel.NONE))
        cachedStages += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.exec.add("sched.stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val j = stageJob.get(e.stageId)
      val ex = j.map(_.exec).getOrElse(cur)
      val m = e.taskMetrics
      if (ex != null && m != null) {
        ex.add("sched.tasks", 1)
        ex.add("sched.task_run_s", m.executorRunTime / 1e3)
        ex.add("sched.task_cpu_s", m.executorCpuTime / 1e9)
        ex.add("sched.task_gc_s", m.jvmGCTime / 1e3)
        ex.taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        ex.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        ex.add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        ex.add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        ex.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        ex.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        ex.max("exec.peak_task_mem_mb", m.peakExecutionMemory / 1048576.0)
        if (cachedStages.contains(e.stageId))
          ex.add("cache.read_bytes", m.inputMetrics.bytesRead.toDouble)
        if (j.exists(_.target != null))
          ex.add("targets.write_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case id: RDDBlockId =>
          val key = id.name
          blockBytes -= blocks.remove(key).getOrElse(0L)
          if (info.storageLevel.isValid) {
            val b = info.memSize + info.diskSize
            blocks(key) = b
            blockBytes += b
          }
          if (cur != null) cur.max("cache.bytes_peak", blockBytes.toDouble)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ex = cur
      if (ex != null) {
        ex.add("plan.executions", 1)
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        ex.add("plan.analysis_s", ms("analysis"))
        ex.add("plan.optimizer_s", ms("optimization"))
        ex.add("plan.physical_s", ms("planning"))
        try Tracer.planNodes(qe.executedPlan).foreach(n => Tracer.nodeMetrics(n, ex.add, ex.max))
        catch { case _: Throwable => () }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val ex = cur
        if (ex != null) {
          val p = e.progress
          val d = p.durationMs
          def ms(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
          ex.add("stream.batches", 1)
          ex.add("stream.batch_s", p.batchDuration / 1e3)
          ex.add("stream.plan_s", ms("queryPlanning"))
          ex.add("stream.commit_s", ms("commitOffsets") + ms("walCommit"))
          val rows = p.stateOperators.map(_.numRowsTotal).sum
          val prev = streamState.getOrElse(p.id, 0L)
          streamState(p.id) = rows
          ex.add("stream.state_rows", (rows - prev).toDouble)
        }
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    setupEnd = now
  }

  private def codegenNow = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def beginExec(id: Int, query: String): Unit = synchronized {
    val r = new ExecRec(id, query, now)
    execs += r
    byGroup(s"perfbench-$id") = r
    cur = r
    codegen0 = codegenNow
    r.c("cache.bytes_peak") = blockBytes.toDouble
  }

  def phase(p: String): Unit = synchronized {
    if (cur != null) cur.phases += ((p, now))
  }

  /** After the query returned, before the harness clears caches. */
  def endExecBeforeClear(spark: SparkSession): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty(10000)
    synchronized {
      if (cur != null) {
        cur.add("cache.blocks_left", blocks.size)
        val (ct, cn) = codegenNow
        cur.add("codegen.compile_s", (ct - codegen0._1) / 1e9)
        cur.add("codegen.compiles", (cn - codegen0._2).toDouble)
      }
    }
  }

  def endExec(): Unit = synchronized {
    if (cur != null) { cur.end = now; cur.phases += (("end", now)) }
    cur = null
  }

  def startTimed(): Unit = synchronized { timed0 = now; timedIds = Set.empty }
  def stopTimed(wall: Double): Unit = synchronized {
    timedWall = wall
    timedIds = execs.filter(e => e.begin >= timed0).map(_.id).toSet
  }

  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    cl.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2) merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    merged.map { case (s, e) => e - s }.sum
  }

  private def span(r: ExecRec, p: String): (Long, Long) = {
    val i = r.phases.indexWhere(_._1 == p)
    if (i < 0 || i + 1 >= r.phases.size) (0L, 0L) else (r.phases(i)._2, r.phases(i + 1)._2)
  }

  /** Derived per-execution layer numbers: spans, self times, targets. */
  private def finish(r: ExecRec): Unit = {
    val iv = r.jobs.map(j => (j.start, if (j.end > 0) j.end else r.end)).toSeq
    val (b0, b1) = span(r, "build")
    val (s0, s1) = span(r, "sink")
    r.c("build.s") = (b1 - b0) / 1e9
    r.c("sink.s") = (s1 - s0) / 1e9
    r.c("build.jobs") = r.jobs.count(_.phase == "build").toDouble
    r.c("build.self_s") = (b1 - b0 - covered(iv, b0, b1)) / 1e9
    r.c("sink.self_s") = (s1 - s0 - covered(iv, s0, s1)) / 1e9
    r.c("sched.jobs") = r.jobs.size.toDouble
    r.c("jobs.wall_s") = covered(iv, r.begin, r.end) / 1e9
    val (c0, c1) = span(r, "clear")
    r.c("harness.clear_s") = (c1 - c0) / 1e9
    val byTarget = r.jobs.filter(_.target != null).groupBy(_.target)
    val tspans = byTarget.map { case (_, js) =>
      (js.map(_.start).min, js.map(j => if (j.end > 0) j.end else r.end).max)
    }.toSeq
    r.c("targets.stage_s") = tspans.map { case (s, e) => (e - s) / 1e9 }.sum
    r.c("targets.critical_path_s") = covered(tspans, r.begin, r.end) / 1e9
    r.c("targets.stages") = byTarget.size.toDouble
    r.c("sched.stage_skew") = r.taskRunMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }.foldLeft(0.0)(math.max)
  }

  def toJson: String = synchronized {
    execs.foreach(finish)
    val timed = execs.filter(e => timedIds.contains(e.id))
    val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val maxKeys = Set("exec.peak_task_mem_mb", "cache.bytes_peak", "sched.stage_skew")
    timed.foreach(_.c.foreach { case (k, v) =>
      totals(k) = if (maxKeys(k)) math.max(totals(k), v) else totals(k) + v
    })
    val taskS = totals("sched.task_run_s")
    totals("sched.busy_frac") = if (timedWall > 0) taskS / (timedWall * cores) else 0.0
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val perExec = execs.map { r =>
      val targets = r.jobs.filter(_.target != null).groupBy(_.target).map { case (t, js) =>
        val e = js.map(j => if (j.end > 0) j.end else r.end).max
        "\"" + t + "\":" + num((e - js.map(_.start).min) / 1e9)
      }.mkString("{", ",", "}")
      s"""{"id":${r.id},"query":"${r.query}","timed":${timedIds.contains(r.id)},""" +
        s""""begin_s":${num(sec(r.begin))},"end_s":${num(sec(r.end))},"layers":${obj(r.c)},"targets":$targets}"""
    }
    s"""{"setup_span_s":[0,${num(sec(setupEnd))}],"timed_wall_s":${num(timedWall)},""" +
      s""""totals":${obj(totals)},"execs":${perExec.mkString("[", ",", "]")}}"""
  }
}

object Tracer {
  /** Local property naming the harness phase (build / sink / clear) a
    * job was submitted in; threads a builder starts inherit it. */
  val PhaseProperty = "perfbench.phase"

  /** Every operator of an executed plan, descending into AQE stages and
    * subqueries; reused exchanges are skipped (their metrics live on
    * the original). */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children.flatMap(planNodes) ++ p.subqueries.flatMap(planNodes))
  }

  /** Fold one operator's SQL metrics into the layer counters. */
  def nodeMetrics(n: SparkPlan, add: (String, Double) => Unit,
                  max: (String, Double) => Unit): Unit = {
    val m = n.metrics
    def v(k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
    def secs(k: String): Double = m.get(k).map { x =>
      x.metricType match {
        case "nsTiming" => x.value / 1e9
        case "timing" => x.value / 1e3
        case _ => 0.0
      }
    }.getOrElse(0.0)
    val cls = n.getClass.getSimpleName
    cls match {
      case "FileSourceScanExec" =>
        add("scan.s", secs("scanTime"))
        add("scan.bytes", v("filesSize"))
        add("scan.files", v("numFiles"))
        add("scan.rows", v("numOutputRows"))
      case "WholeStageCodegenExec" => add("codegen.pipeline_s", secs("pipelineTime"))
      case "SortExec" => add("exec.sort_s", secs("sortTime"))
      case "HashAggregateExec" | "ObjectHashAggregateExec" | "SortAggregateExec" =>
        add("exec.agg_s", secs("aggTime"))
      case "BroadcastExchangeExec" =>
        add("broadcast.bytes", v("dataSize"))
        add("broadcast.build_s", secs("buildTime"))
      case "AsOfJoinExec" => add("asof.rows", v("numOutputRows"))
      case _ =>
    }
  }
}
