package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming over the events table: file source → watermark
  * → tumbling-window aggregation → sink.
  *
  * The same declarative plan serves batch and streaming; at scale the
  * source becomes Kafka and the sink a partitioned parquet/Delta
  * table — the watermark bounds state, and the window aggregation is
  * partial-aggregated before the shuffle exactly like the batch twin.
  */
object EventStream {

  /** Tumbling-window counts/sums per event_type (bucket emitted as a
    * formatted string for oracle dtype parity). */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        cast_sum_value)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        col("event_type"), col("n_events"), col("value_sum"))

  private def cast_sum_value =
    round(sum(col("value").cast("decimal(28,15)")).cast("double"), 4).as("value_sum")

  /** Stateful streaming ops commit one state store per shuffle
    * partition per micro-batch; at batch-test scale that commit
    * overhead dominates the work, so the test runners execute narrow
    * by default (4). SPARK_GRAFT_STREAM_PARTITIONS overrides — the
    * deployment knob a real cluster turns as the stream grows (sized
    * to executors, RocksDB state store); the scale harness raises it
    * with the corpus factor exactly like the batch shuffle knob.
    * Restores the session's partition count afterwards. */
  private def withNarrowShuffle[A](spark: SparkSession)(body: => A): A = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "4"))
    try body finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Await an AvailableNow query's FULL drain, loudly (ADVICE r16):
    * `awaitTermination(timeout)` returns false on timeout, and the
    * runners used to ignore it and `stop()` the query — returning the
    * PARTIAL state as the answer, a silent wrong-data failure (fewer
    * rows at best, a half-folded CDC state at worst). A slow run must
    * fail parity with a cause, not pass it wrong numbers. */
  private def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery,
                           timeoutMs: Long = 300000): Unit = {
    val drained = q.awaitTermination(timeoutMs)
    if (!drained) {
      q.stop()
      throw new IllegalStateException(
        s"stream ${q.name} did not drain within ${timeoutMs} ms — " +
          "partial state would be silently wrong; failing loudly instead")
    }
  }

  /** Streaming file source over the events table, correct under BOTH
    * on-disk layouts: the driver testdata's single FILE
    * `$sfDir/events.parquet` and ScaleGen's DIRECTORY of part files
    * under the same name. The round-6 scale runs silently read ZERO
    * files at ×10 because the glob `events.parquet` was applied at
    * `sfDir` and matched no part file inside the directory layout
    * (VERDICT r6 finding 1) — so the source targets the directory
    * itself when it is one. The `ts` dtype is likewise
    * schema-adaptive (nanos-as-long vs TIMESTAMP(MICROS) testdata
    * generations) via [[graft.sources.Tables.normalizeEventTs]]. */
  private[graft] def eventsSource(spark: SparkSession, sfDir: String): DataFrame =
    eventsSourceFactory(spark, sfDir)()

  /** One-time schema + layout detection for [[eventsSource]]; the
    * returned thunk builds a fresh stream reader per call without
    * re-running the batch schema inference or getFileStatus (callers
    * that need two source instances, e.g. a self-join's two sides,
    * pay detection once). */
  private[graft] def eventsSourceFactory(spark: SparkSession, sfDir: String)
      : () => DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = fs.getFileStatus(path).isDirectory
    () => {
      val reader = spark.readStream.schema(schema)
      val src =
        if (isDir) reader.option("pathGlobFilter", "*.parquet").parquet(path.toString)
        else // the file source needs a directory; glob down to the file
          reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
      graft.sources.Tables.normalizeEventTs(src)
    }
  }

  /** Run the streaming query synchronously over a static parquet dir
    * (memory sink), returning the final result — lets the batch
    * correctness oracle check streaming semantics. */
  def runBatchEquivalent(spark: SparkSession, sfDir: String,
                         queryName: String = "graft_stream"): DataFrame = {
    val stream = eventsSource(spark, sfDir)
    withNarrowShuffle(spark) {
      val q = windowedAgg(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    spark.table(queryName)
      .orderBy(col("bucket_start"), col("event_type"))
  }

  /** Streaming session windows over the events table, run to
    * completion on a static dir (memory sink) — session_window's
    * gap-merge semantics line up with batch gap-sessionization, so the
    * result is oracle-checkable against the same SQL as q_sessionize.
    * Session starts keep microsecond precision (event-time anchored). */
  def runSessionEquivalent(spark: SparkSession, sfDir: String,
                           gap: String = "30 minutes",
                           queryName: String = "graft_sessions"): DataFrame = {
    val stream = eventsSource(spark, sfDir)
    // single source of session semantics: sessionWindowAgg (the
    // helper), this runner only formats + sinks
    withNarrowShuffle(spark) {
      val q = sessionWindowAgg(stream, gap)
        .select(date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("user_id"), col("n_events"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    spark.table(queryName).orderBy(col("user_id"), col("session_start"))
  }

  /** Per-user running state maintained with flatMapGroupsWithState:
    * emits a row whenever a user's cumulative value crosses another
    * multiple of `threshold` (custom stateful streaming logic the
    * built-in aggregations can't express). */
  def thresholdAlerts(spark: SparkSession, events: DataFrame,
                      threshold: Double = 1000.0): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[Double]) =>
          var total = state.getOption.getOrElse(0.0)
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
          // flatMapGroupsWithState does not guarantee intra-batch row
          // order: fold in event_id order so the event attributed to a
          // threshold crossing is stable across replays/batch splits.
          // Trade-off: buffering the group to sort is O(per-key rows in
          // this micro-batch) heap — bounded by trigger interval ×
          // per-key rate, the usual stateful-streaming sizing concern
          rows.toSeq.sortBy(_._2).foreach { case (_, eventId, v) =>
            val before = (total / threshold).toLong
            total += v
            if ((total / threshold).toLong > before) out += ((user, eventId, total))
          }
          state.update(total)
          out.iterator
      }
  }

  /** Streaming backward as-of enrich (LOCF) — the streaming twin of
    * AsOf.backward / AsOfJoinExec: one keyed stream carries reference
    * rows (purchases, side 0) and query rows (clicks, side 1); per-key
    * state is the latest reference seen, O(1) per key like the
    * physical operator's merge state. Each click emits with the most
    * recent purchase at or before it.
    *
    * Within a micro-batch rows are folded in (ts, side, -id) order:
    * references before queries at equal time (at-or-before inclusive),
    * min-id reference winning among equal-time duplicates — the same
    * tie rules as the batch operator, so results line up exactly.
    * ACROSS micro-batches ordering holds only if the source delivers
    * time-ordered batches (true for file replay; a live out-of-order
    * stream needs watermark-delayed emission, the standard
    * fMGWS-ordering caveat). */
  def asOfEnrich(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Option[Long], Option[Double])] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").cast("long"),
        when(col("event_type") === "purchase", 0).otherwise(1).cast("int").as("side"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Int, Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Double), (Long, Long, Option[Long], Option[Double])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Int, Long, Long, Double)],
         state: GroupState[(Long, Long, Double)]) =>
          var ref = state.getOption // (refTs, refId, refValue)
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long], Option[Double])]()
          rows.toSeq.sortBy { case (_, side, ts, id, _) => (ts, side, -id) }.foreach {
            case (_, 0, ts, id, v) => ref = Some((ts, id, v))
            case (_, _, _, id, _)  => out += ((id, user, ref.map(_._2), ref.map(_._3)))
          }
          ref.foreach(state.update)
          out.iterator
      }
  }

  /** Run [[asOfEnrich]] to completion over a static dir (memory sink)
    * and format its deterministic surface — each click with the most
    * recent purchase at-or-before it. The fold's tie rules
    * (references before queries at equal time, min-id reference among
    * equal-time duplicates) are exactly DuckDB's ASOF LEFT JOIN over
    * the (user, instant)-deduped purchase side, so the native ASOF
    * oracle checks the custom stateful operator hash-exactly. */
  def runAsOfEquivalent(spark: SparkSession, sfDir: String,
                        queryName: String = "graft_asof_equiv"): DataFrame = {
    val stream = eventsSource(spark, sfDir)
    withNarrowShuffle(spark) {
      val q = asOfEnrich(spark, stream)
        .toDF("event_id", "user_id", "purchase_id", "p_value")
        .writeStream.outputMode("append")
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    spark.table(queryName)
      .select(col("event_id"), col("user_id"), col("purchase_id"),
        round(col("p_value"), 4).as("p_value"))
      .orderBy("event_id")
  }

  /** Stream-stream event-time INTERVAL join — the click-attribution
    * shape: each purchase matches the same user's clicks within
    * [p_ts - lag, p_ts] (closed on both ends — the condition is
    * c_ts >= p_ts - lag, and the batch oracle agrees). Both sides
    * carry watermarks and the join
    * condition bounds time in BOTH directions, which is what lets
    * Spark evict buffered rows as the watermark advances — state is
    * O(active interval), not O(stream). An unbounded-condition
    * stream-stream join buffers forever; this is the production form.
    */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
                   lag: String = "2 hours",
                   watermark: String = "4 hours"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("p_ts", watermark)
    c.join(p,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lag"))
      .select(col("purchase_id"), col("click_id"),
        col("c_user").as("user_id"), col("c_ts"), col("p_ts"),
        col("purchase_value"))
  }

  /** Run the interval join as a real two-source streaming query over
    * the static events dir (memory sink, AvailableNow), timestamps
    * formatted and value rounded for oracle dtype parity. */
  def runIntervalEquivalent(spark: SparkSession, sfDir: String,
                            queryName: String = "graft_interval"): DataFrame = {
    val src = eventsSourceFactory(spark, sfDir)
    withNarrowShuffle(spark) {
      val q = intervalJoin(src().filter(col("event_type") === "click"),
          src().filter(col("event_type") === "purchase"))
        .writeStream.outputMode("append")
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    spark.table(queryName)
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        round(col("purchase_value"), 4).as("purchase_value"))
      .orderBy("purchase_id", "click_id")
  }

  /** Streaming deduplication with bounded state: duplicates of a key
    * arriving within the watermark are dropped, and state for keys
    * older than the watermark is expired (dropDuplicatesWithinWatermark
    * — without it, dedup state grows without bound on an infinite
    * stream). The batch twin is a plain dropDuplicates. */
  def streamDedup(events: DataFrame, keys: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Run [[streamDedup]] to completion over a static dir and reduce to
    * its deterministic surface: WHICH row survives per key depends on
    * arrival order, but the KEY SET does not — one row per key means
    * count-per-type == distinct-keys-per-type, which the batch oracle
    * states directly. */
  def runDedupEquivalent(spark: SparkSession, sfDir: String,
                         queryName: String = "graft_dedup_stream"): DataFrame = {
    val stream = streamDedup(eventsSource(spark, sfDir),
      Seq("user_id", "event_type"))
    withNarrowShuffle(spark) {
      val q = stream.select("user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    spark.table(queryName)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** Stream enrichment against a static dimension (stream-static join):
    * the dimension is broadcast to every task each micro-batch, so no
    * state is kept and no shuffle of the stream side occurs. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** foreachBatch sink: per-micro-batch custom write with the batchId
    * made available for idempotence (re-delivered batches can be
    * skipped or overwritten by id — the standard exactly-once recipe
    * for sinks without transactional append). */
  def sinkForeachBatch(df: DataFrame)(write: (DataFrame, Long) => Unit) =
    df.writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     batchId: Long) => write(batch, batchId))
      .trigger(Trigger.AvailableNow())

  /** STREAMING CDC apply — the micro-batch form of
    * [[graft.operators.Merge.applyCdcLog]]: the event stream plays a
    * change-data-capture feed over the customer snapshot ('error' =
    * tombstone, everything else an upsert), and each micro-batch folds
    * into a VERSIONED state via [[graft.operators.Merge.mergeVersioned]]
    * — max-by-(ts, event_id) per key with tombstones retained. Because
    * that fold is associative and commutative, ANY batching of the log
    * (one file, many files, restarts/replays) lands on the same final
    * snapshot, which the batch oracle — global last-writer-wins, the
    * exact q_cdc_apply SQL — hash-checks. The snapshot seeds state at
    * version (epoch, -1), strictly below every real event. State is
    * localCheckpoint-pinned per batch (lineage cannot grow with batch
    * count); at scale it is a bucketed table and tombstones age out by
    * a version floor. */
  def runCdcEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val target0 = cust.select(col("c_custkey"), col("c_name"),
      floor(col("c_acctbal") * 100).cast("long").as("acct_cents"),
      lit("upsert").as("_op"),
      to_timestamp(lit("1970-01-01 00:00:00")).as("ts"),
      lit(-1L).cast("long").as("event_id"))
    var state = target0.localCheckpoint()
    val log = eventsSource(spark, sfDir).select(
      col("user_id").as("c_custkey"),
      concat(lit("cdc-"), col("event_id")).as("c_name"),
      floor(col("value") * 100).cast("long").as("acct_cents"),
      when(col("event_type") === "error", lit("delete"))
        .otherwise(lit("upsert")).as("_op"),
      col("ts"), col("event_id"))
    withNarrowShuffle(spark) {
      val q = sinkForeachBatch(log) { (batch, _) =>
        state = graft.operators.Merge.mergeVersioned(state, batch.toDF(),
          Seq("c_custkey"), versionCols = Seq("ts", "event_id"))
          .localCheckpoint()
      }.start()
      awaitDrained(q)
    }
    graft.operators.Merge.readView(state, versionCols = Seq("ts", "event_id"))
      .orderBy("c_custkey")
  }

  /** STREAMING TWIN of the composed pipeline (q_pipeline_e2e run
    * incrementally — the deployment mode the reference's scheduled
    * batch reruns approximate): each micro-batch of raw events
    *   1. appends to the accumulated raw-events store,
    *   2. finds the DIRTY user set (the users the batch touched),
    *   3. re-runs the full pipeline (`pipeline` is
    *      QueriesPipeline.wideDocs) on those users' COMPLETE history —
    *      every pipeline stage is user-local (clean, registry xref,
    *      as-of, formulas, unpivot, doc assembly all key by user), so
    *      the per-user restriction is exact, and
    *   4. merge-upserts the recomputed docs into the docs store
    *      (Merge.upsert semantics: replace dirty users, keep the rest).
    * Cost per batch is O(batch users' history), not O(corpus) — the
    * property that makes the chain incrementalizable at 100 TB.
    * Stream-final == batch is spec-proven (PipelineOpsSpec).
    *
    * The docs store is batchId-VERSIONED ($docsDir/v_<batchId>), never
    * overwritten in place: a crash mid-write leaves a version dir
    * without _SUCCESS, readers ([[latestDocs]]) skip it, and the prior
    * complete snapshot survives intact. The replay base is the latest
    * COMPLETE version strictly below the replayed batchId (foreachBatch
    * re-delivers the same id after restart, so a half-written or even
    * complete v_<batchId> from the failed attempt is ignored and
    * rewritten), which keeps replays deterministic and also means the
    * plan never reads the directory it writes. Versions two behind the
    * committed one are pruned to bound storage. */
  def pipelineIncremental(spark: SparkSession, events: DataFrame, customer: DataFrame,
                          eventsDir: String, docsDir: String)
                         (pipeline: (DataFrame, DataFrame) => DataFrame) =
    sinkForeachBatch(events) { (batch, batchId) =>
      graft.operators.Materialize.scoped { m =>
        m.persist(batch)
        // idempotent on replay: foreachBatch is at-least-once, so the
        // raw append is keyed by batchId and OVERWRITTEN on redelivery
        // — a retried batch replaces its own partition instead of
        // double-counting events in every later recompute
        batch.write.mode("overwrite").parquet(s"$eventsDir/batch_$batchId")
        val dirty = batch.select("user_id").distinct()
        val history = spark.read.parquet(s"$eventsDir/batch_*")
          .join(dirty, Seq("user_id"), "left_semi")
        val recomputed = pipeline(history, customer)
        val existing = latestCompleteVersion(spark, docsDir, below = Some(batchId)) match {
          case Some(prev) =>
            spark.read.parquet(prev.toString).join(dirty, Seq("user_id"), "left_anti")
          case None => recomputed.limit(0)
        }
        // new snapshot dir — the read side (v_<prev>) is never touched,
        // so a failure here cannot destroy prior state
        existing.unionByName(recomputed)
          .write.mode("overwrite").parquet(s"$docsDir/v_$batchId")
        pruneVersions(spark, docsDir, keepFrom = batchId - 1)
      }
    }

  /** Latest complete (_SUCCESS-bearing) docs snapshot written by
    * [[pipelineIncremental]] — the read surface of the versioned store. */
  def latestDocs(spark: SparkSession, docsDir: String): DataFrame =
    latestCompleteVersion(spark, docsDir, below = None) match {
      case Some(p) => spark.read.parquet(p.toString)
      case None => throw new org.apache.spark.sql.AnalysisException(
        "PATH_NOT_FOUND", Map("path" -> s"$docsDir/v_*"))
    }

  private def versionFs(spark: SparkSession, docsDir: String) =
    new org.apache.hadoop.fs.Path(docsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version dirs under docsDir as (id, path), complete ones only. */
  private def latestCompleteVersion(spark: SparkSession, docsDir: String,
                                    below: Option[Long]) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(docsDir)
    val fs = versionFs(spark, docsDir)
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .flatMap(s => s.getPath.getName.stripPrefix("v_").toLongOption.map(_ -> s.getPath))
      .filter { case (id, p) =>
        below.forall(id < _) && fs.exists(new Path(p, "_SUCCESS")) }
      .sortBy(_._1).lastOption.map(_._2)
  }

  /** Delete snapshots older than keepFrom (the just-read predecessor
    * stays for one more batch as the crash-recovery fallback). */
  private def pruneVersions(spark: SparkSession, docsDir: String, keepFrom: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(docsDir)
    val fs = versionFs(spark, docsDir)
    if (fs.exists(root)) fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .flatMap(s => s.getPath.getName.stripPrefix("v_").toLongOption.map(_ -> s.getPath))
      .filter(_._1 < keepFrom)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Per-key running totals on Spark 4's transformWithState — the
    * arbitrary-stateful-processing v2 API (typed ValueState handles,
    * RocksDB-backed, TTL-capable) that supersedes mapGroupsWithState
    * for new pipelines. Requires the RocksDB state store provider:
    * spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider. Emits one (user, n, sum) row
    * per key per micro-batch. */
  def runningTotals(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val typed = events.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Gap-based session windows, streaming-native (session_window). */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
}

/** transformWithState processor: typed per-key ValueState holding
  * (count, sum), updated per batch. */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
                               timers: TimerValues): Iterator[(Long, Long, Double)] = {
    var (n, s) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { r => n += 1; s += r._3 }
    totals.update((n, s))
    Iterator.single((key, n, s))
  }
}
