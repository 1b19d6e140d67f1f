package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for the engine's entry points: AQE on,
  * shuffle partitions sized to the executor core count (2-3x total
  * cores on a real cluster — AQE coalesces either way), UTC, and the
  * legacy nanos-as-long parquet flag the events table needs (set here
  * ONCE instead of mutating conf inside table getters).
  *
  * Two settings keep warm sessions from recompiling generated code.
  * Spark keeps generated classes in ONE JVM-wide LRU cache keyed by the
  * generated source and the class loader:
  *  - `spark.sql.codegen.cache.maxEntries` defaults to 100, but one pass
  *    of the 11-query IMPC etl batch needs 176 distinct classes and one
  *    pass of all 211 queries at sf0.01 needs 3012, so at 100 the LRU
  *    cycles and every warm pass recompiles nearly everything (5642
  *    compiles in a second full pass, against 88 with this cache: the
  *    classes whose source embeds per-run literals). [[CodegenCacheEntries]]
  *    leaves ~2x headroom because Guava's segmented LRU evicts per
  *    segment, before the cache is full. Measured cost after a second
  *    full pass and a GC (4 cores, sf0.01): metaspace +24 MB, heap used
  *    +55 MB, RSS +325 MB over the 100-entry cache.
  *  - `spark.sql.artifact.isolation.enabled=false`: with isolation on,
  *    every cloned session (each streaming query runs on one) gets its
  *    own executor class loader, which splits the cache key, so a re-run
  *    stream recompiles its classes. graft adds no jars or artifacts to
  *    a session, so isolation only splits the cache.
  * Both take effect only when set at creation: the cache size is read
  * once, when the JVM's `CodeGenerator` initializes, and clones inherit
  * the isolation setting of the session they copy.
  */
object GraftSession {

  /** Codegen class-cache size: the 3012 distinct generated classes of
    * one full 211-query pass at sf0.01, times ~2. */
  val CodegenCacheEntries: Int = 6000

  /** Cores to use locally: SPARK_GRAFT_CPUS, else min(32, available). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  /** Shuffle partitions, overridable INDEPENDENTLY of cores
    * (SPARK_GRAFT_SHUFFLE_PARTITIONS): the deployment knob a real
    * cluster turns as data grows — per-task state is total/partitions,
    * so scaling partitions with data keeps task memory flat. The scale
    * harness measures exactly this curve (SCALE_r6 partitions matrix);
    * default stays = cores, AQE coalesces small shuffles either way. */
  def shufflePartitions(cores: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores)

  def builder(cores: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(cores))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate fires while the generator input is
      // still a cheap attribute, then PushDownPredicates inlines the
      // attribute's defining projection into the inferred
      // `size(..)>0 AND isnotnull(..)` filter — so every explode over
      // a DERIVED array (shingles, spans, BPE tokens) re-runs its
      // whole tokenize/regex chain per input row in an interpreted
      // Filter. Generate drops empty/null arrays itself, so the
      // inferred filter is purely an (mis)optimization: excluding the
      // rule is semantics-preserving and measured 3-6x on
      // explode-heavy operators (see PlanAuditSpec's regression gate).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")

  def local(cores: String = cpus): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
