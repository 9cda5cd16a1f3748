package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory: UTC, AQE on, shuffle partitions sized to local cores
  * (the 100 TB deployment overrides via spark-submit conf; these are the
  * local-mode defaults per SURVEY.md §7.1).
  */
object GraftSession {

  /** Bound on Spark's generated-class cache (`spark.sql.codegen.cache.
    * maxEntries`, default 100). The cache is an LRU keyed by (context
    * class loader, generated source) and shared by every query in the
    * JVM. One execution of a media funnel (x86/x91/x93) compiles
    * 134-170 classes, more than the default holds, so the LRU evicted
    * each class before its next use and every repeated execution
    * recompiled ~95% of its code. The bound is the smallest round
    * number that holds one full pass over the query catalog: measured
    * on a 4-core host at sf0.01, one pass over all 181 queries compiles
    * 1,888-1,900 distinct classes and a second pass then compiles 16;
    * Metaspace stands at ~207 MB after it. The cache is sized once per
    * JVM, by the first code generation, so the bound takes effect only
    * when a session from this builder exists by then.
    */
  private[graft] val CodegenCacheMaxEntries = 2000

  /** Artifact isolation gives each cloned session (every streaming
    * query runs on one) its own executor class loader, and that loader
    * is part of the codegen cache key — so a re-run of a stream gate
    * recompiled every class of the previous run (2-13 per gate on the
    * stream queries). The engine adds no jars, files or artifacts at run
    * time and does not serve Spark Connect, so there is nothing to
    * isolate; with it off, all tasks share one loader and a re-run
    * compiles nothing.
    */
  private[graft] val ArtifactIsolation = false

  /** Spark names each whole-stage class after its codegen stage id, and
    * AQE numbers stages in the order it plans them, which varies from
    * run to run. The same stage code then carries a different class
    * name, so its source, and its cache key, differ: with the two
    * settings above, each repeated x91 execution over the committed
    * media fixture still recompiled 40-57 of its 160 classes. Without
    * the id it recompiles 2-8 of 108-114 (identical stages now share
    * one class). The id only decorates class names in stack traces.
    */
  private[graft] val CodegenStageIdInClassName = false

  /** Builder pre-configured for this engine. `cores` drives both the local
    * master threads and shuffle parallelism — on a real cluster the same
    * code runs with `spark.sql.shuffle.partitions` sized to the cluster.
    */
  def builder(
      appName: String = "hielospark",
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // shuffle parallelism defaults to the core count but is its own
      // knob (a cluster sizes it to executors × cores; tiny local inputs
      // can size it down to cut per-reducer fixed overhead)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // static auto-broadcast stays ON: file-stat-derived estimates are
      // reliable and the metadata family's fixture joins depend on them
      // (turning it off engine-wide doubled m_total — measured, then
      // reverted). The UNRELIABLE estimates are generator-derived
      // candidate tables (posexplode pair sets), whose static size is a
      // schema-default guess an under-estimate of which statically plans
      // a BroadcastHashJoin AQE cannot demote — those join sites carry
      // explicit merge hints instead (Similarity.noStaticBroadcast).
      // scan-split sizing stays at the cluster defaults (128 MB
      // partitions / 4 MB open cost): measured locally, shrinking them to
      // fan toy-MB tables across all 32 cores costs more in task overhead
      // than the extra scan parallelism returns — Bench's multi-file
      // staging already breaks the 1-row-group → 1-task floor (r2 verdict
      // task 3), and a deployment's row groups are real 128 MB units.
      // always use the sort-based (serialized) shuffle writer (r16 floor
      // forensics): with shuffle.partitions=32 ≤ the 200 default
      // bypassMergeThreshold, local mode silently took the bypass-merge
      // writer — nPartitions spill files opened per MAP task — which a
      // real deployment (thousands of partitions) never uses. Forcing
      // the production writer cut the 48-query sub-second sweep 23%
      // wall / 34% summed task time (measured, FloorProbe); this aligns
      // local execution with the at-scale code path rather than tuning
      // for the bench.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // spark.driver.maxResultSize stays at the 1 GB default ON PURPOSE
      // (r13 verdict item 5): the cap is the guardrail that catches an
      // accidental driver-side collect in a future operator. Only the
      // Bench/Verify entry points raise it (their memory-sink streams
      // legitimately collect ~1 GB on duplication-heavy amplified
      // corpora; a deployment writes streams to files/Kafka instead).
      // native expression registration for every session (SURVEY §4)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS) which Spark cannot represent;
      // read as long nanos and convert once at ingest (Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated code is compiled once per JVM and reused across
      // executions (see the two constants above)
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheMaxEntries.toLong)
      .config("spark.sql.artifact.isolation.enabled", ArtifactIsolation)
      .config("spark.sql.codegen.useIdInClassName", CodegenStageIdInClassName)

  def local(appName: String = "hielospark"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
