package graft

import org.apache.spark.sql.SparkSession

/** Front door for library users: a SparkSession wired with graft's
  * extensions (native SQL functions) and the configuration this engine is
  * designed around (AQE on, UTC, sane local shuffle parallelism).
  *
  * {{{
  * val spark = GraftSession.local(cores = 32)
  * val silver = operators.TelemetryTransform.transform(
  *   sources.TelemetryCsv.read(spark, path))
  * }}}
  *
  * On a cluster, apply [[configure]] to your own builder instead of
  * [[local]] — every operator in this library is deployment-agnostic.
  */
object GraftSession {

  /** Silence the benign `WindowExec: No Partition Defined` warning flood.
    * Every unpartitioned window in this library sits behind the bounded
    * three-site whitelist that GlobalWindowGateSpec enforces (provably
    * ≤50 k-row frames) — the spec, not this log line, is the protection.
    * The driver records only the stdout TAIL of bench/verify runs, and
    * thousands of repeats of this known-benign line would bury any NEW
    * warning class in that window (r10 verdict #3).
    *
    * Idempotent: the filters install once per JVM, so calling this on
    * every [[local]] session costs nothing after the first. */
  def quietKnownWarnings(): Unit = quieted

  private lazy val quieted: Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // "RDD was locally checkpointed ... cannot be recomputed after
    // unpersisting": emitted once per released checkpoint by the
    // release-after-consume discipline (Caches.releaseResult on
    // localCheckpoint-backed results — BT/MMR/LPA and every iterative
    // operator). Benign BY CONSTRUCTION: a result is only released
    // after everything derived from it is itself materialized, so the
    // truncated lineage is never re-executed; the hygiene specs
    // (StorageHygiene/Soak), not this log line, are the protection.
    // A MESSAGE-level filter, deliberately not a logger-level cut:
    // RDD warnings key by concrete class, so silencing the whole
    // MapPartitionsRDD logger would also hide any FUTURE warning that
    // signals the release discipline actually broke — exactly the
    // bury-new-warnings failure this method exists to prevent.
    denyMessage("org.apache.spark.rdd.MapPartitionsRDD",
      "locally checkpointed")
  }

  /** Attach a DENY filter for messages containing `needle` to the
    * named logger, leaving every other message at its normal level. */
  private def denyMessage(loggerName: String, needle: String): Unit = {
    import org.apache.logging.log4j.core.{Filter, LogEvent}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.AbstractFilter
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val cfg = ctx.getConfiguration
    val existing = cfg.getLoggerConfig(loggerName)
    val lc =
      if (existing.getName == loggerName) existing
      else {
        // additive pass-through config: no level override, no own
        // appenders — everything except the denied message reaches the
        // root appenders unchanged
        val created = new LoggerConfig(loggerName, null, true)
        cfg.addLogger(loggerName, created)
        created
      }
    lc.addFilter(new AbstractFilter(
        Filter.Result.DENY, Filter.Result.NEUTRAL) {
      override def filter(event: LogEvent): Filter.Result =
        if (event.getMessage.getFormattedMessage.contains(needle))
          Filter.Result.DENY
        else Filter.Result.NEUTRAL
    })
    ctx.updateLoggers()
  }

  /** Shared tuning: adaptive execution (coalescing + skew-join split),
    * UTC timestamps (oracle/Postgres parity), extensions registered, and a
    * codegen cache that holds graft's whole query surface.
    * The one engine configuration: tests, Verify, Bench, Explain and the
    * tools all build their sessions through [[local]], which applies it.
    *
    * Codegen cache. Spark compiles each generated class once and
    * keeps it in one JVM-wide cache keyed by the Java source text
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A loop of more
    * distinct classes than the bound evicts every entry before its reuse,
    * so each re-run compiles again and runs fresh classes in the
    * interpreter while the JIT recompiles them: perfbench `pipeline`
    * compiles about 120 classes per iteration, and at the default bound
    * every warm iteration compiled 107–120 of them again. With
    * [[CodegenCacheEntries]] warm iterations compile none. The bound
    * holds the measured working set with headroom (numbers on the
    * constant). The setting is a static SQL conf: Spark reads it once,
    * when the first class of the JVM is compiled, so it belongs in the
    * builder and cannot be a per-query option.
    *
    * Class names without stage ids. AQE numbers whole-stage codegen
    * stages in the order it plans them, which can change from run to
    * run, and by default the number is part of the generated class name,
    * so an otherwise identical stage compiled again under its new
    * number. `useIdInClassName=false` names every stage class alike (the
    * id stays in a comment of the source); the only cost is that stack
    * traces no longer carry the stage id. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.adaptive.enabled", "true")
    // let the planner pick shuffled-hash over sort-merge when its size
    // conditions hold (guide §9 baseline; §3.1: often faster when one
    // side is moderately small per partition — skips both sorts). Not
    // scale-dependent: the build side must still fit its per-partition
    // memory, which the planner/AQE size checks gate. Promoted here
    // from the bench-only session (r17) so the engine users get IS the
    // engine that is measured.
    .config("spark.sql.join.preferSortMergeJoin", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // timezone-less parquet timestamps read as TimestampType (UTC), not
    // NTZ — keeps unix_micros/oracle parity independent of writer quirks
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // parquet TIMESTAMP(NANOS) (older events drops) reads as epoch-nanos
    // long, which Tables.events converts; Spark has no nanosecond type
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.cache.maxEntries",
      CodegenCacheEntries.toString)
    // stage ids out of generated class names (see above)
    .config("spark.sql.codegen.useIdInClassName", "false")

  /** Bound of Spark's JVM-wide generated-class cache. Measured working
    * set: one pass over all 228 driver queries at sf0.001 compiles 2,627
    * distinct classes, so 4,096 holds the whole query surface with about
    * a third to spare. Two passes in one JVM (local[4], 4-vCPU VM) with
    * this configuration: 2,627 then 16 compiles, 206 s then 122 s;
    * Metaspace 215–217 MB and the two nmethod code heaps 142–154 MB.
    * With Spark's default of 100 the second pass compiled about as much
    * as the first (5,024 of 5,034 in an earlier probe, which also had
    * stage ids in class names), with Metaspace and code heaps within a
    * few MB of these. The 16 of the warm pass are new sources, not
    * evictions: the cache then held 2,643 entries, under the bound. */
  val CodegenCacheEntries: Int = 4096

  /** Local-mode session with shuffle parallelism matched to cores (the
    * 200-partition default is wrong for one machine). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    // getOrCreate may return a pre-existing session whose builder-time
    // extensions never applied — make function registration unconditional
    graft.plans.GraftExtensions.register(s)
    s.sparkContext.setLogLevel("WARN")
    quietKnownWarnings()
    s
  }
}
