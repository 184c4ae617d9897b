package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * Notes on scale: these settings are tuned for the local[N] test rig but the
  * same knobs are what a 1000-executor deployment would set differently —
  * shuffle partitions sized to ~128MB per task, AQE on for runtime re-planning
  * (skew-join splitting, partition coalescing), broadcast threshold for the
  * dimension tables of the star schema.
  */
object GraftSession {

  /** Apply graft's canonical SQL settings to an existing builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // graft_* SQL functions + the SCD-view resolution rule, applied at
    // session construction (the only time analyzer rules can be injected)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    // Reference semantics: failed casts yield NULL (e.g. unparsable money ->
    // NULL, /root/reference/scrapers/vgsi/source.py:134-167). Spark 4 defaults
    // to ANSI mode (errors); we keep the permissive cast semantics.
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // canChangeCachedPlanOutputPartitioning stays false: true cost q24 +20%,
    // q56/q62/q63/media +5–13% for q41 −25% (OPTIMIZATION_r17.md, "1b. q90").
    // Schema drift across append batches is the norm in the reference lake
    // (union_by_name, /root/reference/src/engine/database.py:275).
    .config("spark.sql.parquet.mergeSchema", "false") // opt-in per read
    .config("spark.sql.parquet.compression.codec", "zstd")
    // The events table stores TIMESTAMP(NANOS) which Spark's vectorized
    // parquet reader rejects; read as long and convert in Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.ui.explainMode", "formatted")

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = configure(
      SparkSession
        .builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    // getOrCreate RETURNS AN EXISTING SESSION UNCHANGED, silently
    // discarding every builder config above — including the analyzer
    // extensions, which are injectable only at construction. That
    // misconfiguration is invisible until a __current view fails to
    // resolve or an ANSI cast throws where the engine expects NULL; fail
    // HERE with the cause instead. (ansi/timezone are runtime-settable
    // and healed; the extensions are not.)
    if (s.conf.getOption("spark.sql.extensions").forall(!_.contains("graft.functions.GraftExtensions")))
      throw new IllegalStateException(
        "GraftSession.local() joined a pre-existing SparkSession built WITHOUT " +
          "graft.functions.GraftExtensions — analyzer rules cannot be added after " +
          "construction; stop the existing session first or build it via GraftSession.configure")
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
