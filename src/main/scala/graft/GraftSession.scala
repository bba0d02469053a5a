package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory: every entry point (Verify, Bench, tests)
  * funnels through here so tuning lives in one place.
  *
  * Scale notes (targets a 1000-executor cluster even though we test on
  * local[32]):
  *  - AQE stays on (Spark 4 default) for runtime shuffle coalescing and
  *    skew-join splitting.
  *  - `spark.sql.shuffle.partitions` is a *default*; on a real cluster it
  *    should be ~2-3x the executor-core count. Local runs pass 32.
  *  - `nanosAsLong` kept for the legacy testdata layout where
  *    events.parquet carried TIMESTAMP(NANOS) (Spark's vectorized reader
  *    otherwise rejects it); current layouts use timestamp[us] and the
  *    adapter dispatches on the found schema (see sources.EventsAdapter).
  */
object GraftSession {
  def configure(builder: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    builder
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default TRUE: the r15 optimization
      // round A/B-ed the tuning guide's parallelismFirst=false +
      // advisory=8m on the full suite and it was a broad loss (269 of
      // 319 gates slower, +64 s total; the colocation/spatial families
      // +2..+4 s each) — post-shuffle stages carrying real per-row
      // compute get serialized onto 1-3 tasks, and in-process task
      // launch is too cheap for the saved near-empty tasks to matter.
      // At multi-node scale the advisory governs either way because
      // shuffles are GBs; the default is the right local setting.
      // InferFiltersFromGenerate re-evaluates the generator's child
      // expression inside an inferred pre-filter; for our sketch
      // operators that child is an expensive interpreted higher-order
      // lambda (shingling, tokenizing), so the inferred filter doubles
      // the most expensive projection. Generate already skips null/empty
      // inputs, so dropping the rule is semantics-preserving.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Generated-class cache (static conf, default 100 entries): a
      // session that plans many distinct queries back to back evicts
      // every fragment long before it is needed again — this suite
      // compiles ~320 gates x several WholeStageCodegen fragments per
      // bench repetition, so at the default size each repetition re-pays
      // janino compilation for the whole suite. 4096 keeps every
      // fragment live at bounded metaspace cost (generated classes
      // unload with their loaders). Scale-neutral: the entry count is an
      // upper bound, not a reservation, and production jobs with few
      // distinct plans are unaffected.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = 4): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = math.max(cores, 4)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the extensions conf above injects the banded rewrite into the
    // operator-optimization batch (catches DataFrame-API joins);
    // register() ALSO places it in experimental.extraOptimizations —
    // the "User Provided Optimizers" batch that runs AFTER
    // RewritePredicateSubquery, which is the only point where a SQL
    // EXISTS/NOT EXISTS distance subquery has become the LeftSemi/
    // LeftAnti join the rule bands
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Make an externally-created session safe for graft operators. UTC is
    * pinned so TIMESTAMP_NTZ -> TIMESTAMP casts (EventsAdapter's t_us
    * derivation) are the identity on the underlying micros, matching the
    * DuckDB oracle's epoch_us on naive timestamps.
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
