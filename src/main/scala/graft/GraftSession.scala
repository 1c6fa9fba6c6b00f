package graft

import org.apache.spark.sql.SparkSession

/** The one session config: Bench, Verify, the tooling and the test suite
  * all build their session here, so correctness is checked under the
  * config the bench runs — the Spark analog of the reference building
  * every Context in one place (api::RunLocalTests,
  * thrill/api/context.hpp:485-499).
  *
  * Environment:
  *  - `SPARK_GRAFT_CPUS`: `local[N]` cores and shuffle partitions
  *    (default: every core).
  *  - `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"`: session conf for plan A/B
  *    experiments, applied over [[conf]] — e.g. the round-8 runtime
  *    bloom-filter study (`spark.sql.optimizer.runtime.bloomFilter.*`,
  *    SCALE.md) ran entirely through it.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session conf at `cpus` cores. */
  private[graft] def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // test tables are single ~1-200 MB parquet files; the default 128 MB
    // split would scan each on one core. 1m beats the previous 4m by 18%
    // at sf0.1 and 33% on the document-heavy sf1 queries (A/B recorded in
    // SCALE.md): the CPU-bound map stages (regex scrub, shingling,
    // minhash) are parallelism-starved at 4m, and at these row widths
    // the extra task overhead is noise.
    "spark.sql.files.maxPartitionBytes" -> "1m",
    // Runtime bloom-filter join pruning (the Spark analog of the
    // reference's join location-detection idea): ADOPTED at stock
    // thresholds, pinned explicitly so a Spark default change can't
    // silently flip it. Stock means: inject only when the probe-side
    // scan exceeds 10 GiB — never at bench SFs, exactly right at real
    // scale. Forcing injection at sf1 scan sizes was A/B'd and REJECTED
    // (q4_priority 1.16 -> 2.19 s median; SCALE.md round-8 entry).
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `k=v;k2=v2` pairs. A pair without `=` or with an empty key is
    * dropped (ADVICE r16: `=v` used to fail session build with an
    * unhelpful error); a value keeps any further `=`.
    */
  private[graft] def parseExtraConf(s: String): Seq[(String, String)] =
    s.split(';').toSeq.filter(_.indexOf('=') > 0).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }

  /** `SPARK_GRAFT_EXTRA_CONF`, parsed. */
  private[graft] def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(parseExtraConf)

  /** The session on `local[cpus]` with [[conf]] and [[extraConf]], WARN
    * logging and the graft SQL functions. Idempotent: a second call
    * returns the live session.
    */
  def get(cpus: Int = envCpus): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
    (conf(cpus) ++ extraConf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    // The suite runs >40k Spark stages; at INFO every one logs dozens of
    // scheduler lines — measured ~15% of suite wall (r17). Failures still
    // surface: assertions carry their own messages and task errors log
    // at ERROR.
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** Per-gate cleanup: facade operators persist() intermediate RDDs and
    * rely on the ContextCleaner to reclaim them once the query's
    * references drop; across back-to-back gates the cleaner lags and
    * stale blocks cause eviction/GC churn that bleeds 2-4x into later
    * gates (measured: q_reduce_pair 3.4 s in-suite vs 1.5 s isolated), so
    * each gate starts with clean block-manager state. Blocking: async
    * removal would overlap the next gate.
    *
    * The listener bus is drained first. [[graft.operators.Release]]
    * unpersists with `blocking = true` on the bus thread, so once the
    * drain returns every release the gate's action triggered is done,
    * and none can overlap the removals below.
    */
  def reset(spark: SparkSession): Unit = {
    org.apache.spark.sql.GraftBusShim.drain(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}
