package graft

import org.apache.spark.sql.SparkSession

/** Engine-default session configuration shared by every entrypoint
  * (Bench / Verify / PlanAudit / ScaleCheck, perfbench's harness and the
  * test session), and the CLI harnesses' shared session, clean slate and
  * name filter. These are SCALE-ADAPTIVE settings —
  * both delegate the actual sizing decision to AQE's runtime statistics,
  * so the same values are right at sf0.1 on local[32] and on a 100 TB
  * cluster; neither encodes a local constant.
  *
  *  - `canChangeCachedPlanOutputPartitioning=true`: lets AQE coalesce the
  *    shuffle partitions INSIDE cached (persisted) plans. Spark defaults
  *    this off only to keep a cached plan's output partitioning stable for
  *    downstream exchange reuse; this engine's persisted intermediates
  *    (LSH signature/band tables, ANN truth sets, sketch registers) are
  *    consumed by aggregates and broadcast joins, not partition-reuse
  *    joins, so the stable-partitioning insurance costs 32 near-empty
  *    cached blocks per persist locally (every InMemoryTableScan consumer
  *    then schedules 32 tasks) and oversized cached partitions at scale.
  *    r14 A/B on the persist-heavy bench subset: t42_hll_union 0.41×,
  *    d7_dedup_eval 0.79×, d1_lsh_neardup 0.83×, q33_pagerank 0.85×,
  *    nothing slower (exp_A vs exp_B, same session shape).
  *  - `maxShuffledHashJoinLocalMapThreshold=64m`: lets AQE rewrite a
  *    sort-merge join to a shuffled hash join when every post-shuffle
  *    partition of the build side is ≤ 64 MB — removing both sorts. The
  *    rewrite is decided per-join from measured partition sizes, so at
  *    100 TB only genuinely small (post-filter / post-aggregate) join
  *    sides take the hash path and a 64 MB per-task build table is well
  *    inside executor memory; large joins stay sort-merge. Guide §3.1's
  *    shuffled-hash recommendation in its AQE (runtime-stat) form.
  *    r14 A/B on top of the cached-plan setting: d3_dedup_clusters 0.87×,
  *    d2_simhash_neardup 0.84×, t37_bpe_apply 0.88×, d1 0.77×.
  */
object Sessions {
  def engineDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      (64L * 1024 * 1024).toString)

  /** The core count every CLI entry point runs at: `SPARK_GRAFT_CPUS`,
    * else the host's available processors. Read once here, so Bench,
    * Verify, PlanAudit and ScaleCheck plan at the same width.
    */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The local session shape every entrypoint shares — master =
    * `local[cpus]`, shuffle partitions = cpus, UTC pinned (so `events.ts`
    * NTZ→timestamp conversion is zone-independent even when launched
    * outside sbt's javaOptions), UI off — with [[engineDefaults]] applied.
    * Keeping the block HERE means the next engine-wide setting is one
    * edit, not nine.
    */
  def localBuilder(cpus: String): SparkSession.Builder =
    engineDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))

  /** The session a CLI harness runs in: [[localBuilder]] at [[cpus]], plus
    * `SPARK_GRAFT_CONF="k=v;k=v"` overrides for local A/B experiments, at
    * the tool's log level.
    */
  def cli(logLevel: String): SparkSession = {
    val builder = localBuilder(cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Clean slate before a measured pass: no cached blocks left behind by
    * earlier passes (their persist() calls would otherwise squat on storage
    * memory and make the next pass measure cache hits, not the engine) and
    * no carried garbage, so pass k doesn't pay for pass k-1's allocations.
    * Call it OUTSIDE the timed region.
    */
  def cleanSlate(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** A comma-separated name filter (`SPARK_GRAFT_ONLY=a,b`) checked against
    * the names the tool can run. Names are trimmed and empty segments
    * ignored, so an unset, empty or all-comma value means no filter
    * (`Right(None)`). Names outside `known` give `Left` with the unknown
    * names, sorted: a typo'd filter must abort loudly, never silently run
    * nothing.
    */
  def parseNames(value: Option[String],
      known: Set[String]): Either[Seq[String], Option[Set[String]]] = {
    val names = value.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val unknown = names.fold(Set.empty[String])(_ -- known)
    if (unknown.nonEmpty) Left(unknown.toSeq.sorted) else Right(names)
  }

  /** [[parseNames]] over environment variable `env`. Unknown names print
    * `complain(<names, comma-separated>)` to stderr and exit with status 2.
    */
  def nameFilter(env: String, known: Set[String])(
      complain: String => String): Option[Set[String]] =
    parseNames(sys.env.get(env), known).fold({ unknown =>
      System.err.println(complain(unknown.mkString(", ")))
      sys.exit(2)
    }, identity)
}
