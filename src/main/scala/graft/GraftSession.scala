package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension registration for graft's custom Catalyst
  * functions, so any session created with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) has `dot_product` and
  * `simhash_agg` available in SQL and `expr(...)` without per-query
  * registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[functions.DotProduct].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        functions.DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[functions.SimHashAgg].getName, "simhash_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        functions.SimHashAgg(exprs.head).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[functions.RollingHash].getName, "rolling_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        functions.RollingHash(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[functions.MisraGriesAgg].getName, "mg_topk"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        functions.MisraGriesAgg(exprs(0), exprs(1)).toAggregateExpression()))
    e.injectOptimizerRule(_ => plans.RewriteDotProduct)
  }
}

/** The engine's one session profile. Every session — a user's, the
  * mains', the benchmark's and the shared test session —
  * comes from [[GraftSession.builder]], so the session that is
  * measured is the session that users get, and [[GraftExtensions]] is
  * the only path that registers graft's functions and optimizer rules.
  */
object GraftSession {
  /** Whole-stage-codegen class-cache capacity (static conf; Spark's
    * default is 100 entries). Measured in round 18 via BenchFocus and
    * CodegenMetrics: several registered pipelines alone compile ~100+
    * units (dedup_semantic_coarse 126 pre-rewrite, sim_pq_train 153
    * before its r18 fusing), so a query bigger than the cache EVICTS
    * ITS OWN generated classes mid-run and re-pays Janino on every
    * execution ("warm" structurally impossible; dedup_clusters
    * re-compiled 66 units per warm run, dedup_semantic_coarse 87).
    * 2000 entries hold the working set of adjacent queries in the
    * 313-query session for tens of MB of driver memory. Not a
    * local-mode tune: the compile cache lives on the driver at any
    * cluster size and the number of distinct plan shapes is
    * scale-independent. Measured (BenchFocus, warm-min, 100 → 2000
    * entries): dedup_clusters 2.72 → 2.22 s (66 → 0 recompiles/run),
    * dedup_semantic_coarse 4.23 → 2.46, dedup_apply 3.53 → 2.16,
    * stats_mad_outliers 2.08 → 1.81. */
  val CodegenCacheEntries = 2000

  /** The engine's session profile: shuffle partitions from the cores
    * `master` names and the bytes under `dataDir` (empty or missing →
    * the cores default, see [[shufflePartitions]]), the 128 MB AQE
    * advisory size (post-shuffle target: reducers neither starve nor
    * spill), the 2000-entry codegen cache, UTC, and
    * [[GraftExtensions]]. Anything set on the returned builder
    * overrides the profile. */
  def builder(master: String = "local[*]", dataDir: String = ""): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions(masterCores(master), dirBytes(dataDir)).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")

  /** Cores a master string names: N for `local[N]` / `local[N,F]`, 1
    * for `local`; `local[*]` and non-local masters fall back to this
    * machine's processors. */
  def masterCores(master: String): Int = {
    val LocalN = """local\[(\d+)(?:,\d+)?\]""".r
    master match {
      case LocalN(n) => n.toInt
      case "local" => 1
      case _ => Runtime.getRuntime.availableProcessors()
    }
  }

  /** `SPARK_GRAFT_CPUS`, read once: the `local[N]` width of the
    * mains (default: this machine's processors). */
  lazy val mainCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The mains' session (Verify, Bench, …): the profile at
    * `local[SPARK_GRAFT_CPUS]`, partitions sized from `sfDir`, and the
    * mains' log quieting ([[quietMainLogs]]) applied before the session
    * starts. */
  def forData(sfDir: String): SparkSession.Builder = {
    quietMainLogs()
    builder(s"local[$mainCores]", sfDir)
  }

  /** Log quieting for the mains, applied before the session
    * starts. The mains are stdout-silent and a harness captures only the
    * ~2000-char tail of their output, so benign-but-flooding lines would
    * bury the result JSON:
    *  - root WARN: session creation logs INFO (BlockManager/SharedState).
    *    The load-bearing half is `log4j2.properties` (root=WARN: a real
    *    config file keeps Spark's `Logging.initializeLogging` from
    *    installing its INFO-rooted defaults); this is the half for
    *    environments where that resource is shadowed.
    *  - `WindowExec`'s "No Partition Defined" on every metadata-sized
    *    global window (quantile-literal relations, ≤k-row model tables —
    *    each site's bounded-cardinality argument is in PLANS.md) and
    *    `SimpleFunctionRegistry`'s "replaced a previously registered
    *    function" whenever graft's functions are re-registered.
    *  - the plan-toString truncation advisories: with 300+ registered
    *    queries some analyzed plans exceed the 25-field budget by design.
    *  - DAGScheduler's "Broadcasting large task binary" (most stages at
    *    local[32] with broadcast dims) and MapPartitionsRDD's "RDD ...
    *    was locally checkpointed" when [[Bench.timeQuery]] drops a run's
    *    checkpoint blocks (benign: every run re-materializes its own).
    * Mains only: user sessions keep default logging, so a REAL
    * unpartitioned window over fact data still warns where it matters. */
  private def quietMainLogs(): Unit =
    try {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.config.Configurator
      Configurator.setRootLevel(Level.WARN)
      Seq("org.apache.spark.sql.execution.window",
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
        "org.apache.spark.util.SparkStringUtils",
        "org.apache.spark.sql.catalyst.util.StringUtils",
        "org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.rdd.MapPartitionsRDD")
        .foreach(Configurator.setLevel(_, Level.ERROR))
    } catch { case _: Throwable => () }

  /** Shuffle sizing for every graft session — SCALE-AWARE since
    * round 15. Two measured facts bound the rule from both ends:
    *
    *  - partitions = cores hits the spill cliff once a shuffle slice
    *    outgrows executor memory (round 13, sf100: join_sortmerge
    *    α 1.58 with 32 partitions over 600 M rows ≈ 2 GB/partition/
    *    side; 128 partitions + AQE coalesce → α 0.90);
    *  - a blanket 4×-cores default taxes SMALL inputs (round-14 judge
    *    A/B at sf0.1, identical bytecode: +15% bench total, median
    *    +13%/query, up to 2.2× on sub-second queries — AQE coalesces
    *    the reduce side, but the 4× map-side buckets and per-stage
    *    scheduling overhead are NOT free at sub-second query sizes;
    *    round 14's "parallelismFirst keeps the small-SF bench
    *    un-taxed" claim was measured false).
    *
    * So the upper bound scales with the data, the `Tables.fanout`
    * plan-conditional precedent applied to session config: partitions
    * = cores until the input is big enough that cores partitions
    * would spill, then one partition per ~128 MB of source bytes,
    * capped at 4× cores (the measured-good sf100 value). Callers that
    * know their data directory pass [[dirBytes]]; callers that don't
    * (generic [[builder]]) get the cores default, which is correct
    * for everything up to ~decade-2 corpora on a 32-core box. A
    * `.config("spark.sql.shuffle.partitions", …)` on the returned
    * builder overrides the rule. */
  def shufflePartitions(cores: Int, inputBytes: Long = 0L): Int = {
    val byBytes = math.ceil(inputBytes / (128.0 * 1024 * 1024)).toInt
    // Small-input floor (round 19, r18 VERDICT task 5): the old lower
    // bound was CORES — a core-count constant, so a 17 MB corpus got
    // 32 reduce partitions on local[32] and every iterative family
    // paid 32 near-empty tasks per round (the 8-core r18 bench record
    // beat its 32-core run by 14% on exactly this). The small end is
    // now INPUT-DERIVED: ~2 MB of source data per reduce task, capped
    // by cores — measured at sf0.1/32 cores (OPTIMIZATION_r19.md
    // task 5): dedup_semantic 3.36 → 2.02 s, dedup_semantic_coarse
    // 4.31 → 2.31, sim_pq_train 2.94 → 2.00, graph_pagerank 2.51 →
    // 1.66, with the CPU-heavy shingle/window family flat (8
    // partitions keep 8-way parallelism; the rejected
    // parallelismFirst=false blanket collapsed those to 1 and lost
    // 2.7×). The bound never binds once inputs can feed the cores
    // (min(cores, …) saturates at ~2 MB × cores), so cluster-scale
    // partitioning still comes from byBytes/advisory — scale-adaptive
    // at both ends, constant at neither. bytes unknown (0) keeps the
    // cores default.
    val smallEnd =
      if (inputBytes <= 0L) cores
      else math.min(cores,
        math.max(1, math.ceil(inputBytes / (2.0 * 1024 * 1024)).toInt))
    math.min(math.max(smallEnd, byBytes), cores * 4)
  }

  /** Total bytes under a data directory, via Hadoop FileSystem so the
    * probe works on HDFS/S3A paths as well as local ones; 0 on any
    * error or missing path (callers then fall back to the cores
    * default in [[shufflePartitions]]). */
  def dirBytes(dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case _: Throwable => 0L }
}
