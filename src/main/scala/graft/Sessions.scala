package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession (Seafowl
  * builds its DataFusion context in one place too, `with_default_features`
  * in `src/config/context.rs`), so a probe's timings reproduce the
  * bench's and the oracle checks the plans the bench times.
  *
  * Two profiles, because two kinds of caller need different values:
  *  - [[Batch]] — Bench, Verify, Explain, Profile, the fuzz/crash
  *    runners, GenScale and the operator probes;
  *  - [[Serve]] — ServerMain, Shell, ProbeServe, ProbeSoak and the
  *    catalog/CDC runners.
  *
  * Every session reads `SPARK_GRAFT_CPUS` (default 4) for its thread
  * count, and `SPARK_GRAFT_CONF` (`k=v;k=v`) for overrides applied after
  * the profile's values — the one knob for config experiments, e.g.
  * `SPARK_GRAFT_CONF=graft.forceScalePaths=true` for the scale paths or
  * `spark.scheduler.mode=FIFO` on a serving session.
  */
object Sessions {

  sealed trait Profile
  /** Batch analytics over a fixed input: AQE off, data-derived width. */
  case object Batch extends Profile
  /** Serving: FAIR scheduling over per-statement pools, width = cores. */
  case object Serve extends Profile

  /** Shuffle width of a batch session: max(4, ceil(inputBytes / 8 MiB))
    * capped at cpus/2. Every task here carries a measured ~40-70 ms fixed
    * cost (launch + deserialize + shuffle bookkeeping), so tiny shuffles
    * must not be cut into per-core slivers. At sf0.1 (17.5 MB → ceil = 3)
    * the max(4, ·) floor yields 4, the measured knee of the width sweep
    * (126 s at 16 → 85 s at 4; 2 partitions regresses the compute-bound
    * tail, q46 1.2 → 2.0 s); at sf1 the byte term takes over (16 at 32
    * threads). The cpus/2 cap keeps low-core scaling legs meaningful —
    * benches are expected to run with SPARK_GRAFT_CPUS >= 8 (the default
    * 4 caps the width at 2, below the knee). A cluster deployment sizes
    * the cap to cluster width: a session config, not a plan property. */
  def batchWidth(cpus: Int, inputBytes: Long): Int =
    math.min(math.max(1, cpus / 2).toLong,
      math.max(4L, (inputBytes + (8L << 20) - 1) / (8L << 20))).toInt

  /** The session config of `profile` on `cpus` threads over an input of
    * `inputBytes` (batch width only; 0 when there is no fixed input). */
  def conf(profile: Profile, cpus: Int, inputBytes: Long = 0L): Map[String, String] = {
    val common = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.session.timeZone" -> "UTC",
      // events.parquet carries ns timestamps; Tables.load converts back
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // the suite's queries (and a serving workload's distinct plans)
      // overflow the default 100-entry generated-class cache, so every
      // rep would re-pay Janino compilation for every query
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false")
    profile match {
      case Batch => common ++ Map(
        "spark.sql.shuffle.partitions" -> batchWidth(cpus, inputBytes).toString,
        "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
        // AQE OFF: adaptive re-planning materializes every stage as its
        // own job with stats collection — overhead sub-GB shuffles never
        // earn back (72.2 → 62.4 s across the suite at sf0.1, results
        // identical). A 100 TB deployment flips it back on for skew joins
        // and runtime coalescing, with the two settings below.
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (8L << 20).toString
        // NOTE (round 18): one-file-per-task scans (maxPartitionBytes
        // 16 MB) made the heavy queries 1.6-2.3x SLOWER at sf1 — more map
        // tasks multiply partial-agg group duplication into the shuffle.
        // The 128 MB default stays.
      )
      case Serve => common ++ Map(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        // FAIR root scheduler + Statements' per-statement pools: one heavy
        // analytical scan must not queue every floor query behind it
        "spark.scheduler.mode" -> "FAIR")
    }
  }

  /** Parse `k=v;k=v` overrides; entries without `=` are ignored. */
  def overrides(raw: String): Map[String, String] =
    raw.split(';').map(_.trim).filter(_.contains('=')).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k.trim -> v.trim
    }.toMap

  /** Build (or join) the process's session on `profile`. `sfDir` is the
    * input a batch session's width derives from (file sizes summed
    * recursively, so a directory-per-table corpus is not undercounted). */
  def build(profile: Profile, sfDir: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
    def dirBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
      else f.length
    val pools = profile match {
      // read at SparkContext start, so it must be a builder config
      case Serve => Map("spark.scheduler.allocation.file" -> graft.server.Statements.writeFairPoolsFile())
      case Batch => Map.empty[String, String]
    }
    val all = conf(profile, cpus, sfDir.fold(0L)(d => dirBytes(new java.io.File(d)))) ++ pools ++
      sys.env.get("SPARK_GRAFT_CONF").fold(Map.empty[String, String])(overrides)
    val spark = all.foldLeft(SparkSession.builder().appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel(if (profile == Batch) "ERROR" else "WARN")
    tune(spark)
  }

  /** Spark's ObjectHashAggregate falls back to SORT-BASED aggregation
    * after seeing just 128 distinct groups per partition (the object
    * buffers are opaque to the memory manager, so the default is
    * maximally conservative). Every TypedImperativeAggregate in this
    * library carries a deliberately BOUNDED buffer — TopKScored k
    * entries, KLL/MinK/MisraGries fixed capacity — so the hash path is
    * ~250 B/group and strictly cheaper than the fallback, which re-sorts
    * the whole remaining input through UnsafeKVExternalSorter (each
    * spill file then pins a 1 MiB read-ahead buffer at merge time: the
    * first OOM on a starved heap in the round-17 memory-pressure runs,
    * BASELINE.md, where the banded kNN candidate stream hit the fallback
    * at 20k groups). 262144 groups ≈ 64 MiB/task worst-case keeps the
    * hash path for every per-partition group count this library produces
    * while staying bounded if a partition somehow carries millions of
    * groups.
    */
  val ObjectAggFallbackGroups = 262144

  /** Apply runtime defaults to a built session. Values already set by
    * the user (spark-defaults, --conf, SPARK_GRAFT_CONF, or an earlier
    * set) are kept. Installs, idempotently and without a conf key:
    *  - the raised object-aggregate fallback threshold (below);
    *  - [[graft.plan.SmallSort]] in `extraStrategies`: a global sort whose
    *    input `ScalePath.small` admits runs in one task, with no
    *    range-sampling job re-running its input stage
    *    (`graft.forceScalePaths=true` restores range partitioning);
    *  - [[graft.plan.BindLiterals]] in `extraStrategies`: a file scan's
    *    filter and projection read their numeric, date and timestamp
    *    comparison literals from the stage's references, so a template
    *    served with a new key reuses its generated classes;
    *  - [[graft.plan.HoistKernels]] in `extraOptimizations`: a filter
    *    computes each total graft kernel once per row, in a projection
    *    under it, instead of once per inlined spelling.
    * It also turns off `spark.sql.artifact.isolation.enabled`. With it
    * on, every session's jobs carry the session's UUID and the executor
    * builds one class loader per UUID; Spark caches generated classes by
    * (class loader, source), so the first run of each stage on a new
    * snapshot session (one after every write) compiled it again. graft
    * adds no session artifacts (jars, files, classes), so the isolation
    * protects nothing. Each session's `ArtifactManager` reads the value
    * on its first job, so it is set here, before the session runs one.
    * Sessions cloned from a tuned one (the per-generation snapshots)
    * inherit the planner changes and the isolation setting.
    *
    * INTERACTION NOTE — the raised fallback threshold is session-global,
    * so it also governs Spark's UNBOUNDED-buffer object aggregates
    * (collect_list / collect_set / percentile): with it, up to
    * [[ObjectAggFallbackGroups]] live group buffers can accumulate per
    * partition before the sort-based degradation kicks in, where the
    * stock 128 capped that exposure. For this library's aggregates that
    * trade is strictly right (buffers are ~250 B bounded; the fallback's
    * spill-merge is what actually OOMed at 640 MiB). Pipelines that mix
    * in unbounded collect_* over huge groups on constrained heaps should
    * preset `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * themselves — tune never overrides a non-default value. */
  def tune(spark: SparkSession): SparkSession = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (spark.conf.getOption(key).forall(_ == "128"))
      spark.conf.set(key, ObjectAggFallbackGroups.toString)
    spark.conf.set(org.apache.spark.sql.internal.SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
    val x = spark.experimental
    Seq(graft.plan.SmallSort, graft.plan.BindLiterals).foreach { s =>
      if (!x.extraStrategies.contains(s)) x.extraStrategies = s +: x.extraStrategies
    }
    if (!x.extraOptimizations.contains(graft.plan.HoistKernels))
      x.extraOptimizations = x.extraOptimizations :+ graft.plan.HoistKernels
    spark
  }
}
