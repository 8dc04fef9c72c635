package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{QueriesCrawl, Registry}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * pipeline surface) is registered in `queries`, each with an exactly
  * equivalent DuckDB oracle in `oracleSql` (same column names, deterministic
  * ordering, scalar-only output columns).
  */
object SparkEntry {

  /** Cores a local session runs on: SPARK_GRAFT_CPUS, else every core the
    * JVM sees.
    */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session settings [[session]] applies, EXCLUDING anything the
    * deployer already provided: spark-submit places `--master` and every
    * `--conf` into system properties BEFORE `main` runs, and an
    * unconditional `.master()`/`.config()` would override them — the
    * documented `--master yarn --conf spark.sql.shuffle.partitions=2000`
    * cluster invocation would silently run `local[cores]` inside the
    * driver process. Pure so CrawlCliSpec can pin the precedence rule:
    * `has` answers "did the deployer set this key". The UTC session time
    * zone is NOT here — it is forced unconditionally (KST virtual time /
    * job-id derivation are semantics, not tuning).
    */
  private[graft] def sessionDefaults(
      has: String => Boolean, cores: Int): Seq[(String, String)] =
    Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.master" -> s"local[$cores]"
    ).filterNot { case (k, _) => has(k) }

  /** The one session builder of every entry point: [[sessionDefaults]]
    * (deployer values win), the forced UTC zone, WARN logging and
    * [[configure]]. With SPARK_GRAFT_PROFILE set, every completed stage
    * prints one line to stderr (wall, executor run, CPU and GC time).
    */
  def session(appName: String, cores: Int = defaultCores): SparkSession = {
    val builder = SparkSession.builder().config("spark.sql.session.timeZone", "UTC")
    val spark = sessionDefaults(sys.props.contains, cores)
      .foldLeft(if (sys.props.contains("spark.app.name")) builder
        else builder.appName(appName)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("SPARK_GRAFT_PROFILE"))
      spark.sparkContext.addSparkListener(StageProfile)
    configure(spark)
  }

  private object StageProfile extends SparkListener {
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val wall = (for { a <- i.submissionTime; b <- i.completionTime } yield b - a)
        .getOrElse(-1L)
      val t = i.taskMetrics
      System.err.println(
        f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%4d wall=$wall%6dms run=${t.executorRunTime}%7dms cpu=${t.executorCpuTime / 1000000}%7dms gc=${t.jvmGCTime}%6dms ${i.name.take(60)}")
    }
  }

  /** Session settings every entry point relies on: non-ANSI casts (lenient
    * ''→null semantics shared with the oracle's try_cast) and AQE on.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // AQE coalesces shuffle partitions by BYTES; the dedup/ANN stages carry
    // few bytes per row but heavy per-row CPU (array set ops, pair
    // enumeration), so the 64m default collapses them onto one core. 4m
    // keeps those stages wide without fragmenting genuinely large shuffles.
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    spark
  }

  /** Flagship: one epoch of the frontier pipeline on sf0.001 — extract
    * candidates from synthesized span text, canonicalize, dedup, anti-join a
    * seen set, rank per host, emit the fetch batch (SURVEY §7.3).
    * Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    configure(spark)
    Registry.byName("q06_w2_sched_rank").run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      configure(s)
      q.run(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
