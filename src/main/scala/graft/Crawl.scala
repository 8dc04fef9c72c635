package graft

import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.gen.SimWeb

/** CLI entry for the crawl engine — the spark-submit surface of the north
  * rule. Runs (or resumes) an epoch loop over the simulated web and prints
  * one JSON line with per-epoch counters and URLs-fetched+deduped/sec.
  *
  * Usage: runMain graft.Crawl <storeDir> <seeds> <nHosts> <epochs>
  *   [budgetMs] [compactEvery] [minorEvery]
  * The session comes from SparkEntry.session: values the deployer passed
  * (spark-submit `--master`, `--conf`) win; otherwise it runs
  * `local[SPARK_GRAFT_CPUS]` with that many shuffle partitions, and
  * SPARK_GRAFT_CPUS defaults to every core of the machine.
  *
  * Seen-table AND frontier-log compaction run every `compactEvery` epochs
  * (default 4, 0 = off) — a long crawl
  * otherwise accumulates one seen partition directory + one frontier delta
  * dir per epoch, and the anti-join / merge-on-read scans pay per-file
  * open costs forever. `minorEvery` (default 0 = off) adds MINOR frontier
  * folds between the majors — delta-log resolve + head refresh, O(delta
  * window), base untouched — the regime for stretching `compactEvery`
  * 10-100× at the north-rule geometry (e.g. compactEvery=32 minorEvery=4
  * vs the old compactEvery=4: same counters, 1/8th the base-rewrite bytes).
  */
object Crawl {

  def main(args: Array[String]): Unit = {
    val storeDir = args.lift(0).getOrElse("target/crawl-store")
    val nSeeds = args.lift(1).map(_.toInt).getOrElse(200)
    val nHosts = args.lift(2).map(_.toInt).getOrElse(50)
    val epochs = args.lift(3).map(_.toInt).getOrElse(3)
    val budgetMs = args.lift(4).map(_.toLong).getOrElse(60000L)
    val compactEvery = args.lift(5).map(_.toInt).getOrElse(4)
    val minorEvery = args.lift(6).map(_.toInt).getOrElse(0)
    val seed = 42L
    val spark = SparkEntry.session("crawl")
    val cpus = spark.sparkContext.defaultParallelism

    val store = new SnapshotStore(storeDir, spark)
    // SPARK_GRAFT_SINK_DIR: emit per-epoch fresh records + job-control
    // messages through the batched K1/K2 sink (file-backed bridge topics)
    val driver = new EpochDriver(spark, store, seed, nHosts,
      epochBudgetMs = budgetMs, compactSeenEvery = compactEvery,
      compactFrontierEvery = compactEvery,
      compactDeltaEvery = minorEvery,
      // SPARK_GRAFT_NEARDUP=1: near-dup each epoch's fetched docs against
      // the persisted corpus signatures (corpus_sim) and append the batch's
      // signatures — the steady-state training-data ingest shape. Resume-
      // guarded (cfg_neardup): a store carries the flag it was created with
      nearDupDocs = sys.env.get("SPARK_GRAFT_NEARDUP").contains("1"),
      // SPARK_GRAFT_MEDIA=1: extract real media features (JDK pixel decode
      // + luma embedding) from each epoch's fetched docs' media spans into
      // the media_features table — the media half of the interleaved
      // corpus ingest. Resume-guarded (cfg_media)
      mediaDocs = sys.env.get("SPARK_GRAFT_MEDIA").contains("1"),
      sinkDir = sys.env.get("SPARK_GRAFT_SINK_DIR"),
      // SPARK_GRAFT_KAFKA_BRIDGE: Kafka REST bridge base URL — every sink
      // batch body is also POSTed to <url>/topics/<topic> (the reference's
      // transport, kafka_producer.py). Needs SPARK_GRAFT_SINK_DIR
      sinkBridge = sys.env.get("SPARK_GRAFT_KAFKA_BRIDGE"))
    if (store.latest().isEmpty)
      driver.init(SimWeb.seedUrls(nSeeds, nHosts, seed))

    val t0 = System.nanoTime()
    val metrics = driver.run(epochs)
    val dt = (System.nanoTime() - t0) / 1e9
    val fetched = metrics.map(_("fetched")).sum
    val discovered = metrics.map(_("discovered")).sum
    val emitted = metrics.map(_("emitted")).sum
    // numerator = fetched + post-dedup fresh URLs ("deduped" in the metric
    // name means "survived dedup") — the SAME definition BenchCrawl/Bench
    // use (nFrontier + fresh), so the two entry points are comparable
    val urlsPerSec = (fetched + emitted) / dt
    val epochJson = metrics.map(m =>
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")).mkString("[", ",", "]")
    println(
      s"""{"metric":"urls_fetched_plus_deduped_per_sec","value":$urlsPerSec,"unit":"urls/sec","wall_sec":$dt,"fetched":$fetched,"discovered":$discovered,"emitted":$emitted,"epochs":$epochJson,"cpus":$cpus}""")
    spark.stop()
  }
}
