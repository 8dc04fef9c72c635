package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.SimWeb
import graft.operators.{Bloom, Extract, Seen}

/** Scaling-evidence workload (BASELINE.md protocol): the epoch's data path —
  * fetch-sim → span explode → URL extraction → canonicalization → distinct →
  * Bloom-prefiltered exact anti-join against the seen set — over an
  * N-URL frontier slice, WITHOUT the snapshot-commit machinery. The epoch
  * loop at local scale is stage-latency-bound (~30 short stages per epoch:
  * scheduling + commit dominate, compute doesn't), which measures the
  * sandbox, not the engine; this path is the part whose cost grows with the
  * frontier and is what a 1000-executor run spends its time in. Run it at
  * SPARK_GRAFT_CPUS=8 and 32 (default: every core) on the same N to
  * evidence N→4N scaling.
  *
  * Honesty of the dedup stage: the seen set is the frontier PLUS the
  * distinct discoveries of the frontier's even half — i.e. the state after
  * a previous epoch that had already crawled half these pages — so the
  * anti-join genuinely removes a large candidate volume instead of matching
  * nothing. Frontier and seen set are the job's INPUT tables (cached
  * outside the timed window, like the engine's snapshot reads); Bloom
  * segment building stays inside the timed window (the engine builds
  * segments per epoch).
  *
  * Usage: runMain graft.BenchCrawl <nUrls> [nHosts]
  */
object BenchCrawl {

  val SEGMENTS = 32
  val BITS = 1 << 22

  private def frontierDf(spark: SparkSession, n: Long, nHosts: Int,
      seed: Long): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism * 4
    import spark.implicits._
    spark.range(0, n, 1, parts)
      .mapPartitions(_.map { i =>
        val h = SimWeb.mix(seed, s"seed:$i")
        val host = SimWeb.hostName(SimWeb.zipfHost(h, nHosts))
        (i, s"https://$host/vp/products/${h & Long.MaxValue}")
      })
      .toDF("i", "canon_url")
  }

  private def docsOf(urls: DataFrame, seed: Long, nHosts: Int): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    urls.select("canon_url").as[String]
      .mapPartitions(_.map(u => SimWeb.docFor(u, seed, nHosts)))
      .toDF()
  }

  /** One timed pipeline pass; returns (nFrontier, fresh, wallSeconds). */
  def pipelineThroughput(spark: SparkSession, n: Long, nHosts: Int,
      seed: Long = 42L): (Long, Long, Double) = {
    val frontier = frontierDf(spark, n, nHosts, seed)
    val frontierUrls = frontier.select("canon_url").distinct().cache()
    // previous-epoch state: the even half's discoveries are already seen
    val prevCand = Extract.canonUrlSet(
      docsOf(frontier.filter(col("i") % 2 === 0), seed, nHosts))
    val seen = frontierUrls.unionAll(prevCand).distinct().cache()
    val nFrontier = frontierUrls.count()
    seen.count()

    val t0 = System.nanoTime()
    val docs = docsOf(frontierUrls, seed, nHosts)
    val cand = Extract.canonUrlSet(docs)
    val segs = Bloom.mergedSegments(
      Bloom.buildSegments(seen, "canon_url", SEGMENTS, BITS), SEGMENTS, BITS)
    val bc = Seen.broadcastSegments(spark, segs)
    val fresh = Seen.filterUnseen(cand, "canon_url", seen, Some(bc))
    val f = fresh.count()
    val dt = (System.nanoTime() - t0) / 1e9
    frontierUrls.unpersist(); seen.unpersist(); bc.destroy()
    (nFrontier, f, dt)
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(2000000L)
    val nHosts = args.lift(1).map(_.toInt).getOrElse(5000)
    val spark = SparkEntry.session("bench-crawl")
    val cpus = spark.sparkContext.defaultParallelism

    pipelineThroughput(spark, n / 4, nHosts) // warm: codegen + JIT
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    var nFrontier = 0L
    var freshN = 0L
    val walls = (1 to trials).map { _ =>
      val (nf, f, w) = pipelineThroughput(spark, n, nHosts)
      nFrontier = nf; freshN = f
      w
    }
    // best-of-N: external box contention only ever inflates wall time
    val dt = walls.min
    val ups = (nFrontier + freshN) / dt
    val wallsJson = walls.map(w =>
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(w)))
      .mkString("[", ",", "]")
    println(
      s"""{"metric":"urls_fetched_plus_deduped_per_sec","value":$ups,"unit":"urls/sec","wall_sec":$dt,"walls":$wallsJson,"n_frontier":$nFrontier,"fresh":$freshN,"cpus":$cpus}""")
    spark.stop()
  }
}
