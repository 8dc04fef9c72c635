package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchCrawl
import graft.gen.SimWeb
import graft.operators.{Bloom, Extract, Seen}

/** One timed kernel pass. */
final case class Pass(setupS: Double, wallS: Double, nFrontier: Long,
    fresh: Long)

/** The `kernel` workload: `BenchCrawl.pipelineThroughput` — fetch → extract
  * → canon → Bloom + anti-join over a cached frontier, no scheduler, store,
  * fold or sink. Each trial starts a session and makes one timed pass; the
  * pass's own input caching is its set-up. The dedup result is checked
  * against an exact anti-join recount without Bloom.
  *
  * The traced run replays the kernel's layers under spans on the same
  * inputs and measures scaling efficiency: wall at local[1] ÷ (cores × wall
  * at local[cores]) on the same input.
  */
final class KernelBench(o: Main.Opts, k: KernelGeom) {
  import Main.{secondsSince, median}

  /** The traced run's tracer, for the trace file. */
  var tracer: Option[Tracer] = None

  def run(): Map[String, Any] = {
    val warm = Main.session(o.cores, o.out)
    try BenchCrawl.pipelineThroughput(warm, k.urls / 4, k.hosts, o.seed)
    finally warm.stop()

    val t0 = System.nanoTime()
    val passes = ArrayBuffer.empty[Pass]
    val problems = ArrayBuffer.empty[String]
    var threw = 0
    var exact: Option[(Long, Long)] = None
    while ((passes.isEmpty && threw == 0) || secondsSince(t0) < o.seconds) {
      val ts = System.nanoTime()
      val spark = Main.session(o.cores, o.out)
      try {
        val session = secondsSince(ts)
        val tc = System.nanoTime()
        val (nf, fresh, dt) =
          BenchCrawl.pipelineThroughput(spark, k.urls, k.hosts, o.seed)
        passes += Pass(session + secondsSince(tc) - dt, dt, nf, fresh)
        if (exact.isEmpty) exact = Some(recount(spark))
      } catch {
        case NonFatal(ex) =>
          threw += 1
          problems += s"pass ${passes.size + threw}: ${ex.getClass.getSimpleName}: ${ex.getMessage}"
          if (threw > 2) throw ex
      } finally spark.stop()
    }
    val golden =
      if (o.seed == 42L) new Golden(o.golden).value("kernel", "fresh") else None
    val badPasses = passes.filter { p =>
      !exact.contains((p.nFrontier, p.fresh)) || golden.exists(_ != p.fresh)
    }
    badPasses.foreach(p => problems +=
      s"kernel pass: n_frontier/fresh ${p.nFrontier}/${p.fresh}, exact ${exact.getOrElse("-")}, golden fresh ${golden.getOrElse("-")}")

    val layers =
      if (o.trace) traced(median(passes.map(_.wallS).toSeq)) else Map.empty
    // the traced replay's dedup must agree with the exact recount too
    tracer.flatMap(_.allSpans.find(_.name == "seen")).foreach { sp =>
      val f = sp.counts.getOrElse("fresh", -1.0).toLong
      if (!exact.exists(_._2 == f))
        problems += s"kernel replay: fresh $f, exact ${exact.getOrElse("-")}"
    }
    Map(
      "workload" -> o.workload,
      "attempted" -> (passes.size + threw),
      "failed" -> (badPasses.size + threw),
      "problems" -> problems.toSeq,
      "trials" -> passes.map(p => Map("setup_s" -> p.setupS,
        "epoch_s" -> Seq(p.wallS),
        "counters" -> Seq(Map("n_frontier" -> p.nFrontier, "fresh" -> p.fresh)))),
      "metrics" -> Map(
        "urls_per_s" -> median(passes.map(p => (p.nFrontier + p.fresh) / p.wallS).toSeq),
        "epoch_s_p50" -> median(passes.map(_.wallS).toSeq),
        "epoch_s_max" -> passes.map(_.wallS).max,
        "setup_s" -> median(passes.map(_.setupS).toSeq),
        "peak_rss_mb" -> Main.peakRssMb()),
      "layers" -> layers)
  }

  /** The kernel's inputs, rebuilt from the same generator definition as
    * BenchCrawl: an n-URL frontier, and a seen set holding the frontier
    * plus the discoveries of its even half.
    */
  private def inputs(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (seed, hosts) = (o.seed, k.hosts)
    val frontier = spark.range(0, k.urls, 1, spark.sparkContext.defaultParallelism * 4)
      .mapPartitions(_.map { i =>
        val h = SimWeb.mix(seed, s"seed:$i")
        val host = SimWeb.hostName(SimWeb.zipfHost(h, hosts))
        (i.longValue, s"https://$host/vp/products/${h & Long.MaxValue}")
      }).toDF("i", "canon_url")
    val urls = frontier.select("canon_url").distinct()
    val prev = Extract.canonUrlSet(docs(frontier.filter(col("i") % 2 === 0)))
    (urls, urls.unionAll(prev).distinct())
  }

  private def docs(urls: DataFrame): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val (seed, hosts) = (o.seed, k.hosts)
    urls.select("canon_url").as[String]
      .mapPartitions(_.map(u => SimWeb.docFor(u, seed, hosts))).toDF()
  }

  /** (n_frontier, fresh) by an exact anti-join, no Bloom filter. */
  private def recount(spark: SparkSession): (Long, Long) = {
    val (urls, seen) = inputs(spark)
    val cand = Extract.canonUrlSet(docs(urls))
    (urls.count(), cand.join(seen, Seq("canon_url"), "left_anti").count())
  }

  /** Traced replay of the kernel's layers, then the local[1] leg. */
  private def traced(wallN: Double): Map[String, Double] = {
    val spark = Main.session(o.cores, o.out)
    val t = new Tracer(o.workload, "traced")
    t.attach(spark)
    try {
      val (urls, seen) = inputs(spark)
      val u = urls.cache()
      val s = seen.cache()
      u.count(); s.count()
      val d = t.span("fetch", 1) {
        val d = docs(u).cache()
        t.count("docs", d.count().toDouble)
        t.count("errors", 0.0)
        d
      }
      val cand = t.span("extract", 1) {
        val c = Extract.canonUrlSet(d).cache()
        t.count("cands", c.count().toDouble)
        c
      }
      t.span("seen", 1) {
        val segs = Bloom.mergedSegments(Bloom.buildSegments(s, "canon_url",
          BenchCrawl.SEGMENTS, BenchCrawl.BITS), BenchCrawl.SEGMENTS,
          BenchCrawl.BITS)
        val bc = Seen.broadcastSegments(spark, segs)
        t.count("fresh", Seen.filterUnseen(cand, "canon_url", s, Some(bc))
          .count().toDouble)
        t.count("probe_rows", cand.count().toDouble)
        t.count("bloom_bytes", segs.map(_.bits.length * 8L).sum.toDouble)
        bc.destroy()
      }
      t.drain()
    } finally spark.stop()
    val one = Main.session(1, o.out)
    val wall1 = try {
      BenchCrawl.pipelineThroughput(one, k.urls / 8, k.hosts, o.seed)
      BenchCrawl.pipelineThroughput(one, k.urls, k.hosts, o.seed)._3
    } finally one.stop()
    tracer = Some(t)
    Layers.replayLayers(t.allSpans, t.allStages) ++ Map(
      "kernel.scaling_eff" -> wall1 / (o.cores * wallN),
      "jvm.peak_rss_mb" -> Main.peakRssMb(),
      "engine.unattributed_stages" -> t.allStages.count(s =>
        s.how.isEmpty && s.span != StageLedger.DrainSpan).toDouble)
  }
}
