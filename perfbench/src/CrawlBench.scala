package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.gen.SimWeb

/** One crawl trial's measurements. `attempted` counts epochs started;
  * `failed` those that threw, plus every epoch of a trial whose outputs
  * failed a check.
  */
final case class Trial(setupS: Double, epochWalls: Seq[Double],
    counters: Seq[Map[String, Long]], storeMb: Double, attempted: Int,
    failed: Int, problems: Seq[String], checkS: Double)

/** The epoch-loop workloads (`loop`, `ingest`). One session per run. The
  * workload's set-up — a fresh store + driver + `init(seeds)` — runs
  * `setups` (three) times, so set-up time is a median of three (the first,
  * in a cold JVM, is normally the slowest). The first goes on into the
  * geometry's untimed warm-up epochs, if any, and the second stops after
  * set-up; the third goes on into the geometry's epochs through
  * `EpochDriver.runEpoch` +
  * `SnapshotStore.expireUnreferenced` (what `EpochDriver.run` does), timed
  * per epoch. More trials follow while they fit in `--seconds`. Outputs are
  * checked after each trial, outside the timed window.
  *
  * A trace run makes one traced trial instead: before each epoch the
  * layers are replayed under spans (see [[Replay]]), which also warms the
  * epoch's code, and the stage listener charges every stage to its call
  * site.
  */
final class CrawlBench(o: Main.Opts, g: CrawlGeom) {
  import Main.{secondsSince, median}

  private val golden: Option[Seq[Map[String, Long]]] =
    if (o.seed == 42L) new Golden(o.golden).crawl(o.workload) else None

  def run(): Map[String, Any] = {
    val ts = System.nanoTime()
    val spark = Main.session(o.cores, o.out)
    val sessionS = secondsSince(ts)
    try {
      // the first set-up (cold JVM) goes on into the warm-up epochs; a
      // trace run needs none, as its replay runs each epoch's plans first
      val extras =
        if (o.trace) Seq.empty
        else (1 until g.setups).map(i => trial(spark, g, s"s$i", None,
          epochs = if (i == 1) g.warmup else 0, timed = false))
      val extraSetups = extras.map(_.setupS)
      val t0 = System.nanoTime()
      val trials = ArrayBuffer.empty[Trial]
      def fits = trials.isEmpty ||
        secondsSince(t0) * (trials.size + 1) / trials.size <= o.seconds
      val tracer = if (o.trace) Some(new Tracer(o.workload, "t0")) else None
      if (o.trace) trials += trial(spark, g, "t0", tracer)
      else while (fits) trials += trial(spark, g, s"t${trials.size}", None)

      // same seed and geometry, so the warm-up epochs must count what the
      // timed trial's first epochs count
      val warmupDiff = for {
        w <- extras.take(1)
        t <- trials.take(1)
        (a, b) <- w.counters.zip(t.counters) if a != b
      } yield s"warm-up epoch ${a("epoch")}: counters $a, timed trial $b"
      val walls = trials.flatMap(_.epochWalls).toSeq
      val done = trials.filter(_.epochWalls.nonEmpty).toSeq
      Map(
        "workload" -> o.workload,
        "attempted" -> (trials ++ extras).map(_.attempted).sum,
        "failed" -> (trials ++ extras).map(_.failed).sum,
        "problems" -> ((trials ++ extras).flatMap(_.problems) ++ warmupDiff),
        "session_s" -> sessionS,
        "extra_setup_s" -> extraSetups,
        "warmup_epoch_s" -> extras.flatMap(_.epochWalls),
        "trials" -> trials.map(t => Map("setup_s" -> t.setupS,
          "epoch_s" -> t.epochWalls, "counters" -> t.counters,
          "store_mb" -> t.storeMb, "check_s" -> t.checkS)),
        "metrics" -> Map(
          "urls_per_s" -> median(done.map(t =>
            t.counters.map(c => c("fetched") + c("emitted")).sum / t.epochWalls.sum)),
          "epoch_s_p50" -> median(walls),
          "epoch_s_max" -> median(done.map(_.epochWalls.max)),
          "setup_s" -> median(trials.map(_.setupS).toSeq ++ extraSetups),
          "peak_rss_mb" -> Main.peakRssMb(),
          "store_mb" -> median(trials.map(_.storeMb).toSeq)),
        "layers" -> tracer.map(Layers.crawl).getOrElse(Map.empty),
        "tracer" -> tracer)
    } finally spark.stop()
  }

  private def trial(spark: SparkSession, geom: CrawlGeom, id: String,
      tracer: Option[Tracer], epochs: Int = -1, timed: Boolean = true): Trial = {
    val nEpochs = if (epochs < 0) geom.epochs else epochs
    val dir = s"${o.out}/$id"
    val walls = ArrayBuffer.empty[Double]
    val counters = ArrayBuffer.empty[Map[String, Long]]
    val problems = ArrayBuffer.empty[String]
    var failed = 0
    var setupS = 0.0
    var storeMb = 0.0
    var checkS = 0.0
    tracer.foreach(_.attach(spark))
    try {
      val t0 = System.nanoTime()
      val store = new SnapshotStore(s"$dir/store", spark)
      val sinkDir = if (geom.sink) Some(s"$dir/sink") else None
      val driver = new EpochDriver(spark, store, o.seed, geom.hosts,
        epochBudgetMs = geom.budgetMs, compactSeenEvery = geom.major,
        compactFrontierEvery = geom.major, compactDeltaEvery = geom.minor,
        archiveMaxRoots = geom.maxRoots, nearDupDocs = geom.nearDup,
        mediaDocs = geom.media, sinkDir = sinkDir)
      driver.init(SimWeb.seedUrls(geom.seeds, geom.hosts, o.seed))
      setupS = secondsSince(t0)
      val replay = tracer.map(t => new Replay(spark, store, geom.nearDup,
        s"$dir/replay", t))
      var files = dataFiles(new File(s"$dir/store/data"))
      var e = 1
      var more = true
      while (e <= nEpochs && more) {
        replay.foreach(_.before(e))
        val te = System.nanoTime()
        val m = traced(tracer, "engine", e)(driver.runEpoch())
        traced(tracer, "ckpt.expire", e)(store.expireUnreferenced())
        walls += secondsSince(te)
        counters += m
        tracer.foreach { t =>
          val now = dataFiles(new File(s"$dir/store/data"))
          t.epochFilesAdded(e, (now -- files).size)
          files = now
        }
        replay.foreach { r =>
          val bad = r.after(e, m)
          if (bad.nonEmpty) { problems ++= bad; failed += 1 }
        }
        more = m("fetched") + m("errors") > 0
        e += 1
      }
      storeMb = Main.dirBytes(new File(s"$dir/store")) / 1e6
      tracer.foreach(_.drain())
      if (timed) {
        val tc = System.nanoTime()
        val bad = Checks.crawl(spark, store, driver, counters.toSeq, sinkDir,
          golden)
        // a failed check fails every epoch of the trial
        if (bad.nonEmpty) { problems ++= bad; failed = walls.size }
        checkS = secondsSince(tc)
      }
    } catch {
      case NonFatal(ex) =>
        problems += s"${ex.getClass.getSimpleName}: ${ex.getMessage}"
        failed = walls.size + 1
    } finally {
      tracer.foreach(_.detach())
      spark.catalog.clearCache()
      Main.deleteTree(new File(dir))
    }
    // an untimed trial (extra set-up, warm-up) counts only if it throws
    Trial(setupS, walls.toSeq, counters.toSeq, storeMb,
      if (timed) math.max(walls.size, failed) else failed, failed,
      problems.toSeq.map(p => s"$id: $p"), checkS)
  }

  private def traced[T](t: Option[Tracer], name: String, epoch: Int)(
      body: => T): T = t match {
    case Some(tr) => tr.span(name, epoch)(body)
    case None => body
  }

  /** Data files under the store's data dir (no markers or checksums). */
  private def dataFiles(f: File): Set[String] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles).toSet
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Set.empty
    else Set(f.getPath)
}
