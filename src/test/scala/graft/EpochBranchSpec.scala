package graft

import org.apache.spark.BroadcastProbe
import org.apache.spark.sql.{DataFrame, Row}
import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.gen.SimWeb
import graft.operators.SegmentedBloom

/** An epoch's layers run as concurrent branches joined before its one
  * commit. A failed branch fails the whole epoch and leaves nothing behind,
  * every job of an epoch carries the caller's local properties, and the
  * commit never depends on the order in which branches end.
  */
class EpochBranchSpec extends SparkSpecBase {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-branch").toString

  private val seeds = SimWeb.seedUrls(40, 10, 42L)

  /** The ingest shape: near-dup, media and the sink on; a minor fold at
    * epoch 2 and a major fold with a seen fold at epoch 3; one append root.
    */
  private def ingest(store: SnapshotStore, sink: String,
      bridge: Option[String] = None) =
    new EpochDriver(spark, store, 42L, 10, epochBudgetMs = 8000L,
      compactSeenEvery = 3, compactFrontierEvery = 3, compactDeltaEvery = 2,
      archiveMaxRoots = 1, nearDupDocs = true, mediaDocs = true,
      sinkDir = Some(sink), sinkBridge = bridge)

  /** A table's rows, comparable across runs: binary and array values as
    * vectors, sorted.
    */
  private def rows(df: DataFrame): Seq[String] = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toVector
      case a: Array[_] => a.toVector.map(norm)
      case s: scala.collection.Seq[_] => s.toVector.map(norm)
      case r: Row => r.toSeq.toVector.map(norm)
      case x => x
    }
    df.collect().map(r => norm(r).toString).sorted.toSeq
  }

  private def bloomBroadcasts(): Set[Long] =
    BroadcastProbe.live().collect { case (id, _: SegmentedBloom) => id }.toSet

  test("a failed branch fails the epoch: nothing committed, every job ended, caches and Bloom released, the re-run equals a twin") {
    val dir = tmpDir()
    val sink = tmpDir()
    val store = new SnapshotStore(dir, spark)
    ingest(store, sink).init(seeds)
    val before = store.latestVersion()
    val sc = spark.sparkContext
    val cached = sc.getPersistentRDDs.keySet.toSet
    val blooms = bloomBroadcasts()
    var returned = 0L
    // a bridge that answers every POST with 500 fails the sink branch
    val jobs = KafkaBridgeSpec.withBridge(status = 500) { (url, _) =>
      jobsDuring {
        val e = intercept[Exception] {
          ingest(new SnapshotStore(dir, spark), sink, Some(url)).runEpoch()
        }
        returned = System.currentTimeMillis()
        def causes(t: Throwable): Seq[Throwable] =
          if (t == null) Seq.empty else t +: causes(t.getCause)
        assert(causes(e).exists(c => Option(c.getMessage).exists(
          _.contains("bridge POST failed: HTTP 500"))), s"unexpected failure: $e")
      }
    }
    assert(store.latestVersion() == before, "a failed epoch committed a manifest")
    // branch layers ran beside the failing sink, and all of them ended
    // before runEpoch rethrew
    Seq("EpochDriver.nearDup", "EpochDriver.media", "RecordSink").foreach { l =>
      assert(jobs.exists(_.sites.exists(_.contains(l))), s"test premise: no $l job")
    }
    val open = jobs.filterNot(_.end.exists(_ <= returned)).map(_.id)
    assert(open.isEmpty, "jobs that ended after runEpoch returned")
    assert(sc.getPersistentRDDs.keys.forall(cached),
      "the failed epoch left cached DataFrames")
    // destroy() removes the blocks asynchronously
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((bloomBroadcasts() -- blooms).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((bloomBroadcasts() -- blooms).isEmpty, "the failed epoch left its Bloom broadcast")

    // a fresh driver without the failing bridge re-runs the epoch and the
    // next one exactly like an uninterrupted twin
    val resumed = ingest(new SnapshotStore(dir, spark), sink)
    val twinStore = new SnapshotStore(tmpDir(), spark)
    val twin = ingest(twinStore, tmpDir())
    twin.init(seeds)
    (1 to 2).foreach { e =>
      assert(resumed.runEpoch() == twin.runEpoch(), s"epoch $e counters differ from the twin")
    }
    assert(rows(resumed.seenSet()) == rows(twin.seenSet()))
    assert(rows(resumed.frontier()) == rows(twin.frontier()))
    Seq("corpus_sim", "media_features").foreach { t =>
      assert(rows(store.readTable(store.latest().get, t).get) ==
        rows(twinStore.readTable(twinStore.latest().get, t).get), s"$t differs from the twin")
    }
  }

  test("every job of an epoch, branch jobs included, carries the caller's local properties as the epoch began") {
    val store = new SnapshotStore(tmpDir(), spark)
    val d = ingest(store, tmpDir())
    d.init(seeds)
    val sc = spark.sparkContext
    val key = "graft.spec.epoch"
    var boundary = 0L
    val jobs = jobsDuring {
      try {
        sc.setLocalProperty(key, "a")
        d.runEpoch()
        boundary = System.currentTimeMillis()
        sc.setLocalProperty(key, "b")
        d.runEpoch()
      } finally sc.setLocalProperty(key, null)
    }
    def tag(j: SparkSpecBase.Job) = Option(j.props.getProperty(key))
    val untagged = jobs.filterNot(j => tag(j).contains("a") || tag(j).contains("b")).map(_.id)
    assert(untagged.isEmpty, "jobs that carry neither epoch's tag")
    val (a, b) = jobs.partition(j => tag(j).contains("a"))
    assert(a.filterNot(_.end.exists(_ <= boundary)).map(_.id).isEmpty,
      "epoch-1 jobs that outlived epoch 1")
    assert(b.filterNot(_.start >= boundary).map(_.id).isEmpty,
      "epoch-2 jobs that started during epoch 1")
    // the branch layers' jobs are among them, in both epochs
    Seq(a, b).foreach { js =>
      Seq("EpochDriver.bloomFilter", "EpochDriver.outcomes", "EpochDriver.nearDup",
          "EpochDriver.media", "EpochDriver.bloomUpdate", "EpochDriver.frontierUpdate",
          "RecordSink").foreach { l =>
        assert(js.exists(_.sites.exists(_.contains(l))), s"no tagged $l job")
      }
    }
  }

  test("two runs of the same crawl commit equal manifests and equal tables") {
    def crawl(): (String, SnapshotStore) = {
      val dir = tmpDir()
      val store = new SnapshotStore(dir, spark)
      val d = ingest(store, tmpDir())
      d.init(seeds)
      assert(d.run(3).size == 3)
      (dir, store)
    }
    val (dirA, a) = crawl()
    val (dirB, b) = crawl()
    assert(a.latestVersion() == b.latestVersion())
    def described(dir: String, s: SnapshotStore, v: Long) = {
      val m = s.readManifest(v)
      (m.parent, m.epoch, m.seenBuckets, m.counters, m.schemas,
        m.tables.map { case (t, ds) => t -> ds.map { p =>
          assert(p.startsWith(dir), s"$p is outside the store"); p.stripPrefix(dir)
        } })
    }
    (0L to a.latestVersion().get).foreach { v =>
      assert(described(dirA, a, v) == described(dirB, b, v), s"manifest v$v differs")
    }
    val (mA, mB) = (a.latest().get, b.latest().get)
    assert(Set("corpus_sim", "neardup_pairs", "media_features", "frontier_archive",
      "frontier_head").subsetOf(mA.tables.keySet), "test premise: ingest tables missing")
    mA.tables.keys.foreach { t =>
      assert(rows(a.readTable(mA, t).get) == rows(b.readTable(mB, t).get), s"table $t differs")
    }
  }
}
