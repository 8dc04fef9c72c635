package graft

import org.apache.spark.sql.functions._
import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.gen.SimWeb
import graft.oracle.SeqOracle

/** End-to-end engine semantics (SURVEY.md §5.2-3/5): the distributed epoch
  * driver must reproduce the sequential oracle's per-host fetch sequences,
  * final seen-set, frontier states, and per-epoch counters under the same
  * seed list and politeness budget (the north rule's ordering criterion,
  * note N7); and a run interrupted between epochs must resume from the
  * snapshot to a byte-identical end state.
  */
class EngineSpec extends SparkSpecBase {

  private val seed = 42L
  private val nHosts = 10
  private val budget = 8000L
  private val epochs = 3

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-engine").toString

  private def newDriver(dir: String, useBloom: Boolean = true) =
    new EpochDriver(spark, new SnapshotStore(dir, spark), seed, nHosts,
      epochBudgetMs = budget, useBloom = useBloom)

  private def seeds = SimWeb.seedUrls(40, nHosts, seed)

  private def runOracle(): SeqOracle = {
    val o = new SeqOracle(seed, nHosts, budget)
    o.init(seeds)
    (1 to epochs).foreach(o.runEpoch(_))
    o
  }

  test("engine reproduces the sequential oracle: seen set, sequences, states, metrics") {
    val dir = tmpDir()
    val d = newDriver(dir)
    d.init(seeds)
    val engineMetrics = (1 to epochs).map(_ => d.runEpoch())
    val o = runOracle()

    // final seen set
    val engineSeen = d.seenSet().collect().map(_.getString(0)).toSet
    assert(engineSeen == o.seen.toSet, {
      val miss = o.seen.toSet -- engineSeen
      val extra = engineSeen -- o.seen.toSet
      s"seen mismatch; missing=${miss.take(5)} extra=${extra.take(5)}"
    })

    // per-(epoch, host) fetch sequences in priority (rank) order
    val log = d.fetchLog().get.collect()
    val engineSeq = log.groupBy(r => (r.getLong(0), r.getString(3)))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getInt(4)).map(_.getString(2)).toVector
      }
    assert(engineSeq.keySet == o.fetchSeq.keySet.map(identity))
    engineSeq.foreach { case (k, seq) =>
      assert(seq == o.fetchSeq(k), s"fetch sequence mismatch at $k")
    }

    // frontier states
    val engineStates = d.frontier().collect()
      .map(r => r.getAs[String]("canon_url") ->
        ((r.getAs[String]("state"), r.getAs[Int]("retry_count")))).toMap
    val oracleStates = o.frontier.map { case (u, e) => u -> (e.state, e.retry) }.toMap
    assert(engineStates == oracleStates)

    // per-epoch counters
    engineMetrics.zip(o.metrics).foreach { case (e, om) =>
      assert(e == om, s"metrics mismatch: engine=$e oracle=$om")
    }
  }

  test("bloom prefilter does not change results (broadcast and off)") {
    val d1 = newDriver(tmpDir(), useBloom = true)
    val d2 = newDriver(tmpDir(), useBloom = false)
    d1.init(seeds); d2.init(seeds)
    // multi-epoch, per-epoch counters byte-identical across both
    // execution strategies
    (1 to 2).foreach { _ =>
      val m1 = d1.runEpoch(); val m2 = d2.runEpoch()
      assert(m1 == m2, s"bloom-off counters diverged: $m1 vs $m2")
    }
    val s1 = d1.seenSet().collect().map(_.getString(0)).toSet
    val s2 = d2.seenSet().collect().map(_.getString(0)).toSet
    assert(s1 == s2)
  }

  test("resume from snapshot equals an uninterrupted run") {
    val dirA = tmpDir()
    val a = newDriver(dirA)
    a.init(seeds)
    (1 to epochs).foreach(_ => a.runEpoch())

    val dirB = tmpDir()
    val b1 = newDriver(dirB)
    b1.init(seeds)
    (1 to 1).foreach(_ => b1.runEpoch())
    // "crash": drop the driver; a NEW driver resumes from the snapshot store
    val b2 = newDriver(dirB)
    (2 to epochs).foreach(_ => b2.runEpoch())

    def state(d: EpochDriver) = (
      d.seenSet().collect().map(_.getString(0)).toSet,
      d.frontier().collect().map(r =>
        (r.getAs[String]("canon_url"), r.getAs[String]("state"),
          r.getAs[Int]("retry_count"), r.getAs[Int]("depth"))).toSet,
      d.metrics().get.collect().map(_.toSeq).toSet)
    assert(state(a) == state(b2))
  }

  test("resume with different engine parameters is rejected") {
    val dir = tmpDir()
    val a = newDriver(dir)
    a.init(seeds)
    a.runEpoch()
    // same store, different politeness budget: silently continuing would
    // change crawl semantics mid-run — must fail loudly
    val b = new EpochDriver(spark, new SnapshotStore(dir, spark), seed, nHosts,
      epochBudgetMs = budget * 2)
    val e = intercept[IllegalArgumentException](b.runEpoch())
    assert(e.getMessage.contains("resume config mismatch"))
  }

  test("resume from a store with pre-versioned Bloom hashes is rejected") {
    val dir = tmpDir()
    val a = newDriver(dir)
    a.init(seeds)
    a.runEpoch()
    // simulate a store written before a guard key existed: the manifest's
    // counters lack the key. Every key guards semantics some older store
    // did not share (a v1-hashed seen_bloom probed with v2 hashes yields
    // silent false negatives; a store without cfg_neardup/cfg_media may
    // have been crawled under either setting), so a resume has to fail
    // loudly and name the key, not continue. Each key in turn, on a
    // manifest that is otherwise the store's own
    val store = new SnapshotStore(dir, spark)
    val m = store.latest().get
    val keys = m.counters.keys.filter(_.startsWith("cfg_")).toSeq.sorted
    assert(keys.contains("cfg_bloom_hash_version") &&
      keys.contains("cfg_neardup") && keys.contains("cfg_media"))
    keys.foreach { k =>
      store.commit(m.epoch, Map.empty, Map.empty, m.counters - k)
      val e = intercept[IllegalArgumentException](newDriver(dir).runEpoch())
      assert(e.getMessage.contains("resume config mismatch") &&
        e.getMessage.contains(k), s"missing $k: ${e.getMessage}")
    }
    // the intact manifest still resumes
    store.commit(m.epoch, Map.empty, Map.empty, m.counters)
    assert(newDriver(dir).runEpoch()("epoch") == m.epoch + 1)
  }

  test("a store of layout 2, 3, 4 or 5, or without seen_buckets or schemas, cannot resume") {
    val dir = tmpDir()
    val a = newDriver(dir)
    a.init(seeds)
    a.runEpoch()
    val store = new SnapshotStore(dir, spark)
    val m = store.latest().get
    // 2 kept the seen set in a catalog table, 3 in a fixed 32 buckets, 4
    // recorded no table schemas, 5 named dirs by absolute path
    Seq(2L, 3L, 4L, 5L).foreach { layout =>
      store.commit(m.epoch, Map.empty, Map.empty,
        m.counters + ("cfg_store_layout" -> layout))
      val e = intercept[IllegalArgumentException](newDriver(dir).runEpoch())
      assert(e.getMessage.contains("resume config mismatch") &&
        e.getMessage.contains("cfg_store_layout"), e.getMessage)
    }
    // an otherwise intact manifest with one key stripped (and its checksum
    // file dropped, so the read reaches the manifest's content); the intact
    // bytes go back after each check
    val v = store.commit(m.epoch, Map.empty, Map.empty, m.counters).version
    val manifestDir = java.nio.file.Paths.get(dir, "manifest")
    val json = manifestDir.resolve(s"v$v.json")
    java.nio.file.Files.deleteIfExists(manifestDir.resolve(s".v$v.json.crc"))
    val intact = java.nio.file.Files.readAllBytes(json)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    Seq("seen_buckets", "schemas").foreach { key =>
      val node = mapper.readTree(intact)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.remove(key)
      mapper.writeValue(json.toFile, node)
      val e = intercept[IllegalArgumentException](newDriver(dir).runEpoch())
      assert(e.getMessage.contains(key), e.getMessage)
      java.nio.file.Files.write(json, intact)
    }
    assert(newDriver(dir).runEpoch()("epoch") == m.epoch + 1)
  }

  test("seen compaction: fewer partitions, identical set, and it SURVIVES a restart") {
    val dirC = tmpDir()
    val c = new EpochDriver(spark, new SnapshotStore(dirC, spark), seed, nHosts,
      epochBudgetMs = budget, compactSeenEvery = 2)
    c.init(seeds)
    (1 to epochs).foreach(_ => c.runEpoch()) // compaction fires after epoch 2

    // identical seen set vs the uncompacted reference run
    val dirU = tmpDir()
    val u = newDriver(dirU)
    u.init(seeds)
    (1 to epochs).foreach(_ => u.runEpoch())
    val setC = c.seenSet().collect().map(_.getString(0)).toSet
    val setU = u.seenSet().collect().map(_.getString(0)).toSet
    assert(setC == setU)

    // generational fold at epoch 2: {1,2} → generation 1 (the seed
    // slice is an older generation and is never touched); epoch 3
    // appended its own slice → {0, 1, 3}
    val storeC = new SnapshotStore(dirC, spark)
    assert(storeC.latest().get.tables("seen").size <= 3,
      "compaction left folded slices behind")

    // restart: a fresh store + driver reads the seen set from the manifest
    // alone — the folded slices are unreferenced, so never read back
    val c2 = new EpochDriver(spark, new SnapshotStore(dirC, spark), seed, nHosts,
      epochBudgetMs = budget, compactSeenEvery = 2)
    val seenRows = c2.seenSet().count()
    val seenDistinct = c2.seenSet().distinct().count()
    assert(seenRows == seenDistinct,
      s"restart resurrected folded slices: $seenRows rows vs $seenDistinct distinct")
    val m4 = c2.runEpoch() // epoch 4 — also fires compaction again
    assert(m4("epoch") == 4L)
  }

  /** Data files (name -> bytes) of a manifest data dir. */
  private def dataFiles(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            !f.getFileName.toString.startsWith("_") &&
            !f.getFileName.toString.startsWith("."))
          .map(f => f.getFileName.toString -> java.nio.file.Files.size(f))
          .toMap
      } finally s.close()
    }
  }

  /** The `v<N>` dirs on disk under data/<table>, as "table/vN". */
  private def versionDirs(dir: String, tables: String*): Set[String] =
    tables.flatMap { t =>
      val p = java.nio.file.Paths.get(dir, "data", t)
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val s = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(f => s"$t/${f.getFileName}").toList
        } finally s.close()
      }
    }.toSet

  test("generational seen compaction: older generations never rewritten, set identical, full fold sweeps") {
    val dir = tmpDir()
    val store = new SnapshotStore(dir, spark)
    val d = new EpochDriver(spark, store, seed, nHosts, epochBudgetMs = budget,
      compactSeenEvery = 2)
    d.init(seeds)
    def gens() = store.latest().get.tables("seen")
    // each generation's files as first committed
    val first = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    val ms = (1 to 6).map { _ =>
      val m = d.runEpoch()
      store.expireUnreferenced()
      gens().foreach(g => first.getOrElseUpdate(g, dataFiles(g)))
      m
    }
    // the seed slice plus one fold per cadence window: {0}, {1,2}, {3,4}, {5,6}
    assert(gens().size == 4, s"generational folds left ${gens()}")
    // THE scale pin: a generational fold touches ONLY its own window —
    // every older generation's files are byte-identical afterwards
    gens().foreach(g => assert(dataFiles(g) == first(g), s"fold rewrote $g"))
    val all = d.seenSet().collect().map(_.getString(0)).toSet
    val rows = store.readManifest(0L).counters("seeds") + ms.map(_("emitted")).sum
    assert(all.size.toLong == rows, "generational folds changed the seen SET")
    assert(d.seenSet().count() == rows, "duplicate rows after folds")

    // tier-2: the full fold sweeps every generation into one dir
    val m = store.latest().get
    val full = store.compactSeen(m.tables("seen"))
    store.commit(m.epoch, Map("seen" -> Seq(full)), Map.empty, m.counters)
    store.expireUnreferenced()
    assert(gens() == Seq(full.dir), "full fold left generations")
    assert(versionDirs(dir, "seen", "seen_fold").size == 1,
      "expire left folded generations on disk")
    assert(d.seenSet().collect().map(_.getString(0)).toSet == all,
      "full fold changed the seen SET")
    assert(d.seenSet().count() == rows)
  }

  /** A crashed epoch `crashAt` left `stage`'s uncommitted seen dirs at
    * nextVersion (fed the URLs that epoch discovers); a fresh store and
    * driver (seen compaction every `resumeEvery`) resume. Everything must
    * equal an uninterrupted twin (compaction every 2), and expiry must
    * leave no seen dir the manifest does not reference.
    */
  private def seenCrashResume(crashAt: Int, resumeEvery: Int)(
      stage: (SnapshotStore, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    def driver(dir: String, every: Int) = new EpochDriver(spark,
      new SnapshotStore(dir, spark), seed, nHosts, epochBudgetMs = budget,
      compactSeenEvery = every)
    val twin = driver(tmpDir(), 2)
    twin.init(seeds)
    val twinMs = (1 to 4).map(_ => twin.runEpoch())
    val dir = tmpDir()
    val a = driver(dir, 2)
    a.init(seeds)
    (1 until crashAt).foreach(_ => a.runEpoch())
    val store = new SnapshotStore(dir, spark)
    val crashed = twin.frontier()
      .filter(col("discovered_epoch") === crashAt).select("canon_url")
    assert(crashed.count() > 0L, "test premise: the crashed epoch discovers URLs")
    stage(store, crashed)
    val b = driver(dir, resumeEvery)
    val ms = (crashAt to 4).map(_ => b.runEpoch())
    assert(ms == twinMs.drop(crashAt - 1), "resumed counters differ from the twin")
    def set(d: EpochDriver) = d.seenSet().collect().map(_.getString(0)).toSet
    assert(set(b) == set(twin))
    assert(b.seenSet().count() == set(b).size.toLong, "duplicate seen rows")
    def view(d: EpochDriver) = d.frontier().collect().map(_.toSeq).toSet
    assert(view(b) == view(twin))
    store.expireUnreferenced()
    val referenced = store.latest().get.tables("seen").map { p =>
      val h = new org.apache.hadoop.fs.Path(p); s"${h.getParent.getName}/${h.getName}"
    }.toSet
    assert(versionDirs(dir, "seen", "seen_fold") == referenced,
      "an uncommitted seen dir survived expiry")
  }

  test("crash window: an uncommitted seen slice is never read; resume equals an uninterrupted twin") {
    seenCrashResume(crashAt = 3, resumeEvery = 2)((store, fresh) =>
      store.appendSeen(fresh))
  }

  test("crash window: an uncommitted seen fold is never read; expiry reclaims it") {
    // the crashed attempt was a fold epoch; the resume runs with seen
    // compaction off (not resume-guarded), so nothing re-stages the fold dir
    seenCrashResume(crashAt = 4, resumeEvery = 0) { (store, fresh) =>
      val slice = store.appendSeen(fresh)
      store.compactSeen(store.latest().get.tables("seen") :+ slice.dir)
    }
  }

  test("K1 sink: a losing concurrent attempt's batch files are never read back") {
    // two attempts of partition 0 packed the same rows into batches in
    // DIFFERENT orders (speculative execution / zombie task); the manifest
    // committed attempt 7 — readTopic must return exactly attempt 7's
    // records, and a legacy unmanifested tag must still read as-is
    val topic = java.nio.file.Paths.get(tmpDir(), "t")
    java.nio.file.Files.createDirectories(topic)
    def put(name: String, keys: String*): Unit =
      java.nio.file.Files.writeString(topic.resolve(name),
        keys.map(k => s"""{"key":"$k","value":{"u":"$k"}}""")
          .mkString("{\"records\":[", ",", "]}"))
    put("batch-e1-p0-a7-0.json", "r1", "r2")
    put("batch-e1-p0-a7-1.json", "r3")
    put("batch-e1-p0-a9-0.json", "r3", "r1") // zombie attempt, other packing
    put("batch-e1-p0-a9-1.json", "r2")
    java.nio.file.Files.writeString(topic.resolve("manifest-e1.json"),
      """{"files":["batch-e1-p0-a7-0.json","batch-e1-p0-a7-1.json"]}""")
    put("batch-old-p0-0.json", "legacy") // pre-manifest generation, no manifest
    // crash debris: a CURRENT-generation emission (attempt-tagged names)
    // that died between task writes and the driver's manifest commit —
    // possibly two attempts of one partition with different batch packing.
    // It must NOT be read back as "legacy": that would reopen the
    // partial/duplicate window the manifest exists to close.
    put("batch-crashed-p0-a3-0.json", "x1", "x2")
    put("batch-crashed-p0-a5-0.json", "x2", "x1") // second attempt, same rows
    val got = graft.sinks.RecordSink.readTopic(spark, topic.toString)
      .select("key").collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("legacy", "r1", "r2", "r3"),
      s"readTopic returned ${got.mkString(",")}")
  }

  test("K1 sink: emitted batches equal each epoch's fresh rows; K2 control message per epoch") {
    val dir = tmpDir()
    val sink = tmpDir()
    val d = new EpochDriver(spark, new SnapshotStore(dir, spark), seed, nHosts,
      epochBudgetMs = budget, sinkDir = Some(sink))
    d.init(seeds)
    val ms = (1 to 2).map(_ => d.runEpoch())

    val rec = graft.sinks.RecordSink.readTopic(spark, s"$sink/frontier-records")
    assert(rec.count() == ms.map(_("emitted")).sum,
      "sink rows != sum of per-epoch emitted counters")
    // the record keys are exactly the post-init discoveries in the frontier
    val sunk = rec.select("key").collect().map(_.getString(0)).toSet
    val discovered = d.frontier().filter(col("discovered_epoch") > 0)
      .select("canon_url").collect().map(_.getString(0)).toSet
    assert(sunk == discovered)

    // job-control: one completion message per epoch, reference shape
    val ctl = graft.sinks.RecordSink.readTopic(spark, s"$sink/job-control")
      .select(col("key"),
        get_json_object(col("value"), "$.status").as("status"),
        get_json_object(col("value"), "$.step").as("step"),
        get_json_object(col("value"), "$.expected_count").as("n"))
      .collect()
    assert(ctl.length == 2)
    ctl.foreach { r =>
      assert(r.getString(1) == "done" && r.getString(2) == "collection")
    }
    assert(ctl.map(r => r.getString(3).toLong).sum == ms.map(_("emitted")).sum)

    // orphan batch files (a retried stage that ran with a different
    // partition count leaves stale batch-*.json behind) are not manifest-
    // listed and must never be read back as duplicate records
    val before = rec.count()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$sink/frontier-records/batch-e1-p9999-0.json"),
      """{"records":[{"key":"orphan","value":{"canon_url":"https://x/"}}]}""")
    assert(graft.sinks.RecordSink.readTopic(spark, s"$sink/frontier-records")
      .count() == before, "orphan batch file was read back as records")
  }

  test("uncommitted garbage in the store is ignored on resume") {
    val dir = tmpDir()
    val a = newDriver(dir)
    a.init(seeds)
    a.runEpoch()
    // simulate a crash mid-commit: orphan data dir + dangling tmp manifest
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(root.resolve("data/frontier/v99"))
    java.nio.file.Files.writeString(root.resolve("manifest/v99.json.tmp"), "{broken")
    val b = newDriver(dir)
    val m2 = b.runEpoch() // resumes from v1, runs epoch 2
    assert(m2("epoch") == 2L)
  }

  test("a commit replaces a crashed attempt's v<N>.json.tmp, never a v<N>.json") {
    import spark.implicits._
    val dir = tmpDir()
    val store = new SnapshotStore(dir, spark)
    val m0 = store.commit(0, Map("t" -> Seq(store.stage("t", Seq(1L).toDF("x")))),
      Map.empty, Map("c" -> 0L))
    // a crashed attempt left garbage in v1's temp file and never renamed
    // it: the file is invisible, and the retry must commit over it
    val manifestDir = java.nio.file.Paths.get(dir, "manifest")
    java.nio.file.Files.writeString(manifestDir.resolve("v1.json.tmp"), "{garbage")
    assert(new SnapshotStore(dir, spark).latest().get.version == 0L,
      "test premise: the temp file is invisible")
    val m = store.commit(1, Map("t" -> Seq(store.stage("t", Seq(2L).toDF("x")))),
      Map.empty, Map("c" -> 1L))
    val reader = new SnapshotStore(dir, spark)
    val back = reader.latest().get
    assert((back.version, back.parent, back.epoch, back.tables, back.counters) ==
      ((m.version, m.parent, m.epoch, m.tables, m.counters)))
    assert(back.version == 1L && back.counters == Map("c" -> 1L))
    assert(reader.readTable(back, "t").get.as[Long].collect().toSeq == Seq(2L))
    // a second commit on top of v0 finds v1.json taken: it fails and leaves
    // the committed manifest byte-identical
    val v1 = manifestDir.resolve("v1.json")
    val committed = java.nio.file.Files.readAllBytes(v1)
    intercept[java.io.IOException](
      store.commit(1, Map.empty, Map.empty, Map("c" -> 9L), parent = Some(m0)))
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(v1), committed),
      "a refused commit changed v1.json")
    assert(new SnapshotStore(dir, spark).latest().get.counters == Map("c" -> 1L))
  }

  test("robots live in the store: a mid-crawl update takes effect next epoch and survives resume") {
    import graft.operators.Sched
    // raise every host's delay to 4000 ms from epoch 3 on: each host then
    // fits at most budget/min(4000, default)=3 fetches per epoch instead of
    // budget/delay — a visible scheduling change
    val updated = Sched.robotsFor((0 until nHosts).map(SimWeb.hostName), seed)
      .map { case (h, _, dis) => (h, 4000L, dis) }
    def driver(dir: String) = new EpochDriver(spark,
      new SnapshotStore(dir, spark), seed, nHosts,
      epochBudgetMs = budget, compactFrontierEvery = 2)
    // A: update staged, then KILLED and resumed by a fresh driver (whose
    // constructor generator still carries the ORIGINAL robots)
    val dirA = tmpDir(); val a1 = driver(dirA)
    a1.init(seeds); a1.runEpoch(); a1.runEpoch()
    a1.stageRobotsUpdate(updated)
    val a3 = a1.runEpoch()
    val a2d = driver(dirA) // resume: must read UPDATED robots from the store
    val a4 = a2d.runEpoch()
    // B: same update, uninterrupted
    val dirB = tmpDir(); val b = driver(dirB)
    b.init(seeds); b.runEpoch(); b.runEpoch()
    b.stageRobotsUpdate(updated)
    assert(b.runEpoch() == a3 && b.runEpoch() == a4,
      "robots update did not survive resume (fresh driver fell back to the generator rows)")
    // C: no update — the update must actually have changed scheduling
    val dirC = tmpDir(); val c = driver(dirC)
    c.init(seeds); c.runEpoch(); c.runEpoch()
    val c3 = c.runEpoch()
    assert(c3("fetched") + c3("errors") > a3("fetched") + a3("errors"),
      "raised robots delays did not shrink the epoch batch")
    // the new floor rides the manifest (min of default 2500 and delays)
    val mA = new SnapshotStore(dirA, spark).latest().get
    assert(mA.counters("robots_floor_ms") == 2500L)
    // the cut change invalidated the head: epoch 3 took the full path,
    // and the epoch-4 fold rebuilt a head under the new cut
    assert(a1.lastSchedSource == "full", "stale-cut head was not dropped")
    assert(a2d.lastSchedSource == "full") // epoch 4 IS the fold epoch
    assert(a2d.runEpoch()("epoch") == 5L)
    assert(a2d.lastSchedSource == "head", "post-update fold did not rebuild the head")
  }

  test("a REVERTED robots floor cannot re-validate the stale head") {
    import graft.operators.Sched
    // floor change + revert between folds: the mismatched epoch consumed
    // per host up to the LARGER cut, so the hk >= elapsed*cut arithmetic
    // under-counts it once the cut reverts — the head must already be gone
    // (dropped by the first epoch that ran under the changed cut), never
    // merely skipped-and-carried for a revert to resurrect
    val orig = Sched.robotsFor((0 until nHosts).map(SimWeb.hostName), seed)
    val lowered = orig.updated(0, (orig.head._1, 100L, orig.head._3))
    def driver(dir: String, head: Boolean) = new EpochDriver(spark,
      new SnapshotStore(dir, spark), seed, nHosts,
      epochBudgetMs = budget, compactFrontierEvery = 8,
      scheduleFromHead = head)
    val dirA = tmpDir(); val a = driver(dirA, head = true)
    a.init(seeds); a.runEpoch()
    assert(a.lastSchedSource == "head", "test premise: head in use")
    a.stageRobotsUpdate(lowered) // cut grows: head invalid from epoch 2
    a.runEpoch()
    assert(a.lastSchedSource == "full")
    val m2 = new SnapshotStore(dirA, spark).latest().get
    assert(!m2.counters.contains("head_epoch") &&
      !m2.tables.contains("frontier_head"),
      "epoch under a changed cut must retire head + meta, not carry them")
    a.stageRobotsUpdate(orig) // revert: cut equals the head's again
    val a3 = a.runEpoch()
    assert(a.lastSchedSource == "full",
      "a reverted floor re-validated a retired head")
    // exactness through the whole change/revert against a never-head twin
    val dirB = tmpDir(); val b = driver(dirB, head = false)
    b.init(seeds); b.runEpoch()
    b.stageRobotsUpdate(lowered); b.runEpoch()
    b.stageRobotsUpdate(orig)
    assert(b.runEpoch() == a3, "change/revert diverged from the full path")
    assert(b.runEpoch() == a.runEpoch())
  }

  test("a robots delay-floor DECREASE drops the head and stays batch-exact") {
    import graft.operators.Sched
    val orig = Sched.robotsFor((0 until nHosts).map(SimWeb.hostName), seed)
    // drop one host's delay to 100 ms — the new global floor, so the
    // budget cut GROWS (8000/100 = 80 rows/host); the old head (sized
    // under the old cut) can no longer bound per-host consumption
    val updated = orig.updated(0, (orig.head._1, 100L, orig.head._3))
    def driver(dir: String, head: Boolean) = new EpochDriver(spark,
      new SnapshotStore(dir, spark), seed, nHosts,
      epochBudgetMs = budget, compactFrontierEvery = 2,
      scheduleFromHead = head)
    val dirA = tmpDir(); val a = driver(dirA, head = true)
    a.init(seeds); a.runEpoch(); a.runEpoch()
    assert(a.lastSchedSource == "head", "test premise: head in use pre-update")
    a.stageRobotsUpdate(updated)
    val a3 = a.runEpoch()
    assert(a.lastSchedSource == "full", "decreased floor did not drop the head")
    assert(new SnapshotStore(dirA, spark).latest().get
      .counters("robots_floor_ms") == 100L)
    // exactness: identical counters to a never-head twin under the same
    // update (the full-view path is the ground truth)
    val dirB = tmpDir(); val b = driver(dirB, head = false)
    b.init(seeds); b.runEpoch(); b.runEpoch()
    b.stageRobotsUpdate(updated)
    assert(b.runEpoch() == a3, "head-drop path diverged from the full path")
    assert(b.runEpoch() == a.runEpoch())
  }

  test("epoch-loop near-dup: per-epoch pairs equal full-corpus pairs touching the batch; signatures accumulate; resume-identical") {
    import graft.operators.NearDup
    val dir = tmpDir()
    val store = new SnapshotStore(dir, spark)
    def nd(s: SnapshotStore) = new EpochDriver(spark, s, seed, nHosts,
      epochBudgetMs = budget, nearDupDocs = true)
    val d = nd(store)
    d.init(seeds)
    val ms = (1 to epochs).map(_ => d.runEpoch())
    // enabling near-dup must not perturb the crawl itself
    val plain = newDriver(tmpDir()); plain.init(seeds)
    (1 to epochs).zip(ms).foreach { case (_, m) =>
      val pm = plain.runEpoch()
      assert(pm == m.view.filterKeys(k =>
        k != "sim_docs" && k != "neardup_pairs").toMap,
        "near-dup stage changed crawl counters")
    }
    val mLast = store.latest().get
    // the corpus signature table holds exactly one row per fetched doc
    val corpus = store.readTable(mLast, "corpus_sim").get
    val totalFetched = ms.map(_("fetched")).sum
    assert(mLast.counters("sim_docs") == totalFetched)
    assert(corpus.count() == totalFetched)
    assert(corpus.select("doc_id").distinct().count() == totalFetched,
      "duplicate doc ids in corpus_sim")
    // a doc's text reassembled the row-exploding way: explode its spans,
    // regroup by doc (a doc without a non-empty text span gets no row)
    def reassembled(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(filter(
          collect_list(struct(col("span.offset"), col("span.text"))),
          x => x.getField("text") =!= "")),
        x => x.getField("text")), " ").as("text"))
    val fetchLog = store.readTable(mLast, "fetch_result").get
      .filter(col("status") === "ok")
    def docsThrough(e: Long) = reassembled(fetchLog.filter(col("epoch") <= e)
      .select(col("canon_url").as("doc_id"), col("spans")))
    // the committed signatures (per-row text, per-row vote kernel) equal
    // NearDup.simhash over the reassembled docs; a doc without tokens
    // signs 0
    val viaRegroup = NearDup.simhash(docsThrough(epochs), NearDup.XxHashBits,
        NearDup.xxTokenHash).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val committed = corpus.collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(viaRegroup.nonEmpty && committed.size == totalFetched)
    committed.foreach { case (d, h) =>
      assert(h == viaRegroup.getOrElse(d, 0L), s"corpus_sim signature of $d")
    }
    // every SimWeb page ends with a text span, so media-only and span-less
    // docs are pinned on synthetic rows through the engine's per-row text
    locally {
      import spark.implicits._
      import graft.model.Span
      val synth = Seq(
        ("media-only", Seq(Span("media", "", "https://img.example/a.jpg", 0))),
        ("no-spans", Seq.empty[Span]),
        ("null-text", Seq(Span("text", null, "", 0))),
        ("mixed", Seq(Span("text", "b a", "", 2), Span("media", "", "r", 1),
          Span("text", "c", "", 0), Span("text", "", "", 3))))
        .toDF("doc_id", "spans")
      val perRow = NearDup.simhashTotal(synth.select(col("doc_id"),
          NearDup.spansText(col("spans")).as("text")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val regroup = NearDup.simhash(reassembled(synth), NearDup.XxHashBits,
          NearDup.xxTokenHash).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perRow.keySet == synth.collect().map(_.getString(0)).toSet)
      assert(regroup.keySet == Set("mixed") && perRow("mixed") == regroup("mixed"))
      assert(Seq("media-only", "no-spans", "null-text").forall(perRow(_) == 0L))
    }
    // pin the oracle equality PER EPOCH: the pairs appended at epoch e must
    // equal the full-construction pairs over docs(1..e) restricted to pairs
    // touching epoch-e docs (the q49 contract, now inside the engine).
    // SimWeb pages never near-duplicate one another: neardup_pairs is 0 in
    // every epoch here (and in every golden ingest epoch), so this check
    // compares empty sets and pins only that no spurious pair appears; the
    // pair logic itself is pinned by NearDupSpec
    val pairsTable = store.readTable(mLast, "neardup_pairs")
    (1 to epochs).foreach { e =>
      val batchIds = fetchLog.filter(col("epoch") === e)
        .select(col("canon_url").as("doc_id")).collect().map(_.getString(0)).toSet
      val got = pairsTable.map(_.filter(col("epoch") === e)
          .select("doc_a", "doc_b", "hd")
          .collect().map(_.toSeq).toSet)
        .getOrElse(Set.empty[Seq[Any]])
      val n = fetchLog.filter(col("epoch") <= e).count()
      val full = NearDup.pairs(docsThrough(e), n)
        .collect().map(_.toSeq)
        .filter(p => batchIds.contains(p(0).asInstanceOf[String]) ||
          batchIds.contains(p(1).asInstanceOf[String])).toSet
      assert(got == full, s"epoch $e near-dup pairs diverge from oracle")
    }
    // resume: a fresh driver continues the signature store exactly — its
    // next epoch matches an uninterrupted twin's counters
    val twinDir = tmpDir(); val twinStore = new SnapshotStore(twinDir, spark)
    val twin = nd(twinStore); twin.init(seeds)
    (1 to epochs).foreach(_ => twin.runEpoch())
    val resumed = nd(new SnapshotStore(dir, spark))
    assert(resumed.runEpoch() == twin.runEpoch(),
      "resume across the near-dup store diverged")
    // and the flag is resume-guarded in both directions
    intercept[IllegalArgumentException] { newDriver(dir).runEpoch() }
    intercept[IllegalArgumentException] {
      val pd = tmpDir(); val p2 = newDriver(pd); p2.init(seeds); p2.runEpoch()
      nd(new SnapshotStore(pd, spark)).runEpoch()
    }
  }

  test("near-dup root consolidation: root counts bounded, tables and counters identical to an uncapped twin, resume clean") {
    def nd(s: SnapshotStore, cap: Int) = new EpochDriver(spark, s, seed,
      nHosts, epochBudgetMs = budget, nearDupDocs = true,
      archiveMaxRoots = cap)
    val dirA = tmpDir(); val storeA = new SnapshotStore(dirA, spark)
    val dirB = tmpDir(); val storeB = new SnapshotStore(dirB, spark)
    // cap 1 forces a consolidation on every epoch after the first append;
    // the twin's cap is never reached, so it keeps one root per epoch
    val a = nd(storeA, 1); a.init(seeds)
    val b = nd(storeB, 1000); b.init(seeds)
    (1 to epochs).foreach { e =>
      val ma = a.runEpoch(); val mb = b.runEpoch()
      assert(ma == mb, s"epoch $e counters diverged under the root cap")
      // consolidation rides in the epoch commit: an append to a table at
      // the cap commits its oldest root plus the new one, so no manifest
      // names more than max(cap, 2) roots
      storeA.expireUnreferenced()
      val m = storeA.latest().get
      Seq("corpus_sim", "neardup_pairs").foreach { t =>
        val n = m.tables.getOrElse(t, Seq.empty).size
        assert(n <= 2, s"epoch $e: $t holds $n roots under cap 1")
      }
    }
    val mA = storeA.latest().get; val mB = storeB.latest().get
    assert(mB.tables("corpus_sim").size > 1,
      "test premise: the uncapped twin accumulated multiple roots")
    // files move AT MOST ONCE: cap 1 consolidates every epoch, which under
    // a newest-root target would stack one r<i>- prefix per cycle onto the
    // whole history (unbounded name growth + O(age) renames per cycle);
    // the permanent-oldest-root target must leave every name singly
    // prefixed no matter how many cycles ran
    Seq("corpus_sim", "neardup_pairs").foreach { t =>
      mA.tables.getOrElse(t, Seq.empty).foreach { root =>
        val names = new java.io.File(root).list()
        assert(names != null && names.nonEmpty, s"$t root $root empty")
        val stacked = names.filter(_.matches("^r\\d+-r\\d+-.*"))
        assert(stacked.isEmpty,
          s"$t files re-renamed across cycles: ${stacked.take(3).toSeq}")
      }
    }
    // content identical row-for-row after the renames
    Seq("corpus_sim", "neardup_pairs").foreach { t =>
      (storeA.readTable(mA, t), storeB.readTable(mB, t)) match {
        case (Some(ta), Some(tb)) =>
          assert(ta.collect().map(_.toSeq).toSet ==
            tb.collect().map(_.toSeq).toSet,
            s"$t content diverged under consolidation")
        case (va, vb) => assert(va.isEmpty == vb.isEmpty,
          s"$t exists in only one store")
      }
    }
    // a resumed driver probes the consolidated table exactly
    val resumed = nd(new SnapshotStore(dirA, spark), 1)
    assert(resumed.runEpoch() == b.runEpoch(),
      "resume over a consolidated signature store diverged")
  }

  test("every epoch writes exactly one manifest") {
    // cap 1 and a major fold every 2 epochs: from epoch 3 on, each epoch
    // merge-moves corpus_sim's newer root into its oldest, and epoch 4's
    // fold appends a second archive root — all inside the one epoch commit
    val dir = tmpDir(); val store = new SnapshotStore(dir, spark)
    val d = new EpochDriver(spark, store, seed, nHosts, epochBudgetMs = budget,
      compactFrontierEvery = 2, nearDupDocs = true, archiveMaxRoots = 1)
    d.init(seeds)
    (1 to 4).foreach { e =>
      val before = store.latestVersion().get
      assert(d.runEpoch()("fetched") > 0, s"test premise: epoch $e fetched")
      val after = store.latestVersion().get
      assert(after - before == 1, s"epoch $e wrote ${after - before} manifests")
    }
    // premise: epoch 4 consolidated corpus_sim (its parent's oldest root
    // plus its own dir) and appended a second archive root
    val m4 = store.latest().get
    val m3 = store.readManifest(m4.parent)
    assert(m3.tables("corpus_sim").size == 2, "test premise: no root to move")
    assert(m4.tables("corpus_sim").head == m3.tables("corpus_sim").head &&
      m4.tables("corpus_sim").size == 2 &&
      m4.tables("corpus_sim").last.endsWith(s"corpus_sim/v${m4.version}"),
      s"corpus_sim not consolidated: ${m4.tables("corpus_sim")}")
    assert(dataFiles(m3.tables("corpus_sim").last).isEmpty,
      "the moved root still holds data files")
    assert(m4.tables("frontier_archive").size == 2,
      "test premise: epoch 4's fold did not append an archive root")
  }

  test("a commit that fails after root consolidation's moves loses no row; the re-run equals a twin") {
    def nd(s: SnapshotStore, cap: Int) = new EpochDriver(spark, s, seed,
      nHosts, epochBudgetMs = budget, nearDupDocs = true, archiveMaxRoots = cap)
    val dir = tmpDir(); val store = new SnapshotStore(dir, spark)
    val twinStore = new SnapshotStore(tmpDir(), spark)
    val (a, twin) = (nd(store, 1), nd(twinStore, 1000))
    a.init(seeds); twin.init(seeds)
    (1 to 2).foreach(e => assert(a.runEpoch() == twin.runEpoch(), s"epoch $e"))
    val tables = Seq("corpus_sim", "neardup_pairs")
    // every row as a sorted list, so a duplicate shows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val parent = store.latest().get
    assert(parent.tables("corpus_sim").size == 2, "test premise: epoch 3 moves a root")
    val before = tables.map(t => rows(store.readTable(parent, t).get))
    // occupy epoch 3's manifest temp name: its commit fails after the moves
    val tmp = java.nio.file.Paths.get(dir, "manifest", s"v${parent.version + 1}.json.tmp")
    java.nio.file.Files.createDirectory(tmp)
    intercept[java.io.IOException](a.runEpoch())
    assert(store.latestVersion() == Some(parent.version), "a failed commit moved the store")
    assert(dataFiles(parent.tables("corpus_sim").last).isEmpty,
      "test premise: the moves ran before the commit")
    tables.zip(before).foreach { case (t, b) =>
      assert(rows(store.readTable(parent, t).get) == b, s"$t lost or duplicated rows")
    }
    java.nio.file.Files.delete(tmp)
    val resumed = nd(new SnapshotStore(dir, spark), 1)
    assert(resumed.runEpoch() == twin.runEpoch(), "the re-run differs from the twin")
    val (mA, mB) = (store.latest().get, twinStore.latest().get)
    tables.foreach { t =>
      assert(rows(store.readTable(mA, t).get) == rows(twinStore.readTable(mB, t).get),
        s"$t differs from the twin")
    }
  }

  test("epoch-loop media features: one real-decode row per media span; crawl unperturbed; resume-identical and guarded") {
    val dir = tmpDir()
    val store = new SnapshotStore(dir, spark)
    // cap 1 exercises media_features root consolidation in the same run
    def md(s: SnapshotStore) = new EpochDriver(spark, s, seed, nHosts,
      epochBudgetMs = budget, mediaDocs = true, archiveMaxRoots = 1)
    val d = md(store)
    d.init(seeds)
    val ms = (1 to epochs).map(_ => d.runEpoch())
    // enabling the media stage must not perturb the crawl itself
    val plain = newDriver(tmpDir()); plain.init(seeds)
    ms.foreach { m =>
      val pm = plain.runEpoch()
      assert(pm == m.view.filterKeys(_ != "media_rows").toMap,
        "media stage changed crawl counters")
    }
    val mLast = store.latest().get
    val feats = store.readTable(mLast, "media_features").get.cache()
    // exactly one row per media span of every ok fetched doc (keyed by
    // (doc_id, offset) — span order is the identity within a doc)
    val expected = store.readTable(mLast, "fetch_result").get
      .filter(col("status") === "ok")
      .select(col("canon_url").as("doc_id"), explode(col("spans")).as("span"))
      .filter(col("span.kind") === "media" && col("span.media_ref") =!= "")
    val nExpected = expected.count()
    assert(nExpected > 0, "test premise: the sim web emits media spans")
    assert(feats.count() == nExpected)
    assert(mLast.counters("media_rows") == nExpected)
    assert(feats.select("doc_id", "offset").distinct().count() == nExpected,
      "duplicate (doc_id, offset) rows in media_features")
    assert(mLast.tables("media_features").size <= 2,
      "media_features roots not consolidated under cap 1")
    // REAL decode, pinned end-to-end: recompute sampled rows through
    // MediaFetchSim + the production decodeImage directly — dims, byte
    // count, and the full embedding must match exactly
    val sample = feats.orderBy("doc_id", "offset").limit(5).collect()
    sample.foreach { r =>
      val ref = r.getAs[String]("media_ref")
      val payload = graft.fetch.MediaFetchSim.fetchBytes(ref, seed)
      val (w, h, emb) = graft.operators.Multimodal.decodeImage(payload)
        .getOrElse(fail(s"sim payload for $ref did not decode"))
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h,
        s"decoded dims mismatch for $ref")
      assert(r.getAs[Int]("n_bytes") == payload.length)
      assert(r.getAs[scala.collection.Seq[Float]]("embedding") == emb.toSeq,
        s"embedding mismatch for $ref")
    }
    // release the cached 3-epoch relation BEFORE advancing the store: the
    // permanent consolidation target means later epochs move files INTO
    // the same directory path, and a DataFrame cached across commits pins
    // the stale relation for any same-path read (exactly the "no live job
    // holds lineage across epochs" discipline SnapshotStore documents —
    // the engine itself never caches store reads across epochs)
    feats.unpersist()
    // resume: a fresh driver continues the feature store exactly — next
    // epoch matches an uninterrupted twin, and the tables stay identical
    val twinStore = new SnapshotStore(tmpDir(), spark)
    val twin = md(twinStore); twin.init(seeds)
    (1 to epochs).foreach(_ => twin.runEpoch())
    val resumed = md(new SnapshotStore(dir, spark))
    assert(resumed.runEpoch() == twin.runEpoch(),
      "resume across the media store diverged")
    // normalize rows before comparing: the embedding column can surface
    // from collect() as a raw Array (reference equality) depending on the
    // physical plan — convert to Vector so the comparison is structural
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("doc_id"), r.getAs[String]("media_ref"),
        r.getAs[Int]("offset"), r.getAs[Int]("width"),
        r.getAs[Int]("height"), r.getAs[Int]("n_bytes"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toVector)
    }.toSet
    val ta = rowsOf(store.readTable(store.latest().get, "media_features").get)
    val tb = rowsOf(
      twinStore.readTable(twinStore.latest().get, "media_features").get)
    assert(ta == tb, "media_features content diverged across resume")
    // and the flag is resume-guarded in both directions (cfg_media)
    intercept[IllegalArgumentException] { newDriver(dir).runEpoch() }
    intercept[IllegalArgumentException] {
      val pd = tmpDir(); val p2 = newDriver(pd); p2.init(seeds); p2.runEpoch()
      md(new SnapshotStore(pd, spark)).runEpoch()
    }
  }
}
