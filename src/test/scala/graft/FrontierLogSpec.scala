package graft

import org.apache.spark.sql.functions._
import graft.ckpt.SnapshotStore
import graft.engine.{EpochDriver, FrontierLog}
import graft.gen.SimWeb

/** Log-structured frontier (round-3 verdict item 1): per-epoch frontier
  * commit bytes must scale with O(batch + fresh), not O(frontier); the
  * merge-on-read views must equal the monolithic semantics; compaction
  * must fold the log without changing the view.
  */
class FrontierLogSpec extends SparkSpecBase {

  private val seed = 42L

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-flog").toString

  private def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(
      p.stripPrefix("file:").stripPrefix("//"))
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => java.nio.file.Files.isRegularFile(f))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
  }

  test("epoch commit writes O(batch), not O(frontier): delta bytes ≪ base bytes, base untouched") {
    val dir = tmpDir()
    val nHosts = 200
    val store = new SnapshotStore(dir, spark)
    // large frontier, tiny per-epoch budget: 1000 ms / ≥500 ms delay ⇒ at
    // most 2 fetches per host per epoch — the monolithic design would
    // rewrite all ~50k rows to transition ≤400 of them
    val d = new EpochDriver(spark, store, seed, nHosts, epochBudgetMs = 1000L)
    d.init(SimWeb.seedUrls(50000, nHosts, seed))
    val m0 = store.latest().get
    val basePaths = m0.tables("frontier_base")
    val baseBytes = basePaths.map(dirBytes).sum
    assert(baseBytes > 0)
    // init canonicalizes + dedups + robots-filters the seed list, so the
    // base row count is measured, not assumed
    val baseRows = d.frontier().count()
    assert(baseRows > 40000L, s"test premise: large frontier, got $baseRows")

    val metrics = d.runEpoch()
    val m1 = store.latest().get
    // the base is carried forward by reference — not one byte rewritten
    assert(m1.tables("frontier_base") == basePaths,
      "epoch commit rewrote the frontier base")
    val deltaBytes = m1.tables("frontier_delta").map(dirBytes).sum
    assert(deltaBytes > 0)
    assert(deltaBytes < baseBytes / 10,
      s"frontier delta ($deltaBytes B) not ≪ base ($baseBytes B) — " +
        s"batch=${metrics("fetched") + metrics("errors")} fresh=${metrics("emitted")}")

    // and the merged view still sees every row exactly once
    val n = d.frontier().count()
    assert(n == baseRows + metrics("emitted"),
      s"merge-on-read row count drifted: $n vs $baseRows + ${metrics("emitted")}")
  }

  test("pending view ≡ resolve-then-filter on mixed base/delta histories") {
    import spark.implicits._
    def row(url: String, state: String, retry: Int, score: Double, seq: Long) =
      (url, "h.example.com", 0, score, state, retry, 0L, seq)
    val base = Seq(
      row("u:retried", "pending", 0, 1.0, 0L),   // retried twice in deltas
      row("u:done", "pending", 0, 1.0, 0L),      // terminal delta (fetched)
      row("u:dead", "pending", 2, 0.25, 0L),     // terminal delta (failed)
      row("u:untouched", "pending", 0, 1.0, 0L), // no delta at all
      row("u:old-fetched", "fetched", 0, 1.0, 0L)) // terminal in base
      .toDF(FrontierLog.Cols: _*)
    val delta = Seq(
      row("u:retried", "pending", 1, 0.5, 1L),
      row("u:retried", "pending", 2, 0.25, 2L),
      row("u:done", "fetched", 0, 1.0, 2L),
      row("u:dead", "failed", 3, 0.25, 1L),
      row("u:fresh", "pending", 0, 0.5, 2L))     // inserted by epoch 2
      .toDF(FrontierLog.Cols: _*)
    val fast = FrontierLog.pending(base, Some(delta))
      .collect().map(_.toSeq).toSet
    val slow = FrontierLog.resolve(base.unionByName(delta))
      .filter(col("state") === "pending").drop("seq")
      .collect().map(_.toSeq).toSet
    assert(fast == slow)
    val urls = fast.map(_.head)
    assert(urls == Set("u:retried", "u:untouched", "u:fresh"))
    // the retried row surfaces its LATEST retry state
    assert(fast.exists(r => r.head == "u:retried" && r(5) == 2))
  }

  test("pending view never shuffles the base: broadcast anti-join, no sort-merge") {
    import spark.implicits._
    // parquet-backed sides so the plan reflects the engine's real reads
    // (size-estimated scans, AQE join selection)
    val dir = tmpDir()
    val base = (0 until 20000).map(i =>
      (s"https://h${i % 50}.example.com/p/$i", s"h${i % 50}.example.com",
        i % 4, 1.0, if (i % 10 == 0) "fetched" else "pending", 0, 0L, 0L))
      .toDF(FrontierLog.Cols: _*)
    base.write.parquet(s"$dir/base")
    val delta = (0 until 300).map(i =>
      (s"https://h${i % 50}.example.com/p/$i", s"h${i % 50}.example.com",
        i % 4, 1.0, if (i % 3 == 0) "fetched" else "pending", 1, 0L, 1L))
      .toDF(FrontierLog.Cols: _*)
    delta.write.parquet(s"$dir/delta")
    val pend = FrontierLog.pending(
      spark.read.parquet(s"$dir/base"),
      Some(spark.read.parquet(s"$dir/delta")))
    pend.collect() // materialize so AQE finalizes join strategies
    val p = pend.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti-join of delta keys against the base:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge join would shuffle+sort the frontier-sized base side:\n$p")
  }

  test("frontier compaction: identical view + counters, delta log dropped, resumable") {
    val seeds = SimWeb.seedUrls(40, 10, seed)
    val dirC = tmpDir()
    val storeC = new SnapshotStore(dirC, spark)
    val c = new EpochDriver(spark, storeC, seed, 10, epochBudgetMs = 8000L,
      compactFrontierEvery = 2)
    val u = new EpochDriver(spark, new SnapshotStore(tmpDir(), spark), seed, 10,
      epochBudgetMs = 8000L)
    c.init(seeds); u.init(seeds)
    val mc = (1 to 3).map(_ => c.runEpoch())
    val mu = (1 to 3).map(_ => u.runEpoch())
    assert(mc == mu, "compaction changed epoch counters")
    def view(d: EpochDriver) = d.frontier().collect().map(_.toSeq).toSet
    assert(view(c) == view(u), "compaction changed the frontier view")
    // epoch 2 folded: its manifest carries a fresh base and no delta; epoch
    // 3 appended one new delta on top
    val m3 = storeC.latest().get
    assert(m3.tables.get("frontier_delta").exists(_.size == 1),
      s"expected exactly the post-fold delta, got ${m3.tables.get("frontier_delta")}")
    assert(m3.tables("frontier_base").head.contains("/v2"),
      "fold did not replace the base at the compaction epoch")
    // and a NEW driver resumes on top of the folded store
    val c2 = new EpochDriver(spark, new SnapshotStore(dirC, spark), seed, 10,
      epochBudgetMs = 8000L, compactFrontierEvery = 2)
    val m4 = c2.runEpoch()
    assert(m4("epoch") == 4L)
  }

  test("expire reclaims superseded frontier dirs: disk == manifest, view + resume intact") {
    val dir = tmpDir()
    val store = new SnapshotStore(dir, spark)
    val d = new EpochDriver(spark, store, seed, 10, epochBudgetMs = 8000L,
      compactFrontierEvery = 2)
    d.init(SimWeb.seedUrls(40, 10, seed))
    // run() expires between epochs: the epoch-2 fold replaced the init base
    // (frontier_base/v0) and dropped the folded delta (frontier_delta/v1) —
    // without expiry both stay on disk forever, one full frontier copy per
    // compaction cycle at scale
    d.run(3)
    val viewBefore = d.frontier().collect().map(_.toSeq).toSet
    assert(store.expireUnreferenced() == 0L,
      "run() left unreferenced dirs behind — its between-epoch expire missed them")

    def onDisk(table: String): Set[String] = {
      val p = java.nio.file.Paths.get(dir, "data", table)
      if (!java.nio.file.Files.exists(p)) Set.empty
      else {
        val s = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSet
        } finally s.close()
      }
    }
    val m = store.latest().get
    def referenced(table: String): Set[String] =
      m.tables.getOrElse(table, Seq.empty)
        .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    for (t <- Seq("frontier_base", "frontier_delta", "frontier_archive")) {
      assert(onDisk(t) == referenced(t),
        s"$t on disk ${onDisk(t)} != manifest ${referenced(t)}")
    }
    assert(!onDisk("frontier_base").contains("v0"),
      "the init-time base superseded by the fold was never reclaimed")
    // lineage append tables keep their full history
    assert(onDisk("fetch_result") == referenced("fetch_result"))
    // the Bloom blob log folded at epoch 2: refs are the fold + one append
    // per later epoch, never one per epoch since the crawl began
    assert(m.tables("seen_bloom").size.toLong <= 2L,
      s"seen_bloom log not folded: ${m.tables("seen_bloom")}")

    // the reclaim touched nothing live: view identical, resume clean
    assert(d.frontier().collect().map(_.toSeq).toSet == viewBefore)
    val d2 = new EpochDriver(spark, new SnapshotStore(dir, spark), seed, 10,
      epochBudgetMs = 8000L, compactFrontierEvery = 2)
    assert(d2.runEpoch()("epoch") == 4L)
  }

  test("terminal history leaves the fold window: archive append-only by rename, base pending-only") {
    val dir = tmpDir()
    val store = new SnapshotStore(dir, spark)
    val d = new EpochDriver(spark, store, seed, 10, epochBudgetMs = 8000L,
      compactFrontierEvery = 2)
    d.init(SimWeb.seedUrls(40, 10, seed))

    def archFiles(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir, "data", "frontier_archive")
      if (!java.nio.file.Files.exists(root)) Map.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(f => root.relativize(f).toString -> java.nio.file.Files.size(f))
            .toMap
        } finally s.close()
      }
    }

    (1 to 2).foreach(_ => d.runEpoch()) // fold at epoch 2 → first archive dir
    val after2 = archFiles()
    assert(after2.nonEmpty, "epoch-2 fold archived no terminal rows")

    (3 to 4).foreach(_ => d.runEpoch()) // fold at epoch 4 → second archive dir
    val after4 = archFiles()
    // THE scale pin: every file the epoch-2 fold archived is still there,
    // byte-identical — later folds never rewrite terminal history, so fold
    // I/O is O(pending + delta window), independent of crawl age
    after2.foreach { case (f, sz) =>
      assert(after4.get(f).contains(sz),
        s"epoch-4 fold rewrote archived file $f (was $sz B, now ${after4.get(f)})")
    }
    assert(after4.size > after2.size,
      "epoch-4 fold appended no new archive dir despite new terminals")

    // after a non-draining fold the base holds ONLY the pending wavefront
    val m = store.latest().get
    val base = spark.read.parquet(m.tables("frontier_base").head)
    assert(base.filter(col("state") =!= "pending").count() == 0L,
      "fold left terminal rows inside the rewritten base")

    // and the archive carries exactly the view's terminal rows (deltas were
    // folded at epoch 4, so no terminal row is anywhere else)
    val viewTerm = d.frontier().filter(col("state") =!= "pending").count()
    val archRows = m.tables("frontier_archive")
      .map(p => spark.read.parquet(p).count()).sum
    assert(archRows == viewTerm,
      s"archive rows ($archRows) != view terminal rows ($viewTerm)")

    // resume on top of an archived store is clean
    val d2 = new EpochDriver(spark, new SnapshotStore(dir, spark), seed, 10,
      epochBudgetMs = 8000L, compactFrontierEvery = 2)
    assert(d2.runEpoch()("epoch") == 5L)
  }

  test("archive-root consolidation: root count bounded, rows identical, rename-only, resumable") {
    val nHosts = 10
    val seeds = SimWeb.seedUrls(40, nHosts, seed)
    def mk(store: SnapshotStore, cap: Int) = new EpochDriver(spark, store,
      seed, nHosts, epochBudgetMs = 8000L, compactFrontierEvery = 1,
      archiveMaxRoots = cap)
    val aDir = tmpDir(); val aStore = new SnapshotStore(aDir, spark)
    val bStore = new SnapshotStore(tmpDir(), spark)
    val a = mk(aStore, 2) // every epoch folds; consolidation from root 3 on
    val b = mk(bStore, 1000) // never consolidates — the ground-truth layout
    a.init(seeds); b.init(seeds)
    (1 to 6).foreach { e =>
      assert(a.runEpoch() == b.runEpoch(), s"counters diverged at epoch $e")
      aStore.expireUnreferenced(); bStore.expireUnreferenced()
      val roots = aStore.latest().get.tables
        .getOrElse("frontier_archive", Seq.empty)
      // a fold that appends to a table at the cap commits its oldest root
      // plus the new one: no manifest names more than max(cap, 2) roots
      assert(roots.size <= 2, s"epoch $e: ${roots.size} archive roots > max(cap, 2)")
    }
    val aRoots = aStore.latest().get.tables("frontier_archive")
    val bRoots = bStore.latest().get.tables("frontier_archive")
    assert(aRoots.size < bRoots.size, "test premise: consolidation never fired")
    // view identity: archive rows (and the whole frontier view) survive
    // every consolidation byte-for-byte
    assert(a.frontier().collect().map(_.toSeq).toSet ==
      b.frontier().collect().map(_.toSeq).toSet,
      "consolidation changed the frontier view")
    // rename-only, no loss, no duplication: same row count through the raw
    // parquet roots (not the resolved view, which would hide duplicates)
    val aArchRows = aRoots.map(r => spark.read.parquet(r).count()).sum
    val bArchRows = bRoots.map(r => spark.read.parquet(r).count()).sum
    assert(aArchRows == bArchRows, "consolidation lost or duplicated rows")
    // expire reclaimed the retired roots: on disk only the referenced ones
    // remain (plus the in-flight staging allowance)
    val onDisk = {
      val p = java.nio.file.Paths.get(aDir, "data", "frontier_archive")
      val s = java.nio.file.Files.list(p)
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.size } finally s.close()
    }
    assert(onDisk <= 3, s"retired archive roots not expired: $onDisk dirs on disk")
    // resume over a consolidated store is clean and stays bounded
    val a2 = mk(new SnapshotStore(aDir, spark), 2)
    assert(a2.runEpoch() == b.runEpoch(), "resume after consolidation diverged")

    // files move AT MOST ONCE (the permanent-oldest-root target): six
    // consolidation cycles must never stack a second r<i>- prefix — under
    // the old newest-root target every cycle re-renamed the whole history
    aStore.latest().get.tables("frontier_archive").foreach { root =>
      Seq("state=fetched", "state=failed").foreach { st =>
        val dir = new java.io.File(s"$root/$st")
        Option(dir.list()).toSeq.flatten.foreach(n =>
          assert(!n.matches("^r\\d+-r\\d+-.*"), s"re-renamed file $n"))
      }
    }

    // crash window: a consolidation drains source roots by rename BEFORE
    // the epoch commit — simulate dying exactly there by draining
    // one referenced root into another referenced root with the manifest
    // untouched. The full-history view must skip the file-less root (a
    // per-root parquet read would fail schema inference), and the rows are
    // all still present in the other root
    val mNow = aStore.latest().get
    val viewBefore = a2.frontier().collect().map(_.toSeq).toSet
    val rootsNow = mNow.tables("frontier_archive")
    if (rootsNow.size >= 2) {
      Seq("state=fetched", "state=failed").foreach(st =>
        aStore.moveFilesInto(s"${rootsNow.last}/$st",
          s"${rootsNow.head}/$st", "crash-"))
      assert(a2.frontier().collect().map(_.toSeq).toSet == viewBefore,
        "drained-but-referenced archive root broke the frontier view")
    } else {
      // cap 2 after an epoch without consolidation can be at one root;
      // force the state instead: drain the single root into a fresh dir
      // that the manifest does NOT reference — the view must then simply
      // omit the archive rows rather than crash
      Seq("state=fetched", "state=failed").foreach(st =>
        aStore.moveFilesInto(s"${rootsNow.head}/$st",
          s"${tmpDir()}/$st", "crash-"))
      val rows = a2.frontier().collect() // must not throw
      assert(rows.nonEmpty, "live frontier rows vanished with the archive")
    }
  }

  test("frontier head: scheduler reads a head-sized slice, batch-exact across fold cycles") {
    // many pending rows per host + a tight budget: the head
    // (K = (R+1)*cut rows per host) is a small fraction of pending — the
    // geometry where scanning the whole frontier per epoch is the waste
    val nHosts = 20
    val seeds = SimWeb.seedUrls(4000, nHosts, seed)
    val hStore = new SnapshotStore(tmpDir(), spark)
    val h = new EpochDriver(spark, hStore, seed, nHosts,
      epochBudgetMs = 2000L, compactFrontierEvery = 2)
    val f = new EpochDriver(spark, new SnapshotStore(tmpDir(), spark), seed,
      nHosts, epochBudgetMs = 2000L, compactFrontierEvery = 2,
      scheduleFromHead = false)
    h.init(seeds); f.init(seeds)
    val sources = scala.collection.mutable.ArrayBuffer.empty[String]
    val mh = (1 to 5).map { _ =>
      val m = h.runEpoch(); sources += h.lastSchedSource; m
    }
    val mf = (1 to 5).map(_ => f.runEpoch())
    // the head invariant is EXACT: identical per-epoch counters and final
    // frontier whether scheduling scans the head or the full pending set
    assert(mh == mf, "head scheduling changed epoch counters")
    assert(h.frontier().collect().map(_.toSeq).toSet ==
      f.frontier().collect().map(_.toSeq).toSet,
      "head scheduling changed the frontier view")
    // the head exists from init (same slice a fold builds), so every epoch
    // schedules from it: 1-2 ride the init head, 3-5 the epoch-2/4 heads
    assert(sources.toSeq == Seq("head", "head", "head", "head", "head"),
      s"head fast path not engaged as expected: $sources")
    // and the head really is host-bounded, not frontier-sized
    val m5 = hStore.latest().get
    val headRows = hStore.readTable(m5, "frontier_head").get.count()
    val pendingRows = h.frontier()
      .filter(col("state") === "pending").count()
    assert(headRows <= nHosts * 3L * (2000L / 500L),
      s"head has $headRows rows — more than hosts * (R+1) * cut")
    assert(headRows < pendingRows / 5,
      s"test premise: head ($headRows) should be ≪ pending ($pendingRows)")
  }

  test("minor folds: major cadence stretches 8x with identical counters, base never rewritten between majors") {
    // A = the old regime (major fold every 2 epochs, O(pending) rewrite
    // each time); B = stretched majors (every 16 — never reached in this
    // run) + minor folds every 2 (delta-log resolve + head refresh,
    // O(delta window) only). The two must be byte-identical in counters
    // and views while B rewrites the base ZERO times
    val nHosts = 20
    val seeds = SimWeb.seedUrls(4000, nHosts, seed)
    val aStore = new SnapshotStore(tmpDir(), spark)
    val bDir = tmpDir()
    val bStore = new SnapshotStore(bDir, spark)
    val a = new EpochDriver(spark, aStore, seed, nHosts,
      epochBudgetMs = 2000L, compactFrontierEvery = 2)
    val b = new EpochDriver(spark, bStore, seed, nHosts,
      epochBudgetMs = 2000L, compactFrontierEvery = 16, compactDeltaEvery = 2)
    a.init(seeds); b.init(seeds)
    val initBase = bStore.latest().get.tables("frontier_base")
    // the init head carries K = (16+1)*cut with cut derived from the
    // actual robots delays — recover cut from the committed budget
    val initK = bStore.latest().get.counters("head_k")
    val cut = initK / 17L
    assert(cut > 0 && initK == 17L * cut)
    val bSources = scala.collection.mutable.ArrayBuffer.empty[String]
    val ma = (1 to 6).map(_ => a.runEpoch())
    val mb = (1 to 6).map { _ =>
      val m = b.runEpoch(); bSources += b.lastSchedSource; m
    }
    assert(ma == mb, "minor-fold regime changed epoch counters")
    assert(a.frontier().collect().map(_.toSeq).toSet ==
      b.frontier().collect().map(_.toSeq).toSet,
      "minor-fold regime changed the frontier view")
    // B scheduled every epoch from the head: init head (K = 17*cut) was
    // refreshed at each minor fold and never went stale
    assert(bSources.forall(_ == "head"),
      s"head fast path lost across minor folds: $bSources")
    val mbLast = bStore.latest().get
    // THE scale pin: six epochs, zero base rewrites — the init base is
    // carried forward by reference (A rewrote it three times by now)
    assert(mbLast.tables("frontier_base") == initBase,
      "minor-fold regime rewrote the frontier base")
    // the delta log stays compact: one folded run + at most one newer dir
    assert(mbLast.tables("frontier_delta").size <= 2,
      s"delta log not folded: ${mbLast.tables("frontier_delta")}")
    // head meta re-dated by the epoch-6 minor fold, budget decremented by
    // the consumed window
    assert(mbLast.counters("head_epoch") == 6L)
    assert(mbLast.counters("head_k") == initK - 6L * cut)
    // and a FRESH driver resumes the minor-folded store mid-cycle,
    // producing A's next-epoch counters exactly
    val b2 = new EpochDriver(spark, new SnapshotStore(bDir, spark),
      seed, nHosts, epochBudgetMs = 2000L,
      compactFrontierEvery = 16, compactDeltaEvery = 2)
    val a7 = a.runEpoch()
    assert(b2.runEpoch() == a7, "resume across a minor fold diverged")
  }

  test("resume with the head off: minor folds neither rewrite nor re-date the head") {
    // scheduleFromHead = false is the hard off switch AND the A/B
    // reference: a head-on store resumed head-off must not keep
    // paying the per-host window sort at every minor fold for a head no
    // scheduler reads — the head table and its meta stay frozen as the
    // head-on run left them (a later head-on resume then re-validates
    // against true elapsed consumption)
    val nHosts = 20
    val seeds = SimWeb.seedUrls(4000, nHosts, seed)
    val dir = tmpDir()
    def driver(head: Boolean) = new EpochDriver(spark,
      new SnapshotStore(dir, spark), seed, nHosts, epochBudgetMs = 2000L,
      compactFrontierEvery = 16, compactDeltaEvery = 2,
      scheduleFromHead = head)
    val on = driver(head = true)
    on.init(seeds); on.runEpoch(); on.runEpoch() // epoch 2: minor fold refreshes
    val m2 = new SnapshotStore(dir, spark).latest().get
    assert(m2.counters("head_epoch") == 2L, "test premise: head refreshed at 2")
    val off = driver(head = false)
    off.runEpoch(); off.runEpoch() // epoch 4: minor fold, head OFF
    assert(off.lastSchedSource == "full")
    val m4 = new SnapshotStore(dir, spark).latest().get
    assert(m4.tables("frontier_head") == m2.tables("frontier_head"),
      "head-off minor fold rewrote the head table")
    assert(m4.counters("head_epoch") == 2L &&
      m4.counters("head_k") == m2.counters("head_k"),
      "head-off minor fold re-dated the head meta")
  }

  test("degenerate head geometry (hosts·K ≫ pending): exact vs a head-off twin") {
    // the geometry least favourable to the head: 10 hosts, cut =
    // 8000/floor >= 2 rows/host, K = 5*cut ⇒ hosts*K >= 100 vs ~40 pending
    // seeds — the head holds nearly the whole pending set. Head-on must
    // still be batch-exact against a head-disabled twin on every epoch's
    // counters AND frontier view, through every commit path: plain (1, 3),
    // minor fold (2: head refresh), major fold (4: head rebuild)
    val nHosts = 10
    val seeds = SimWeb.seedUrls(40, nHosts, seed)
    def driver(head: Boolean) = new EpochDriver(spark,
      new SnapshotStore(tmpDir(), spark), seed, nHosts,
      epochBudgetMs = 8000L, compactFrontierEvery = 4, compactDeltaEvery = 2,
      scheduleFromHead = head)
    val h = driver(head = true); val f = driver(head = false)
    h.init(seeds); f.init(seeds)
    val sources = scala.collection.mutable.ArrayBuffer.empty[String]
    (1 to 5).foreach { e =>
      assert(h.runEpoch() == f.runEpoch(), s"epoch $e: head changed counters")
      sources += h.lastSchedSource
      assert(h.frontier().collect().map(_.toSeq).toSet ==
        f.frontier().collect().map(_.toSeq).toSet,
        s"epoch $e: head changed the frontier view")
    }
    // the head is really in use here: the init head serves epochs 1-2,
    // the minor-fold refresh and the major-fold rebuild the later ones
    assert(sources.count(_ == "head") >= 3,
      s"head fast path not engaged in the degenerate geometry: $sources")
  }

  test("an empty-head fold commits no row-less head table; next epoch survives on the full path") {
    // budget below every crawl delay ⇒ cut = 0 ⇒ headSlice is empty even
    // with a non-empty pending set — the same shape as a frontier-draining
    // fold. A committed row-less parquet head would make every later
    // epoch's schema inference crash
    val store = new SnapshotStore(tmpDir(), spark)
    val d = new EpochDriver(spark, store, seed, 4, epochBudgetMs = 100L,
      compactFrontierEvery = 1)
    d.init(SimWeb.seedUrls(10, 4, seed))
    val m1 = d.runEpoch()
    assert(m1("fetched") == 0L)
    assert(store.latest().get.tables.get("frontier_head").isEmpty,
      "fold committed an empty frontier_head")
    val m2 = d.runEpoch()
    assert(d.lastSchedSource == "full",
      "absent head must fall back to the full pending view")
    assert(m2("epoch") == 2L && m2("fetched") == 0L)
  }

  test("a draining major fold equals a folds-off twin every epoch, to exhaustion") {
    // two epochs of ordinary discovery, then every host disallows "/": no
    // candidate passes the robots filter, so the pending frontier drains.
    // A major fold every epoch makes the last fetching epoch a fold with
    // no pending row left (it archives every terminal row and commits a
    // row-less base), and the exhausted epoch after it folds that
    // row-less base again
    val nHosts = 10
    val seeds = SimWeb.seedUrls(40, nHosts, seed)
    val closed = graft.operators.Sched.robotsFor(
      (0 until nHosts).map(SimWeb.hostName), seed)
      .map { case (h, delay, dis) => (h, delay, dis :+ "/") }
    val store = new SnapshotStore(tmpDir(), spark)
    val folds = new EpochDriver(spark, store, seed, nHosts,
      epochBudgetMs = 8000L, compactFrontierEvery = 1, compactSeenEvery = 2)
    val twin = new EpochDriver(spark, new SnapshotStore(tmpDir(), spark), seed,
      nHosts, epochBudgetMs = 8000L)
    folds.init(seeds); twin.init(seeds)
    def seen(d: EpochDriver) = d.seenSet().collect().map(_.getString(0)).toSet
    def view(d: EpochDriver) = d.frontier().collect().map(_.toSeq).toSet
    var epoch = 0
    var exhausted = false
    while (!exhausted) {
      epoch += 1
      assert(epoch <= 30, "the closed crawl never drained")
      if (epoch == 3) { folds.stageRobotsUpdate(closed); twin.stageRobotsUpdate(closed) }
      val (a, b) = (folds.runEpoch(), twin.runEpoch())
      assert(a == b, s"epoch $epoch counters: $a vs $b")
      assert(seen(folds) == seen(twin), s"epoch $epoch seen set diverged")
      assert(view(folds) == view(twin), s"epoch $epoch frontier view diverged")
      store.expireUnreferenced()
      exhausted = a("fetched") + a("errors") == 0L
    }
    assert(epoch > 4, s"test premise: the crawl drained over several epochs, not $epoch")
    val m = store.latest().get
    assert(store.readTable(m, "frontier_base").get.count() == 0L,
      "the final fold left pending rows in the base")
    assert(!m.tables.contains("frontier_head"), "a drained fold committed a head")
    assert(store.readTable(m, "frontier_archive").get.count() ==
      twin.frontier().count(), "the archive is missing terminal rows")
  }
}
