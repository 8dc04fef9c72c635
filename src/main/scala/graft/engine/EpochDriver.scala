package graft.engine

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, FutureTask}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ckpt.SnapshotStore
import graft.ckpt.SnapshotStore.Staged
import graft.fetch.FetchSim
import graft.functions.Canon
import graft.operators.{Bloom, Extract, NearDup, Sched, Seen, SegmentedBloom}

/** Epoch-loop crawl engine (SURVEY.md §3.1 Spark trace; north rule).
  *
  * Epochs run one at a time (the reference runs one job at a time behind
  * its `is_crawling_running` flag, src/main.py:56-62 — T1). An epoch ranks
  * the pending frontier per host under the virtual-time politeness budget,
  * fetches the batch through the partition-local simulator, extracts +
  * canonicalizes outbound URLs, drops seen ones (Bloom prefilter + exact
  * anti-join), and commits frontier/seen/lineage and the epoch's counters
  * as one atomic snapshot. Every epoch is resumable: state lives only in the snapshot
  * store.
  *
  * Within an epoch, the layer functions — robots in effect, schedule,
  * fetch, extract, dedup, sink, near-dup, media, seen, frontier update —
  * form a small dependency graph ([[epochCommit]]): each takes the inputs
  * it depends on and returns its outputs plus a [[Commit]] fragment, and
  * the layers that do not depend on each other run as concurrent Spark
  * jobs from branch threads of that epoch. Every branch joins before the
  * ONE epoch commit, whose fragments merge in a fixed order; the
  * append-root consolidation ([[consolidate]]) is one more fragment of it,
  * so every epoch writes exactly one manifest.
  *
  * Per-epoch I/O is O(batch), never O(crawl): the seen set appends one
  * bucketed slice + Bloom segment per epoch (log-compacted by
  * compactSeen), the frontier appends state-transition deltas resolved
  * merge-on-read ([[FrontierLog]]) — nothing rewrites a crawl-sized table
  * inside an epoch — and between folds the scheduler READS a materialized
  * per-host top-K head instead of the pending frontier (batch-exact; see
  * the head invariant at [[schedule]]), so a normal epoch neither writes
  * nor scans the full frontier. Fold epochs are bounded too: terminal
  * (fetched/failed) rows are absorbing, so each fold renames them out of
  * the staged base into the append-only frontier_archive — the fold
  * resolves O(pending wavefront + delta window) rows, independent of how
  * long the crawl has run, instead of re-writing the ever-growing terminal
  * history every R epochs. The epoch's fetch output is written ONCE (the
  * fetch_result table, durable before any consumer runs) and re-read
  * column-pruned by each consumer instead of pinning a cached copy of the
  * span corpus in executor memory — at a 100x batch the corpus doesn't fit
  * memory, and parquet column pruning means the counters/transitions reads
  * never touch the span bytes at all.
  */
final class EpochDriver(
    spark: SparkSession,
    store: SnapshotStore,
    seed: Long,
    nHosts: Int,
    epochBudgetMs: Long = 10000L,
    useBloom: Boolean = true,
    // fold the seen table's slices every N epochs (0 = off); purely a
    // file-count/scan-cost optimization — set semantics are unchanged, so
    // it is NOT part of the resume-guarded config
    compactSeenEvery: Int = 0,
    // fold frontier_base + frontier_delta into a fresh base every N epochs
    // (0 = off): bounds the delta log the merge-on-read view scans, exactly
    // as compactSeen bounds the seen partitions. View-identical, so also
    // not resume-guarded
    compactFrontierEvery: Int = 0,
    // MINOR fold cadence (0 = off): every N epochs, resolve the delta LOG
    // into one compact run (latest row per key — view-identical) and
    // refresh the scheduler head from head ∪ delta (consumed rows swept,
    // fresh rows absorbed, truncated to the remaining validity budget).
    // Touches O(delta window) bytes — never the base — so the MAJOR
    // (base-rewriting, O(pending)) fold cadence can stretch 10-100× while
    // per-epoch scheduler reads stay O(hosts·K + deltas-since-minor): the
    // head refresh re-dates the head, and the head path prunes delta files
    // to seq > head_epoch (parquet min/max skips the folded run entirely).
    // Pure execution strategy (batches, counters, views byte-identical —
    // EngineSpec/FrontierLogSpec), so not resume-guarded
    compactDeltaEvery: Int = 0,
    // cap on APPEND-table parquet roots (frontier_archive, and with the
    // stages on: corpus_sim / neardup_pairs / media_features): each append
    // commits one root, and an unbounded list grows the read plan and
    // every manifest linearly with crawl AGE — corpus_sim is read ON THE
    // EPOCH PATH (the banded probe), so its listing cost recurs every
    // epoch. When an epoch appends to a table whose root count has
    // reached the cap, the newer roots' files are MERGE-MOVED (file
    // renames, zero rewrite — these tables are immutable appends, nothing
    // ever needs resolution) into the PERMANENT oldest root, and the
    // epoch commit retires them — see consolidate for why the target must
    // be the oldest (files move at most once). Pure layout knob (view-identical,
    // FrontierLogSpec/EngineSpec), so not resume-guarded
    archiveMaxRoots: Int = 8,
    // near-dup each epoch's fetched documents against the persisted corpus
    // signature table and append the batch's signatures — the steady-state
    // training-data-pipeline shape NearDup.pairsIncremental models (q49):
    // per-epoch candidate work is O(batch × bucket occupancy), independent
    // of corpus pair density, and the corpus_sim store grows by one
    // (doc_id, simhash) row per fetched doc. RESUME-GUARDED (cfg_neardup):
    // resuming a near-dup store with the flag off would stop accumulating
    // signatures, silently under-reporting every later increment's pairs
    nearDupDocs: Boolean = false,
    // extract REAL media features from each epoch's fetched documents: the
    // corpus is INTERLEAVED text + media spans (BASELINE.json input_hint),
    // and this is the media half of the ingest the near-dup stage performs
    // for the text half — every ok doc's media spans resolve their
    // media_ref through the simulated media fetch (MediaFetchSim; a real
    // deployment GETs the ref) and decode through the production JDK
    // pixel path (Multimodal.decodeImage) into the append-only
    // `media_features` table: one (doc_id, media_ref, offset, dims,
    // embedding) row per media span, the corpus the ANN/near-dup queries
    // consume. RESUME-GUARDED (cfg_media): resuming a media store with
    // the flag off would silently stop accumulating features mid-corpus
    mediaDocs: Boolean = false,
    // schedule from the materialized frontier HEAD (top-K rows per host,
    // committed at each fold) instead of scanning the full pending
    // frontier every epoch. Batch-EXACT, never heuristic — see the head
    // invariant at schedule — and pure execution strategy (batches,
    // counters and views are byte-identical either way, pinned by
    // FrontierLogSpec), so not resume-guarded. Requires folds to refresh
    // the head; with compactFrontierEvery=0 it never activates
    scheduleFromHead: Boolean = true,
    // K1/K2 external sink (file-backed stand-in for the reference's Kafka
    // REST bridge): per-epoch fresh records batch-emitted from the
    // executors, plus one job-control completion message per epoch.
    // Side-effecting and at-least-once across crash/retry (batch files are
    // idempotent per partition) — the exact-once state stays in the
    // snapshot store, exactly like the reference's DB-vs-Kafka split
    sinkDir: Option[String] = None,
    // Kafka REST bridge base URL (e.g. "http://host:8080"): when set, every
    // emitted batch body is ALSO POSTed to <url>/topics/<topic> with the
    // bridge content type — the reference's actual transport
    // (kafka_producer.py:30-41), at-least-once via task retry. Requires
    // sinkDir (the POST rides the sink's flush path)
    sinkBridge: Option[String] = None) {

  import spark.implicits._
  import EpochDriver._

  // the bridge POST rides the sink's flush path: a bridge URL without a
  // sink dir would silently emit NOTHING over the wire — fail loudly at
  // construction instead of leaving the dependency as a comment
  require(sinkBridge.isEmpty || sinkDir.isDefined,
    "sinkBridge requires sinkDir: bridge POSTs ride the sink flush path")

  private val defaultDelayMs = 2500L

  /** Exact floor of every delay the scheduler can see under `rows`: known
    * hosts carry their robots delay, unknown hosts coalesce to
    * `defaultDelayMs`. The per-host window pre-cut in rankAndBudget is
    * exact only for a true floor, so it is DERIVED from the actual delay
    * rows rather than trusting the Sched.MinCrawlDelayMs generator
    * constant — retuning either delay source can never silently starve
    * rows past the cut. The floor rides every manifest
    * (`robots_floor_ms`), so an epoch derives its budget cut
    * (Sched.budgetCut) with zero extra Spark work.
    */
  private def floorOf(rows: Seq[(String, Long, Seq[String])]): Long =
    math.min(defaultDelayMs, rows.map(_._2).minOption.getOrElse(defaultDelayMs))

  /** Output files for a write of `rows` rows: ~1M rows per file, capped at
    * the session parallelism, so a small epoch writes one file instead of
    * one near-empty file per shuffle partition — committed bytes and file
    * counts scale with the batch, not with file-count constants
    * (FrontierLogSpec pins the byte ratio).
    */
  private def filesFor(rows: Long): Int =
    math.min(rows / 1000000L + 1, spark.sparkContext.defaultParallelism.toLong).toInt

  /** Queue a robots refresh (new (host, crawl_delay_ms, disallow) rows —
    * the reference re-fetches robots.txt mid-crawl; the engine analog is a
    * staged replacement of the versioned `robots` table). Takes effect at
    * the NEXT runEpoch: that epoch schedules under the new rows and commits
    * them (with the new delay floor) into its snapshot, so the update
    * survives resume. A floor change changes the budget cut, which
    * invalidates the materialized scheduler head (`head_cut` check) — the
    * next epochs take the exact full-view path until a fold rebuilds it.
    */
  def stageRobotsUpdate(rows: Seq[(String, Long, Seq[String])]): Unit =
    stagedRobots.set(Some(rows))

  // AtomicReference, not a volatile var: the post-commit clear must be a
  // compareAndSet — a plain check-then-assign could observe its own staged
  // value, lose the race to a concurrent stageRobotsUpdate, and then wipe
  // the NEW update with its assignment (a silently lost robots refresh)
  private val stagedRobots =
    new java.util.concurrent.atomic.AtomicReference[
      Option[Seq[(String, Long, Seq[String])]]](None)

  /** Which source the last runEpoch scheduled from ("head" | "full") —
    * test/ops visibility for the head fast path.
    */
  @volatile private[graft] var lastSchedSource: String = "none"

  /** Engine parameters that define crawl semantics, persisted into every
    * snapshot manifest and require-matched on resume: re-invoking with
    * different CLI args would otherwise silently continue the crawl under
    * different scheduling/dedup semantics (and mismatched Bloom geometry
    * would mis-route segment probes). A manifest missing a key was written
    * before that key guarded anything, so it refuses to resume too.
    */
  private val cfg: Map[String, Long] = Map(
    "cfg_seed" -> seed,
    "cfg_n_hosts" -> nHosts.toLong,
    "cfg_epoch_budget_ms" -> epochBudgetMs,
    "cfg_salt_buckets" -> SaltBuckets.toLong,
    "cfg_max_retries" -> MaxRetries.toLong,
    "cfg_bloom_segments" -> BloomSegments.toLong,
    "cfg_bloom_bits" -> BloomBitsPerSegment.toLong,
    "cfg_bloom_hash_version" -> Bloom.HashVersion,
    "cfg_neardup" -> (if (nearDupDocs) 1L else 0L),
    "cfg_media" -> (if (mediaDocs) 1L else 0L),
    "cfg_store_layout" -> EpochDriver.StoreLayoutVersion)

  private def requireCfgMatch(counters: Map[String, Long]): Unit =
    cfg.foreach { case (k, v) =>
      require(counters.contains(k),
        s"resume config mismatch: snapshot has no $k, this driver=$v")
      require(counters(k) == v,
        s"resume config mismatch: $k snapshot=${counters(k)}, this driver=$v")
    }

  /** The head a manifest describes, if any (all three keys ride together). */
  private def headMeta(m: store.Manifest): Option[HeadMeta] = for {
    e <- m.counters.get("head_epoch")
    k <- m.counters.get("head_k")
    c <- m.counters.get("head_cut")
  } yield HeadMeta(e, k, c)

  /** The one head decision every commit path takes, as a commit fragment:
    *  - REPLACE with `slice` (a freshly built or refreshed head, re-dated to
    *    this epoch, staged once) when its write produced rows;
    *  - KEEP the `standing` head's table and meta when nothing was built
    *    and the standing head is still meaningful;
    *  - DROP head table + meta otherwise: pending rows may still exist
    *    below the original cut of a drained slice, so later epochs take
    *    the exact full-view path until a fold rebuilds the head (the
    *    row-less staged dir stays unreferenced and expires).
    */
  private def headCommit(slice: Option[(DataFrame, HeadMeta)],
      standing: Option[HeadMeta]): Commit =
    slice.map { case (df, meta) =>
      (store.stage("frontier_head", df.select(FrontierLog.Cols.map(col): _*)), meta)
    } match {
      case Some((head, meta)) if head.rows > 0 =>
        Commit(replace = Map("frontier_head" -> Seq(head)), counters = meta.counters)
      case None if standing.isDefined => Commit(counters = standing.get.counters)
      case _ => Commit(drop = Set("frontier_head"))
    }

  /** Initialize snapshot v0 from the ordered seed list. */
  def init(seedUrls: Seq[String]): Unit = {
    require(store.latest().isEmpty, "store already initialized")
    // the INIT robots resolution (a real deployment fetches robots.txt for
    // the seed hosts here): init commits these rows as the versioned
    // `robots` store table, and every later epoch re-resolves robots FROM
    // THE STORE — a mid-crawl update (stageRobotsUpdate) or a resume in a
    // fresh JVM both see the table, never this generator
    val robotsRows =
      Sched.robotsFor((0 until nHosts).map(graft.gen.SimWeb.hostName), seed)
    val robots = Sched.robotsDf(spark, robotsRows)
    val floorMs = floorOf(robotsRows)
    val raw = seedUrls.toDF("url")
    val canoned = Canon.canonicalize(raw, "url", "https://unknown.example.com")
      .filter(Canon.isHttp(col("canon_url")))
      .select("canon_url", "host").distinct()
    val frontier = Sched.allowed(canoned, robots, defaultDelayMs)
      .select(col("canon_url"), col("host"),
        lit(0).as("depth"), lit(1.0).as("score"),
        lit("pending").as("state"), lit(0).as("retry_count"),
        lit(0L).as("discovered_epoch"), lit(0L).as("seq"))
    // the seed frontier is staged once and every other init table derives
    // from the written bytes; like every staged dir it stays unreferenced
    // (so invisible) until the init commit names it, overwritten on re-run
    val base = store.stage("frontier_base", frontier, Some("state"))
    val seen = store.read(base).select("canon_url")
    val seenSlice = store.appendSeen(seen)
    // the head exists from epoch 0 (same slice a fold would build): the
    // first fold-cadence window of epochs schedules from O(hosts·K) rows
    // too, instead of scanning the full seed frontier until the first fold
    val cut = Sched.budgetCut(epochBudgetMs, floorMs)
    val meta = HeadMeta(0L, (compactFrontierEvery.toLong + 1L) * cut, cut)
    val head = headCommit(
      if (scheduleFromHead && compactFrontierEvery > 0 && meta.k > 0)
        Some((Sched.headSlice(store.read(base), meta.k), meta))
      else None, None)
    val all = head ++ Commit(
      replace = Map("frontier_base" -> Seq(base), "robots" -> Seq(store.stage("robots", robots))),
      append = Map("seen" -> seenSlice, "seen_bloom" -> store.stage("seen_bloom",
        Bloom.buildSegments(seen, "canon_url", BloomSegments, BloomBitsPerSegment))),
      counters = cfg + ("seeds" -> base.rows) + ("robots_floor_ms" -> floorMs))
    store.commit(0L, all.replace, all.append, all.counters)
    ()
  }

  /** The LIVE fold window as of manifest `m`: base ∪ delta rows,
    * unresolved. Excludes the terminal archive by construction — archived
    * rows are absorbing and never contend with a live row, so every
    * resolve over this window is O(pending + recent terminals + delta).
    */
  private def frontierAll(m: store.Manifest): DataFrame = {
    val base = store.readTable(m, "frontier_base")
      .getOrElse(sys.error("store has no frontier_base"))
    store.readTable(m, "frontier_delta") match {
      case Some(d) => base.unionByName(d)
      case None => base
    }
  }

  /** One epoch's inputs (`m` = the manifest it builds on), its branches,
    * and the caches and Bloom broadcast it holds.
    *
    * A branch ([[fork]]) is a thread of its own for one layer or write,
    * created by the thread that forks it and ending with its layer.
    * SparkContext's local properties are inheritable and cloned when a
    * thread is created, so each branch runs with its forking thread's
    * properties as they were at the fork: every job of the epoch carries
    * the caller's tags (job group, scheduler pool, a tracer's span), and
    * none carries another epoch's — a pooled thread reused by a later
    * epoch would keep the properties it was created with. [[join]] waits
    * for every branch, those forked by other branches included, before it
    * returns or rethrows, so [[release]] runs only once no branch can still
    * read what it unpersists or destroys.
    */
  private final class Ctx(val m: store.Manifest) {
    def epoch: Long = m.epoch + 1
    private val held = new ConcurrentLinkedQueue[() => Unit]()
    private val branches = new ConcurrentLinkedQueue[FutureTask[_]]()
    private val failures = new ConcurrentLinkedQueue[Throwable]()

    def keep(df: DataFrame): DataFrame = {
      val d = df.cache(); held.add(() => d.unpersist()); d
    }
    def keep[T](b: Broadcast[T]): Broadcast[T] = { held.add(() => b.destroy()); b }

    /** Run `body` beside the forking thread. */
    def fork[T](name: String)(body: => T): Branch[T] = {
      val task = new FutureTask[T](() =>
        try body catch { case t: Throwable => failures.add(t); throw t })
      branches.add(task)
      val t = new Thread(task, s"epoch-$epoch-$name")
      t.setDaemon(true)
      t.start()
      new Branch(task)
    }

    /** `body`'s value once every branch has ended. If `body` or a branch
      * failed, the first failure (in the order they happened) is rethrown
      * instead, only once every branch has ended.
      */
    def join[T](body: => T): T = {
      val v = try Some(body) catch { case t: Throwable => failures.add(t); None }
      // drain, not iterate: a branch may fork more branches while it runs,
      // and each must end before release
      var b = branches.poll()
      while (b != null) {
        try b.get() catch { case _: ExecutionException => () }
        b = branches.poll()
      }
      Option(failures.peek()).foreach(throw _)
      v.get
    }

    def release(): Unit = held.forEach(_())
  }

  /** Run one epoch on top of the latest snapshot; returns epoch metrics. */
  def runEpoch(): Map[String, Long] = {
    val m = store.latest().getOrElse(sys.error("store not initialized"))
    requireCfgMatch(m.counters)
    val c = new Ctx(m)
    val staged = stagedRobots.get()
    try {
      val (layers, metrics) = c.join(epochCommit(c, staged))
      // ---- the ONE epoch commit: every layer's fragment, all-or-nothing,
      // on top of the manifest the epoch read
      val all = consolidate(c.m, layers)
      store.commit(c.epoch, all.replace, all.append, all.counters, all.drop,
        parent = Some(c.m))
      // the staged robots rows are durable in this epoch's snapshot now; a
      // failed commit leaves them staged so the retry still applies them.
      // Atomic compare-and-clear: an update staged WHILE this epoch ran
      // (staging is cross-thread by design) must survive to the next
      // epoch, not be wiped with the one just committed — including one
      // that lands between reading the field and clearing it
      if (staged.isDefined) stagedRobots.compareAndSet(staged, None)
      metrics
    } finally c.release()
  }

  /** The epoch's layers as a dependency graph. The critical path —
    * robots → schedule → fetch → extract → dedup → the seen slice — runs
    * on the calling thread, and every other layer is a branch, forked once
    * its inputs exist:
    *  - from the start: the Bloom segment merge and broadcast;
    *  - once fetch is staged: near-dup and media, the longest branches;
    *  - once the seen slice is written (the write runs dedup): the
    *    outcomes tally, the Bloom log write, the frontier update and the
    *    sink, while the seen fold runs on the calling thread.
    * The scheduler is FIFO: a job waits for the task slots of every job
    * submitted before it. So the tally, which only the counters need, is
    * forked after the slice rather than beside extract, whose jobs it
    * would delay.
    * Counts come from the writes (the seen slice's rows are the epoch's
    * emitted count), so no branch waits on a count job. Returns the epoch
    * commit, its fragments merged in a fixed order whatever order the
    * branches end in, and the epoch's metrics.
    */
  private def epochCommit(c: Ctx, staged: Option[Seq[(String, Long, Seq[String])]])
      : (Commit, Map[String, Long]) = {
    val bloom = c.fork("bloom")(bloomFilter(c))
    val (robotsDf, floorMs, robotsCommit) = robotsInEffect(c.m, staged)
    val cut = Sched.budgetCut(epochBudgetMs, floorMs)
    val (ranked, deltaAll) = schedule(c, robotsDf, floorMs, cut)
    val (fetchResult, fetched, okDocs) = fetch(c, ranked)
    val nd = c.fork("neardup")(nearDup(c, okDocs, fetchResult.rows))
    val md = c.fork("media")(media(c, okDocs, fetchResult.rows))
    val (candDepth, nDiscovered) = extract(c, okDocs, robotsDf)
    // the slice's write fills the cached fresh rows before any other
    // reader plans them: a reader planned while a cache is still empty
    // runs its own job to fill it
    val fresh = dedup(c, candDepth, bloom.get)
    val slice = store.appendSeen(fresh)
    val nEmitted = slice.rows
    val transitions = transitionsOf(ranked, fetched)
    val tally = c.fork("outcomes")(outcomes(transitions))
    val bloomLog = c.fork("bloom-log")(bloomUpdate(c, fresh))
    // the delta holds one transition per fetched row plus the fresh rows
    val update = c.fork("frontier")(frontierUpdate(c, cut, transitions, fresh,
      deltaAll, fetchResult.rows + nEmitted))
    val sunk = c.fork("sink")(sink(c, fresh, nEmitted))
    val seen = seenUpdate(c, slice)
    sunk.get
    val (nFetched, nErrors) = tally.get
    val epochCounters = Map(
      "epoch" -> c.epoch,
      "fetched" -> nFetched,
      "errors" -> nErrors,
      "discovered" -> nDiscovered,
      "deduped" -> (nDiscovered - nEmitted),
      "emitted" -> nEmitted)
    (Commit(append = Map("fetch_result" -> fetchResult),
        counters = cfg ++ epochCounters) ++ robotsCommit ++ nd.get ++ md.get ++
      seen ++ bloomLog.get ++ update.get,
      epochCounters ++ nd.get.counters ++ md.get.counters)
  }

  /** ---- robots in effect for THIS epoch (J3): a staged update wins (and
    * is committed with this epoch's snapshot, so it survives resume); else
    * the versioned store table init committed (what every resume reads).
    * Returns the robots rows, the delay floor, and the commit fragment.
    */
  private def robotsInEffect(m: store.Manifest,
      staged: Option[Seq[(String, Long, Seq[String])]]): (DataFrame, Long, Commit) = {
    val (df, floorMs, replace) = staged match {
      case Some(rows) =>
        val df = Sched.robotsDf(spark, rows)
        (df, floorOf(rows), Map("robots" -> Seq(store.stage("robots", df))))
      case None =>
        (store.readTable(m, "robots").get, m.counters("robots_floor_ms"),
          Map.empty[String, Seq[Staged]])
    }
    (df, floorMs, Commit(replace = replace,
      counters = Map("robots_floor_ms" -> floorMs)))
  }

  /** ---- schedule: W2 rank + T4 budget over the merged pending view;
    * returns the ranked batch (cached: BATCH-sized after the budget cut,
    * and both the fetch and the frontier transitions consume it — without
    * the cache the second consumer recomputes the pending scan + window)
    * and the delta log as read for it.
    *
    * Head fast path — the head invariant: a head of K rows/host built at
    * epoch `he` still contains every host's true top-cut at epoch e iff
    * K >= (e - he) * cut — each epoch consumes at most `cut` rows per
    * host, rows only leave pending by being scheduled (so their
    * transitions are in the delta), and scores never rise. When valid,
    * scheduling reads O(hosts*K + delta) rows instead of the whole
    * pending frontier; when stale or absent it falls back to the full
    * merge-on-read view. Both sources contain the true per-host top-cut,
    * so the window + budget cut yield identical batches. The check reads
    * counters first and the table last: a permanently stale head is
    * discarded without listing its dir. `head_cut`
    * is the budget cut the head was built under: per-host consumption
    * bounds computed under one cut are meaningless under another, so any
    * cut change invalidates the head until the next fold rebuilds it.
    */
  private def schedule(c: Ctx, robotsDf: DataFrame, floorMs: Long,
      cut: Long): (DataFrame, Option[DataFrame]) = {
    val headSrc = for {
      h <- headMeta(c.m)
      if scheduleFromHead && h.cut == cut && h.k >= (c.epoch - h.epoch) * cut
      df <- store.readTable(c.m, "frontier_head")
    } yield (df, h.epoch)
    lastSchedSource = if (headSrc.isDefined) "head" else "full"
    // head path: the head already resolves every delta row with
    // seq <= head_epoch (a fold-built head post-dates the dropped log; a
    // minor-refreshed head absorbed the folded run), so prune the delta
    // scan to strictly newer rows — each delta file is one epoch, so
    // parquet min/max stats on seq skip old files (and the whole folded
    // run) at footer cost. The full-view fallback must NOT prune: the
    // base pre-dates every delta row
    val deltaAll = store.readTable(c.m, "frontier_delta")
    val pending = FrontierLog.pending(
        headSrc.fold(store.readTable(c.m, "frontier_base").get)(_._1),
        headSrc.fold(deltaAll)(h => deltaAll.map(_.filter(col("seq") > h._2))))
      .join(broadcast(robotsDf.select("host", "crawl_delay_ms")), Seq("host"), "left")
      .withColumn("crawl_delay_ms", coalesce(col("crawl_delay_ms"), lit(defaultDelayMs)))
    (c.keep(Sched.rankAndBudget(pending, epochBudgetMs, floorMs)), deltaAll)
  }

  /** ---- fetch (S1) — salted partitions, partition-local lineage. The
    * full fetch output is staged FIRST (the dir this commit will
    * reference; a crash re-runs the deterministic fetch over the same
    * batch into the same dir), then every consumer reads it column-pruned
    * — transitions/counters never deserialize the spans. Returns the
    * staged write, the fetch table and its ok documents.
    */
  private def fetch(c: Ctx, ranked: DataFrame): (Staged, DataFrame, DataFrame) = {
    val batch = Sched.fetchBatch(ranked, c.epoch, SaltBuckets,
      spark.sparkContext.defaultParallelism)
    val staged = store.stage("fetch_result", FetchSim.run(batch, seed, nHosts).toDF())
    val fetched = store.read(staged)
    (staged, fetched, fetched.filter(col("status") === "ok")
      .select(col("canon_url").as("doc_id"), col("depth"), col("spans")))
  }

  /** ---- extract (S2/D2) + canon (X14) + robots filter (J3/F3): the
    * distinct allowed candidates at their minimum discovery depth (cached:
    * counted here, deduped next), and their count.
    */
  private def extract(c: Ctx, okDocs: DataFrame,
      robotsDf: DataFrame): (DataFrame, Long) = {
    val cand = Extract.canonCandidates(okDocs.select("doc_id", "spans"))
    val candDepth = c.keep(Sched.allowed(cand, robotsDf, defaultDelayMs)
      .select("canon_url", "host", "src_doc")
      .join(okDocs.select(col("doc_id").as("src_doc"), col("depth")), Seq("src_doc"))
      .groupBy("canon_url", "host")
      .agg((min("depth") + 1).cast("int").as("depth")))
    (candDepth, candDepth.count())
  }

  /** ---- the seen set's Bloom filter: the committed segment log merged on
    * the executors (one final blob per segment reaches the driver) and
    * broadcast, held by the epoch until it ends.
    */
  private def bloomFilter(c: Ctx): Option[Broadcast[SegmentedBloom]] =
    if (!useBloom) None
    else store.readTable(c.m, "seen_bloom").map(df => c.keep(Seen.broadcastSegments(
      spark, Bloom.mergedSegments(df, BloomSegments, BloomBitsPerSegment))))

  /** ---- the seen set's Bloom log: this epoch's fresh URLs as one blob per
    * segment, appended (Bloom is append-only, and readers OR-merge
    * segments). A major fold folds the log too: every appended (epoch,
    * segment) row plus this epoch's OR-merge into one row per segment, so
    * the per-epoch filter read merges O(segments + R) blobs, not
    * O(epochs × segments) — OR is associative, so bit-identical.
    */
  private def bloomUpdate(c: Ctx, fresh: DataFrame): Commit = {
    val bloomNew = Bloom.buildSegments(fresh.select("canon_url"),
      "canon_url", BloomSegments, BloomBitsPerSegment)
    if (majorFold(c.epoch)) Commit(replace = Map("seen_bloom" -> Seq(store.stage(
      "seen_bloom", Bloom.foldSegments(
        store.readTable(c.m, "seen_bloom").get.unionByName(bloomNew))))))
    else Commit(append = Map("seen_bloom" -> store.stage("seen_bloom", bloomNew)))
  }

  /** ---- dedup vs seen: Bloom prefilter (D3) + exact anti-join (J2) over
    * the bucketed seen scan (the huge, append-only side arrives
    * pre-partitioned by hash(canon_url) — no big-side Exchange). Returns
    * the fresh frontier rows (cached: emitted, appended to seen, to the
    * Bloom log and to the delta).
    */
  private def dedup(c: Ctx, candDepth: DataFrame,
      bloom: Option[Broadcast[SegmentedBloom]]): DataFrame =
    c.keep(Seen.filterUnseen(candDepth, "canon_url", store.readSeen(c.m), bloom)
      .withColumn("score", lit(1.0) / (lit(1.0) + col("depth")))
      .withColumn("state", lit("pending"))
      .withColumn("retry_count", lit(0))
      .withColumn("discovered_epoch", lit(c.epoch))
      .select(EpochDriver.RowCols.map(col): _*))

  /** Frontier transitions of the scheduled rows (fetched ok → fetched;
    * error → retry w/ score decay, dead at MaxRetries — T5/T7); everything
    * else rests untouched in base/older deltas. The inner join is
    * batch-sized on both sides; no job runs here.
    */
  private def transitionsOf(ranked: DataFrame, fetched: DataFrame): DataFrame = {
    val outcome = fetched.select(col("canon_url"), col("status").as("_status"))
    ranked.select(EpochDriver.RowCols.map(col): _*)
      .join(outcome, Seq("canon_url"))
      .withColumn("state",
        when(col("_status") === "ok", lit("fetched"))
          .when(col("_status") === "error" && col("retry_count") + 1 >= MaxRetries,
            lit("failed"))
          .otherwise(col("state")))
      .withColumn("score",
        when(col("_status") === "error" && col("retry_count") + 1 < MaxRetries,
          col("score") * 0.5).otherwise(col("score")))
      .withColumn("retry_count",
        when(col("_status") === "error", col("retry_count") + 1)
          .otherwise(col("retry_count")))
      .drop("_status")
  }

  /** ---- outcomes: one batch-sized pass over the post-transition states
    * yields the fetched and error tallies (errors are exactly failed +
    * still-pending).
    */
  private def outcomes(transitions: DataFrame): (Long, Long) = {
    val states = transitions.groupBy("state").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def n(s: String) = states.getOrElse(s, 0L)
    (n("fetched"), n("failed") + n("pending"))
  }

  /** ---- K1 record sink + K2 job-control message (kafka_producer.py
    * send_crawling_completion semantics: count==0 ⇒ fail with reason, no
    * wall clock — completed_at is virtual epoch time in KST).
    */
  private def sink(c: Ctx, fresh: DataFrame, nEmitted: Long): Unit =
    sinkDir.foreach { d =>
      graft.sinks.RecordSink.emit(
        fresh.withColumn("epoch", lit(c.epoch)), "canon_url",
        s"$d/frontier-records", tag = s"e${c.epoch}", bridgeUrl = sinkBridge)
      val completedAt = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
        .plusMinutes(c.epoch).atOffset(java.time.ZoneOffset.ofHours(9))
        .format(java.time.format.DateTimeFormatter.ofPattern(
          "yyyy-MM-dd'T'HH:mm:ssxxx"))
      val control = Seq((s"epoch_${c.epoch}",
        if (nEmitted > 0) "done" else "fail",
        "collection",
        if (nEmitted > 0) null else "review count 0",
        nEmitted, completedAt))
        .toDF("job_id", "status", "step", "failure_reason",
          "expected_count", "completed_at")
      graft.sinks.RecordSink.emit(control, "job_id", s"$d/job-control",
        tag = s"e${c.epoch}", bridgeUrl = sinkBridge)
    }

  /** ---- incremental near-dup over the epoch's fetched documents (the
    * q49 steady-state shape as an ENGINE stage): each ok doc's text comes
    * from its own spans in offset order (a per-row projection — a
    * fetch_result row is one document), the batch is simhashed per row
    * with the production xxhash64/64 path, its bands are probed by the
    * persisted corpus signatures plus the batch itself (an empty corpus on
    * the first epoch) — candidate work O(batch × bucket occupancy),
    * old-old pairs never generated — and the batch's signatures are
    * appended so the next epoch probes this one too. Banding geometry is
    * re-derived per epoch from the cumulative doc count (B is a pure cost
    * knob, never a recall knob — NearDupSpec), so signatures are
    * geometry-free and a growing corpus widens its own banding. sim_docs
    * carries forward across empty epochs like delta_rows: a counter absent
    * from one manifest would reset the cumulative count (and the derived
    * banding geometry) on the next. Files are sized by `fetchRows`, the
    * fetch table's rows (a bound on the ok docs).
    */
  private def nearDup(c: Ctx, okDocs: DataFrame, fetchRows: Long): Commit =
    if (!nearDupDocs) Commit()
    else {
      // TOTAL over the batch: one signature per fetched doc (a doc with no
      // text signs 0), so the sim_docs counter and the corpus_sim row count
      // stay equal BY CONSTRUCTION. Staged into this commit's corpus_sim
      // dir and probed as a file scan (see incrementalFromSimhash for why
      // not a cache) against the committed corpus dirs, none on the first
      // epoch
      val sim = store.stage("corpus_sim", NearDup.simhashTotal(
        okDocs.select(col("doc_id"), NearDup.spansText(col("spans")).as("text")),
        NearDup.XxHashBits, NearDup.xxTokenHash).coalesce(filesFor(fetchRows)))
      val simDocs = c.m.counters.getOrElse("sim_docs", 0L) + sim.rows
      val blocks = graft.functions.Banding.blocksFor(simDocs,
        hashBits = NearDup.XxHashBits)
      val pairs = store.stage("neardup_pairs", NearDup.incrementalFromSimhash(
          store.read(sim), store.read(sim.schema, c.m.tables.getOrElse("corpus_sim", Nil)),
          blocks, NearDup.XxHashBits)
        .withColumn("epoch", lit(c.epoch)))
      Commit(append = Map("corpus_sim" -> sim, "neardup_pairs" -> pairs),
        counters = Map("sim_docs" -> simDocs, "neardup_pairs" -> pairs.rows))
    }

  /** ---- media feature extraction over the epoch's fetched documents (the
    * media half of the interleaved corpus, mirroring the near-dup stage's
    * text half): each ok doc's media spans resolve their media_ref through
    * the simulated media fetch and decode through the production JDK pixel
    * path — REAL container bytes, REAL raster decode, luma-grid embedding
    * — inside one mapPartitions (payload bytes live only inside the task;
    * the table stores features, never payloads, so nothing raster-sized
    * ever shuffles or persists). media_rows carries forward like sim_docs.
    */
  private def media(c: Ctx, okDocs: DataFrame, fetchRows: Long): Commit =
    if (!mediaDocs) Commit()
    else {
      val refs = okDocs
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .filter(col("span.kind") === "media" && col("span.media_ref") =!= "")
        .select(col("doc_id"), col("span.media_ref").as("media_ref"),
          col("span.offset").as("offset"))
      val theSeed = seed
      val feats = refs.as[(String, String, Int)].mapPartitions { it =>
        // partition-local codec init (the extractFeatures posture)
        java.lang.System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (doc, ref, off) =>
          val payload = graft.fetch.MediaFetchSim.fetchBytes(ref, theSeed)
          // shared decode-or-stub posture (incl. header-dims recovery
          // for undecodable-but-headered bytes) — one implementation,
          // so this stage and extractFeatures can never drift
          val (w, h, emb, _) =
            graft.operators.Multimodal.imageFeatures(payload)
          (doc, ref, off, w, h, payload.length, emb)
        }
      }.toDF("doc_id", "media_ref", "offset", "width", "height",
        "n_bytes", "embedding")
      // repartition AFTER the decode, never coalesce: coalesce is
      // narrow, so it would collapse the uncached synth+decode map
      // itself to the output file count — at small batches ONE task
      // doing every JPEG round-trip (measured: +51 s/6-epoch run).
      // The shuffle moves only feature rows (~hundreds of bytes each);
      // file sizing tracks the fetched-doc count (spans/doc is a
      // small corpus constant, so ~1M-row files up to that factor)
      val written = store.stage("media_features", feats.repartition(filesFor(fetchRows)))
      Commit(append = Map("media_features" -> written),
        counters = Map("media_rows" ->
          (c.m.counters.getOrElse("media_rows", 0L) + written.rows)))
    }

  /** ---- seen: the epoch's fresh URLs as a bucketed slice (see
    * SnapshotStore). Compaction is GENERATIONAL: on the cadence, tier 1
    * folds only this cadence window's slices (the last R dirs, this
    * epoch's included) — O(R × batch) I/O, older generations never
    * touched; tier 2 folds every dir once the list reaches
    * SeenFullFoldPartitions — amortized full-rewrite cost
    * O(total / SeenFullFoldPartitions). The fold replaces the window in
    * the epoch commit; expireUnreferenced deletes the folded dirs.
    * `slice` is the epoch's staged slice ([[SnapshotStore.appendSeen]]).
    */
  private def seenUpdate(c: Ctx, slice: Staged): Commit = {
    val gens = store.committed(c.m, "seen") :+ slice
    if (compactSeenEvery > 0 && c.epoch % compactSeenEvery == 0) {
      val window = if (gens.size >= EpochDriver.SeenFullFoldPartitions)
        gens.size else compactSeenEvery
      val (older, folded) = gens.splitAt(gens.size - window)
      Commit(replace = Map("seen" -> (older :+ store.compactSeen(folded.map(_.dir)))))
    } else Commit(append = Map("seen" -> slice))
  }

  /** Whether `epoch` is a major fold: it rewrites the frontier base and
    * folds the Bloom log.
    */
  private def majorFold(epoch: Long): Boolean =
    compactFrontierEvery > 0 && epoch % compactFrontierEvery == 0

  /** ---- frontier update: the frontier delta, committed as one of three
    * shapes:
    *  - PLAIN: append the delta (zero rows in an all-empty epoch);
    *  - MINOR fold: resolve the delta LOG into one run and refresh the head;
    *  - MAJOR fold: rewrite the base, archive its terminals, rebuild the
    *    head, drop the delta log.
    * Cumulative fold-cost counters (bytes written by major base rewrites
    * and by minor delta resolves) carry forward: the evidence that minor
    * folds let the major cadence stretch is their RATIO in a CLI A/B, read
    * straight out of the final manifest.
    *
    * In a minor fold the head refresh is a branch of its own beside the
    * delta write; a major fold's head waits for the base it is cut from.
    */
  private def frontierUpdate(c: Ctx, cut: Long, transitions: DataFrame,
      fresh: DataFrame, deltaAll: Option[DataFrame], deltaRows: Long): Commit = {
    val (m, epoch) = (c.m, c.epoch)
    // deltas are plain parquet (state as a data column): a fold resolves
    // the log by key, and no delta read prunes by state
    val deltaDf = transitions.unionByName(fresh)
      .withColumn("seq", lit(epoch))
      .repartition(filesFor(deltaRows))
    val foldBytes = m.counters.view.filterKeys(k =>
      k == "fold_base_bytes" || k == "fold_delta_bytes").toMap
    // delta_rows: upper bound on the delta table's rows, carried for
    // minor-fold file sizing only (a fold's repartition must track the
    // run's magnitude, not a file-count constant). Major folds drop the
    // log and the counter together
    val deltaRowsBound = m.counters.getOrElse("delta_rows", 0L) + deltaRows
    // a cut change PERMANENTLY invalidates a standing head, so the first
    // epoch that runs under the new cut drops head + meta. Merely failing
    // the scheduling check is not enough: epochs under a different cut
    // consume up to THAT cut per host, so if the floor later reverted, the
    // validity arithmetic would under-count the mismatched epochs'
    // consumption and re-validate an over-consumed head
    val standing = headMeta(m).filter(_.cut == cut)
    // fold only when there is something to fold: new delta rows, or a log
    // of more than one run (an empty epoch over an already-folded single
    // run would rewrite identical bytes)
    val minorFold = compactDeltaEvery > 0 && epoch % compactDeltaEvery == 0 &&
      (deltaRows > 0 || m.tables.get("frontier_delta").exists(_.size > 1))
    if (majorFold(epoch)) {
      // stage the fold once (state-partitioned, the dir the commit
      // names), then derive the HEAD from the written bytes — the
      // top-(R+1)*cut rows per host, the only rows the next R epochs of
      // scheduling can possibly touch. Building it here rides the fold's
      // amortization: one extra host-keyed top-k pass over the pending
      // slice every R epochs buys every in-between epoch a head-sized
      // scheduler read. The base rewrite + dropped delta log invalidate
      // any older head, so nothing stands when none is built
      val base = store.stage("frontier_base",
        FrontierLog.resolve(frontierAll(m).unionByName(deltaDf)), Some("state"))
      // bytes this major fold REWROTE (the write, before terminals rename
      // out: the write cost was paid for them too)
      val baseBytes = m.counters.getOrElse("fold_base_bytes", 0L) + base.bytes
      val archived = archiveTerminals(base)
      val meta = HeadMeta(epoch, (compactFrontierEvery.toLong + 1L) * cut, cut)
      val slice = if (!scheduleFromHead) None else Some((Sched.headSlice(
        store.read(base).filter(col("state") === "pending"), meta.k), meta))
      val head = headCommit(slice, None)
      Commit(replace = Map("frontier_base" -> Seq(base)),
        append = archived,
        counters = foldBytes + ("fold_base_bytes" -> baseBytes),
        drop = Set("frontier_delta")) ++ head
    } else if (minorFold) {
      // ---- MINOR fold: resolve the delta LOG into one run (latest row
      // per key — view-identical, the same resolution the major fold
      // would apply). Touches O(delta window) bytes; the base is NEVER
      // read or written here — this is what lets the major O(pending)
      // rewrite cadence stretch while the delta list and the scheduler
      // head stay compact. The prior log is deltaAll, already read ONCE
      // for this epoch's schedule
      val allDelta = deltaAll.fold(deltaDf)(_.unionByName(deltaDf))
      // Head refresh: head' = top-K' per host of pending(head ∪ delta),
      // K' = hk − (epoch − he)·cut (the budget not yet consumable since
      // the head was built). Exactness: the head at `he` contained the
      // true per-host top-hk; since then ≤ (epoch−he)·cut rows per host
      // left pending (only scheduled rows transition) and every touched
      // or fresh row is in the delta, so pending(head ∪ delta) ⊇ the
      // true per-host top-K' — and its top-K' slice EQUALS the true
      // top-K' (same total order as the scheduler). Re-dating the head
      // to `epoch` with budget K' makes the standard validity check
      // exact, and sweeps consumed rows out of storage. Skipped when
      // K' < cut — such a head could never serve even the next epoch
      // (and by the same arithmetic the standing head is stale for every
      // later epoch too, so keeping its meta unchanged is harmless). The
      // hard off switch skips refreshes too: a store resumed with the
      // head path disabled must not keep paying the per-host window sort
      // for a head no scheduler reads (meta is kept, so a later head-on
      // resume re-validates against the true elapsed-epoch consumption)
      val head = c.fork("head") {
        val slice = for {
          h <- standing if scheduleFromHead
          kRem = h.k - (epoch - h.epoch) * cut
          if kRem >= cut
          df <- store.readTable(m, "frontier_head")
        } yield (Sched.headSlice(FrontierLog.pendingResolved(df,
          Some(allDelta.filter(col("seq") > h.epoch))), kRem),
          HeadMeta(epoch, kRem, cut))
        headCommit(slice, standing)
      }
      val run = store.stage("frontier_delta",
        FrontierLog.resolve(allDelta).repartition(filesFor(deltaRowsBound)))
      val deltaBytes = m.counters.getOrElse("fold_delta_bytes", 0L) + run.bytes
      Commit(replace = Map("frontier_delta" -> Seq(run)),
        counters = foldBytes + ("fold_delta_bytes" -> deltaBytes) +
          ("delta_rows" -> deltaRowsBound)) ++ head.get
    } else {
      val delta = store.stage("frontier_delta", deltaDf)
      Commit(append = Map("frontier_delta" -> delta),
        counters = foldBytes + ("delta_rows" -> deltaRowsBound)) ++
        headCommit(None, standing)
    }
  }

  /** ---- archive-by-rename: fetched/failed are ABSORBING (a URL enters the
    * frontier exactly once — candidates are anti-joined against seen —
    * and only pending rows are ever scheduled), so a fold's terminal
    * partitions are immutable forever. MOVE them — an O(1) directory
    * rename inside the uncommitted staging space, crash-safe by the same
    * argument as every staged write — into the append-only
    * frontier_archive table instead of carrying them through every later
    * fold: fold I/O is O(pending wavefront + delta window), independent of
    * crawl AGE. A draining fold (no pending rows left) archives them too
    * and commits a row-less base. Returns the append entry, if any rows
    * moved.
    */
  private def archiveTerminals(base: Staged): Map[String, Staged] = {
    val arch = store.stagingDir("frontier_archive")
    store.deletePath(arch) // clobber a crashed attempt's orphan
    val moved = Seq("fetched", "failed")
      .filter(st => store.pathExists(s"${base.dir}/state=$st"))
    moved.foreach(st =>
      store.movePath(s"${base.dir}/state=$st", s"$arch/state=$st"))
    if (moved.isEmpty) Map.empty
    else Map("frontier_archive" -> Staged(arch, base.schema, 0L, 0L))
  }

  /** ---- append-root consolidation, a fragment of the epoch commit. For
    * every append-rooted table (frontier_archive with its state= subdirs,
    * corpus_sim, neardup_pairs, media_features) that this epoch appends to
    * and whose parent `m` already holds `archiveMaxRoots` roots, the
    * parent's newer roots' files are merge-moved (renames, zero rewrite)
    * into its OLDEST root, and the commit names that root plus this
    * epoch's dir in place of the append. So no manifest names more than
    * max(cap, 2) roots of a table, and the epoch still writes one
    * manifest. Emptied roots leave the manifest with the commit and expire
    * with the next sweep.
    *
    * The target being the PERMANENT head root makes every file move at
    * most once over the table's lifetime: later appends land AFTER the
    * head in the manifest list, so a consolidated file is never a move
    * source again (a newest-root target would re-rename the ENTIRE
    * history every cycle — O(crawl age) renames, and names growing a
    * prefix each pass toward the filesystem's 255-char component limit).
    * The r<i>- prefix disambiguates same-named files from different
    * source roots within one pass; across passes the part files'
    * write-job UUIDs already make names unique.
    *
    * Crash-safe by ordering: the moves run once every branch has ended
    * (near-dup's probe lists corpus_sim's dirs) and before the commit, and
    * they move only committed files between roots the parent references,
    * so every file is in exactly one referenced place at every instant.
    * If the commit never lands, the parent still reads every row exactly
    * once (a drained root reads as an empty dir) and the re-run moves
    * whatever is left; if it lands, the head root it names holds every
    * moved file.
    */
  private def consolidate(m: store.Manifest, epoch: Commit): Commit = {
    val merged = EpochDriver.AppendRootTables.collect {
      case (t, subdirs) if epoch.append.contains(t) &&
          m.tables.get(t).exists(_.size >= archiveMaxRoots) =>
        val roots = m.tables(t)
        roots.tail.zipWithIndex.foreach { case (root, i) =>
          subdirs.foreach(sub => store.moveFilesInto(s"$root$sub",
            s"${roots.head}$sub", s"r$i-"))
        }
        t -> (store.committed(m, t).take(1) :+ epoch.append(t))
    }.toMap
    epoch.copy(append = epoch.append -- merged.keys) ++ Commit(replace = merged)
  }

  /** Run epochs until `maxEpochs` or an empty batch (exhausted frontier). */
  def run(maxEpochs: Int): Seq[Map[String, Long]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    var i = 0
    var continue = true
    while (i < maxEpochs && continue) {
      val metrics = runEpoch()
      // between epochs (no live job holds lineage): reclaim data dirs the
      // latest manifest no longer references — compaction otherwise
      // strands one full frontier_base copy per fold on disk forever
      store.expireUnreferenced()
      out += metrics
      continue = metrics("fetched") + metrics("errors") > 0
      i += 1
    }
    out.toSeq
  }

  // ---- readers used by tests/metrics (merge-on-read views)
  def frontier(): DataFrame = {
    val m = store.latest().get
    // the append-only terminal-history archive (see archiveTerminals):
    // its keys are disjoint from the live window (terminal states are
    // absorbing and a URL enters the frontier once), so the union needs no
    // resolve over the archive — the view stays O(live) in shuffle work.
    // NOTHING on the epoch path reads the archive; only this view does. A
    // root a consolidation drained before a commit that never landed reads
    // as an empty dir
    val live = FrontierLog.resolve(frontierAll(m))
    store.readTable(m, "frontier_archive").fold(live)(live.unionByName(_))
      .drop("seq")
  }
  def seenSet(): DataFrame = store.readSeen(store.latest().get)
  def fetchLog(): Option[DataFrame] =
    store.latest().flatMap(m => store.readTable(m, "fetch_result"))
      .map(_.select("epoch", "partition_id", "canon_url", "host", "rank",
        "status", "n_spans", "n_urls_out"))
  /** One row per committed epoch (from 1): that epoch's counters in the
    * newest manifest committed for it.
    */
  def metrics(): Option[DataFrame] = store.latest().filter(_.epoch >= 1).map(last =>
    Iterator.iterate(last)(m => store.readManifest(m.parent)).takeWhile(_.epoch >= 1)
      .toSeq.distinctBy(_.epoch).map(_.counters).map(c => (c("epoch"), c("fetched"),
        c("errors"), c("discovered"), c("deduped"), c("emitted")))
      .toDF("epoch", "fetched", "errors", "discovered", "deduped", "emitted"))
  def docs(): Option[DataFrame] =
    store.latest().flatMap(m => store.readTable(m, "fetch_result"))
      .map(_.filter(col("status") === "ok")
        .select(col("canon_url").as("doc_id"), col("depth"), col("spans")))
}

object EpochDriver {
  /** Version of the snapshot-store table layout: 6 = log-structured
    * frontier (frontier_base + frontier_delta, FrontierLog) + single
    * fetch_result lineage table + the seen set as the manifest table
    * `seen`, hash-bucketed by the count its manifest records
    * (`seen_buckets`, the creating session's shuffle width) + every
    * table's schema in the manifest (`schemas`) + dirs named relative to
    * the store root, the newest `v<N>.json` as the current snapshot, and
    * no `metrics` table (its rows are the manifests' counters). 5 named
    * dirs by absolute path behind a `LATEST` file; 4 recorded no schemas;
    * 3 used a fixed 32 buckets and no recorded count; 2 kept the seen set
    * in a catalog table. Resume refuses any other layout.
    */
  val StoreLayoutVersion = 6L

  /** Fixed engine geometry, recorded in every manifest (`cfg_*`) so a
    * store written with other values refuses to resume: the fetch salt
    * per host, the fetch attempts before a URL fails, and the Bloom log's
    * segments and bits per segment.
    */
  private val SaltBuckets = 64
  private val MaxRetries = 3
  private val BloomSegments = 8
  private val BloomBitsPerSegment = 1 << 16

  /** Seen dir count at which the per-cadence generational fold escalates
    * to a full fold. Bounds the per-epoch bucketed-scan overhead at
    * O(this many) dirs while keeping the full-rewrite cost
    * amortized to O(|seen| / this) per cadence. Pure execution knob — the
    * seen SET is identical under any fold schedule.
    */
  val SeenFullFoldPartitions = 16

  /** A frontier row's columns, without the merge-on-read `seq`. */
  private val RowCols: Seq[String] = FrontierLog.Cols.filterNot(_ == "seq")

  /** Append-rooted tables and the partition subdirs inside each root
    * ("" = flat table) that consolidation merge-moves.
    */
  private val AppendRootTables: Seq[(String, Seq[String])] = Seq(
    "frontier_archive" -> Seq("/state=fetched", "/state=failed"),
    "corpus_sim" -> Seq(""), "neardup_pairs" -> Seq(""),
    "media_features" -> Seq(""))

  /** A materialized scheduler head: built at `epoch` with `k` rows per
    * host under budget cut `cut` (the manifest's head_epoch/head_k/head_cut).
    */
  private final case class HeadMeta(epoch: Long, k: Long, cut: Long) {
    def counters: Map[String, Long] =
      Map("head_epoch" -> epoch, "head_k" -> k, "head_cut" -> cut)
  }

  /** A value an epoch branch computes ([[EpochDriver.Ctx.fork]]): `get`
    * waits for it and rethrows the branch's own failure.
    */
  private final class Branch[T](task: FutureTask[T]) {
    def get: T = try task.get() catch { case e: ExecutionException => throw e.getCause }
  }

  /** One commit's staged content, as SnapshotStore.commit takes it. Every
    * epoch layer returns a fragment; `++` merges them (keys are disjoint
    * across layers, except carried counters a later fragment updates).
    */
  private final case class Commit(
      replace: Map[String, Seq[Staged]] = Map.empty,
      append: Map[String, Staged] = Map.empty,
      counters: Map[String, Long] = Map.empty,
      drop: Set[String] = Set.empty) {
    def ++(o: Commit): Commit = Commit(replace ++ o.replace,
      append ++ o.append, counters ++ o.counters, drop ++ o.drop)
  }
}
