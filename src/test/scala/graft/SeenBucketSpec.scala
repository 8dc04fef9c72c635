package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.gen.SimWeb
import graft.operators.Seen

/** Bucketed seen-table behavior (round-1 verdict item 6): the append-only
  * URL-seen set is stored bucketed by canon_url, so the per-epoch
  * anti-join shuffles only the small candidate side — the big seen side
  * scans pre-partitioned. Also pins the manifest's visibility rules for
  * it: a re-staged slice commits one copy, an uncommitted slice is
  * invisible, and a fresh store reads what an earlier one committed.
  */
class SeenBucketSpec extends SparkSpecBase {

  import spark.implicits._

  private def newStore(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("seen-bucket").toString, spark)

  private def urls(r: Range) = r.map(i => s"https://h/$i").toDF("canon_url")

  /** Stage `r` as a seen slice and commit it as the next epoch. */
  private def commitSlice(store: SnapshotStore, r: Range): Unit =
    store.commit(store.latest().fold(0L)(_.epoch + 1), Map.empty,
      Map("seen" -> store.appendSeen(urls(r))), Map.empty)

  private def seenSet(store: SnapshotStore, epoch: Long): Set[String] =
    store.readSeen(epoch).collect().map(_.getString(0)).toSet

  test("epoch append is idempotent and the committed-epoch gate prunes") {
    val store = newStore()
    commitSlice(store, 0 until 100)
    // crash-replay: an attempt staged epoch 1's slice and died before its
    // commit; the re-run stages into the same dir, replacing it
    store.appendSeen(urls(300 until 400))
    commitSlice(store, 100 until 150)
    assert(store.readSeen(1L).count() === 150)
    assert(seenSet(store, 1L) === (0 until 150).map(i => s"https://h/$i").toSet)
    // gate: a staged but uncommitted slice is invisible
    store.appendSeen(urls(500 until 600))
    assert(store.readSeen(1L).count() === 150)
    assert(store.readSeen(store.latest().get).count() === 150)
    // and an earlier epoch reads its own manifest's slices
    assert(store.readSeen(0L).count() === 100)
  }

  /** Anti-join `cand` against `seen` with broadcast joins off; asserts the
    * seen side scans bucketed and only the candidates shuffle, and returns
    * the fresh row count.
    */
  private def antiJoinShufflingCandidatesOnly(cand: DataFrame,
      seen: DataFrame): Long = {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fresh = Seen.filterUnseen(cand, "canon_url", seen, None)
      val n = fresh.count()
      val p = fresh.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"seen scan must use its bucketing:\n$p")
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1,
        s"expected exactly 1 exchange (candidates only), got $exchanges:\n$p")
      n
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("anti-join against bucketed seen shuffles only the candidate side") {
    val store = newStore()
    commitSlice(store, 0 until 2000)
    assert(antiJoinShufflingCandidatesOnly(urls(1500 until 2500),
      store.readSeen(0L)) === 500)
  }

  test("compaction folds epochs into one partition without changing the set") {
    val store = newStore()
    commitSlice(store, 0 until 100)
    commitSlice(store, 100 until 150)
    commitSlice(store, 150 until 200)
    val before = seenSet(store, 2L)
    val m = store.latest().get
    store.commit(m.epoch, Map("seen" -> Seq(store.compactSeen(m.tables("seen")))),
      Map.empty, Map.empty)
    assert(store.latest().get.tables("seen").size === 1)
    assert(seenSet(store, 2L) === before)
    assert(store.readSeen(2L).count() === 200)
    // later epochs keep appending on top of the compacted base
    commitSlice(store, 200 until 250)
    assert(store.readSeen(3L).count() === 250)
  }

  test("a fresh store instance on the same path sees prior epochs (re-registration)") {
    val dir = Files.createTempDirectory("seen-bucket").toString
    commitSlice(new SnapshotStore(dir, spark), 0 until 100)
    assert(new SnapshotStore(dir, spark).readSeen(0L).count() === 100)
  }

  /** Data files (not `_`/`.` markers or checksums) directly under `dir`. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(
      java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }.toList
    } finally s.close()
  }

  /** Every committed seen dir holds at most one file per bucket of the
    * manifest's count, and each file's rows hash to the bucket id its name
    * carries, the id the bucketed scan groups the file by.
    */
  private def checkBuckets(store: SnapshotStore, when: String): Unit = {
    val m = store.latest().get
    val dirs = m.tables("seen")
    dirs.foreach(d => assert(dataFiles(d).size <= m.seenBuckets,
      s"$when: $d holds ${dataFiles(d).size} files for ${m.seenBuckets} buckets"))
    val rows = spark.read.parquet(dirs: _*)
      .select(input_file_name().as("f"),
        pmod(hash(col("canon_url")), lit(m.seenBuckets)).as("b"))
      .withColumn("suffix",
        regexp_extract(col("f"), "_(\\d+)\\.snappy\\.parquet$", 1).cast("int"))
    assert(rows.count() > 0L, s"$when: no seen rows")
    val bad = rows.filter(col("suffix").isNull || col("suffix") =!= col("b"))
    assert(bad.count() === 0L,
      s"$when: rows outside their file's bucket: ${bad.take(3).mkString(", ")}")
  }

  private def width(): Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Run `body` with the session's shuffle width set to `p`. */
  private def atWidth[T](p: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("every committed seen file holds exactly the rows of its bucket suffix") {
    val store = newStore()
    val sink = Files.createTempDirectory("seen-sink").toString
    val d = new EpochDriver(spark, store, 42L, 10, epochBudgetMs = 8000L,
      compactSeenEvery = 2, sinkDir = Some(sink))
    // the fan-out pin: the store takes the session's width, so the fresh
    // rows (partitioned like the bucketed seen scan) reach the sink in at
    // most P partitions, each publishing one file per started 500 rows
    def checkSink(epoch: Long, emitted: Long): Unit = {
      val manifest = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new java.io.File(s"$sink/frontier-records/manifest-e$epoch.json"))
      val files = manifest.get("files").size()
      assert(files <= width() + (emitted + 499) / 500,
        s"epoch $epoch: $files sink batch files for $emitted records at width ${width()}")
    }
    d.init(SimWeb.seedUrls(40, 10, 42L))
    assert(store.latest().get.seenBuckets === width())
    checkBuckets(store, "init")
    checkSink(1L, d.runEpoch()("emitted"))
    checkBuckets(store, "plain epoch")
    checkSink(2L, d.runEpoch()("emitted"))
    assert(store.latest().get.tables("seen").size === 2, "epoch 2 did not fold")
    checkBuckets(store, "fold")
  }

  test("a store resumed at another shuffle width keeps the bucket count of its first commit") {
    val seeds = SimWeb.seedUrls(40, 10, 42L)
    def driver(store: SnapshotStore) = new EpochDriver(spark, store, 42L, 10,
      epochBudgetMs = 8000L, compactSeenEvery = 3)
    val (twin, twinMs) = atWidth(3) {
      val t = driver(newStore())
      t.init(seeds)
      (t, (1 to 3).map(_ => t.runEpoch()))
    }
    val dir = Files.createTempDirectory("seen-bucket").toString
    val before = atWidth(3) {
      val a = driver(new SnapshotStore(dir, spark))
      a.init(seeds)
      (1 to 2).map(_ => a.runEpoch())
    }
    // a fresh store and driver on a wider session; epoch 3 folds the seen
    // slices of epochs 1-3
    atWidth(8) {
      val store = new SnapshotStore(dir, spark)
      val b = driver(store)
      assert(before :+ b.runEpoch() === twinMs, "resumed counters differ from the twin")
      assert(store.latest().get.seenBuckets === 3)
      assert(store.latest().get.tables("seen").size === 2, "epoch 3 did not fold")
      checkBuckets(store, "fold at width 8")
      def set(d: EpochDriver) = d.seenSet().collect().map(_.getString(0)).toSet
      assert(set(b) === set(twin))
      def view(d: EpochDriver) = d.frontier().collect().map(_.toSeq).toSet
      assert(view(b) === view(twin))
      assert(antiJoinShufflingCandidatesOnly(urls(0 until 500),
        store.readSeen(store.latest().get)) === 500)
    }
  }
}
