package graft

import java.nio.file.Files

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
    store.commit(store.latest().fold(0L)(_.epoch + 1), Map.empty, Map.empty, Map.empty,
      appendPaths = Map("seen" -> Seq(store.appendSeen(urls(r)))))

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

  test("anti-join against bucketed seen shuffles only the candidate side") {
    val store = newStore()
    commitSlice(store, 0 until 2000)
    val cand = urls(1500 until 2500)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fresh = Seen.filterUnseen(cand, "canon_url", store.readSeen(0L), None)
      assert(fresh.count() === 500)
      val p = fresh.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"seen scan must use its bucketing:\n$p")
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1,
        s"expected exactly 1 exchange (candidates only), got $exchanges:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("compaction folds epochs into one partition without changing the set") {
    val store = newStore()
    commitSlice(store, 0 until 100)
    commitSlice(store, 100 until 150)
    commitSlice(store, 150 until 200)
    val before = seenSet(store, 2L)
    val m = store.latest().get
    store.commit(m.epoch, Map.empty, Map.empty, Map.empty,
      replacePaths = Map("seen" -> Seq(store.compactSeen(m.tables("seen")))))
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

  test("every committed seen file holds exactly the rows of its bucket suffix") {
    val store = newStore()
    val d = new EpochDriver(spark, store, 42L, 10, epochBudgetMs = 8000L,
      compactSeenEvery = 2)
    // each file's rows must hash to the bucket id its name carries, the id
    // the bucketed scan groups the file by
    def check(when: String): Unit = {
      val dirs = store.latest().get.tables("seen")
      val rows = spark.read.parquet(dirs: _*)
        .select(input_file_name().as("f"),
          pmod(hash(col("canon_url")), lit(SnapshotStore.SeenBuckets)).as("b"))
        .withColumn("suffix",
          regexp_extract(col("f"), "_(\\d+)\\.snappy\\.parquet$", 1).cast("int"))
      assert(rows.count() > 0L, s"$when: no seen rows")
      val bad = rows.filter(col("suffix").isNull || col("suffix") =!= col("b"))
      assert(bad.count() === 0L,
        s"$when: rows outside their file's bucket: ${bad.take(3).mkString(", ")}")
    }
    d.init(SimWeb.seedUrls(40, 10, 42L))
    check("init")
    d.runEpoch()
    check("plain epoch")
    d.runEpoch()
    assert(store.latest().get.tables("seen").size === 2, "epoch 2 did not fold")
    check("fold")
  }
}
