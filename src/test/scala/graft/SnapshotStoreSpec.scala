package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.gen.SimWeb

/** The manifest carries each table's schema: reads never infer it (no
  * Spark job runs to build a table), and a staged write counts its own
  * rows (no job re-reads the output). Manifests name dirs relative to the
  * store root, and an open store finds later commits by probing forward.
  */
class SnapshotStoreSpec extends SparkSpecBase {

  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-store").toString

  test("readTable runs no Spark job; a zero-row table reads back empty") {
    val dir = tmpDir()
    val store = new SnapshotStore(dir, spark)
    val d = new EpochDriver(spark, store, 42L, 10, epochBudgetMs = 8000L,
      compactFrontierEvery = 3, compactDeltaEvery = 2, compactSeenEvery = 3,
      nearDupDocs = true, mediaDocs = true, sinkDir = Some(tmpDir()))
    d.init(SimWeb.seedUrls(40, 10, 42L))
    // the listener sees inference: a plain parquet read of a data dir
    // runs a schema job
    val m0 = store.latest().get
    assert(jobsDuring(spark.read.parquet(m0.tables("frontier_base").head)).nonEmpty,
      "test premise: schema inference runs a job")
    // after init, a plain epoch, a minor fold and a major fold
    (0 to 3).foreach { e =>
      if (e > 0) d.runEpoch()
      val m = store.latest().get
      assert(m.schemas.keySet == m.tables.keySet, s"epoch $e: tables without a schema")
      var tables = Map.empty[String, DataFrame]
      val jobs = jobsDuring {
        tables = m.tables.keys.map(t => t -> store.readTable(m, t).get).toMap
      }
      assert(jobs.isEmpty,
        s"epoch $e: building ${m.tables.keys.toSeq.sorted} ran ${jobs.size} jobs")
      tables.foreach { case (t, df) =>
        assert(df.schema.fieldNames.toSet == m.schemas(t).fieldNames.toSet,
          s"epoch $e: $t read back as ${df.schema.simpleString}")
      }
    }
    val m = store.latest().get
    assert(m.counters("neardup_pairs") == 0L && m.tables("neardup_pairs").size == 3,
      "test premise: three committed zero-row neardup_pairs dirs")
    val pairs = store.readTable(m, "neardup_pairs").get
    assert(pairs.count() == 0L)
    assert(pairs.schema.fieldNames.toSeq == Seq("doc_a", "doc_b", "hd", "epoch"))
    assert(pairs.schema == m.schemas("neardup_pairs"))
  }

  /** Rows (from their footers alone) and bytes of `dir`'s parquet files. */
  private def footers(dir: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    val files = fs.listFiles(new HPath(dir), true)
    var (rows, bytes) = (0L, 0L)
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try rows += r.getRecordCount finally r.close()
        bytes += f.getLen
      }
    }
    (rows, bytes)
  }

  test("staged rows and bytes equal the footers of four write shapes") {
    val store = new SnapshotStore(tmpDir(), spark)
    val src = spark.range(0, 5000).select(col("id"),
      (col("id") % 3).cast("string").as("state"), (col("id") * 7 % 101).as("v"))
    val writes = Seq(
      ("repartitioned", src.repartition(5, col("v")), None, 5000L),
      ("coalesced", src.filter(col("id") % 4 === 0).coalesce(1), None, 1250L),
      ("partitioned", src.filter(col("id") < 1000), Some("state"), 1000L),
      ("zero", src.filter(col("id") < 0), None, 0L))
    writes.foreach { case (name, df, partitionBy, want) =>
      val st = store.stage(name, df, partitionBy)
      assert(st.rows == want, s"$name: staged ${st.rows} rows")
      assert(footers(st.dir) == ((st.rows, st.bytes)),
        s"$name: footers disagree with ${(st.rows, st.bytes)}")
      assert(store.read(st).count() == want)
      assert(st.schema.fieldNames.toSeq == Seq("id", "state", "v"))
    }
    // the zero-row write commits and reads back as an empty table
    val zero = store.stage("t", src.filter(col("id") < 0))
    store.commit(0L, Map("t" -> Seq(zero)), Map.empty, Map.empty)
    assert(store.readTable(store.latest().get, "t").get.count() == 0L)
    // a write of another schema cannot join the table
    val other = store.stage("t", Seq(1L).toDF("x"))
    val e = intercept[IllegalArgumentException](
      store.commit(1L, Map.empty, Map("t" -> other), Map.empty))
    assert(e.getMessage.contains("table t"), e.getMessage)
  }

  test("a store instance opened before later commits sees them") {
    val dir = tmpDir()
    val early = new SnapshotStore(dir, spark)
    assert(early.latestVersion().isEmpty)
    val writer = new SnapshotStore(dir, spark)
    (0L to 2L).foreach(e => writer.commit(e, Map.empty, Map.empty, Map("c" -> e)))
    assert(early.latestVersion().contains(2L))
    assert(early.latest().get.counters == Map("c" -> 2L))
    // a commit through the early instance lands on top, and the writer sees it
    val m = early.commit(3L, Map.empty, Map.empty, Map("c" -> 3L))
    assert(m.version == 3L && m.parent == 2L)
    assert(writer.latest().get.counters == Map("c" -> 3L))
  }

  test("a store copied to another directory resumes there, equal to an uninterrupted twin") {
    import java.nio.file.{Files, Path}
    def driver(store: SnapshotStore) = new EpochDriver(spark, store, 42L, 10,
      epochBudgetMs = 8000L, compactFrontierEvery = 2, compactSeenEvery = 2,
      archiveMaxRoots = 1, nearDupDocs = true)
    def tree(p: Path): Seq[Path] = {
      val s = Files.walk(p)
      try s.toArray.map(_.asInstanceOf[Path]).toSeq finally s.close()
    }
    val seeds = SimWeb.seedUrls(40, 10, 42L)
    val twinStore = new SnapshotStore(tmpDir(), spark)
    val twin = driver(twinStore)
    twin.init(seeds)
    val original = Path.of(tmpDir())
    val d = driver(new SnapshotStore(original.toString, spark))
    d.init(seeds)
    (1 to 2).foreach(e => assert(d.runEpoch() == twin.runEpoch(), s"epoch $e"))
    // a copy at a path of another length, then the original is gone
    val copy = Path.of(tmpDir(), "copied-store")
    tree(original).foreach(p => Files.copy(p, copy.resolve(original.relativize(p))))
    tree(original).reverse.foreach(Files.delete)
    val store = new SnapshotStore(copy.toString, spark)
    val resumed = driver(store)
    (3 to 4).foreach(e => assert(resumed.runEpoch() == twin.runEpoch(), s"epoch $e"))
    val (m, mTwin) = (store.latest().get, twinStore.latest().get)
    m.tables.values.flatten.foreach(p => assert(p.startsWith(copy.toString), p))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    assert(rows(resumed.seenSet()) == rows(twin.seenSet()))
    assert(rows(resumed.frontier()) == rows(twin.frontier()))
    assert(rows(store.readTable(m, "corpus_sim").get) ==
      rows(twinStore.readTable(mTwin, "corpus_sim").get))
  }
}
