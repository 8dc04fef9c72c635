package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.sinks.RecordSink

/** Golden counters recorded at seed 42 (perfbench/golden.json). */
final class Golden(path: String) {
  private val root = {
    val f = new java.io.File(path)
    if (f.exists()) Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f))
    else None
  }

  /** Per-epoch counters of a crawl workload, if recorded. */
  def crawl(workload: String): Option[Seq[Map[String, Long]]] =
    root.flatMap(r => Option(r.get(workload))).map(_.elements().asScala.map(e =>
      e.properties().asScala.map(p => p.getKey -> p.getValue.asLong()).toMap
    ).toSeq)

  /** A scalar recorded for a workload, if any. */
  def value(workload: String, key: String): Option[Long] =
    root.flatMap(r => Option(r.get(workload))).flatMap(w => Option(w.get(key)))
      .map(_.asLong())
}

/** Output checks run after a trial, outside its timed window. Each returns
  * the failed conditions (empty = pass).
  */
object Checks {

  private def expectEq(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def crawl(spark: SparkSession, store: SnapshotStore, driver: EpochDriver,
      counters: Seq[Map[String, Long]], sinkDir: Option[String],
      golden: Option[Seq[Map[String, Long]]]): Seq[String] = {
    val m = store.latest().get
    val emitted = counters.map(_("emitted")).sum
    val fetched = counters.map(_("fetched")).sum
    val seeds = store.readManifest(0L).counters("seeds")
    val seen = driver.seenSet().agg(count(lit(1)), countDistinct("canon_url"))
      .head()
    val goldenDiff = golden.toSeq.flatMap { g =>
      if (g.size != counters.size)
        Seq(s"golden: ${counters.size} epochs ran, ${g.size} recorded")
      else g.zip(counters).zipWithIndex.flatMap { case ((want, got), i) =>
        want.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          expectEq(s"golden epoch ${i + 1} $k", got.getOrElse(k, -1L), v)
        }
      }
    }
    def rows(table: String) = store.readTable(m, table).map(_.count()).getOrElse(0L)
    goldenDiff ++ Seq(
      expectEq("seen rows = seeds + emitted", seen.getLong(0), seeds + emitted),
      expectEq("seen rows distinct", seen.getLong(1), seen.getLong(0)),
      expectEq("frontier fetched rows = fetched",
        driver.frontier().filter(col("state") === "fetched").count(), fetched)
    ).flatten ++ Seq(
      m.counters.get("sim_docs").flatMap(n =>
        expectEq("sim_docs = corpus_sim rows", rows("corpus_sim"), n)),
      m.counters.get("media_rows").flatMap(n =>
        expectEq("media_rows = media_features rows", rows("media_features"), n)),
      sinkDir.flatMap(d => expectEq("distinct sink keys = emitted",
        RecordSink.readTopic(spark, s"$d/frontier-records")
          .select("key").distinct().count(), emitted))
    ).flatten
  }
}
