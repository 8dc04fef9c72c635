package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ckpt.SnapshotStore
import graft.engine.FrontierLog
import graft.fetch.FetchSim
import graft.functions.Banding
import graft.operators.{Bloom, Extract, NearDup, Sched, Seen}

/** Traced replay of one epoch's layers, run just before the real epoch on
  * that epoch's exact inputs (read from `store.latest()`), each layer under
  * its own span through the module's public functions. Every output goes
  * to `scratch`, never into the store. The engine schedules from its
  * frontier head when one is valid; the head is batch-exact, so replaying
  * over the full merge-on-read pending view yields the same batch. The
  * near-dup, media and sink layers are replayed on every workload's batch,
  * also where the engine runs them off: there they measure what the layer
  * would cost on that batch.
  *
  * Self-check (see `after`): replayed batch rows must equal the epoch's
  * fetched + errors, replayed candidates its discovered, replayed fresh its
  * emitted, and, where the engine runs near-dup, replayed pairs its
  * `neardup_pairs`.
  */
final class Replay(spark: SparkSession, store: SnapshotStore,
    nearDupOn: Boolean, scratch: String, t: Tracer) {

  /** The engine's delay for hosts without a robots row. */
  private val DefaultDelayMs = 2500L

  private var expect: Map[String, Long] = Map.empty

  def before(epoch: Int): Unit = t.span("replay", epoch) {
    val m = store.latest().get
    val c = m.counters
    val dir = s"$scratch/e$epoch"
    val par = spark.sparkContext.defaultParallelism

    val headValid = (for {
      he <- c.get("head_epoch"); hk <- c.get("head_k"); hc <- c.get("head_cut")
    } yield {
      val cut = Sched.budgetCut(c("cfg_epoch_budget_ms"), c("robots_floor_ms"))
      hc == cut && hk >= (epoch - he) * cut &&
        m.tables.get("frontier_head").exists(_.nonEmpty)
    }).getOrElse(false)

    val robots = store.readTable(m, "robots").get
    val (batch, batchRows) = t.span("sched", epoch) {
      val pending = FrontierLog.pending(store.readTable(m, "frontier_base").get,
        store.readTable(m, "frontier_delta"))
        .join(broadcast(robots.select("host", "crawl_delay_ms")), Seq("host"), "left")
        .withColumn("crawl_delay_ms",
          coalesce(col("crawl_delay_ms"), lit(DefaultDelayMs)))
        .cache()
      t.count("rows_in", pending.count().toDouble)
      val ranked = Sched.rankAndBudget(pending, c("cfg_epoch_budget_ms"),
        c("robots_floor_ms"))
      val b = Sched.fetchBatch(ranked, epoch, c("cfg_salt_buckets").toInt, par)
        .cache()
      val n = b.count()
      pending.unpersist()
      t.count("batch_rows", n.toDouble)
      t.count("head", if (headValid) 1.0 else 0.0)
      (b, n)
    }

    val (okDocs, nDocs) = t.span("fetch", epoch) {
      val fetched = FetchSim.run(batch, c("cfg_seed"), c("cfg_n_hosts").toInt)
        .toDF()
      fetched.write.mode("overwrite").parquet(s"$dir/fetch")
      val back = spark.read.schema(fetched.schema).parquet(s"$dir/fetch")
      val ok = back.filter(col("status") === "ok")
        .select(col("canon_url").as("doc_id"), col("depth"), col("spans"))
      val nOk = ok.count()
      t.count("docs", nOk.toDouble)
      t.count("errors", (batchRows - nOk).toDouble)
      (ok, nOk)
    }
    batch.unpersist()

    val (candDepth, nCands) = t.span("extract", epoch) {
      val cand = Extract.canonCandidates(okDocs.select("doc_id", "spans"))
      val cd = Sched.allowed(cand, robots, DefaultDelayMs)
        .select("canon_url", "host", "src_doc")
        .join(okDocs.select(col("doc_id").as("src_doc"), col("depth")),
          Seq("src_doc"))
        .groupBy("canon_url", "host")
        .agg((min("depth") + 1).cast("int").as("depth"))
        .cache()
      val n = cd.count()
      t.count("cands", n.toDouble)
      (cd, n)
    }

    val fresh = t.span("seen", epoch) {
      val segs = Bloom.mergedSegments(store.readTable(m, "seen_bloom").get,
        c("cfg_bloom_segments").toInt, c("cfg_bloom_bits").toInt)
      val bc = Seen.broadcastSegments(spark, segs)
      val f = Seen.filterUnseen(candDepth, "canon_url",
        store.readSeen(m.epoch), Some(bc)).cache()
      val n = f.count()
      t.count("fresh", n.toDouble)
      t.count("probe_rows", nCands.toDouble)
      t.count("bloom_bytes", segs.map(_.bits.length * 8L).sum.toDouble)
      (f, n, bc)
    }

    var pairs = -1L
    if (nDocs > 0) t.span("neardup", epoch) {
      val text = okDocs
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .groupBy("doc_id")
        .agg(array_join(transform(array_sort(filter(
            collect_list(struct(col("span.offset"), col("span.text"))),
            x => x.getField("text") =!= "")),
          x => x.getField("text")), " ").as("text"))
      val docs = okDocs.select("doc_id").join(text, Seq("doc_id"), "left")
        .na.fill("", Seq("text"))
      val sim = NearDup.simhashTotal(docs, NearDup.XxHashBits,
        NearDup.xxTokenHash).cache()
      val corpusRows = c.getOrElse("sim_docs", 0L)
      val blocks = Banding.blocksFor(corpusRows + nDocs,
        hashBits = NearDup.XxHashBits)
      val p = store.readTable(m, "corpus_sim") match {
        case Some(corpus) => NearDup.incrementalFromSimhash(sim,
          corpus.select("doc_id", "simhash"), blocks, NearDup.XxHashBits)
        case None => NearDup.pairsFromSimhash(sim, blocks, NearDup.XxHashBits)
      }
      pairs = p.count()
      sim.unpersist()
      t.count("corpus_rows_read", corpusRows.toDouble)
      t.count("pairs", pairs.toDouble)
    }

    if (nDocs > 0) t.span("media", epoch) {
      val refs = okDocs
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .filter(col("span.kind") === "media" && col("span.media_ref") =!= "")
        .select(col("span.media_ref").as("media_ref"))
      val theSeed = c("cfg_seed")
      import spark.implicits._
      val decodes = refs.as[String].mapPartitions { it =>
        java.lang.System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        it.map { ref =>
          val payload = graft.fetch.MediaFetchSim.fetchBytes(ref, theSeed)
          graft.operators.Multimodal.imageFeatures(payload)._1
        }
      }.count()
      val distinct = refs.distinct().count()
      t.count("decodes", decodes.toDouble)
      t.count("distinct_refs", distinct.toDouble)
    }

    t.span("sink", epoch) {
      val topic = s"$dir/sink/frontier-records"
      graft.sinks.RecordSink.emit(
        fresh._1.withColumn("epoch", lit(epoch.toLong)), "canon_url", topic,
        tag = s"e$epoch")
      t.count("records", fresh._2.toDouble)
      t.count("bytes", Main.dirBytes(new File(topic)).toDouble)
    }

    fresh._1.unpersist(); fresh._3.destroy(); candDepth.unpersist()
    expect = Map("batch_rows" -> batchRows, "discovered" -> nCands,
      "emitted" -> fresh._2) ++
      (if (nearDupOn && pairs >= 0) Map("neardup_pairs" -> pairs) else Map.empty)
    Main.deleteTree(new File(dir))
  }

  /** Compare the replay with the real epoch's counters. */
  def after(epoch: Int, m: Map[String, Long]): Seq[String] = {
    val want = Map("batch_rows" -> (m("fetched") + m("errors")),
      "discovered" -> m("discovered"), "emitted" -> m("emitted"),
      "neardup_pairs" -> m.getOrElse("neardup_pairs", 0L))
      .filter { case (k, _) => expect.contains(k) }
    want.toSeq.sortBy(_._1).collect {
      case (k, v) if expect(k) != v =>
        s"replay e$epoch: $k replayed ${expect(k)} but the epoch reported $v"
    }
  }
}
