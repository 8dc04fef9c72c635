package perfbench

import Main.median

/** Per-layer ledger of one traced crawl trial, from its spans and the
  * stages the listener charged to them. Per-epoch figures are means over
  * the trial's epochs unless named otherwise (`*_wall_s`: median span
  * wall).
  */
object Layers {

  /** Stages of one epoch window, clipped, with no stage running. */
  private def gapS(spanStart: Long, spanEnd: Long, st: Seq[StageRec]): Double = {
    val iv = st.map(s => (math.max(s.submitMs, spanStart),
      math.min(s.doneMs, spanEnd))).filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    ((spanEnd - spanStart) - covered) / 1e3
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Max ÷ median task time of the span's heaviest stage. */
  private def skew(st: Seq[StageRec]): Double =
    st.filter(_.taskMs.nonEmpty).sortBy(-_.runMs).headOption.map { s =>
      ratio(s.taskMs.max.toDouble, median(s.taskMs.map(_.toDouble)))
    }.getOrElse(0.0)

  /** Replay layer spans shared by the crawl and kernel ledgers. */
  def replayLayers(spans: Seq[Span], stages: Seq[StageRec]): Map[String, Double] = {
    def named(n: String) = spans.filter(_.name == n)
    def wall(n: String) = median(named(n).map(_.wallS))
    def sum(n: String, k: String) = named(n).map(_.counts.getOrElse(k, 0.0)).sum
    def med(n: String, k: String) = median(named(n).map(_.counts.getOrElse(k, 0.0)))
    def stagesOf(sp: Span) = stages.filter(_.span == sp.id)
    Map(
      "sched.wall_s" -> wall("sched"),
      "sched.rows_in" -> med("sched", "rows_in"),
      "sched.batch_rows" -> med("sched", "batch_rows"),
      "sched.head_epochs" -> sum("sched", "head"),
      "fetch.wall_s" -> wall("fetch"),
      "fetch.docs" -> med("fetch", "docs"),
      "fetch.error_frac" -> ratio(sum("fetch", "errors"),
        sum("fetch", "errors") + sum("fetch", "docs")),
      "fetch.task_skew" -> median(named("fetch").map(s => skew(stagesOf(s)))),
      "extract.wall_s" -> wall("extract"),
      "extract.cands_per_doc" -> ratio(sum("extract", "cands"),
        sum("fetch", "docs")),
      "seen.wall_s" -> wall("seen"),
      "seen.fresh_frac" -> ratio(sum("seen", "fresh"), sum("seen", "probe_rows")),
      "seen.bloom_bytes" -> med("seen", "bloom_bytes"),
      "seen.probe_rows" -> med("seen", "probe_rows"),
      "neardup.wall_s" -> wall("neardup"),
      "neardup.stages" -> ratio(named("neardup").map(stagesOf(_).size).sum,
        named("neardup").size),
      "neardup.corpus_rows_read" -> med("neardup", "corpus_rows_read"),
      "neardup.pairs" -> med("neardup", "pairs"),
      "media.wall_s" -> wall("media"),
      "media.decodes" -> med("media", "decodes"),
      "media.distinct_ref_frac" -> ratio(sum("media", "distinct_refs"),
        sum("media", "decodes")),
      "sink.wall_s" -> wall("sink"),
      "sink.records" -> med("sink", "records"),
      "sink.mb" -> med("sink", "bytes") / 1e6)
  }

  def crawl(t: Tracer): Map[String, Double] = {
    val spans = t.allSpans
    val stages = t.allStages.filter(_.span != StageLedger.DrainSpan)
    val engine = spans.filter(_.name == "engine")
    val expire = spans.filter(_.name == "ckpt.expire")
    val ids = engine.map(_.id).toSet
    val es = stages.filter(s => ids(s.span))
    val n = math.max(engine.size, 1).toDouble
    val epochWalls = engine.map(e => e.wallS +
      expire.filter(_.epoch == e.epoch).map(_.wallS).sum)
    def execS(sites: String*) =
      es.filter(s => sites.contains(s.site)).map(_.runMs).sum / 1e3 / n
    Map(
      "engine.epoch_wall_s" -> median(epochWalls),
      "engine.jobs_per_epoch" -> t.jobSpans.count(j => ids(j._2)) / n,
      "engine.stages_per_epoch" -> es.size / n,
      "engine.tasks_per_epoch" -> es.map(_.tasks).sum / n,
      "engine.exec_cpu_s" -> es.map(_.cpuNs).sum / 1e9 / n,
      "engine.gc_s" -> es.map(_.gcMs).sum / 1e3 / n,
      "engine.shuffle_write_mb" -> es.map(_.shuffleWriteB).sum / 1e6 / n,
      "engine.driver_gap_s" -> engine.map(sp =>
        gapS(sp.startMs, sp.endMs, es.filter(_.span == sp.id))).sum / n,
      "engine.unattributed_stages" -> stages.count(_.how.isEmpty).toDouble,
      "ckpt.commit_exec_s" -> execS("SnapshotStore.commit", "SnapshotStore.write"),
      "ckpt.append_seen_exec_s" -> execS("SnapshotStore.appendSeen"),
      "ckpt.compact_seen_exec_s" -> execS("SnapshotStore.compactSeen"),
      "ckpt.bytes_written_mb" -> es.map(_.outputB).sum / 1e6 / n,
      "ckpt.files_per_epoch" -> t.filesAdded.map(_._2).sum / n,
      "ckpt.expire_s" -> median(expire.map(_.wallS)),
      "jvm.peak_rss_mb" -> Main.peakRssMb(),
      "trace.replay_s" -> median(spans.filter(_.name == "replay").map(_.wallS))
    ) ++ replayLayers(spans, stages)
  }

  /** Stage count, executor seconds and raw `file:line` sites per call-site
    * key, for the trace file.
    */
  def sites(stages: Seq[StageRec]): Seq[Map[String, Any]] =
    stages.groupBy(s => (s.site, s.how)).toSeq.map { case ((site, how), ss) =>
      Map("site" -> (if (site.isEmpty) "(unattributed)" else site),
        "how" -> how, "stages" -> ss.size,
        "exec_s" -> ss.map(_.runMs).sum / 1e3,
        "raw" -> ss.map(s => if (s.siteRaw.isEmpty) s.name else s.siteRaw)
          .distinct.sorted)
    }.sortBy(m => -m("exec_s").asInstanceOf[Double])
}
