package graft

import graft.functions.Banding
import graft.operators.NearDup
import org.apache.spark.sql.functions._

/** The near-dup OPERATOR (round-3 verdict item 5): one call with a
  * runtime-derived block count must reproduce the oracle-checked fixed-B
  * instances exactly — B is a cost knob, never a recall knob.
  */
class NearDupSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "text")

  test("derived-B pairs ≡ the pinned B=4 and B=6 instances") {
    val sim = NearDup.simhash(docs).cache()
    try {
      def out(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq).toSet
      val b4 = out(NearDup.pairsFromSimhash(sim, 4))
      val b6 = out(NearDup.pairsFromSimhash(sim, 6))
      assert(b4 == b6, "B=4 vs B=6 disagree — construction exactness broken")
      assert(b4.nonEmpty, "test premise: corpus has near-dup pairs")

      // the one-call path: B derived from the true corpus size lands on the
      // smallest geometry and matches
      val n = docs.count()
      val bDerived = Banding.blocksFor(n, hashBits = NearDup.SimhashBits)
      assert(bDerived == 4, s"sf0.001 corpus should derive B=4, got $bDerived")
      // oracle-parity hashing passed explicitly: the operator's DEFAULT is
      // the production xxhash64/64 path (different signatures by design)
      assert(out(NearDup.pairs(docs, n, NearDup.SimhashBits,
        graft.functions.Canon.md5Long)) == b4)

      // a web-scale size hint derives a wider geometry (more, narrower-key
      // tables) and is STILL output-identical — recall never depends on B
      val bWide = Banding.blocksFor(10000000000L, hashBits = NearDup.SimhashBits)
      assert(bWide > 4, s"10^10 docs must widen the geometry, got B=$bWide")
      assert(out(NearDup.pairsFromSimhash(sim, bWide)) == b4)
    } finally sim.unpersist()
  }

  test("incremental pairs ≡ full pairs filtered to the new batch") {
    import org.apache.spark.sql.functions._
    val sim = NearDup.simhash(docs).cache()
    try {
      // deterministic split: ~1/4 of the corpus is the "new" ingest batch
      val isNew = pmod(col("doc_id"), lit(4)) === 0
      val simNew = sim.filter(isNew)
      val simOld = sim.filter(!isNew)
      assert(simNew.count() > 0 && simOld.count() > 0)

      val newIds = simNew.select("doc_id").collect().map(_.get(0)).toSet
      val full = NearDup.pairsFromSimhash(sim, 4).collect()
        .map(_.toSeq).toSet
      val expected = full.filter(p =>
        newIds.contains(p(0)) || newIds.contains(p(1)))
      assert(expected.nonEmpty, "test premise: some pairs touch the batch")
      assert(expected.size < full.size,
        "test premise: some old-old pairs exist to be skipped")

      val inc = NearDup.incrementalFromSimhash(simNew, simOld, 4)
        .collect().map(_.toSeq).toSet
      assert(inc == expected,
        s"incremental=${inc.size} expected=${expected.size}")

      // geometry stays a pure cost knob on the incremental path too
      val incB6 = NearDup.incrementalFromSimhash(simNew, simOld, 6)
        .collect().map(_.toSeq).toSet
      assert(incB6 == expected)

      // the one-call derived-B entry point over raw (doc_id, text) batches
      // (corpus signatures are md5-based here, so the batch side must hash
      // the same way — hashes must match the persisted signature table)
      val newDocs = docs.filter(isNew)
      val viaOp = NearDup.pairsIncremental(newDocs, simOld, docs.count(),
          NearDup.SimhashBits, graft.functions.Canon.md5Long)
        .collect().map(_.toSeq).toSet
      assert(viaOp == expected)
    } finally sim.unpersist()
  }

  test("production xxhash64 path: same dup structure as md5 on exact-dup clusters, derived 64-bit geometry") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 6 exact-duplicate clusters of 3 + 30 distinct documents: both hash
    // families MUST agree on this corpus (identical texts hash identically
    // under any hash; the distinct docs share no tokens, so their simhashes
    // sit ~bits/2 apart — far outside HD under either width)
    val texts = (0 until 6).flatMap { c =>
      val t = (0 until 40).map(i => s"cluster${c}tok${i * 7 % 40}").mkString(" ")
      Seq.fill(3)(t)
    } ++ (0 until 30).map(d =>
      (0 until 40).map(i => s"only${d}word${i}x${d * i}").mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val expected = (0 until 6).flatMap { c =>
      val ids = (c * 3 until c * 3 + 3).map(_.toLong)
      for (a <- ids; b <- ids if a < b) yield Seq[Any](a, b, 0)
    }.toSet
    val viaXx = NearDup.pairs(docs, 48L).collect().map(_.toSeq).toSet
    val viaMd5 = NearDup.pairs(docs, 48L, NearDup.SimhashBits,
      graft.functions.Canon.md5Long).collect().map(_.toSeq).toSet
    assert(viaXx == expected, s"xx path: $viaXx")
    assert(viaMd5 == expected, "md5 path disagrees on exact-dup structure")
    // and the xx simhash really uses the full 64-bit width (some corpus
    // hash must set the top nibble md5Long can never reach)
    val xxSim = NearDup.simhash(docs, NearDup.XxHashBits, NearDup.xxTokenHash)
      .select("simhash").collect().map(_.getLong(0))
    assert(xxSim.exists(h => (h >>> 60) != 0L),
      "64-bit path never set bits 60-63")
    // incremental xx path: batch = one member of cluster 5 (id 17) + one
    // distinct doc (id 47) — probes xx corpus signatures, same contract
    val isNew = col("doc_id") === 17 || col("doc_id") === 47
    val corpusXx = NearDup.simhash(docs.filter(!isNew),
      NearDup.XxHashBits, NearDup.xxTokenHash)
    val incXx = NearDup.pairsIncremental(docs.filter(isNew), corpusXx, 48L)
      .collect().map(_.toSeq).toSet
    val fullTouching = viaXx.filter(p => p(0) == 17L || p(1) == 17L ||
      p(0) == 47L || p(1) == 47L)
    assert(fullTouching.nonEmpty && incXx == fullTouching)
  }

  test("simhashTotal: one row per doc, empty-token docs sign 0 and pair as exact dups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two empty-ish docs (no tokens after tokenization) + two real dups:
    // plain simhash drops the token-less docs entirely — the engine's
    // persisted signature table must not
    val mixed = Seq(
      (1L, "shared near dup text body one"),
      (2L, "shared near dup text body one"),
      (3L, ""),
      (4L, "   ")).toDF("doc_id", "text")
    // same production hashing on both sides (plain simhash DEFAULTS to the
    // oracle-parity md5/60 geometry, simhashTotal to xxhash64/64)
    val partial = NearDup.simhash(mixed, NearDup.XxHashBits,
      NearDup.xxTokenHash)
    assert(partial.count() == 2, "test premise: explode drops token-less docs")
    val total = NearDup.simhashTotal(mixed).cache()
    try {
      assert(total.count() == 4, "simhashTotal must emit one row per doc")
      val byId = total.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byId(3L) == 0L && byId(4L) == 0L,
        "empty-token docs must carry the empty-set signature 0")
      assert(byId(1L) == byId(2L) && byId(1L) != 0L)
      // and the signatures flow through banding: both the real dups AND
      // the degenerate empty pair surface at hd 0
      val pairs = NearDup.pairsFromSimhash(total, 4, NearDup.XxHashBits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(pairs.contains((1L, 2L, 0)) && pairs.contains((3L, 4L, 0)),
        s"expected both dup pairs at hd 0, got $pairs")
      // non-empty rows are byte-identical to plain simhash
      assert(partial.collect().map(_.toSeq).toSet ==
        total.filter(col("doc_id") < 3).collect().map(_.toSeq).toSet)
    } finally { total.unpersist(); () }
  }

  test("operator simhash matches the q25 oracle-checked values") {
    // NearDup.simhash IS q25's projection (QueriesText delegates); pin the
    // linkage so a drift in either side breaks loudly
    val viaQuery = SparkEntry.queries("q25_dedup_simhash")(spark, dir)
      .collect().map(r => (r.get(0), r.getLong(1))).toMap
    val viaOp = NearDup.simhash(docs)
      .collect().map(r => (r.get(0), r.getLong(1))).toMap
    assert(viaOp == viaQuery)
  }

  /** Unordered pairs within hd ≤ HD touching `isNew`, by brute force. */
  private def bruteForce(sigs: Seq[(Long, Long)], isNew: Long => Boolean): Set[Seq[Any]] =
    (for {
      (a, ha) <- sigs; (b, hb) <- sigs
      if a < b && (isNew(a) || isNew(b))
      hd = java.lang.Long.bitCount(ha ^ hb) if hd <= Banding.HD
    } yield Seq[Any](a, b, hd)).toSet

  test("incremental probe: every pair kind, at B = 4, 5, 6 and under the shuffle plan") {
    import spark.implicits._
    // block boundaries of the 64-bit geometry at B = 4, 5 and 6: flips that
    // straddle them put hd 1-3 pairs across blocks (and hd 4 just outside)
    val cuts = Seq(4, 5, 6).flatMap(b => Banding.blockBounds(b, 64).map(_._1))
      .filter(_ > 0).distinct.sorted
    val rnd = new scala.util.Random(11)
    val bases = Seq.fill(12)(rnd.nextLong())
    def flip(h: Long, bits: Set[Int]) = bits.foldLeft(h)((x, b) => x ^ (1L << b))
    val variants = bases.zipWithIndex.flatMap { case (h, i) =>
      val s = cuts(i % cuts.size); val t = cuts((i + 4) % cuts.size)
      Seq(Set.empty[Int], Set(s), Set(s - 1, s), Set(s - 1, s, t),
        Set(s - 1, s, t - 1, t)).map(flip(h, _))
    }
    // an exact-dup cluster of 5 (old and new members) and 4 empty-token
    // docs (signature 0) on both sides
    val hashes = variants ++ Seq.fill(4)(bases.head) ++ Seq.fill(4)(0L)
    val sigs = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val isNew = (id: Long) => id % 3 == 1
    val expected = bruteForce(sigs, isNew)
    val kinds = expected.map(p => (p(2), isNew(p(0).asInstanceOf[Long]) &&
      isNew(p(1).asInstanceOf[Long])))
    assert((0 to 3).forall(hd => kinds.exists(_._1 == hd)),
      s"test premise: pairs at every hd 0-3, got $kinds")
    assert(kinds.exists(_._2) && kinds.exists(!_._2),
      "test premise: both new-new and old-new pairs")
    assert(sigs.exists { case (a, ha) => sigs.exists { case (b, hb) =>
        a < b && java.lang.Long.bitCount(ha ^ hb) == Banding.HD + 1 } },
      "test premise: hd 4 pairs exist to be excluded")
    val all = sigs.toDF("doc_id", "simhash")
    val simNew = all.filter(col("doc_id") % 3 === 1)
    val corpus = all.filter(col("doc_id") % 3 =!= 1)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    def check(blocks: Int): Unit = {
      val inc = rows(NearDup.incrementalFromSimhash(simNew, corpus, blocks, 64))
      assert(inc.size == inc.toSet.size, s"B=$blocks: duplicate rows")
      assert(inc.forall(p => p(0).asInstanceOf[Long] < p(1).asInstanceOf[Long]))
      val full = rows(NearDup.pairsFromSimhash(all, blocks, 64)).toSet
        .filter(p => isNew(p(0).asInstanceOf[Long]) || isNew(p(1).asInstanceOf[Long]))
      assert(full == expected, s"B=$blocks: full construction disagrees")
      assert(inc.toSet == expected, s"B=$blocks: incremental=${inc.toSet -- expected} " +
        s"missing=${expected -- inc.toSet}")
    }
    Seq(4, 5, 6).foreach(check)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val shuffled = NearDup.incrementalFromSimhash(simNew, corpus, 5, 64)
      shuffled.collect()
      assert(!planNodes(shuffled.queryExecution.executedPlan).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        "test premise: the shuffle plan ran")
      check(5)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every node of an executed plan, through AQE wrappers and stages. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case _ => p +: p.children.flatMap(planNodes)
    }
  }

  test("incremental probe plan: the engine-sized batch is broadcast, the corpus scan never shuffles") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val tmp = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    // an ingest epoch's shape: ~1.4k fetched docs against a few thousand
    // committed signatures, both signature sets read from parquet as the
    // engine does
    def docs(from: Long, n: Long) = spark.range(from, from + n)
      .select(concat(lit("https://h.example/"), col("id")).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          i => concat(lit("w"), pmod(col("id") * 31 + i * 7, lit(5000))))).as("text"))
    NearDup.simhashTotal(docs(0, 3000)).write.parquet(s"$tmp/corpus_sim")
    NearDup.simhashTotal(docs(3000, 1400)).write.parquet(s"$tmp/batch")
    val out = NearDup.incrementalFromSimhash(spark.read.parquet(s"$tmp/batch"),
      spark.read.parquet(s"$tmp/corpus_sim"), Banding.blocksFor(4400), 64)
    out.collect()
    val plan = out.queryExecution.executedPlan
    val nodes = planNodes(plan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"no broadcast join:\n$plan")
    // no Exchange holds the corpus scan below it (the batch is scanned
    // twice: as probe rows, and under the broadcast exchange)
    def isCorpusScan(p: SparkPlan) = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName == "corpus_sim")
      case _ => false
    }
    assert(nodes.exists(isCorpusScan), s"no corpus scan:\n$plan")
    assert(!nodes.exists {
      case e: Exchange => planNodes(e).exists(isCorpusScan)
      case _ => false
    }, s"the corpus scan sits under an Exchange:\n$plan")
  }

  test("vote kernel: generated and interpreted paths equal the ±1 vote") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val arrays: Seq[Seq[Option[Long]]] = Seq(Seq.empty) ++ Seq.fill(40)(
      Seq.fill(rnd.nextInt(9))(Some(rnd.nextLong()))) :+ Seq(Some(1L), None, Some(3L))
    // a null hash counts in n and votes against every bit
    def pm1(hs: Seq[Option[Long]], bits: Int): Long = (0 until bits).map { b =>
      val votes = hs.map(h => if (h.exists(x => ((x >>> b) & 1L) == 1L)) 1 else -1).sum
      if (votes > 0) 1L << b else 0L
    }.sum
    val df = arrays.zipWithIndex.map { case (a, i) => (i, a) }.toDF("i", "hs")
    def run(): Map[Int, (Long, Long)] = df.select(col("i"),
        graft.plans.SimhashVote(col("hs"), 64), graft.plans.SimhashVote(col("hs"), 60))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = arrays.indices.map(i => i -> ((pm1(arrays(i), 64), pm1(arrays(i), 60)))).toMap
    assert(run() == want, "generated path")
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "false"); spark.conf.set(keys(1), "NO_CODEGEN")
    try assert(run() == want, "interpreted path")
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
