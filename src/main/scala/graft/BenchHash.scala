package graft

import org.apache.spark.sql.functions._
import graft.operators.NearDup

/** Timed A/B of the simhash token-hash floor (round-4 verdict item 4):
  * the md5-prefix hash exists ONLY for DuckDB-oracle bit parity
  * (Registry.duckMd5Long); the operator default is Spark's codegen'd
  * xxhash64. This main measures both formulations over the same synthetic
  * corpus — identical plan shape, the hash expression is the only delta —
  * and prints one JSON line with best-of-N walls and the speedup.
  *
  * Usage: runMain graft.BenchHash [nDocs] [tokensPerDoc] [trials]
  */
object BenchHash {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toInt).getOrElse(600000)
    val tokens = args.lift(1).map(_.toInt).getOrElse(64)
    val trials = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = SparkEntry.session("bench-hash")
    val cpus = spark.sparkContext.defaultParallelism

    // deterministic corpus: nDocs docs × `tokens` distinct tokens drawn
    // from a 50k vocabulary — the explode/hash/vote shape of a real run,
    // cached so generation rides outside every timed window
    val docs = spark.range(nDocs.toLong)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(tokens - 1)),
          i => concat(lit("t"),
            pmod(col("id") * 61 + i * 7919, lit(50000))))).as("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val n = docs.count()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // force every simhash by aggregating it — nothing prunes the column
    def run(hashBits: Int, h: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column): Unit = {
      NearDup.simhash(docs, hashBits, h)
        .agg(sum(col("simhash"))).collect()
      ()
    }
    // the round-4 baseline: md5 hashing + one ±1-vote sum() PER BIT (the
    // explode/groupBy formulation the operator's per-row vote kernel
    // replaced) — timed so the artifact carries operator-path-vs-legacy
    // directly (the `*_packed_sec` keys keep their names and now time the
    // per-row kernel)
    def runLegacy(): Unit = {
      import graft.functions.TextFns
      val toks = docs.select(col("doc_id"),
          explode(array_distinct(TextFns.tokens(col("text")))).as("tok"))
        .withColumn("h", graft.functions.Canon.md5Long(col("tok")))
      val votes = (0 until NearDup.SimhashBits).map { b =>
        sum(when(pmod(shiftright(col("h"), b), lit(2L)) === 1L, 1L)
          .otherwise(-1L)).as(s"v$b")
      }
      toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), (0 until NearDup.SimhashBits)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
        .agg(sum(col("simhash"))).collect()
      ()
    }
    // hash-only legs isolate the token-hash floor from the shared
    // explode + vote-aggregation cost
    def runHashOnly(h: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column): Unit = {
      docs.select(explode(split(col("text"), " ")).as("tok"))
        .agg(sum(h(col("tok")))).collect()
      ()
    }
    // alternate trials so load waves hit both sides evenly
    val walls = (1 to trials).map { _ =>
      (time(runLegacy()),
        time(run(NearDup.SimhashBits, graft.functions.Canon.md5Long)),
        time(run(NearDup.XxHashBits, NearDup.xxTokenHash)),
        time(runHashOnly(graft.functions.Canon.md5Long)),
        time(runHashOnly(c => xxhash64(c))))
    }
    val legacyBest = walls.map(_._1).min
    val md5Best = walls.map(_._2).min
    val xxBest = walls.map(_._3).min
    val md5HashBest = walls.map(_._4).min
    val xxHashBest = walls.map(_._5).min
    println(s"""{"metric":"simhash_token_hash_ab","docs":$n,"tokens_per_doc":$tokens,"hashes":${n * tokens},"legacy_md5_60agg_sec":$legacyBest,"md5_packed_sec":$md5Best,"xx_packed_sec":$xxBest,"speedup_vs_legacy":${legacyBest / xxBest},"speedup_hash_swap":${md5Best / xxBest},"md5_hash_only_sec":$md5HashBest,"xx_hash_only_sec":$xxHashBest,"hash_only_speedup":${md5HashBest / xxHashBest},"legacy_walls":${walls.map(_._1).mkString("[", ",", "]")},"md5_walls":${walls.map(_._2).mkString("[", ",", "]")},"xx_walls":${walls.map(_._3).mkString("[", ",", "]")},"cpus":$cpus}""")
    spark.stop()
  }
}
