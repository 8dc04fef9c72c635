package graft

import org.scalacheck.Gen
import graft.operators.Bloom

/** D3 properties (SURVEY.md §5.2-2): zero false negatives, merge
  * commutativity/associativity, serialization round-trip, and a sane
  * false-positive rate at design load.
  */
class BloomSpec extends SparkSpecBase {

  private val m = 1 << 14
  private val k = 5

  test("no false negatives, ever") {
    val urls = Gen.listOfN(2000, Gen.alphaNumStr.suchThat(_.nonEmpty)).sample.get
    val f = Bloom.Filter.empty(m, k)
    urls.foreach(f.add)
    urls.foreach(u => assert(f.mightContain(u), s"false negative for $u"))
  }

  test("merge is commutative and associative, and unions contents") {
    val a = (0 until 500).map(i => s"a$i")
    val b = (0 until 500).map(i => s"b$i")
    val c = (0 until 500).map(i => s"c$i")
    def mk(xs: Seq[String]) = {
      val f = Bloom.Filter.empty(m, k); xs.foreach(f.add); f
    }
    val ab = mk(a).orInPlace(mk(b))
    val ba = mk(b).orInPlace(mk(a))
    assert(ab.bits.sameElements(ba.bits))
    val abc1 = mk(a).orInPlace(mk(b)).orInPlace(mk(c))
    val abc2 = mk(a).orInPlace(mk(b).orInPlace(mk(c)))
    assert(abc1.bits.sameElements(abc2.bits))
    (a ++ b ++ c).foreach(u => assert(abc1.mightContain(u)))
  }

  test("serialization round-trips") {
    val f = Bloom.Filter.empty(m, k)
    (0 until 100).foreach(i => f.add(s"u$i"))
    val g = Bloom.Filter.deserialize(f.serialize)
    assert(g.k == f.k && g.bits.sameElements(f.bits))
  }

  test("false-positive rate is sane at design load") {
    // n = m/16 items at k=5 → theoretical fpp ≈ 0.05%; assert < 2%
    val f = Bloom.Filter.empty(m, k)
    val n = m / 16
    (0 until n).foreach(i => f.add(s"in$i"))
    val probes = 10000
    val fp = (0 until probes).count(i => f.mightContain(s"out$i"))
    assert(fp < probes * 0.02, s"fpp too high: $fp/$probes")
  }

  test("distributed segment build equals sequential build") {
    import spark.implicits._
    val urls = (0 until 1000).map(i => s"https://h${i % 7}.com/p/$i")
    val segDf = Bloom.buildSegments(urls.toDF("canon_url"), "canon_url", 4, m, k)
    val segs = Bloom.mergedSegments(segDf, 4, m, k)
    // every inserted url must be found in its segment
    urls.foreach { u =>
      val id = (graft.functions.CanonJvm.md5Long(u) % 4).toInt
      assert(segs(id).mightContain(u))
    }
  }

  test("executor-side multi-epoch merge equals one-shot build (orBlobs kernel)") {
    import spark.implicits._
    // three epoch appends → 3 rows per segment in the table; the merged
    // result must be bit-identical to building once over the union
    val epochs = Seq(
      (0 until 400).map(i => s"https://e0h${i % 5}.com/p/$i"),
      (0 until 400).map(i => s"https://e1h${i % 5}.com/p/$i"),
      (0 until 400).map(i => s"https://e2h${i % 5}.com/p/$i"))
    val segDf = epochs.map(us =>
      Bloom.buildSegments(us.toDF("canon_url"), "canon_url", 4, m, k))
      .reduce(_ unionAll _)
    val merged = Bloom.mergedSegments(segDf, 4, m, k)
    val oneShot = Bloom.mergedSegments(
      Bloom.buildSegments(epochs.flatten.toDF("canon_url"), "canon_url", 4, m, k),
      4, m, k)
    merged.zip(oneShot).foreach { case (a, b) =>
      assert(a.k == b.k && a.bits.sameElements(b.bits))
    }
  }

  test("broadcast probe over a multi-epoch segment log equals the exact anti-join") {
    import spark.implicits._
    val seen = (0 until 500).map(i => s"https://h${i % 7}.com/p/$i").toDF("canon_url")
    val cand = (250 until 750).map(i => s"https://h${i % 7}.com/p/$i").toDF("canon_url")
    // two epoch appends — the merge must OR them per segment
    val segDf = Seq(
      Bloom.buildSegments(seen.limit(300), "canon_url", 4, m, k),
      Bloom.buildSegments(seen, "canon_url", 4, m, k)).reduce(_ unionAll _)
    val exact = graft.operators.Seen
      .filterUnseen(cand, "canon_url", seen, None)
      .collect().map(_.getString(0)).toSet
    val bc = graft.operators.Seen.broadcastSegments(spark,
      Bloom.mergedSegments(segDf, 4, m, k))
    val viaBroadcast = graft.operators.Seen
      .filterUnseen(cand, "canon_url", seen, Some(bc))
      .collect().map(_.getString(0)).toSet
    bc.destroy()
    assert(viaBroadcast === exact)
    assert(exact.size === 250)
  }

  test("Column md5Long and JVM md5Long agree") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val xs = Gen.listOfN(200, Gen.alphaNumStr).sample.get.distinct
    val viaSpark = xs.toDF("x")
      .select(graft.functions.Canon.md5Long(col("x"))).as[Long].collect().toSeq
    val viaJvm = xs.map(graft.functions.CanonJvm.md5Long)
    assert(viaSpark == viaJvm)
  }
}
