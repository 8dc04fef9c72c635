package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Partitioned Bloom URL-seen set (SURVEY.md §2.4 row D3, north rule).
  *
  * The reference deduplicates with an exact in-memory Python set
  * (src/api/crawling_info_list.py:94,157-161) — single-process only. At a
  * 10^10-URL frontier the seen set is sharded: per-segment Bloom filters are
  * built distributively (this Aggregator), OR-merged, and broadcast each
  * epoch as a *prefilter* in front of the exact anti-join (J2). A Bloom
  * false positive would silently drop a never-seen URL, so the Bloom is
  * only ever used to prune rows that then still pass through the exact
  * `left_anti` — the final seen-set equals the reference's exactly; the
  * Bloom just keeps the exact join's probe side small.
  *
  * Why Bloom and not cuckoo (the north rule allows either): the seen set
  * is append-only (URLs are never un-seen), so cuckoo's one advantage —
  * deletion — buys nothing here, while the engine's log-structured build
  * depends on a property cuckoo lacks: per-epoch segment filters must
  * merge associatively/commutatively under partial aggregation and across
  * epoch appends (reduce/merge in BloomAgg, orBlobs in the executor-side
  * table merge). Bloom merge is bitwise OR — O(bytes), exact, order-free;
  * merging cuckoo filters means re-inserting victims and can FAIL at
  * load, which would poison an epoch commit. Same fpp-per-bit class
  * either way at our ~10 bits/URL operating point.
  */
object Bloom {

  /** Version of the bit-level hash layout persisted in seen_bloom blobs.
    * Bump whenever h1Of/h2Of/idx change: a filter built by one version
    * probed by another yields silent FALSE NEGATIVES (seen URLs re-enter
    * the frontier), so EpochDriver refuses to resume a store whose
    * manifest carries a different version. v1 = second hash computed as
    * an independent string pass; v2 = h2 derived from h1 by one splitmix
    * round.
    */
  val HashVersion = 2L

  /** Pure bit-set Bloom over strings; k hashes by double hashing
    * (h1 + i·h2, Kirsch–Mitzenmacher). Plain Scala so the fetch simulator,
    * the Aggregator below, and tests share one implementation.
    */
  final case class Filter(bits: Array[Long], k: Int) {
    def m: Int = bits.length * 64

    private def idx(h1: Long, h2: Long, i: Int): Int = {
      val h = h1 + i.toLong * h2
      ((h % m + m) % m).toInt
    }

    // h2 derives from h1 by one extra splitmix round rather than a second
    // full pass over the string: Kirsch–Mitzenmacher needs two hashes that
    // are pairwise-independent-ish, not independently computed — the
    // avalanche of splitmix64 over (h1 ^ const) gives that for half the
    // string-hash cost per add/probe (the build touches every seen URL
    // every epoch, so this is a per-epoch full-table scan cost).
    @inline private def h1Of(s: String): Long = graft.gen.SimWeb.mix(0x5eedL, s)
    @inline private def h2Of(h1: Long): Long =
      graft.gen.SimWeb.splitmix(h1 ^ 0xb100dL) | 1L

    def add(s: String): Unit = {
      val h1 = h1Of(s)
      val h2 = h2Of(h1)
      var i = 0
      while (i < k) {
        val b = idx(h1, h2, i)
        bits(b >> 6) |= (1L << (b & 63))
        i += 1
      }
    }

    def mightContain(s: String): Boolean = {
      val h1 = h1Of(s)
      val h2 = h2Of(h1)
      var i = 0
      while (i < k) {
        val b = idx(h1, h2, i)
        if ((bits(b >> 6) & (1L << (b & 63))) == 0L) return false
        i += 1
      }
      true
    }

    def orInPlace(o: Filter): Filter = {
      require(o.bits.length == bits.length && o.k == k, "incompatible Bloom segments")
      var i = 0
      while (i < bits.length) { bits(i) |= o.bits(i); i += 1 }
      this
    }

    def serialize: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + bits.length * 8)
      bb.putInt(k)
      bits.foreach(bb.putLong)
      bb.array()
    }
  }

  /** OR two serialized same-geometry filters without deserializing: the
    * 4-byte k headers are identical (so OR-ing them is the identity) and
    * the rest is the raw bit array. This is the executor-side merge kernel.
    */
  def orBlobs(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length, "incompatible Bloom segment blobs")
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
    out
  }

  object Filter {
    def empty(mBits: Int, k: Int): Filter =
      Filter(new Array[Long]((mBits + 63) / 64), k)

    def deserialize(b: Array[Byte]): Filter = {
      val bb = java.nio.ByteBuffer.wrap(b)
      val k = bb.getInt
      val n = (b.length - 4) / 8
      val bits = new Array[Long](n)
      var i = 0
      while (i < n) { bits(i) = bb.getLong; i += 1 }
      Filter(bits, k)
    }
  }

  /** Distributed Bloom build: typed Aggregator over the canon_url column
    * (the public analog of TypedImperativeAggregate — SURVEY §2.10);
    * merge is bitwise OR, so it is commutative/associative and safe under
    * partial aggregation.
    */
  final class BloomAgg(mBits: Int, k: Int)
      extends Aggregator[String, Filter, Array[Byte]] {
    override def zero: Filter = Filter.empty(mBits, k)
    override def reduce(b: Filter, a: String): Filter = { b.add(a); b }
    override def merge(b1: Filter, b2: Filter): Filter = b1.orInPlace(b2)
    override def finish(r: Filter): Array[Byte] = r.serialize
    override def bufferEncoder: Encoder[Filter] = Encoders.kryo[Filter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build per-segment Bloom filters: canon_urls are hash-partitioned into
    * `segments` shards; one Bloom per shard. Returns (segment_id, bloom, n).
    */
  def buildSegments(seen: DataFrame, urlCol: String, segments: Int,
      mBitsPerSegment: Int, k: Int = 5): DataFrame = {
    val spark = seen.sparkSession
    import spark.implicits._
    seen
      .select(
        pmod(graft.functions.Canon.md5Long(col(urlCol)), lit(segments)).as("segment_id"),
        col(urlCol).as("u"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new BloomAgg(mBitsPerSegment, k).toColumn.name("bloom"))
      .toDF("segment_id", "bloom")
  }

  /** Merge the seen_bloom table's per-(epoch, segment) rows into one filter
    * per segment, OR-reducing ON THE EXECUTORS: the table holds one row per
    * segment per epoch append, so a crawl E epochs deep has E×segments
    * blobs — a driver-side collect of all of them (the round-2 shape) is
    * O(E × total-filter-bytes) driver memory and single-threaded XOR work.
    * reduceGroups runs map-side partial merges, so the driver receives
    * exactly `segments` final blobs — the same bytes a fresh build would
    * produce — independent of epoch count.
    *
    * Memory geometry at the north rule's 10^10-URL scale (also in
    * BASELINE.md): 10 bits/URL ≈ 12.5 GB of filter across, say, 1024
    * segments (~12 MB each). Driver transient footprint is the final 12.5
    * GB ONCE (vs E× that before); the subsequent torrent broadcast ships
    * each executor one copy. Past ~executor-memory/3 the next step would
    * be segment-routed probing (co-partition candidates by segment_id and
    * open only the local segment per partition) — same table layout, no
    * merged broadcast at all; a routed probe built earlier lost to the
    * broadcast at every geometry a 15 GB box fits, so none is kept.
    */
  def mergedSegments(segDf: DataFrame, segments: Int, mBits: Int, k: Int = 5): Array[Filter] = {
    val spark = segDf.sparkSession
    import spark.implicits._
    // the ONE executor-side OR-merge pipeline, shared with the committed
    // fold (foldSegments) so the driver-collect and fold paths cannot
    // diverge; the driver receives exactly `segments` final blobs
    val merged = foldSegments(segDf).as[(Long, Array[Byte])].collect()
    val out = Array.fill(segments)(Filter.empty(mBits, k))
    merged.foreach { case (id, blob) => out(id.toInt) = Filter.deserialize(blob) }
    out
  }

  /** OR-fold the seen_bloom table's per-(epoch, segment) rows into ONE row
    * per segment, as a DataFrame (no driver collect): committed at
    * compaction epochs in place of the appended blob log, so the per-epoch
    * read+merge cost is O(segments + appends-since-fold) blobs instead of
    * O(epochs × segments). OR is associative/commutative and the blobs are
    * format-versioned (cfg_bloom_hash_version), so the folded table is
    * bit-identical to merging the unfolded log.
    */
  def foldSegments(segDf: DataFrame): DataFrame = {
    val spark = segDf.sparkSession
    import spark.implicits._
    segDf.select(col("segment_id"), col("bloom"))
      .as[(Long, Array[Byte])]
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, orBlobs(a._2, b._2)))
      .map { case (id, (_, blob)) => (id, blob) }
      .toDF("segment_id", "bloom")
  }
}

/** The merged seen-set Bloom segments as one probe object. Top-level class
  * (NOT nested in an object) deliberately: its JVM name
  * `graft.operators.SegmentedBloom` is valid Java *source*, so the codegen'd
  * BloomMightContain expression can cast to it inside Janino-compiled code —
  * a nested Scala type's `Foo$Bar`/`[LFoo$Bar;` name is not, and a bad cast
  * class silently downgrades the whole stage to interpreted execution.
  */
final class SegmentedBloom(val segments: Array[Bloom.Filter]) extends Serializable {
  private val n = segments.length
  def mightContain(s: String): Boolean = {
    val id = (graft.functions.CanonJvm.md5Long(s) % n).toInt
    segments(id).mightContain(s)
  }
}

object Seen {

  /** Ship the merged segments as ONE sparkContext.broadcast per epoch — not
    * a closure/plan capture, which would reserialize the (multi-MB at
    * 10^10-URL scale) filter array with every task. The caller OWNS the
    * returned handle and must `destroy()` it once the epoch's actions have
    * completed: filterUnseen used to create a fresh broadcast per call and
    * never release it, so a long many-epoch crawl accumulated every past
    * epoch's filter blob in the block managers until the ContextCleaner
    * happened to GC the plan references.
    */
  def broadcastSegments(spark: org.apache.spark.sql.SparkSession,
      segs: Array[Bloom.Filter]): org.apache.spark.broadcast.Broadcast[SegmentedBloom] =
    spark.sparkContext.broadcast(new SegmentedBloom(segs))

  /** J2 + D3: drop candidates already in the seen set. The Bloom segments
    * (broadcast) prune the probe side first — a "definitely not seen" row
    * skips nothing, a "might be seen" row goes to the exact anti-join.
    * Correctness never depends on the Bloom (no false-negative property is
    * tested in BloomSpec); it only shrinks the join input.
    */
  /** The exact join is HINTED to shuffled-hash with the seen side as the
    * build: Spark's default (preferSortMergeJoin) would SORT both sides —
    * an O(n log n) pass over the full seen set every epoch. The seen table
    * is already hash-bucketed on canon_url (SeenBucketSpec pins the
    * no-Exchange scan), so per partition the build side is |seen|/P rows —
    * a hash table per task is exactly what partition sizing already
    * budgets for, at the bench geometry and at 10^10 URLs alike (P is the
    * store's bucket count, recorded at its first commit from the creating
    * session's shuffle width, so a store created on a cluster-sized session
    * gets cluster-sized buckets). Anti/outer semantics and results are
    * identical either way.
    */
  def filterUnseen(candidates: DataFrame, urlCol: String, seen: DataFrame,
      bloom: Option[org.apache.spark.broadcast.Broadcast[SegmentedBloom]]): DataFrame =
    bloom match {
      case None =>
        candidates.join(
          seen.withColumnRenamed("canon_url", urlCol).select(urlCol)
            .hint("shuffle_hash"),
          Seq(urlCol), "left_anti")
      case Some(bc) =>
        // native codegen'd Expression, not a UDF (graft.plans
        // .BloomMightContain), and a SINGLE pass over the candidates: a
        // filter/union formulation would evaluate the whole upstream
        // pipeline once per branch. Left-outer join whose condition
        // includes the probe-side Bloom verdict: "definitely new" rows
        // never match (kept), "maybe seen" rows match exactly when the
        // exact set contains them (dropped by the null filter).
        val maybe = graft.plans.BloomMightContain(col(urlCol), bc)
        val marker = seen.select(col("canon_url").as("_seen_url"),
          lit(true).as("_in_seen")).hint("shuffle_hash")
        candidates
          .join(marker, col(urlCol) === col("_seen_url") && maybe, "left_outer")
          .filter(col("_in_seen").isNull)
          .drop("_seen_url", "_in_seen")
    }
}
