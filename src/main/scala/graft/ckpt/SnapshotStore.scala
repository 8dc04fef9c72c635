package graft.ckpt

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** Iceberg-style snapshot layer (SURVEY.md §7.2 constraint C1: no Iceberg
  * runtime jar ships in this sandbox, so the snapshot/manifest mechanics are
  * implemented directly — Parquet data files + JSON manifests committed by
  * atomic rename; a real Iceberg catalog can slot in behind the same trait).
  *
  * All I/O goes through Hadoop FileSystem, so the store works on any
  * filesystem with an atomic rename that refuses an existing target (local,
  * HDFS): that rename is the commit point, as in Iceberg's file-system
  * tables. For object stores without atomic rename (S3) an
  * Iceberg/metastore catalog would take over the commit, as noted above.
  *
  * Layout:
  * {{{
  *   root/manifest/v<N>.json     // immutable snapshot manifest; the newest
  *                               //   one is the store's current snapshot
  *   root/data/<table>/v<N>/     // parquet staged for snapshot N
  *   root/data/seen/v<N>/        // snapshot N's seen slice, at most one
  *                               //   file per bucket of the manifest's
  *                               //   `seen_buckets` (`…_<bucket>.snappy.parquet`)
  *   root/data/seen_fold/v<N>/   // a seen compaction staged by snapshot N
  * }}}
  *
  * Manifest (`v<N>.json`): `version`, `parent`, `epoch`, `seen_buckets`,
  * `tables` (table → its data dirs, relative to the store root, so a copied
  * store reads its own files), `schemas` (table → the schema its files
  * carry, as compact `StructType.json`) and `counters`. Readers take every
  * table's schema from the manifest, so a read lists its dirs on the driver
  * and runs no Spark job, and a zero-row or file-less dir reads back as an
  * empty table. A manifest without `schemas` refuses to open. In memory,
  * [[Manifest.tables]] holds the dirs resolved against the root.
  *
  * Commit protocol (all-or-nothing, resume-exact — SURVEY §7.5):
  *  1. [[stage]] each table's parquet once under data/<table>/v<N>/; the
  *     write itself reports its schema, rows and bytes
  *  2. [[commit]] the staged entries: the new table → dirs and table →
  *     schema maps (a staged schema must equal the committed one) go to
  *     v<N>.json.tmp, hsync, and a rename to v<N>.json that refuses an
  *     existing target — the commit point. A commit whose version another
  *     commit already took fails and leaves that manifest untouched.
  * A crash before the rename leaves the previous snapshot current; orphan
  * data dirs and a leftover v<N>.json.tmp are ignored because readers only
  * follow manifest-referenced paths, and the re-run stages into the same
  * dirs and overwrites the temp file.
  *
  * Finding the current snapshot: the store lists manifest/ once, at
  * construction, for the newest `v<N>.json`; after that [[latestVersion]]
  * probes `v<N+1>.json` forward, so an instance opened before later commits
  * (by itself or another instance on the same root) sees them, and
  * [[latest]] parses a manifest only when the probe finds a newer one.
  */
final class SnapshotStore(rootDir: String, spark: SparkSession) {
  import SnapshotStore.{ManifestName, SeenSchema, Staged}
  private val mapper = new ObjectMapper
  private val root = new HPath(rootDir)
  private val rootPrefix = root.toString + "/"
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val manifestDir = new HPath(root, "manifest")
  fs.mkdirs(manifestDir)

  // the newest committed version this instance has seen (-1: none), and
  // its manifest once parsed; guarded by `this` (epoch branches stage
  // concurrently)
  private var newest = fs.listStatus(manifestDir).map(_.getPath.getName)
    .collect { case ManifestName(v) => v.toLong }.maxOption.getOrElse(-1L)
  private var parsed: Option[Manifest] = None

  /** One snapshot. `seenBuckets` is the seen table's hash bucket count:
    * fixed by the store's first commit and carried by every later one, so
    * every seen file of the store was written with the same count.
    * `schemas` holds each table's schema, as its files were written.
    */
  final case class Manifest(
      version: Long,
      parent: Long,
      epoch: Long,
      seenBuckets: Int,
      tables: Map[String, Seq[String]],
      schemas: Map[String, StructType],
      counters: Map[String, Long])

  private def manifestPath(v: Long) = new HPath(manifestDir, s"v$v.json")

  /** The newest committed version: the last one seen, probed forward. */
  def latestVersion(): Option[Long] = synchronized {
    while (fs.exists(manifestPath(newest + 1))) newest += 1
    Option.when(newest >= 0)(newest)
  }

  def latest(): Option[Manifest] = synchronized {
    parsed = latestVersion().map(v => parsed.filter(_.version == v).getOrElse(readManifest(v)))
    parsed
  }

  def readManifest(v: Long): Manifest = {
    // the parser closes the stream once it has read the tree or failed
    val node = mapper.readTree(fs.open(manifestPath(v)))
    def field(key: String) = {
      val n = node.get(key)
      require(n != null, s"snapshot v$v has no $key: a store written " +
        s"before $key was recorded cannot be opened")
      n
    }
    def entries(key: String) = field(key).properties().asScala.map(e =>
      e.getKey -> e.getValue).toMap
    Manifest(node.get("version").asLong(), node.get("parent").asLong(),
      node.get("epoch").asLong(), field("seen_buckets").asInt(),
      entries("tables").map { case (t, a) =>
        t -> a.elements().asScala.map(d => resolved(d.asText())).toSeq },
      entries("schemas").map { case (t, j) =>
        t -> DataType.fromJson(j.asText()).asInstanceOf[StructType] },
      entries("counters").map { case (k, x) => k -> x.asLong() })
  }

  /** A manifest dir as read back: written relative to the root when under
    * it, so resolved against the root when relative.
    */
  private def resolved(dir: String): String =
    if (new HPath(dir).isAbsolute) dir else new HPath(root, dir).toString

  /** `table` as of manifest `m`, read with its recorded schema: the dirs
    * are listed on the driver, and no Spark job runs.
    */
  def readTable(m: Manifest, table: String): Option[DataFrame] =
    m.tables.get(table).map(read(m.schemas(table), _))

  /** Parquet `dirs` read with `schema` (no dirs: an empty table). Each
    * dir is its own scan: hive-style partition discovery (the frontier's
    * `state=` dirs) rejects a read whose dirs are different roots.
    */
  def read(schema: StructType, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else dirs.map(spark.read.schema(schema).parquet(_)).reduce(_.unionByName(_))

  /** A staged write, read back from its dir. */
  def read(s: Staged): DataFrame = read(s.schema, Seq(s.dir))

  /** The version the NEXT commit will get (single-writer store), and the
    * data directory that commit would assign to `table`. A crash before
    * the manifest commit leaves an orphan dir that the deterministic
    * re-run overwrites.
    */
  def nextVersion(): Long = latestVersion().map(_ + 1).getOrElse(0L)
  def stagingDir(table: String): String =
    new HPath(root, s"data/$table/v${nextVersion()}").toString

  /** The one table write: `df` once into the next commit's dir for
    * `table` (data/<table>/v<N>; hive-style `partitionBy` dirs when given,
    * so predicates on that column prune whole directories at read time —
    * e.g. the frontier's `state`). The row count is observed in the
    * write's own tasks, and the bytes come from the filesystem's summary
    * of the written dir, so neither re-reads the output. Callers that derive
    * further results from the written bytes read them back with [[read]].
    */
  def stage(table: String, df: DataFrame,
      partitionBy: Option[String] = None): Staged = {
    val dir = stagingDir(table)
    val rows = Observation()
    val w = df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite")
    partitionBy.fold(w)(w.partitionBy(_)).parquet(dir)
    Staged(dir, SnapshotStore.normalized(df.schema),
      rows.get("rows").asInstanceOf[Long],
      fs.getContentSummary(new HPath(dir)).getLength)
  }

  /** The dirs `m` commits for `table`, as entries a later commit can name
    * again (a fold's untouched generations, a consolidation's surviving
    * root): they write nothing, so rows and bytes are 0.
    */
  def committed(m: Manifest, table: String): Seq[Staged] =
    m.tables(table).map(Staged(_, m.schemas(table), 0L, 0L))

  /** Commit a new snapshot on top of `parent` (by default the latest).
    * `replace` tables point only at the given entries; `append` tables
    * carry the parent's dirs forward plus the staged one (fetch lineage
    * accumulates this way without rewriting history); `drop` removes a
    * table from the manifest entirely (a fold drops the delta log it
    * resolved). Parent tables not named carry forward unchanged — a commit
    * pays I/O only for what it touches. Every entry's schema must equal the
    * table's committed schema: the manifest records one schema per table,
    * and readers apply it to all of the table's dirs. Fails, committing
    * nothing, if a snapshot on top of `parent` already exists.
    */
  def commit(epoch: Long, replace: Map[String, Seq[Staged]],
      append: Map[String, Staged], counters: Map[String, Long],
      drop: Set[String] = Set.empty, parent: Option[Manifest] = latest()): Manifest = {
    val v = parent.map(_.version + 1).getOrElse(0L)
    val prev = parent.fold(Map.empty[String, Seq[String]])(_.tables)
    val prevSchemas = parent.fold(Map.empty[String, StructType])(_.schemas)
    val staged = replace ++ append.map { case (t, s) => t -> Seq(s) }
    val schemas = staged.map { case (t, ss) =>
      val s = (prevSchemas.get(t) ++ ss.map(_.schema)).toSeq.distinct
      require(s.size == 1, s"table $t: staged schemas ${s.map(_.simpleString)
        .mkString(" / ")} differ from its committed schema")
      t -> s.head
    }
    val m = Manifest(v, parent.map(_.version).getOrElse(-1L), epoch,
      seenBuckets(parent),
      prev -- drop ++ replace.map { case (t, ss) => t -> ss.map(_.dir) } ++
        append.map { case (t, s) => t -> (prev.getOrElse(t, Nil) :+ s.dir) },
      prevSchemas -- drop ++ schemas, counters)

    val node: ObjectNode = mapper.createObjectNode()
    node.put("version", m.version)
    node.put("parent", m.parent)
    node.put("epoch", m.epoch)
    node.put("seen_buckets", m.seenBuckets)
    val tn = node.putObject("tables")
    m.tables.foreach { case (t, ps) =>
      val a = tn.putArray(t); ps.foreach(p => a.add(p.stripPrefix(rootPrefix)))
    }
    val sn = node.putObject("schemas")
    m.schemas.foreach { case (t, s) => sn.put(t, s.json) }
    val cn = node.putObject("counters")
    m.counters.foreach { case (k, x) => cn.put(k, x) }

    // the commit point: `rename` refuses an existing v<N>.json
    val vJson = manifestPath(v)
    rename(syncedTemp(vJson,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)), vJson)
    m
  }

  // ------------------------------------------------ bucketed seen table
  //
  // The URL-seen set is append-only and anti-joined against EVERY epoch's
  // candidates; as plain parquet it would force the anti-join to reshuffle
  // the entire (10^10-row at target scale) set per epoch. It is instead
  // the manifest table `seen` whose files each hold ONE hash bucket of
  // canon_url and carry Spark's bucket-file suffix, so its scan reports
  // HashPartitioning(canon_url, seenBuckets) and only the (small,
  // per-epoch) candidate side shuffles. Visibility and crash safety are
  // the manifest's, like every other table: an uncommitted slice or fold
  // is an unreferenced staging dir that the re-run overwrites and
  // expireUnreferenced reclaims.
  //
  // The bucket count is the width of the creating session's exchanges
  // (spark.sql.shuffle.partitions), so the anti-join's output, and every
  // post-dedup stage and file write that consumes it, runs one task per
  // core. The store's first
  // commit records it in the manifest and every later commit carries it:
  // readers and writers use the manifest's count, never the session's, so
  // a store resumed at another width keeps the count its files carry.

  /** Stage `urls`' canon_url column, one file per bucket, into this
    * commit's `seen` dir, for the caller's `commit(append = "seen" -> …)`.
    * Slices are disjoint (each epoch appends only URLs the anti-join found
    * unseen), so no dedup is needed.
    */
  def appendSeen(urls: DataFrame): Staged = suffixBuckets(stage("seen",
    urls.select("canon_url").repartition(seenBuckets(latest()), col("canon_url"))))

  /** Fold the seen dirs `dirs` into one (compaction is file-count
    * management only: the set is unchanged). Staged under `seen_fold`, so
    * it never shares a dir with the same commit's slice; the caller's
    * `commit(replace = "seen" -> …)` names it, after which
    * expireUnreferenced deletes the folded dirs.
    */
  def compactSeen(dirs: Seq[String]): Staged = suffixBuckets(stage("seen_fold",
    read(SeenSchema, dirs).repartition(seenBuckets(latest()), col("canon_url"))))

  /** The bucket count a commit on top of `parent` records: the parent's,
    * or for the store's first commit the session's shuffle width.
    */
  private def seenBuckets(parent: Option[Manifest]): Int =
    parent.fold(spark.conf.get("spark.sql.shuffle.partitions").toInt)(_.seenBuckets)

  /** Rename each part file of a hash-partitioned write after its bucket:
    * the hash partition id IS the bucket id, and Spark reads it from the
    * name (`part-00007-<job>-c000_00007.snappy.parquet`).
    */
  private def suffixBuckets(s: Staged): Staged = {
    fs.listStatus(new HPath(s.dir)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).foreach { p =>
        val (stem, ext) = p.getName.splitAt(p.getName.indexOf('.'))
        val bucket = stem.stripPrefix("part-").takeWhile(_.isDigit)
        rename(p, new HPath(p.getParent, s"${stem}_$bucket$ext"))
      }
    s
  }

  /** The seen set of manifest `m`, as a bucketed scan of its files. */
  def readSeen(m: Manifest): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new InMemoryFileIndex(spark, m.tables.getOrElse("seen", Nil).map(new HPath(_)),
        Map.empty, Some(SeenSchema)),
      new StructType(), SeenSchema, Some(BucketSpec(m.seenBuckets, Seq("canon_url"), Nil)),
      new ParquetFileFormat, Map.empty)(spark))

  /** The seen set as of committed epoch `epoch` (the newest manifest at or
    * before it; versions whose data expired are gone, as with time travel).
    */
  def readSeen(epoch: Long): DataFrame =
    readSeen(Iterator.iterate(latest().get)(p => readManifest(p.parent))
      .find(_.epoch <= epoch).get)

  // ---- staging-space filesystem helpers (used by the frontier fold's
  // archive-by-rename: terminal partitions MOVE out of the staged fold dir
  // before the manifest commit, so the mutation is crash-safe — an aborted
  // attempt leaves only orphan staging dirs the re-run clobbers)

  def pathExists(p: String): Boolean = fs.exists(new HPath(p))

  def deletePath(p: String): Unit = { fs.delete(new HPath(p), true); () }

  /** Rename `src` to `dst`, creating `dst`'s parent. Fails if `dst` exists
    * (callers clobber their own staging target first) — never silently
    * merges two directories.
    */
  def movePath(src: String, dst: String): Unit = {
    val d = new HPath(dst)
    fs.mkdirs(d.getParent)
    rename(new HPath(src), d)
  }

  /** File-level merge-move: rename every data file directly under `srcDir`
    * into `dstDir` (created if needed) with `prefix` prepended — the
    * directory-merge `movePath` refuses, for callers consolidating multiple
    * committed parquet roots into one (archive-root folding). Rename-only:
    * no bytes are rewritten, each file exists in exactly one of the two
    * directories at every instant, and a caller whose manifest references
    * BOTH directories therefore presents every row exactly once throughout.
    * Skips marker files (`_SUCCESS`, dot-files). Returns files moved.
    */
  def moveFilesInto(srcDir: String, dstDir: String, prefix: String): Int = {
    val src = new HPath(srcDir)
    if (!fs.exists(src)) return 0
    val dst = new HPath(dstDir)
    fs.mkdirs(dst)
    val files = fs.listStatus(src).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))
    files.foreach(st =>
      rename(st.getPath, new HPath(dst, prefix + st.getPath.getName)))
    files.length
  }

  /** Iceberg expire-snapshots analog: physically delete versioned data
    * directories (`data/<table>/v<K>`) that the latest manifest no longer
    * references. Without this, every `replace` commit (frontier compaction
    * replaces `frontier_base`) and every `drop` (the folded
    * `frontier_delta` log) strands its superseded directories on disk
    * forever — at the north rule's scale one full frontier copy per
    * compaction cycle. Safety:
    *  - only dirs with version <= the latest are candidates, so a staging
    *    dir the in-flight epoch pre-wrote at the next version (see
    *    [[stagingDir]]) is never touched;
    *  - matching is by (table, vN) path suffix, immune to
    *    relative-vs-qualified path spelling differences between manifest
    *    strings and filesystem listings;
    *  - the store is single-writer and expire runs between epochs, so no
    *    live job holds lineage over an expired dir.
    * After expiry, manifests older than the latest still exist but may
    * reference deleted data — time travel to expired versions is gone,
    * exactly as with Iceberg's expire_snapshots. Returns the number of
    * directories deleted.
    */
  def expireUnreferenced(): Long = latest() match {
    case None => 0L
    case Some(m) =>
      val referenced: Set[(String, String)] = m.tables.values.flatten.map { p =>
        val hp = new HPath(p); (hp.getParent.getName, hp.getName)
      }.toSet
      val dataDir = new HPath(root, "data")
      if (!fs.exists(dataDir)) return 0L
      var deleted = 0L
      fs.listStatus(dataDir).filter(_.isDirectory).foreach { t =>
        fs.listStatus(t.getPath).filter(_.isDirectory).foreach { vd =>
          val name = vd.getPath.getName
          if (name.length > 1 && name.head == 'v' && name.tail.forall(_.isDigit)
              && name.tail.toLong <= m.version
              && !referenced.contains((t.getPath.getName, name))) {
            fs.delete(vd.getPath, true)
            deleted += 1
          }
        }
      }
      deleted
  }

  /** First half of a durable write-then-rename: write `content` to
    * `target`'s temp file, flushed AND synced to stable storage, and
    * return the temp path for the caller's rename — so a crash can never
    * leave the target pointing at truncated bytes (hsync falls back to
    * hflush where the filesystem doesn't support a true fsync).
    */
  private def syncedTemp(target: HPath, content: String): HPath = {
    val tmp = new HPath(target.getParent, target.getName + ".tmp")
    val out = fs.create(tmp, true)
    try {
      out.write(content.getBytes(UTF_8))
      out.hflush()
      try out.hsync() catch { case _: UnsupportedOperationException => () }
    } finally out.close()
    tmp
  }

  /** A file rename that fails loudly: FileSystem.rename reports failure
    * by returning false, and on the local filesystem it would silently
    * replace an existing destination, which the store never intends.
    */
  private def rename(src: HPath, dst: HPath): Unit =
    if (fs.exists(dst) || !fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
}

object SnapshotStore {
  private val ManifestName = "v(\\d+)\\.json".r
  private val SeenSchema = StructType(Seq(StructField("canon_url", StringType)))

  /** One table write for a commit: its dir, the schema its files carry,
    * and the rows and bytes the write produced.
    */
  final case class Staged(dir: String, schema: StructType, rows: Long, bytes: Long)

  /** `t` as parquet reads it back: nullable throughout and without field
    * metadata, so equal writes record equal schemas.
    */
  private def normalized(t: StructType): StructType = nullable(t).asInstanceOf[StructType]
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType))
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType))
    case other => other
  }
}
