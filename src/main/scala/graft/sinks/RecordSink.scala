package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** K1 record sink — the batched executor-side emitter the reference's
  * Kafka REST bridge client implies at scale.
  *
  * The reference POSTs ONE record per HTTP request
  * (/root/reference/src/api/kafka_producer.py:20-45: payload
  * `{"records":[{"key": job_id, "value": message}]}` to
  * `/topics/<topic>`) — fine for a single browser process, fatal for a
  * 1000-executor job (one round-trip per row). Here each PARTITION batches
  * its rows and emits one bridge payload per `batchSize` rows: the client
  * "connection" is opened once per partition (the partition-local init of
  * SURVEY R3), rows stream through a bounded buffer (no partition-sized
  * materialization), and every batch is one atomic emission.
  *
  * The transport is a topic DIRECTORY standing in for the bridge URL (this
  * sandbox has no Kafka; the payload bytes are exactly what the POST body
  * would be, so swapping the file write for an HTTP call is the only
  * deployment delta). Each batch lands as
  * `batch-<tag>-p<partition>-a<attempt>-<n>.json` via
  * write-tmp-then-rename. The TASK ATTEMPT id is part of the FINAL name,
  * not just the tmp: two live attempts of the same partition (speculative
  * execution, a zombie task surviving a stage retry) may consume their
  * input rows in different orders and therefore pack DIFFERENT byte
  * content per batch number — under a shared final name, interleaved
  * renames could publish a mix of both attempts' batches (rows lost from
  * one, duplicated from the other). Attempt-disjoint names make the two
  * attempts' file sets non-overlapping, and the manifest picks exactly
  * one attempt per partition.
  *
  * After the job succeeds, the driver commits a `manifest-<tag>.json`
  * naming exactly the batch files of the attempts that REPORTED to it
  * (one per partition); `readTopic` consumes only manifest-listed files,
  * so a losing attempt's files — like orphans from an aborted earlier
  * run with a different partitioning — are never read as duplicates.
  */
object RecordSink {

  /** One bridge client per JVM, built lazily on first executor-side use:
    * the JDK HttpClient owns a selector-manager thread and a connection
    * pool that are reclaimed only when the client is GC'd (no close()
    * before Java 21), so a client per task would leak one of each per sink
    * task between GCs on a long crawl. Thread-safe by the JDK contract;
    * timeouts are per-request, so sharing costs nothing.
    */
  private lazy val bridgeClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(5)).build()

  /** Emit `df` to `topicDir`, one JSON bridge payload per ≤`batchSize`
    * rows per partition. `keyCol` becomes each record's key (the
    * reference keys on job_id); the full row becomes the value. `tag`
    * namespaces this emission's batch files and manifest — callers
    * emitting the same topic repeatedly (one call per epoch) pass a
    * distinct tag per call; a RETRY of the same (tag, partition)
    * overwriting itself is exactly the idempotence we want.
    *
    * `bridgeUrl`: the REAL Kafka REST transport. When set, every flushed
    * batch body is ALSO POSTed to `<bridgeUrl>/topics/<topic dir name>`
    * with the bridge content type (`application/vnd.kafka.json.v2+json`,
    * kafka_producer.py:30-41), one shared JDK HttpClient per executor JVM
    * ([[bridgeClient]]), 5 s timeouts like the reference, and a non-2xx response raised
    * as an error (`res.raise_for_status()`, kafka_producer.py:42) — so a
    * failed POST fails the task and Spark's retry re-emits the batch:
    * at-least-once over the wire, exactly the reference's semantics (its
    * whole durability IS Kafka). The file write stays either way — it is
    * the manifest-gated exactly-once record `readTopic` consumes, and the
    * POSTed bytes are pinned byte-identical to the on-disk batch
    * (KafkaBridgeSpec, against an in-JVM loopback bridge).
    */
  def emit(df: DataFrame, keyCol: String, topicDir: String,
      tag: String = "0", batchSize: Int = 500,
      bridgeUrl: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val kv = df.select(
      col(keyCol).cast("string").as("_key"),
      to_json(struct(df.columns.map(col): _*)).as("_value"))
    // mapPartitions (not foreachPartition) so each task reports how many
    // batches it published — the driver then commits the manifest naming
    // exactly those files
    val topicName = new HPath(topicDir).getName
    val counts = kv
      .as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .mapPartitions { rows =>
        val tc = TaskContext.get()
        val pid = tc.partitionId()
        val attempt = tc.taskAttemptId()
        val dir = new HPath(topicDir)
        // FileSystem, not FileContext: on the local filesystem without
        // native code FileContext's create forks a `chmod` and its rename
        // forks `stat`s, tens of ms per batch against well under one
        val fs = dir.getFileSystem(hadoopConf.value)
        fs.mkdirs(dir)
        // the bridge "connection" amortizes ACROSS tasks, not per task: the
        // shared per-JVM client (bridgeClient above — R3 taken one step
        // further, since the client is stateless between requests)
        val post: Option[String => Unit] = bridgeUrl.map { base =>
          val uri = java.net.URI.create(s"$base/topics/$topicName")
          body => {
            val req = java.net.http.HttpRequest.newBuilder(uri)
              .timeout(java.time.Duration.ofSeconds(5))
              .header("Content-Type", "application/vnd.kafka.json.v2+json")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body, UTF_8))
              .build()
            val res = bridgeClient.send(req,
              java.net.http.HttpResponse.BodyHandlers.discarding())
            if (res.statusCode() / 100 != 2)
              throw new RuntimeException(
                s"bridge POST failed: HTTP ${res.statusCode()} for $uri")
          }
        }
        var batchNo = 0
        val buf = new StringBuilder
        var inBuf = 0
        def flush(): Unit = if (inBuf > 0) {
          val body = s"""{"records":[${buf.result()}]}"""
          // attempt-disjoint final name: concurrent attempts of this
          // partition write non-overlapping file sets (their row ORDER —
          // hence batch packing — need not match), and the manifest
          // commits exactly one attempt's set per partition
          val target = new HPath(dir, s"batch-$tag-p$pid-a$attempt-$batchNo.json")
          val tmp = new HPath(dir, s".batch-$tag-p$pid-a$attempt-$batchNo.json.tmp")
          val out = fs.create(tmp, true)
          try out.write(body.getBytes(UTF_8)) finally out.close()
          // a re-run in a new application (attempt ids restart) may reuse a
          // name a crashed run left behind: replace it (FileSystem.rename
          // does not overwrite, and reports failure by returning false)
          fs.delete(target, false)
          if (!fs.rename(tmp, target))
            throw new java.io.IOException(s"rename $tmp -> $target failed")
          // over the wire AFTER the durable rename: a POST failure fails
          // the task and the retry re-publishes the same attempt-disjoint
          // file and re-POSTs — at-least-once on the bridge, exactly-once
          // in the manifest-gated file record
          post.foreach(_(body))
          batchNo += 1; buf.clear(); inBuf = 0
        }
        rows.foreach { case (key0, value) =>
          if (inBuf > 0) buf.append(',')
          // value is already a JSON object string; key mirrors the bridge's
          // string key field (nullable — a null key partitions round-robin
          // on a real bridge, so emit JSON null rather than NPE)
          val key = if (key0 == null) "null" else jsonString(key0)
          buf.append("{\"key\":").append(key)
            .append(",\"value\":").append(value).append('}')
          inBuf += 1
          if (inBuf >= batchSize) flush()
        }
        flush()
        Iterator.single((pid, attempt, batchNo))
      }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaInt))
      .collect()

    // commit: name exactly the batch files of the attempts that reported
    // (one per partition — a losing speculative/zombie attempt's files are
    // never listed). Written tmp-then-rename so readers see the old
    // manifest or the new one, never a torn list; orphan batch files (an
    // aborted attempt, or one that ran with a different partition count)
    // are simply never listed.
    val files = counts.flatMap { case (pid, attempt, n) =>
      (0 until n).map(i => s"batch-$tag-p$pid-a$attempt-$i.json")
    }.sorted
    val dir = new HPath(topicDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val body = files.map(jsonString).mkString("{\"files\":[", ",", "]}")
    val target = new HPath(dir, s"manifest-$tag.json")
    val tmp = new HPath(dir, s".manifest-$tag.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    // the manifest replaces its predecessor atomically: readers see the old
    // list or the new one, never neither
    FileContext.getFileContext(dir.toUri, conf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Read a topic directory back as (key, value-json) rows — the test-side
    * consumer. For every emission that committed a manifest, only its
    * manifest-listed batch files are read (orphans from retried stages —
    * same tag, unlisted file — are ignored). Batch files whose TAG appears
    * in no manifest are legacy/foreign emissions (written before the
    * manifest scheme, or by another producer) and are read as-is: the
    * per-TAG rule means adding manifested emissions to an old directory
    * never silently drops the old records, while a tag that HAS a manifest
    * still excludes its orphans.
    */
  def readTopic(spark: org.apache.spark.sql.SparkSession,
      topicDir: String): DataFrame = {
    val dir = new HPath(topicDir)
    val fc = FileContext.getFileContext(dir.toUri,
      spark.sparkContext.hadoopConfiguration)
    val entries =
      if (fc.util.exists(dir)) fc.util.listStatus(dir).map(_.getPath).toSeq
      else Seq.empty
    val manifests = entries.filter(p => p.getName.startsWith("manifest-") &&
      p.getName.endsWith(".json"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val listed = manifests.flatMap { m =>
      val in = fc.open(m)
      val node = try mapper.readTree(new String(in.readAllBytes(), UTF_8))
        finally in.close()
      import scala.jdk.CollectionConverters._
      node.get("files").elements().asScala.map(f =>
        new HPath(dir, f.asText()).toString).toSeq
    }
    val manifestTags = manifests.map(p =>
      p.getName.stripPrefix("manifest-").stripSuffix(".json")).toSet
    // Legacy fallback applies ONLY to pre-attempt-disjoint names (no
    // `-a<attempt>` segment): current-generation writers ALWAYS emit the
    // attempt id, so an attempt-tagged file whose tag has no manifest is
    // crash debris — an emission that died between task writes and the
    // driver's manifest commit — and reading it back would reopen exactly
    // the partial/duplicate window the manifest closes (possibly mixing
    // two attempts' differently-packed batches of one partition).
    val batchName = "^batch-(.*)-p\\d+(-a\\d+)?-\\d+\\.json$".r
    val legacy = entries.collect {
      case p if (p.getName match {
        case batchName(tag, attempt) =>
          attempt == null && !manifestTags.contains(tag)
        case _ => false
      }) => p.toString
    }
    val files = (listed ++ legacy).sorted
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "key STRING, value STRING"))
    spark.read.json(files: _*)
      .select(explode(col("records")).as("r"))
      .select(col("r.key").as("key"), to_json(col("r.value")).as("value"))
  }
}
