package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.HttpServer

import graft.sinks.RecordSink

/** The Kafka REST bridge transport (K1/K2's actual wire path): RecordSink
  * POSTs each batch body to `<bridge>/topics/<topic>` with the bridge
  * content type, exactly like the reference's producer
  * (kafka_producer.py:30-41), failing the task on a non-2xx response
  * (raise_for_status, :42). Verified against an in-JVM loopback HTTP
  * server — the JDK ships both sides, so the transport needs zero egress
  * and zero new dependencies.
  */
class KafkaBridgeSpec extends SparkSpecBase {

  import KafkaBridgeSpec.withBridge
  import scala.jdk.CollectionConverters._

  test("every batch POSTs to /topics/<topic> with the bridge content type; wire bytes == disk bytes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bridge-sink").toString
    val topic = s"$dir/review-topic"
    val df = (1 to 23).map(i => (i.toLong, s"url-$i")).toDF("job_id", "url")
      .repartition(3)
    withBridge() { (url, got) =>
      RecordSink.emit(df, "job_id", topic, tag = "e1", batchSize = 5,
        bridgeUrl = Some(url))
      val posts = got.asScala.toSeq
      assert(posts.nonEmpty)
      assert(posts.forall(_.path == "/topics/review-topic"))
      assert(posts.forall(_.contentType == "application/vnd.kafka.json.v2+json"))
      // the POSTed bodies are byte-identical to the manifest-gated batch
      // files — the bridge sees exactly the durable record, nothing else
      val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(topic))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("batch-"))
        .map(p => new String(java.nio.file.Files.readAllBytes(p), UTF_8))
        .toSeq
      assert(posts.map(_.body).sorted == onDisk.sorted)
      // file-side consumer semantics are unchanged by the transport
      val back = RecordSink.readTopic(spark, topic).count()
      assert(back === 23L)
    }
  }

  test("a non-2xx bridge response fails the emit, like raise_for_status") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bridge-sink").toString
    val df = (1 to 4).map(i => (i.toLong, s"u$i")).toDF("job_id", "url")
    withBridge(status = 500) { (url, _) =>
      val e = intercept[Exception] {
        RecordSink.emit(df, "job_id", s"$dir/t", tag = "e1",
          bridgeUrl = Some(url))
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(_.getMessage != null) &&
        causes(e).exists(c => Option(c.getMessage).exists(
          _.contains("bridge POST failed: HTTP 500"))))
    }
  }

  test("epoch loop with a bridge: control topic gets one message per epoch, records parse as bridge payloads") {
    val store = java.nio.file.Files.createTempDirectory("bridge-store").toString
    val sink = java.nio.file.Files.createTempDirectory("bridge-out").toString
    withBridge() { (url, got) =>
      val st = new graft.ckpt.SnapshotStore(store, spark)
      val driver = new graft.engine.EpochDriver(spark, st, seed = 7L,
        nHosts = 10, epochBudgetMs = 60000L,
        sinkDir = Some(sink), sinkBridge = Some(url))
      driver.init(graft.gen.SimWeb.seedUrls(50, 10, 7L))
      driver.run(2)
      val posts = got.asScala.toSeq
      val control = posts.filter(_.path == "/topics/job-control")
      val records = posts.filter(_.path == "/topics/frontier-records")
      assert(control.size === 2, "one job-control message per epoch")
      assert(records.nonEmpty)
      // every body is a well-formed bridge payload with >= 1 keyed record
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      posts.foreach { p =>
        val recs = mapper.readTree(p.body).get("records")
        assert(recs != null && recs.isArray && recs.size() >= 1, p.body.take(80))
        assert(recs.elements().asScala.forall(r => r.has("key") && r.has("value")))
      }
      // the wire saw the same record multiset the file topic committed
      val wireRecords = records.flatMap(p =>
        mapper.readTree(p.body).get("records").elements().asScala
          .map(_.get("key").asText()).toSeq)
      val fileRecords = RecordSink.readTopic(spark, s"$sink/frontier-records")
        .collect().map(_.getString(0)).toSeq
      assert(wireRecords.sorted == fileRecords.sorted)
    }
  }

  test("a bridge URL without a sink dir is rejected at construction, not silently ignored") {
    // the POST rides the sink flush path: without a sink dir zero requests
    // would ever leave the process, and nothing would say why
    intercept[IllegalArgumentException] {
      new graft.engine.EpochDriver(spark,
        new graft.ckpt.SnapshotStore(
          java.nio.file.Files.createTempDirectory("bridge-cfg").toString,
          spark),
        seed = 7L, nHosts = 10, sinkBridge = Some("http://localhost:1"))
    }
  }
}

object KafkaBridgeSpec {
  final case class Captured(path: String, contentType: String, body: String)

  /** In-JVM loopback bridge recording every POST; responds `status`. */
  def withBridge[A](status: Int = 200)(
      f: (String, ConcurrentLinkedQueue[Captured]) => A): A = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val got = new ConcurrentLinkedQueue[Captured]()
    srv.createContext("/", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      got.add(Captured(ex.getRequestURI.getPath,
        ex.getRequestHeaders.getFirst("Content-type"), body))
      ex.sendResponseHeaders(status, -1)
      ex.close()
    })
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}", got)
    finally srv.stop(0)
  }
}
