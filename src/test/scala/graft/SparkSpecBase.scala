package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; mirrors the Verify/Bench session
  * configuration (non-ANSI, AQE, UTC).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = () // session shared across suites

  /** Every job the session started while `body` ran, in start order: its
    * local properties, the call sites of its stages and of its SQL query,
    * when it started, and when it ended (None if it was still running
    * when `body` returned). Marker jobs run before and after `body`; the
    * bus delivers events in order, so once the closing marker's start is
    * seen every job `body` started has been seen too, and no job started
    * before `body` is counted.
    */
  def jobsDuring(body: => Unit): Seq[SparkSpecBase.Job] = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[AnyRef]()
    val queries = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId.toString, q.details)
        case _ => ()
      }
    }
    val key = "graft.spec.marker"
    def marker(name: String): Unit = {
      sc.setLocalProperty(key, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    def isMarker(e: AnyRef, name: String) = e match {
      case s: SparkListenerJobStart =>
        Option(s.properties).exists(p => p.getProperty(key) == name)
      case _ => false
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      body
      marker("end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!events.asScala.exists(isMarker(_, "end")) && System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = events.asScala.toSeq
      assert(seen.exists(isMarker(_, "end")), "listener never saw the marker job")
      val window = seen.dropWhile(!isMarker(_, "begin")).drop(1)
        .takeWhile(!isMarker(_, "end"))
      val ends = window.collect { case e: SparkListenerJobEnd => e.jobId -> e.time }.toMap
      window.collect { case s: SparkListenerJobStart =>
        val props = Option(s.properties).getOrElse(new Properties)
        val query = Option(props.getProperty("spark.sql.execution.id")).flatMap(x =>
          Option(queries.get(x)))
        SparkSpecBase.Job(s.jobId, props, s.stageInfos.map(_.details) ++ query,
          s.time, ends.get(s.jobId))
      }
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(s)
  }

  /** A job seen by [[SparkSpecBase.jobsDuring]]: its local properties, the
    * long call sites of its stages and of its SQL query, its start time and
    * its end time, if it ended (scheduler clock, ms).
    */
  final case class Job(id: Int, props: Properties, sites: Seq[String], start: Long,
      end: Option[Long])
}
