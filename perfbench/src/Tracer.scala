package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced span: a call into one layer from the benchmark's own code.
  * Start and end are wall-clock ms (to line up with Spark's stage times);
  * `wallS` is measured with the monotonic clock.
  */
final case class Span(id: Int, name: String, parent: Int, workload: String,
    trial: String, epoch: Int, startMs: Long, endMs: Long, wallS: Double,
    counts: Map[String, Double])

/** One completed Spark stage, with the call site it is charged to. */
final case class StageRec(stageId: Int, name: String, span: Int,
    site: String, siteRaw: String, how: String, tasks: Int, submitMs: Long,
    doneMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteB: Long,
    outputB: Long, taskMs: Seq[Long])

/** The benchmark's stage listener. It reads only listener events: each
  * job's properties (the benchmark's own `perfbench.span` tag and Spark's
  * `spark.sql.execution.id`), SQL execution start events (their call-site
  * stack) and stage/task metrics. A stage is charged to the first `graft.*`
  * frame of the call site of the action that spawned it:
  *  - "sql": stage → job → execution id → the execution's call site, which
  *    also covers AQE's asynchronously materialized query stages;
  *  - "stack": a stage with no execution id → its own call-site stack;
  *  - "name": no graft frame in either → the stage name, when it names a
  *    Scala call site (Spark names stages after the first frame outside
  *    Spark) or a file listing;
  *  - "": unattributed.
  * Sites are keyed `File.method` (no line number, so edits keep names
  * stable); `siteRaw` keeps `File.scala:line` for humans.
  */
final class StageLedger extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
  @volatile var drained: Set[Int] = Set.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(StageLedger.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobs.add((e.jobId, span))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => jobExec.put(e.jobId, x.toLong))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobSpan.get(e.jobId) == StageLedger.DrainSpan)
      drained = drained + e.jobId

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
    case _ => ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      .synchronized {
        taskMs.get(e.stageId) += e.taskInfo.duration
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = Option(stageJob.get(i.stageId)).map(_.intValue)
    val span = job.flatMap(j => Option(jobSpan.get(j))).map(_.intValue)
      .getOrElse(-1)
    val execStack = job.flatMap(j => Option(jobExec.get(j)))
      .flatMap(x => Option(execSite.get(x)))
    val (site, raw, how) = StageLedger.attribute(execStack, i.details, i.name)
    val m = i.taskMetrics
    val tms = Option(taskMs.remove(i.stageId)).map(_.toSeq).getOrElse(Seq.empty)
    stages.add(StageRec(i.stageId, i.name, span, site, raw, how, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten, tms))
  }
}

object StageLedger {
  val SpanKey = "perfbench.span"
  val DrainSpan = -2

  private val Frame = """(graft\.[\w.$]+)\.([\w$]+)\((\w+)\.scala:(\d+)\)""".r
  private val BenchFrame =
    """(perfbench\.[\w.$]+)\.([\w$]+)\((\w+)\.scala:(\d+)\)""".r
  private val NamedSite = """^(\S+) at (\w+)\.scala:(\d+)""".r

  /** `$anonfun$runEpoch$17` → `runEpoch`; `write$1` → `write`. */
  def cleanMethod(m: String): String = {
    val parts = m.split('$').filter(p => p.nonEmpty && p != "anonfun" &&
      p != "adapted" && !p.forall(_.isDigit))
    parts.headOption.getOrElse(m)
  }

  /** The first engine frame of a call-site stack; failing that, the first
    * frame of the benchmark's own code (its replay calls actions itself),
    * keyed `perfbench/File.method`.
    */
  def firstGraftFrame(stack: String): Option[(String, String)] =
    Frame.findFirstMatchIn(stack).map(f => (f, ""))
      .orElse(BenchFrame.findFirstMatchIn(stack).map(f => (f, "perfbench/")))
      .map { case (f, prefix) =>
        (s"$prefix${f.group(3)}.${cleanMethod(f.group(2))}",
          s"${f.group(3)}.scala:${f.group(4)}")
      }

  def attribute(execStack: Option[String], details: String,
      name: String): (String, String, String) =
    execStack.flatMap(firstGraftFrame).map { case (s, r) => (s, r, "sql") }
      .orElse(Option(details).flatMap(firstGraftFrame)
        .map { case (s, r) => (s, r, "stack") })
      .orElse(Option(name).collect {
        case NamedSite(method, file, line) =>
          (s"$file.$method", s"$file.scala:$line", "name")
        case n if n.startsWith("Listing leaf files") =>
          ("listing", n.takeWhile(_ != ' '), "name")
      })
      .getOrElse(("", "", ""))
}

/** Spans + the stage ledger for one traced trial. Spans are kept in memory
  * and written out when the run ends (run.py writes the trace file).
  */
final class Tracer(workload: String, trialId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack[Int]()
  private var nextId = 0
  val ledger = new StageLedger
  private var sc: SparkContext = _
  private val epochFiles = ArrayBuffer.empty[(Int, Int)]

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(ledger)
  }

  def detach(): Unit = if (sc != null) sc.removeSparkListener(ledger)

  /** Time `body` as span `name`; jobs it runs carry the span id. Returns
    * the body's value; `counts` of the span can be set via `count`.
    */
  def span[T](name: String, epoch: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    sc.setLocalProperty(StageLedger.SpanKey, id.toString)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(StageLedger.SpanKey,
        stack.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, workload, trialId, epoch, t0, t1, wall,
        counts.remove(id).map(_.toMap).getOrElse(Map.empty))
    }
  }

  private val counts =
    scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[String, Double]]

  /** Attach a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    counts.getOrElseUpdate(stack.head, scala.collection.mutable.Map.empty)(key) = v

  /** Data files added to the store by epoch `e` (called after expire). */
  def epochFilesAdded(e: Int, n: Int): Unit = epochFiles += ((e, n))

  /** Wait until the listener has seen every event posted so far: a marker
    * job runs last, and the bus delivers events in order.
    */
  def drain(): Unit = {
    sc.setLocalProperty(StageLedger.SpanKey, StageLedger.DrainSpan.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(StageLedger.SpanKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (ledger.drained.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  def allSpans: Seq[Span] = spans.toSeq
  def allStages: Seq[StageRec] = ledger.stages.asScala.toSeq
  def jobSpans: Seq[(Int, Int)] = ledger.jobs.asScala.toSeq
  def filesAdded: Seq[(Int, Int)] = epochFiles.toSeq
}
