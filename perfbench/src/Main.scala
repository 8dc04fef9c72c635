package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Benchmark JVM entry: runs one workload through the engine's public entry
  * points, checks its outputs, and prints one `PERFBENCH_RESULT {json}`
  * line with the raw measurements (perfbench/run.py turns them into the
  * contract's result line).
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <outDir>
  *   <cores> <golden.json>
  *
  * Every workload is a closed loop: one driver thread, one epoch (or
  * kernel pass) in flight.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: String, cores: Int, golden: String)

  def main(argv: Array[String]): Unit = {
    val o = Opts(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), argv(5).toInt, argv(6))
    Files.createDirectories(Paths.get(o.out))
    val result = o.workload match {
      case "loop" | "ingest" | "loop-canonical" =>
        new CrawlBench(o, Workloads.crawl(o.workload)).run()
      case "kernel" =>
        val k = new KernelBench(o, Workloads.Kernel)
        k.run() + ("tracer" -> k.tracer)
      case w => sys.error(s"unknown workload $w")
    }
    val trace = result.get("tracer").collect { case Some(t: Tracer) =>
      Map("spans" -> t.allSpans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "workload" -> s.workload, "run" -> s.trial,
          "epoch" -> s.epoch, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_s" -> (s.wallS - t.allSpans.filter(_.parent == s.id)
            .map(_.wallS).sum),
          "counts" -> s.counts)),
        "sites" -> Layers.sites(t.allStages))
    }
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    println("PERFBENCH_RESULT " + json.writeValueAsString(result - "tracer" ++
      trace.map("trace" -> _)))
  }

  /** Session sized from the caller's core count (run.py derives it from
    * nproc; the heap is the JVM's -Xmx). Mirrors the engine CLI's defaults
    * (shuffle partitions = cores, AQE on) plus SparkEntry.configure; all
    * scratch space stays under `dir`.
    */
  def session(cores: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.configure(spark)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** VmHWM of this JVM in MB (peak resident set). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()
}
