package graft

import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit precedence rule (SparkEntry.sessionDefaults, applied
  * by the one session builder every entry point uses): settings the
  * deployer provided — spark-submit places `--master` and every `--conf`
  * into system properties before `main` runs — must NEVER be overridden by
  * the CLI's local defaults. Round 5 found the inverse bug live: an
  * unconditional `.master(local[cpus])` would have silently turned the
  * documented `--master yarn` cluster invocation into a single-process
  * local run. Pure JVM — no Spark.
  */
class CrawlCliSpec extends AnyFunSuite {

  private def keys(has: Set[String], cpus: Int = 32): Map[String, String] =
    SparkEntry.sessionDefaults(has.contains, cpus).toMap

  test("bare runMain (nothing provided): all four defaults apply") {
    val d = keys(Set.empty)
    assert(d == Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("deployer-provided master and partitions are never overridden") {
    val d = keys(Set("spark.master", "spark.sql.shuffle.partitions"))
    assert(!d.contains("spark.master"))
    assert(!d.contains("spark.sql.shuffle.partitions"))
    // the remaining knobs still default
    assert(d == Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("a fully-configured submit leaves nothing for the CLI to set") {
    assert(keys(Set("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.ui.enabled")).isEmpty)
  }

  test("SPARK_GRAFT_CPUS drives both the local master and the partitions") {
    val d = keys(Set.empty, cpus = 8)
    assert(d("spark.master") == "local[8]")
    assert(d("spark.sql.shuffle.partitions") == "8")
  }

  test("the session time zone is semantics, not a default: never in the list") {
    // KST virtual time / job-id derivation are UTC-anchored; main forces
    // the zone unconditionally, so it must not appear as an overridable
    // default even when the deployer set it
    assert(!keys(Set.empty).contains("spark.sql.session.timeZone"))
    assert(!keys(Set("spark.sql.session.timeZone"))
      .contains("spark.sql.session.timeZone"))
  }
}
