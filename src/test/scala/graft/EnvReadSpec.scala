package graft

import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite

/** The program's environment surface: `src/main` reads exactly three
  * SPARK_GRAFT_* variables, each on one allowlisted line. A new read, or
  * an entry whose read is gone, fails the guard.
  */
class EnvReadSpec extends AnyFunSuite {
  private val EnvRead = """sys\.env|System\.getenv""".r

  private val Allowlist: Map[(String, String), String] = Map(
    ("graft/Graft.scala",
      """def fixtureDir(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)""") ->
      "fixture directory of every main",
    ("graft/Graft.scala",
      """s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString)}]"""") ->
      "core count of every main",
    ("graft/Graft.scala", """val env = sys.env.get("SPARK_GRAFT_LOCAL_DIR")""") ->
      "scratch root of a deployment")

  // no file owns env reads: each one is named in the allowlist
  private def guard(allowlist: Map[(String, String), String]): Unit =
    SourceSweep.guard(EnvRead, owner = "", allowlist)

  test("src/main reads only the three allowlisted environment variables") {
    guard(Allowlist)
  }

  test("the env guard fails on an unlisted read and on a stale entry") {
    intercept[TestFailedException](guard(Allowlist - Allowlist.keys.head))
    intercept[TestFailedException](guard(Allowlist +
      (("graft/Bench.scala", """sys.env.get("SPARK_GRAFT_BENCH_REF")""") -> "removed")))
  }
}
