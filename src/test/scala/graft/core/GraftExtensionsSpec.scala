package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The session factory must install GraftExtensions: the optimizer rule
  * and the SQL function registrations have to be live in every session the
  * engine constructs — tests, Jobs, AND the Bench/Repeat/Verify/PlanDump
  * tools (which route through GraftSession.local, so the measured and
  * oracle-verified plans are the plans the engine ships).
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("GraftSession.local optimizer carries the graft rule") {
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules)
    assert(rules.exists(_ eq graft.plans.HoistLambdaInvariants),
      "HoistLambdaInvariants missing from the optimizer")
  }

  test("which batch hosts the injected rules (documented placement)") {
    spark.sessionState.optimizer.batches
      .filter(_.rules.exists(_ eq graft.plans.HoistLambdaInvariants))
      .foreach(b => info(s"batch '${b.name}' strategy=${b.strategy} rules=${b.rules.map(_.ruleName).mkString(",")}"))
    succeed
  }

  test("SQL function registrations resolve in a GraftSession") {
    val r = spark.sql("SELECT poly_hash('abc') AS h, size(shingle_hashes('a b c d', 2)) AS n")
      .collect().head
    assert(r.getInt(1) == 3)
  }
}
