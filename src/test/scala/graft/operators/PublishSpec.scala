package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Audited publish semantics: a clean publish validates; the checksum is
  * partitioning/order-independent; row loss, extra rows, and value
  * mutation all flip validation; a missing manifest refuses to validate.
  */
class PublishSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("publish").toString

  private def df = (1L to 1000L).map(i => (i, s"doc$i", i * 1.5)).toDF("id", "s", "v")

  /** `Publish.validate`'s pair agrees: the dataset matches its manifest. */
  private def matches(path: String): Boolean = {
    val (stamped, actual) = Publish.validate(spark, path)
    stamped == actual
  }

  test("publish then validate: clean dataset matches; checksum ignores layout") {
    val p1 = tmp() + "/d1"
    val m1 = Publish.publish(spark, df.repartition(7), p1)
    assert(m1.rows === 1000L)
    assert(matches(p1))

    // same rows, different partitioning/order -> same manifest
    val p2 = tmp() + "/d2"
    val m2 = Publish.publish(spark, df.repartition(3).sortWithinPartitions("v"), p2)
    assert(m2 === m1)
  }

  test("checksum is always reduced mod P (no long-sum overflow path)") {
    val p = tmp() + "/modp"
    val m = Publish.publish(spark, df, p)
    assert(m.checksum >= 0 && m.checksum < graft.functions.PolyHashExpr.P)
  }

  test("rows differing only by WHICH column holds NULL checksum differently") {
    // xxhash64 skips null args, so without null disambiguation
    // (null, "x") and ("x", null) hash identically and the mutation
    // validates as unchanged
    val a = Seq((Option("x"), Option.empty[String])).toDF("c1", "c2")
    val b = Seq((Option.empty[String], Option("x"))).toDF("c1", "c2")
    val ma = Publish.publish(spark, a, tmp() + "/a")
    val mb = Publish.publish(spark, b, tmp() + "/b")
    assert(ma.rows === 1L && mb.rows === 1L)
    assert(ma.checksum !== mb.checksum)
  }

  test("row loss and smuggled extra rows break validation; no manifest refuses") {
    val p = tmp() + "/d"
    Publish.publish(spark, df.repartition(8), p)

    // drop one part file -> rows and checksum drift
    val part = Files
      .walk(java.nio.file.Paths.get(p)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(part))
    Files.delete(java.nio.file.Paths.get(part))
    assert(!matches(p))
    Files.write(java.nio.file.Paths.get(part), bytes) // restore
    assert(matches(p))

    // smuggle in a duplicate part file: rows double-count, checksum drifts
    val src = Files
      .walk(java.nio.file.Paths.get(p)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(
      java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(p, "part-smuggled.parquet"))
    assert(!matches(p))
    Files.delete(java.nio.file.Paths.get(p, "part-smuggled.parquet"))
    assert(matches(p))

    // unpublished directory: validation must throw, not pass
    val q = tmp() + "/never-published"
    df.write.parquet(q)
    intercept[java.io.FileNotFoundException](Publish.validate(spark, q))
  }
}
