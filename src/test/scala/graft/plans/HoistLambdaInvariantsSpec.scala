package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayTransform, CreateArray, GetArrayItem, LambdaFunction, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.Project

import graft.SparkTestSession
import graft.operators.Dedup

/** HoistLambdaInvariants: the spliced-subtree rewrite must change the PLAN
  * (split() moves out of the lambda into its own Project, or into a
  * let-binding for single-reference / Filter / Aggregate shapes) without
  * changing any RESULT, must leave throwing expressions alone, must stay
  * STABLE against CollapseProject/PushDownPredicates in the shared
  * fixpoint batch, and must be switched off by Spark's own
  * `spark.sql.optimizer.excludedRules`.
  */
class HoistLambdaInvariantsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val Excluded = "spark.sql.optimizer.excludedRules"

  /** `f` with the rule in the optimizer (`on`) or excluded from it. */
  private def withRule[A](on: Boolean)(f: => A): A = {
    val prev = spark.conf.getOption(Excluded)
    if (on) spark.conf.unset(Excluded) else spark.conf.set(Excluded, HoistLambdaInvariants.ruleName)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(Excluded, v)
      case None    => spark.conf.unset(Excluded)
    }
  }

  /** true iff some LambdaFunction in the optimized plan still contains a
    * StringSplit (i.e. the tokenization would re-run per invocation).
    */
  private def splitInsideLambda(df: DataFrame): Boolean = {
    var dirty = false
    df.queryExecution.optimizedPlan.foreach { p =>
      p.expressions.foreach(_.foreach {
        case lf: LambdaFunction if lf.function.exists(_.isInstanceOf[StringSplit]) =>
          dirty = true
          info(s"dirty lambda in ${p.nodeName}: ${lf.simpleString(150)}")
        case _ => ()
      })
    }
    dirty
  }

  /** The hoisted chain either survives as its own Project(Alias(split…))
    * or — over a LocalRelation — ConvertToLocalRelation has already folded
    * it into materialized __hoist_n columns. Both prove the hoist landed.
    */
  private def splitHoistedBelow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case proj: Project =>
        proj.projectList.exists {
          case a: Alias => a.child.exists(_.isInstanceOf[StringSplit])
          case _        => false
        }
      case other => other.output.exists(_.name.startsWith("__hoist_"))
    }

  // the motivating shape: the composed winnowing form, whose lambda body
  // splices the whole tokenize→shingle→hash chain
  private def composed = {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, ""),
      (4L, "x y")).toDF("id", "text")
    Dedup.winnowingComposed(docs, "id", "text")
  }

  test("plan: split() leaves the lambda and lands in a projection below") {
    withRule(on = true) {
      val df = composed
      assert(!splitInsideLambda(df), "lambda body must not re-tokenize per invocation")
      assert(splitHoistedBelow(df), "the hoisted chain must sit in its own Project")
    }
  }

  test("spark.sql.optimizer.excludedRules restores the spliced plan") {
    withRule(on = false) {
      assert(splitInsideLambda(composed), "disabled rule must leave the lambda as written")
    }
  }

  test("semantics: composed winnowing identical with the rule on and off, == native") {
    import spark.implicits._
    val rnd  = new scala.util.Random(11)
    val docs = ((1L to 200L).map { id =>
      val n = rnd.nextInt(60)
      (id, (0 until n).map(_ => s"w${rnd.nextInt(9)}").mkString(" "))
    } :+ ((900L, "naïve café 日本語 🙂 a b c d e f g h"))).toDF("id", "text")
    def run(on: Boolean) = withRule(on) {
      Dedup.winnowingComposed(docs, "id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    val hoisted = run(true)
    val spliced = run(false)
    assert(hoisted === spliced)
    val native = withRule(true) {
      Dedup.winnowing(docs, "id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(hoisted === native)
  }

  test("throw-safety: a conditionally-guarded division is NOT hoisted (ANSI would raise)") {
    // spark.range (not a LocalRelation — ConvertToLocalRelation would fold
    // the whole projection at optimization time and leave no plan to test)
    val df = spark.range(2).select(
      when(col("id") === 0, 6L).otherwise(8L).as("y"),
      when(col("id") === 0, 2L).otherwise(0L).as("x"))
    // the guard makes the lambda body unreachable when x = 0; hoisting
    // the division out of it would evaluate eagerly on every row (the
    // integral form raises under ANSI; the rule doesn't distinguish, so
    // Divide is simply not on the whitelist)
    val guarded = df.select(
      when(
        col("x") > 0,
        transform(sequence(lit(1), lit(3)), i => col("y") / col("x") + i))
        .otherwise(array().cast("array<double>"))
        .as("r"))
    val got = guarded.collect().map(_.getSeq[Double](0).toSeq).toSet
    assert(got === Set(Seq(4.0, 5.0, 6.0), Seq.empty))
    // and the division stayed inside the lambda
    val hasDivInLambda = guarded.queryExecution.optimizedPlan.exists { p =>
      p.expressions.exists(_.exists {
        case lf: LambdaFunction =>
          lf.function.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Divide])
        case _ => false
      })
    }
    assert(hasDivInLambda, "unsafe (throwing) subtrees must stay where they were written")
  }

  /** A let-binding landed somewhere in the optimized plan:
    * GetArrayItem(ArrayTransform(CreateArray(...), lambda), 0).
    */
  private def bindingPresent(df: DataFrame): Boolean = {
    var found = false
    df.queryExecution.optimizedPlan.foreach { p =>
      p.expressions.foreach(_.foreach {
        case GetArrayItem(ArrayTransform(_: CreateArray, _), _, _) => found = true
        case _                                                     => ()
      })
    }
    found
  }

  private def docs001 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("single-reference chain: let-binding, not a hoist-Project CollapseProject would undo") {
    // split referenced exactly once, inside the lambda: a child-Project
    // hoist here ping-pongs against CollapseProject (count==1 inlines
    // regardless of cost — observed as Max-iterations on both operator
    // batches before this rule learned the let-binding form)
    val q = docs001.select(
      transform(sequence(lit(1), lit(3)), i => element_at(split(col("text"), " "), i)).as("r"))
    withRule(on = true) {
      assert(!splitInsideLambda(q), "split must not re-tokenize per element")
      assert(bindingPresent(q), "single-use chain must land in a let-binding")
    }
    val on  = withRule(true)(q.collect().map(_.getSeq[String](0).mkString("|")).sorted.toSeq)
    val off = withRule(false)(q.collect().map(_.getSeq[String](0).mkString("|")).sorted.toSeq)
    assert(on === off)
  }

  test("Filter(exists(...)) with spliced chain: let-binding in place, same rows") {
    def q = docs001.filter(exists(
      transform(sequence(lit(1), size(split(col("text"), " "))),
        i => element_at(split(col("text"), " "), i)),
      t => length(t) > 3))
    withRule(on = true) {
      assert(!splitInsideLambda(q), "filter condition must not re-tokenize per element")
      assert(bindingPresent(q), "filter chain must land in a let-binding")
      // no plan-shape change: letting PushDownPredicates see a hoist-Project
      // below the Filter would re-splice by alias substitution
      assert(!q.queryExecution.optimizedPlan.exists {
        case p: Project => p.projectList.exists(_.name.startsWith("__hoist_"))
        case _          => false
      }, "Filter path must not create a hoist projection")
    }
    val on  = withRule(true)(q.collect().map(_.getLong(0)).sorted.toSeq)
    val off = withRule(false)(q.collect().map(_.getLong(0)).sorted.toSeq)
    assert(on === off && on.nonEmpty)
  }

  test("Aggregate with spliced chain: let-binding in place, same result") {
    def q = docs001.groupBy(col("lang"))
      .agg(sum(size(array_distinct(transform(
        sequence(lit(1), size(split(col("text"), " ")) - 1),
        i => array_min(slice(split(col("text"), " "), i, lit(2))))))).as("s"))
    withRule(on = true) {
      assert(!splitInsideLambda(q), "aggregate argument must not re-tokenize per element")
      assert(bindingPresent(q), "aggregate chain must land in a let-binding")
    }
    val on  = withRule(true)(q.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
    val off = withRule(false)(q.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
    assert(on === off && on.nonEmpty)
  }

  test("Window function argument with spliced chain hoists (via the extracted Project)") {
    import org.apache.spark.sql.expressions.Window
    // the analyzer's ExtractWindowExpressions pulls the sum argument into a
    // Project below the Window, so the PROJECT path hoists it (__hoist_N);
    // the rule's Window case remains for partitionSpec / non-extracted shapes
    def q = docs001.withColumn("w",
      sum(size(filter(split(col("text"), " "), t =>
        array_contains(split(col("text"), " "), t))))
        .over(Window.partitionBy(col("lang"))))
      .select(col("doc_id"), col("w"))
    withRule(on = true) {
      assert(!splitInsideLambda(q), "window argument must not re-tokenize per element")
      assert(splitHoistedBelow(q), "the chain must hoist below the extracted projection")
    }
    val on  = withRule(true)(q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    val off = withRule(false)(q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(on === off && on.nonEmpty)
  }

  test("Window orderSpec with spliced chain: no lambda re-tokenization, on/off equal") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, "en", "c b a"), (2L, "en", "b a"), (3L, "es", "z y x w"), (4L, "es", "k"))
      .toDF("id", "lang", "text")
    // the ordering key splices split() into the filter lambda — without
    // orderSpec coverage the chain re-evaluates per compared row
    def q = df.withColumn("rn",
      row_number().over(Window.partitionBy(col("lang")).orderBy(
        size(filter(split(col("text"), " "), t =>
          array_contains(split(col("text"), " "), t))),
        col("id"))))
    withRule(on = true) {
      assert(!splitInsideLambda(q), "window ORDER BY must not re-tokenize per element")
    }
    val on  = withRule(true)(q.collect().map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq)
    val off = withRule(false)(q.collect().map(r => (r.getLong(0), r.getInt(3))).sorted.toSeq)
    assert(on === off && on.nonEmpty)
  }

  test("composed winnowing hoists the FULL closed chain (nested lambdas and all)") {
    // the shingle+polyhash transform binds its own lambda variables — a
    // CLOSED subtree — so the whole chain hoists level by level: split
    // into one projection, the shingle-hash transform into another; the
    // Generate's generator reads only hoisted attributes
    val q = withRule(on = true)(Dedup.winnowingComposed(docs001, "doc_id", "text"))
    withRule(on = true) {
      val gen = q.queryExecution.optimizedPlan.collectFirst {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
      }
      assert(gen.isDefined, "plan must still explode")
      assert(!gen.get.exists(_.isInstanceOf[StringSplit]),
        "generator must not re-tokenize")
      assert(!gen.get.exists(_.isInstanceOf[graft.functions.PolyHashExpr]),
        "generator must not re-hash — the whole chain hoists")
      val hoistProjects = q.queryExecution.optimizedPlan.collect {
        case p: Project if p.projectList.exists {
          case a: Alias => a.name.startsWith("__hoist_")
          case _        => false
        } => p
      }
      assert(hoistProjects.size >= 2, s"expected stacked hoist levels, got ${hoistProjects.size}")
    }
  }

  test("nested HOFs: inner-lambda chains hoist only what is invariant everywhere") {
    import spark.implicits._
    val df = Seq((1L, "p q r s t u v w")).toDF("id", "text")
    // outer transform over positions; inner slice over the SAME spliced
    // token array: the token array is invariant, the slice (uses the
    // outer lambda var) is not
    val tk = split(col("text"), " ")
    val q = df.select(
      col("id"),
      transform(
        sequence(lit(1), size(tk) - 2),
        j => concat_ws(" ", slice(tk, j, lit(3)))).as("grams"))
    withRule(on = true) {
      assert(!splitInsideLambda(q))
      val got = q.collect().head.getSeq[String](1)
      assert(got === Seq("p q r", "q r s", "r s t", "s t u", "t u v", "u v w"))
    }
  }
}
