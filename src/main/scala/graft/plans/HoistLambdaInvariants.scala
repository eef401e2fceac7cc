package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Optimizer rule (SURVEY §4.3 path c, registered via GraftExtensions):
  * eliminates LAMBDA-INVARIANT re-evaluation inside higher-order-function
  * bodies — the O(len²)-per-row defect class the round-6 winnowing
  * adjudication named: a subtree like `split(text, " ")` spliced into a
  * `transform(sequence(…), i => …)` body is re-evaluated on EVERY lambda
  * invocation (HOFs are interpreted, with no cross-invocation caching), so
  * a per-token lambda pays per-token tokenization — quadratic in document
  * length.
  *
  * Two rewrite mechanisms, chosen per candidate subtree:
  *
  * 1. PROJECT-HOIST (Project/Generate, candidate referenced >= 2 times):
  *    the subtree moves into its own projection below and every occurrence
  *    (inside AND outside lambdas) reads the attribute:
  *
  *      Project [transform(sequence(1, size(split(t," "))), i -> f(split(t," "), i))]
  *      ==> Project [transform(sequence(1, size(__hoist_0)), i -> f(__hoist_0, i))]
  *            Project [*, split(t, " ") AS __hoist_0]
  *
  *    The >= 2 reference floor mirrors CollapseProject.canCollapseExpressions:
  *    CollapseProject re-inlines a SINGLE-reference producer regardless of
  *    cost (count == 1 short-circuits its cheapness check), so a one-ref
  *    hoist ping-pongs against it — both rules share the fixpoint operator-
  *    optimization batch — burning the batch's 100 iterations and landing
  *    on whichever rule ran last (observed: the inlined form). With two or
  *    more references CollapseProject only inlines CHEAP producers, and the
  *    cheapness guard below keeps those out of hoisting entirely.
  *
  * 2. LET-BINDING (single-reference candidates, and ALL candidates under
  *    Filter/Aggregate): the enclosing HOF is rewritten in place to bind
  *    the subtree once per row through a one-element array lambda —
  *    a pure expression-level let, no plan-shape change:
  *
  *      transform(xs, i -> f(split(t," "), i))
  *      ==> transform(array(split(t," ")), __hoist_lv ->
  *            transform(xs, i -> f(__hoist_lv, i)))[0]
  *
  *    The binding lambda's variable cannot be inlined or substituted by any
  *    other rule, so this form is stable by construction. It is the ONLY
  *    form used under Filter: a Project-hoist below a Filter is undone by
  *    PushDownPredicates, which pushes the predicate back through the
  *    projection by alias substitution (no cost guard) — another fixpoint
  *    fight. Same under Aggregate, where grouping/result expression pairs
  *    must stay semantically identical (the binding is memoized per
  *    operator so both lists share one rewritten instance).
  *    `array(x)[0]` restores the original value exactly (index 0 of a
  *    1-element array never errors, ANSI included); KnownNotNull restores
  *    the original nullability when the wrapped subtree was non-nullable.
  *
  * Candidate rules:
  *  - subtrees with NO FREE lambda variables (a nested HOF whose lambda
  *    binds its own variables internally is a CLOSED value and hoists as a
  *    whole — e.g. the full tokenize→shingle→hash chain of composed
  *    winnowing, Dedup.winnowingComposed);
  *  - DETERMINISTIC, non-foldable, referencing only the operator child's
  *    output, discovered INSIDE a lambda body (a top-level subtree already
  *    evaluates once per row);
  *  - NOT a cheap chain (attribute/foldable/ExtractValue compositions —
  *    mirror of CollapseProject.isCheap): hoisting those is profitless and
  *    CollapseProject would re-inline them at any reference count;
  *  - every node on the THROW-FREE whitelist: hoisting moves evaluation
  *    out of any conditional guard around the HOF, so under ANSI an
  *    expression that can raise (division, overflow, casts, out-of-bounds
  *    element_at) must stay where it is. Guards INSIDE a candidate travel
  *    with it, so internal conditionals keep their own semantics. Nodes
  *    whose failure mode needs row values the size of 2^31 (sequence/
  *    array-union length caps, size-arithmetic overflow) are accepted —
  *    the chain's own split/sequence raises on such inputs first.
  *    element_at/getItem are whitelisted only under non-ANSI (they return
  *    null there, raise under ANSI); slice only with a foldable valid
  *    length and a foldable-valid or lambda-bound start.
  *
  * The rewrite is idempotent: hoisted bodies reference plain attributes or
  * binding lambda variables, which are never candidates. It runs in the
  * fixpoint operator-optimization batches (where SparkSessionExtensions
  * places injected rules), so later iterations hoist chains nested inside
  * already-hoisted alias definitions level by level.
  *
  * ON in every session `GraftExtensions` builds. Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.HoistLambdaInvariants`
  * turns it off, e.g. to compare plans against a vanilla session.
  */
object HoistLambdaInvariants extends Rule[LogicalPlan] {

  private def ansi: Boolean = conf.ansiEnabled

  // ------------------------------------------------------------- safety

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  private def foldableNonNegInt(e: Expression): Boolean =
    e.foldable && integral(e) && {
      e.eval() match {
        case n: java.lang.Number => n.longValue >= 0L
        case _                   => false
      }
    }

  private def foldableNonZeroInt(e: Expression): Boolean =
    e.foldable && integral(e) && {
      e.eval() match {
        case n: java.lang.Number => n.longValue != 0L
        case _                   => false
      }
    }

  /** Node classes that evaluate without raising on any input (given
    * non-throwing children) AND are worth / safe to move: the string,
    * array, and struct shaping functions a tokenize→shingle→hash chain is
    * made of, the conditional/HOF scaffolding that composed operators wrap
    * them in, and this engine's own native expressions.
    */
  private def safeNode(e: Expression, guarded: Boolean): Boolean = e match {
    case _: Attribute | _: Literal                     => true
    case _: NamedLambdaVariable | _: LambdaFunction    => true
    case _: StringSplit | _: Length | _: Size          => true
    case _: Lower | _: Upper | _: StringTrim           => true
    case _: StringTrimLeft | _: StringTrimRight        => true
    case _: Concat | _: ConcatWs | _: StringRepeat     => true
    case _: RegExpExtract | _: RegExpExtractAll        => true
    case _: RegExpReplace | _: StringSplitSQL          => true
    case _: Substring | _: StringInstr                 => true
    case _: ArrayDistinct | _: SortArray | _: Reverse  => true
    case _: ArraysZip | _: Flatten                     => true
    case _: ArrayMin | _: ArrayMax                     => true
    case _: GetStructField                             => true
    case _: CreateNamedStruct | _: CreateArray         => true
    case _: If | _: CaseWhen | _: Coalesce             => true
    case _: Sequence                                   => true
    case _: ArrayTransform | _: ArrayFilter            => true
    case _: ArrayExists | _: ArrayForAll               => true
    case _: ArrayAggregate | _: ArraySort | _: ZipWith => true
    case _: IsNull | _: IsNotNull | _: Not             => true
    case _: And | _: Or                                => true
    case _: EqualTo | _: EqualNullSafe                 => true
    case _: LessThan | _: LessThanOrEqual              => true
    case _: GreaterThan | _: GreaterThanOrEqual        => true
    case _: Murmur3Hash | _: XxHash64 | _: Md5         => true
    case _: Crc32                                      => true
    // raise under ANSI (invalid index / missing key), null otherwise
    case _: ElementAt | _: GetArrayItem                => !ansi
    // slice raises on start = 0 or length < 0 in BOTH modes: only the
    // statically-valid shape, or a lambda-bound start in a GUARDED
    // (conditionally-evaluated) position of the candidate subtree, is
    // safe. The guarded requirement is the round-8 advice fix: a closed
    // nested HOF whose sequence lower bound is row-dependent (hits 0 only
    // on rows an OUTER when() excludes) must not hoist out of that guard —
    // but when the protecting conditional travels INSIDE the hoisted
    // subtree (the composed-winnowing shape: when(size >= w,
    // transform(sequence(1, size-w+1), j => slice(hs, j, w)))), the
    // hoisted unit keeps its lazy branch evaluation and the slice runs
    // under exactly the runtime conditions it had in place.
    case Slice(_, start, len) =>
      foldableNonNegInt(len) &&
        (foldableNonZeroInt(start) || (guarded && start.isInstanceOf[NamedLambdaVariable]))
    // ANSI overflow needs a ~2^31-sized operand — the giant-input class
    // the chain's own split/sequence raises on first; require one foldable
    // side so this stays the size-arithmetic shape (size(x) - (k-1))
    case a: Add      => integral(a) && a.children.exists(_.foldable)
    case s: Subtract => integral(s) && s.children.exists(_.foldable)
    case _: graft.functions.PolyHashExpr               => true
    case _: graft.functions.ShingleHashesExpr          => true
    case _: graft.functions.PosShingleHashesExpr       => true
    case _: graft.functions.WinnowExpr                 => true
    case _: graft.functions.SimHashExpr                => true
    case _: graft.functions.MinHashSigExpr             => true
    case _                                             => false
  }

  /** Every node throw-free; foldable subtrees pass as a unit (they
    * evaluate to the same constant anywhere — ConstantFolding runs before
    * this rule in the same batch). `guarded` tracks whether the current
    * position is conditionally evaluated WITHIN the subtree (a non-
    * predicate branch of If/CaseWhen): hoisting preserves internal lazy
    * branch evaluation, so nodes whose safety rides on an in-subtree
    * guard (the lambda-bound Slice start) are accepted only there.
    */
  private def safeTree(e: Expression, guarded: Boolean = false): Boolean =
    e.foldable || (safeNode(e, guarded) && (e match {
      case i: If =>
        safeTree(i.predicate, guarded) &&
          safeTree(i.trueValue, guarded = true) && safeTree(i.falseValue, guarded = true)
      case cw: CaseWhen =>
        cw.branches.forall { case (c, v) =>
          safeTree(c, guarded) && safeTree(v, guarded = true)
        } && cw.elseValue.forall(safeTree(_, guarded = true))
      case _ => e.children.forall(safeTree(_, guarded))
    }))

  /** Mirror of CollapseProject.isCheap: attribute / foldable /
    * ExtractValue compositions. Hoisting these is profitless, and
    * CollapseProject re-inlines cheap producers at any reference count —
    * hoisting one would ping-pong the shared fixpoint batch.
    */
  private def cheapChain(e: Expression): Boolean = e match {
    case _: Attribute       => true
    case _ if e.foldable    => true
    case ev: ExtractValue   => ev.children.forall(cheapChain)
    case a: Alias           => cheapChain(a.child)
    case _                  => false
  }

  /** A NamedLambdaVariable not bound by an enclosing LambdaFunction WITHIN
    * the subtree. Closed nested lambdas (bind their own variables) are
    * fine — the subtree is a whole value.
    */
  private def hasFreeLambdaVar(e: Expression, bound: Set[Long]): Boolean = e match {
    case v: NamedLambdaVariable => !bound.contains(v.exprId.id)
    case lf: LambdaFunction =>
      val b = bound ++ lf.arguments.collect { case v: NamedLambdaVariable => v.exprId.id }
      hasFreeLambdaVar(lf.function, b)
    case _ => e.children.exists(hasFreeLambdaVar(_, bound))
  }

  private def isCandidate(e: Expression, input: AttributeSet): Boolean =
    !hasFreeLambdaVar(e, Set.empty) && e.deterministic && !e.foldable &&
      e.references.nonEmpty && e.references.subsetOf(input) &&
      !e.isInstanceOf[Attribute] && !cheapChain(e) && safeTree(e)

  /** Maximal hoistable subtrees discovered inside the lambda bodies of
    * `e`, deduplicated, with candidates subsumed by a larger candidate
    * dropped (the fixpoint re-visits what's left inside hoisted aliases).
    */
  private def collectCandidates(e: Expression, input: AttributeSet): Seq[Expression] = {
    val out = mutable.ArrayBuffer.empty[Expression]
    def visit(x: Expression): Unit =
      if (isCandidate(x, input)) out += x
      else x.children.foreach(visit)
    e.foreach {
      case lf: LambdaFunction => visit(lf.function)
      case _                  => ()
    }
    val dedup = out.foldLeft(Vector.empty[Expression]) { (acc, c) =>
      if (acc.exists(_.semanticEquals(c))) acc else acc :+ c
    }
    dedup.filterNot(c =>
      dedup.exists(d => !d.semanticEquals(c) && d.exists(_.semanticEquals(c))))
  }

  private def nodeCount(e: Expression): Int = {
    var n = 0
    e.foreach(_ => n += 1)
    n
  }

  private def countOcc(e: Expression, s: Expression): Int = {
    var n = 0
    e.foreach(x => if (x.semanticEquals(s)) n += 1)
    n
  }

  // -------------------------------------------------------- let-binding

  /** Bind each subtree once per row through a one-element-array lambda,
    * largest first so later (smaller) bindings also deduplicate inside
    * earlier defs. `array(s)[0]` is exact (index 0 of a 1-element array
    * never errors); KnownNotNull restores non-nullability.
    */
  private def bindAll(subs: Seq[Expression], target: Expression): Expression =
    subs.sortBy(-nodeCount(_)).foldLeft(target) { (acc, s) =>
      val lv       = NamedLambdaVariable("__hoist_lv", s.dataType, s.nullable)
      val replaced = acc.transformUp { case x if x.semanticEquals(s) => lv }
      if (replaced.fastEquals(acc)) acc
      else {
        val bound = GetArrayItem(
          ArrayTransform(CreateArray(Seq(s)), LambdaFunction(replaced, Seq(lv))),
          Literal(0))
        if (acc.nullable) bound else KnownNotNull(bound)
      }
    }

  /** Rewrite every outermost HOF under `e` that contains candidates,
    * binding all of its candidates in place. `memo` shares the rewritten
    * instance across sibling expression lists (Aggregate grouping/result
    * pairs must stay semantically identical).
    */
  private def letBindAll(
      e: Expression,
      input: AttributeSet,
      memo: mutable.ArrayBuffer[(Expression, Expression)]): Expression = {
    def process(x: Expression): Expression = x match {
      case hof: HigherOrderFunction =>
        val cands = collectCandidates(hof, input)
        if (cands.isEmpty) hof.mapChildren(process)
        else memo.find(_._1.semanticEquals(hof)).map(_._2).getOrElse {
          val bound = bindAll(cands, hof)
          memo += ((hof, bound))
          bound
        }
      case other => other.mapChildren(process)
    }
    process(e)
  }

  // ------------------------------------------------------ hoist + bind

  /** Shared Project/Generate logic: multi-reference candidates hoist into
    * a projection below (replace everywhere); the rest let-bind in place.
    * Returns (rewritten expressions, hoist aliases for the child Project).
    */
  private def processExprs(
      exprs: Seq[Expression],
      input: AttributeSet): (Seq[Expression], Seq[Alias]) = {
    val cands = {
      val all = exprs.flatMap(collectCandidates(_, input))
      val dedup = all.foldLeft(Vector.empty[Expression]) { (acc, c) =>
        if (acc.exists(_.semanticEquals(c))) acc else acc :+ c
      }
      dedup.filterNot(c =>
        dedup.exists(d => !d.semanticEquals(c) && d.exists(_.semanticEquals(c))))
    }
    if (cands.isEmpty) return (exprs, Nil)

    // replace everywhere, larger first, only candidates seen >= 2 times
    val multi = cands
      .filter(s => exprs.map(countOcc(_, s)).sum >= 2)
      .sortBy(-nodeCount(_))
    var hoisted = Vector.empty[(Expression, Alias)]
    var current = exprs
    multi.foreach { s =>
      val a = Alias(s, s"__hoist_${hoisted.size}")()
      hoisted :+= ((s, a))
      val attr = a.toAttribute
      current = current.map(_.transformUp { case x if x.semanticEquals(s) => attr })
    }
    // demote aliases that ended up referenced < 2 times (occurrences were
    // nested inside a larger hoisted subtree): 0 refs → drop; 1 ref →
    // substitute back and let the binding pass take it
    val kept = hoisted.filter { case (s, a) =>
      val refs = current.map(countOcc(_, a.toAttribute)).sum
      if (refs >= 2) true
      else {
        if (refs == 1)
          current = current.map(_.transformUp {
            case x: Attribute if x.semanticEquals(a.toAttribute) => s
          })
        false
      }
    }
    // let-bind whatever still re-evaluates inside a lambda
    val memo  = mutable.ArrayBuffer.empty[(Expression, Expression)]
    val bound = current.map(letBindAll(_, input, memo))
    (bound, kept.map(_._2))
  }

  private def unchanged(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.fastEquals(y) }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case p: Project =>
        val (newList, aliases) = processExprs(p.projectList, p.child.outputSet)
        if (aliases.isEmpty && unchanged(newList, p.projectList)) p
        else {
          val list = newList.map(_.asInstanceOf[NamedExpression])
          if (aliases.isEmpty) p.copy(projectList = list)
          else Project(list, Project(p.child.output ++ aliases, p.child))
        }

      // explode/posexplode over a lambda-bearing array: the generator
      // expression lives on the Generate node itself. The hoisted columns
      // are appended to the child AND marked unrequired, so the Generate's
      // own output schema is unchanged.
      case g: Generate =>
        val (newGen, aliases) = processExprs(Seq(g.generator), g.child.outputSet)
        if (aliases.isEmpty && unchanged(newGen, Seq(g.generator))) g
        else {
          val gen = newGen.head.asInstanceOf[Generator]
          if (aliases.isEmpty) g.copy(generator = gen)
          else {
            val newChild = Project(g.child.output ++ aliases, g.child)
            val extraIdx = g.child.output.size until (g.child.output.size + aliases.size)
            g.copy(
              generator = gen,
              unrequiredChildIndex = g.unrequiredChildIndex ++ extraIdx,
              child = newChild)
          }
        }

      // Filter: let-binding ONLY — a hoist-Project below a Filter is
      // undone by PushDownPredicates (alias substitution, no cost guard)
      case f: Filter =>
        val memo    = mutable.ArrayBuffer.empty[(Expression, Expression)]
        val newCond = letBindAll(f.condition, f.child.outputSet, memo)
        if (newCond.fastEquals(f.condition)) f else f.copy(condition = newCond)

      // Aggregate: let-binding ONLY, memo shared across grouping and
      // result lists so duplicated grouping expressions stay semantically
      // equal for PhysicalAggregation
      case a: Aggregate =>
        val memo     = mutable.ArrayBuffer.empty[(Expression, Expression)]
        val newGroup = a.groupingExpressions.map(letBindAll(_, a.child.outputSet, memo))
        val newAggs  = a.aggregateExpressions
          .map(letBindAll(_, a.child.outputSet, memo).asInstanceOf[NamedExpression])
        if (unchanged(newGroup, a.groupingExpressions) &&
          unchanged(newAggs, a.aggregateExpressions)) a
        else a.copy(groupingExpressions = newGroup, aggregateExpressions = newAggs)

      // Window: let-binding ONLY (a child Project would shift the window's
      // required child distribution bookkeeping for no gain); memo shared
      // across window, partition, and order expressions (a lambda-invariant
      // chain in ORDER BY re-evaluates per compared row pair otherwise)
      case w: Window =>
        val memo    = mutable.ArrayBuffer.empty[(Expression, Expression)]
        val newWin  = w.windowExpressions
          .map(letBindAll(_, w.child.outputSet, memo).asInstanceOf[NamedExpression])
        val newPart = w.partitionSpec.map(letBindAll(_, w.child.outputSet, memo))
        val newOrd  = w.orderSpec.map { so =>
          val nc = letBindAll(so.child, w.child.outputSet, memo)
          if (nc.fastEquals(so.child)) so else so.copy(child = nc)
        }
        if (unchanged(newWin, w.windowExpressions) && unchanged(newPart, w.partitionSpec) &&
          unchanged(newOrd, w.orderSpec)) w
        else w.copy(windowExpressions = newWin, partitionSpec = newPart, orderSpec = newOrd)
    }
}
