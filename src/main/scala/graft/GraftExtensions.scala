package graft

import scala.annotation.tailrec
import scala.collection.mutable

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeSet, ExprId, Expression, ExpressionInfo, IsNotNull, IsNull, Length,
  NamedExpression, OctetLength, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.functions.ArrayHashExprs.{DotProductExpr, MinHashSigExpr, PolyHash31Expr, ShingleHashExpr, SimHashExpr, UnitVectorExpr}
import graft.functions.Fnv32.Fnv32Expr
import graft.functions.TextExprs.{BpePunctCountsExpr, CleanTextExpr, RollingHashExpr, StopwordHitsExpr}
import graft.functions.TextFunctions
import graft.operators.CorpusOps

/** graft's Catalyst extension: the SQL surface for its custom
  * expressions, and one optimizer rule, [[GraftExtensions.NarrowWindowInputs]].
  * Every [[GraftSession]] loads it through `spark.sql.extensions`, so
  * the functions and the rule are in every session the engine builds.
  * `GraftExtensions.register(spark)` adds the functions (not the rule)
  * to any other live session.
  *
  * Registered functions:
  *   graft_poly_hash31(str)      31-bit polynomial string hash
  *   graft_fnv32(bin)            reference-compat FNV-1a-variant
  *   graft_simhash(arr<long>)    32-bit SimHash of element hashes
  *   graft_minhash(arr<long>)    16-permutation MinHash signature
  *   graft_shingle_hashes(str)   fused word-3-gram shingle hash set
  *   graft_dot(a, b)             sequential-fold dot product
  *   graft_unit_vector(arr)      unit normalization (0-vector → zeros)
  *   graft_rolling_hash(str)     codepoint rolling hash mod 1e9+7
  *   graft_lang_hits(str)        per-language stopword hits (array<int>)
  *   graft_bpe_punct_counts(str) [bpe_tokens, punct] counts (array<int>)
  *   graft_clean_text(str)       fused URL/email/ctrl/punct/ws cleaner
  *   graft_split_name(id)        deterministic train/val/test assignment
  *   graft_hash_bucket(id, n)    FNV bucket in [0, n) of the id string
  *   graft_sample_keep(id, pm)   hash-Bernoulli keep decision (pm ‰)
  *   graft_redact_pii(str)       email/SSN/phone scrub to placeholders
  *
  * Contract: these are the RAW expressions. Like graft_shingle_hashes,
  * the text functions expect already-normalized input (the Scala
  * wrappers `TextFunctions.rollingHash`/`langHits` apply `normText`
  * first) — SQL callers compose e.g.
  * `graft_lang_hits(lower(trim(regexp_replace(text, '\\s+', ' '))))`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => GraftExtensions.NarrowWindowInputs)
  }
}

object GraftExtensions {

  /** Wrap a builder with strict arity validation: a wrong argument
    * count raises the same wrong-number-of-arguments AnalysisException
    * Spark's built-in function builders throw, instead of an
    * IndexOutOfBounds (too few) or silent truncation (too many). */
  private def checked(name: String, arity: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != arity)
        throw org.apache.spark.sql.graftbridge.ColumnBridge
          .wrongNumArgsError(name, arity, args.length)
      build(args)
    }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_poly_hash31",
      new ExpressionInfo(classOf[PolyHash31Expr].getName, "graft_poly_hash31"),
      checked("graft_poly_hash31", 1)(args => PolyHash31Expr(args.head))),
    ("graft_fnv32",
      new ExpressionInfo(classOf[Fnv32Expr].getName, "graft_fnv32"),
      checked("graft_fnv32", 1)(args => Fnv32Expr(args.head))),
    ("graft_simhash",
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      checked("graft_simhash", 1)(args => SimHashExpr(args.head, 32))),
    ("graft_minhash",
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash"),
      checked("graft_minhash", 1)(args => MinHashSigExpr(args.head, 16))),
    ("graft_shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashExpr].getName, "graft_shingle_hashes"),
      checked("graft_shingle_hashes", 1)(args => ShingleHashExpr(args.head, 3))),
    ("graft_dot",
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      checked("graft_dot", 2)(args => DotProductExpr(args.head, args(1)))),
    ("graft_unit_vector",
      new ExpressionInfo(classOf[UnitVectorExpr].getName, "graft_unit_vector"),
      checked("graft_unit_vector", 1)(args => UnitVectorExpr(args.head))),
    ("graft_rolling_hash",
      new ExpressionInfo(
        classOf[RollingHashExpr].getName,
        "graft_rolling_hash"),
      checked("graft_rolling_hash", 1)(args =>
        RollingHashExpr(args.head))),
    ("graft_lang_hits",
      new ExpressionInfo(
        classOf[StopwordHitsExpr].getName,
        "graft_lang_hits"),
      checked("graft_lang_hits", 1)(args =>
        StopwordHitsExpr(args.head,
          TextFunctions.Langs
            .map(TextFunctions.Stopwords)))),
    ("graft_bpe_punct_counts",
      new ExpressionInfo(
        classOf[BpePunctCountsExpr].getName,
        "graft_bpe_punct_counts"),
      checked("graft_bpe_punct_counts", 1)(args =>
        BpePunctCountsExpr(args.head))),
    ("graft_clean_text",
      new ExpressionInfo(
        classOf[CleanTextExpr].getName,
        "graft_clean_text"),
      checked("graft_clean_text", 1)(args =>
        CleanTextExpr(args.head))),
    // curation surface: compositions of the same Column definitions the
    // DataFrame API uses (one source of truth for the arithmetic) —
    // the bridge converts the built Column back to an Expression tree,
    // so these stay codegen'd built-ins, not UDFs
    ("graft_split_name",
      new ExpressionInfo(CorpusOps.getClass.getName, "graft_split_name"),
      checked("graft_split_name", 1)(args =>
        expr(CorpusOps.splitName(colOf(args.head))))),
    ("graft_hash_bucket",
      new ExpressionInfo(CorpusOps.getClass.getName, "graft_hash_bucket"),
      checked("graft_hash_bucket", 2)(args =>
        expr(CorpusOps.hashBucket(colOf(args.head), colOf(args(1)))))),
    ("graft_sample_keep",
      new ExpressionInfo(CorpusOps.getClass.getName, "graft_sample_keep"),
      checked("graft_sample_keep", 2)(args =>
        expr(CorpusOps.sampleKeep(colOf(args.head), colOf(args(1)))))),
    ("graft_redact_pii",
      new ExpressionInfo(TextFunctions.getClass.getName, "graft_redact_pii"),
      checked("graft_redact_pii", 1)(args =>
        expr(TextFunctions.redactPii(colOf(args.head))))))

  private def colOf(e: Expression) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  // eager conversion: a builder-returned tree never passes the
  // plan-level ColumnNode resolution, so the lazy wrapper would
  // survive to codegen and throw (see ColumnBridge.catalystExpression)
  private def expr(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(c)

  /** Computes what a Window's consumer reads of a wide pass-through
    * column, when that is only its length or null flag, below the
    * Window, so the column leaves the window's exchange and sort. The
    * record log's offset window (`EventsAsRecords.records`) passes
    * every record's `key` and `value` bytes through, while the stats
    * pass reads only their lengths and null flags and the alive-key
    * pass only `value IS NULL`.
    *
    * Shape: a consumer (`Project` or `Aggregate`) over zero or more
    * deterministic `Project`/`Filter` nodes (the chain) over a `Window`.
    * A string or binary column of the Window's input moves when, with
    * the chain's aliases inlined, the consumer reads it only through
    * `length`, `octet_length`, `IS NULL` and `IS NOT NULL`, and neither
    * the Window (its partition, order and functions) nor a chain Filter
    * reads it. Its one length is computed as `_nwN` in a `Project` under
    * the Window and rides up the chain; the null tests read that
    * length, which is null exactly when the column is. A binary's
    * `length` is its `octet_length`, and a column read only through
    * null tests carries `octet_length`. A string read through both
    * `length` and `octet_length` stays.
    *
    * So each moved column gives way to one int: its 8-byte UnsafeRow
    * slot replaces the column's slot and bytes, and no window row gets
    * wider. None of these expressions can raise, so computing them on
    * rows that a chain Filter, a Limit or a conditional branch would
    * have kept them from changes no answer and raises no error.
    */
  object NarrowWindowInputs extends Rule[LogicalPlan] {

    def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformUpWithPruning(_.containsPattern(WINDOW)) {
        case c @ (_: Project | _: Aggregate) => narrow(c).getOrElse(c)
      }

    /** The Project/Filter chain under `n`, top down, and the node below it. */
    @tailrec private def chainUnder(n: LogicalPlan,
        acc: List[LogicalPlan] = Nil): (List[LogicalPlan], LogicalPlan) =
      n match {
        case _: Project | _: Filter => chainUnder(n.children.head, n :: acc)
        case _ => (acc.reverse, n)
      }

    /** The column of `cols` that `e` reads, if `e` is a length or a null
      * test of it, and whether it needs the character count (`Some(true)`),
      * the byte count (`Some(false)`) or neither (a null test). */
    private def leaf(e: Expression,
        cols: AttributeSet): Option[(Attribute, Option[Boolean])] = e match {
      case IsNull(a: Attribute) if cols.contains(a) => Some((a, None))
      case IsNotNull(a: Attribute) if cols.contains(a) => Some((a, None))
      case Length(a: Attribute) if cols.contains(a) =>
        Some((a, Some(a.dataType != BinaryType)))
      case OctetLength(a: Attribute) if cols.contains(a) => Some((a, Some(false)))
      case _ => None
    }

    private def narrow(consumer: LogicalPlan): Option[LogicalPlan] =
      chainUnder(consumer.children.head) match {
        case (chain, w: Window)
            if chain.forall(_.expressions.forall(_.deterministic)) =>
          rewrite(consumer, chain, w)
        case _ => None
      }

    private def rewrite(consumer: LogicalPlan, chain: List[LogicalPlan],
        w: Window): Option[LogicalPlan] = {
      // each chain alias in terms of the Window's output, bottom up
      val defs = chain.reverse.foldLeft(Map.empty[ExprId, Expression]) {
        case (m, Project(list, _)) => m ++ list.collect {
          case a: Alias => a.exprId -> inline(m, a.child)
        }
        case (m, _) => m
      }
      def inlined(e: Expression) = inline(defs, e)
      val readBelow = AttributeSet(w.references ++ chain.collect {
        case f: Filter => inlined(f.condition).references
      }.flatten)
      val (exprs, grouping) = consumer match {
        case p: Project => (p.projectList, Nil)
        case a: Aggregate => (a.aggregateExpressions, a.groupingExpressions)
      }

      // `e` with `f` applied to each leaf over `cols`, subqueries left alone
      def onLeaves(e: Expression, cols: AttributeSet)(
          f: (Expression, Attribute, Option[Boolean]) => Expression): Expression = {
        val x = inlined(e)
        leaf(x, cols) match {
          case Some((a, chars)) => f(x, a, chars)
          case None => e match {
            case _: SubqueryExpression => e
            case _ => e.mapChildren(onLeaves(_, cols)(f))
          }
        }
      }

      // a column still read bare above the Window cannot move; settle on
      // the columns that can
      @tailrec def settle(cols: AttributeSet): Option[(Seq[NamedExpression], Seq[Alias])] = {
        val needs = mutable.Map.empty[ExprId, Set[Boolean]]
        exprs.foreach(onLeaves(_, cols) { (x, a, chars) =>
          needs(a.exprId) = needs.getOrElse(a.exprId, Set.empty[Boolean]) ++ chars
          x
        })
        val carriers = w.child.output
          .filter(a => needs.get(a.exprId).exists(_.size < 2))
          .zipWithIndex.map { case (a, i) =>
            val len = if (needs(a.exprId)(true)) Length(a) else OctetLength(a)
            a -> Alias(len, s"_nw$i")()
          }
        val carrierOf = carriers.map { case (a, al) => a.exprId -> al.toAttribute }.toMap
        val out = exprs.map { ne =>
          onLeaves(ne, AttributeSet(carriers.map(_._1))) { (x, a, _) =>
            val len = carrierOf(a.exprId)
            x match {
              case _: IsNull => IsNull(len)
              case _: IsNotNull => IsNotNull(len)
              case _ => len
            }
          } match {
            case n: NamedExpression if n.exprId == ne.exprId => n
            case other => Alias(other, ne.name)(ne.exprId, ne.qualifier)
          }
        }
        val bare = AttributeSet((out ++ grouping).flatMap(e => inlined(e).references))
          .intersect(AttributeSet(carriers.map(_._1)))
        if (bare.nonEmpty) settle(cols -- bare)
        else if (carriers.isEmpty) None
        else Some((out, carriers.map(_._2)))
      }

      val wide = AttributeSet(w.child.output.filter(a => a.dataType match {
        case _: StringType | BinaryType => true
        case _ => false
      }))
      settle(wide -- readBelow).map { case (out, moved) =>
        val passed = moved.map(_.toAttribute)
        val window: LogicalPlan =
          w.copy(child = Project(w.child.output ++ moved, w.child))
        val newChain = chain.foldRight(window) {
          case (p: Project, below) =>
            p.copy(projectList = p.projectList ++ passed, child = below)
          case (f: Filter, below) => f.copy(child = below)
        }
        consumer match {
          case p: Project => p.copy(projectList = out, child = newChain)
          case a: Aggregate => a.copy(aggregateExpressions = out, child = newChain)
        }
      }
    }

    private def inline(defs: Map[ExprId, Expression], e: Expression): Expression =
      e.transformUp { case a: Attribute if defs.contains(a.exprId) => defs(a.exprId) }
  }

  /** Register on an already-running session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
