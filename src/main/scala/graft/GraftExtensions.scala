package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.{MinHashSig, SimHash64}
import graft.filters.FuzzyMatch
import graft.sim.{TopKStruct, VecDot}

/** graft's planner extension: registers graft's native Expressions as
  * SQL functions, so `spark.sql("... vec_dot(a, b) ...")` works exactly
  * like the DataFrame API, and installs three rules:
  *  - [[graft.core.ParamLits]], physical: comparison constants become
  *    codegen parameters;
  *  - [[graft.core.Fetch]], physical, after it: a collect of a small
  *    scan pipeline (a Get, multiGet, range or small scan over a few
  *    MB of region files) runs on the calling thread, with no job;
  *  - [[graft.core.ExpandMergeDelta]], optimizer: a mutation's merge
  *    node becomes its anti-join ∪ rows plan.
  *
  * `graft.Session.local` installs it on every session it builds; other
  * sessions get it with `spark.sql.extensions=graft.GraftExtensions`
  * (the standard SparkSessionExtensions mechanism).
  * `GraftFunctions.register(spark)` registers the functions alone on a
  * live session built elsewhere.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectColumnar(_ => graft.core.ParamLits)
    ext.injectColumnar(_ => graft.core.Fetch)
    ext.injectOptimizerRule(_ => graft.core.ExpandMergeDelta)
  }
}

object GraftFunctions {

  private def litString(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a string literal, got $other")
  }
  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(i: Int, _) => i
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got $other")
  }

  /** Arity guard: a wrong-arg-count SQL call must fail with a message
    * naming the function and the expected count, not an
    * IndexOutOfBoundsException from deep inside analysis (litString/
    * litInt already give this quality of message for wrong TYPES). */
  private def arity(fn: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      require(args.length == n,
        s"$fn expects $n argument" + (if (n == 1) "" else "s") +
          s", got ${args.length}")
      b(args)
    }

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      arity("vec_dot", 2)(args => VecDot(args(0), args(1)))),
    ("fuzzy_match",
      new ExpressionInfo(classOf[FuzzyMatch].getName, "fuzzy_match"),
      arity("fuzzy_match", 2)(args => FuzzyMatch(args(0), litString(args(1), "fuzzy_match")))),
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      arity("minhash_sig", 2)(args => MinHashSig(args(0), litInt(args(1), "minhash_sig")))),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      arity("simhash64", 1)(args => SimHash64(args(0)))),
    ("topk_struct",
      new ExpressionInfo(classOf[TopKStruct].getName, "topk_struct"),
      arity("topk_struct", 2)(args => TopKStruct(args(0), litInt(args(1), "topk_struct")))),
    // The shell/REST access-path analogue: the HBase filter-string
    // grammar callable from plain SQL over any cell view —
    //   SELECT * FROM cells WHERE hbase_filter('PrefixFilter(''1'')')
    // The DSL compiles to an unresolved predicate over rowkey/family/
    // qualifier/value[/ts] columns, resolved against the enclosing
    // query. Caveats, same as the Column API: window-shaped members
    // (SingleColumnValueFilter / SKIP / ColumnPaginationFilter) are
    // legal SQL but Spark forbids window expressions directly in WHERE
    // — materialize first:
    //   SELECT * FROM (SELECT *, hbase_filter('SKIP ...') f FROM cells)
    //   WHERE f
    // Scan-stateful WHILE/PageFilter cannot be a predicate at all and
    // reject here with a pointer to ParseFilter.filter.
    ("hbase_filter",
      new ExpressionInfo(classOf[graft.filters.ParseFilter.type].getName, "hbase_filter"),
      arity("hbase_filter", 1) { args =>
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.resolvableExpression(
          graft.filters.ParseFilter.parse(litString(args(0), "hbase_filter")))
      }),
  )

  /** Register on an existing session (tests, shells). */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.graftbridge.SessionBridge
    all.foreach { case (name, info, builder) =>
      SessionBridge.registerFunction(spark, FunctionIdentifier(name), info, builder)
    }
  }
}
