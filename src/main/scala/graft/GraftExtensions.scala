package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{FloatDotProduct, Hashing}

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available to pure-SQL users.
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  *
  * (The Scala API goes through graft.functions.VectorFunctions directly
  * and does not require the extension.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def register(ext: SparkSessionExtensions, name: String, arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name takes $arity argument(s)")
        build(args)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "graft_dot", 2)(args => FloatDotProduct(args.head, args(1)))
    // the engine-portable primitives every graft operator builds on, for
    // pure-SQL users (catalyst trees mirroring graft.functions.Hashing;
    // DuckDB twins documented there)
    register(ext, "graft_h60", 1)(args => GraftExtensions.h60Expr(args.head))
    register(ext, "graft_rd4", 1)(args => GraftExtensions.rdExpr(args.head, 10000.0))
    register(ext, "graft_rd2", 1)(args => GraftExtensions.rdExpr(args.head, 100.0))
    register(ext, "graft_cosine", 2)(args =>
      GraftExtensions.cosineExpr(args.head, args(1)))
    // kadiyadb's Fetch RPC as a SQL table function: a remote (Connect)
    // client expresses a wildcard pattern fetch without hand-writing the
    // depth/field/epoch filters —
    //   SELECT * FROM graft_fetch('metrics_a', 'cpu.*',
    //                             '2024-01-01', '2024-01-02')
    // Pattern fields are '.'-separated, '*' = wildcard (kadiyadb's empty
    // field — /root/reference/database.go:175). The stores root comes
    // from the session conf `spark.graft.fetch.root` (graft.Serve sets
    // it; a client may SET it per session).
    ext.injectTableFunction((
      new FunctionIdentifier("graft_fetch"),
      new ExpressionInfo(getClass.getName, "graft_fetch"),
      (args: Seq[Expression]) => GraftExtensions.fetchPlan(args)))
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types.LongType

  /** Catalyst twin of Hashing.h60: conv(substr(md5(x),1,15),16,10)::long. */
  private[graft] def h60Expr(arg: Expression): Expression =
    Cast(Conv(Substring(Md5(arg), Literal(1), Literal(15)),
      Literal(16), Literal(10)), LongType)

  /** Catalyst twin of Hashing.rd4/rd2: floor(x*scale + 0.5)/scale. */
  private[graft] def rdExpr(arg: Expression, scale: Double): Expression =
    Divide(Floor(Add(Multiply(arg, Literal(scale)), Literal(0.5))), Literal(scale))

  /** Cosine over two float vectors, composed from the codegen'd dot:
    * dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))).
    */
  private[graft] def cosineExpr(a: Expression, b: Expression): Expression =
    Divide(FloatDotProduct(a, b),
      Multiply(Sqrt(FloatDotProduct(a, a)), Sqrt(FloatDotProduct(b, b))))

  /** The graft_fetch table function body: open the named store under
    * `spark.graft.fetch.root` with its own params.json (so the pattern
    * may be as deep as the store's fields), parse the '.'-separated
    * pattern ('*' = wildcard, any other segment an exact value, the empty
    * one included, so the depth is the segment count), and return
    * [[graft.core.MetricStore.fetch]]'s plan — depth filter, field
    * equalities, epoch pruning and bucket range all derived, nothing
    * hand-written by the remote client.
    */
  private[graft] def fetchPlan(args: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 4,
      "graft_fetch takes (store, pattern, from, to) string literals")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
        v.toString
      case _ => throw new IllegalArgumentException(
        s"graft_fetch: $what must be a string literal")
    }
    val storeName = str(args(0), "store")
    // first char must be a word char: '.'/'..' (and any all-dot name)
    // would resolve OUTSIDE the pinned stores root — a remote Connect
    // client must never traverse above spark.graft.fetch.root
    require(storeName.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
      s"graft_fetch: store name '$storeName' must be a plain directory name")
    val pattern = str(args(1), "pattern")
    val from = str(args(2), "from")
    val to = str(args(3), "to")
    val spark = org.apache.spark.sql.SparkSession.active
    val root = spark.conf.getOption("spark.graft.fetch.root").getOrElse(
      throw new IllegalStateException(
        "graft_fetch: set spark.graft.fetch.root to the stores directory"))
    // limit -1 keeps trailing empty segments
    val fields = pattern.split("\\.", -1).toSeq
      .map(f => if (f == "*") None else Some(f))
    graft.core.MetricStore.open(spark, s"$root/$storeName")
      .fetch(from, to, fields)
      .queryExecution.logical
  }
}
