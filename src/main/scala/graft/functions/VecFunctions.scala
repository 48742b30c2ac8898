package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector hot path (SURVEY §2.12: the
  * reference has zero UDFs; where we need per-element array math beyond what
  * built-ins compile well, the preference order from the build brief is a
  * codegen'd `Expression` — this module).
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`) evaluate their
  * lambda per element through the interpreter (one LambdaFunction call +
  * boxing per element). For a 64-dim dot product inside an O(n²) near-dup
  * join that interpretive overhead dominates the query. `vec_dot` compiles
  * to a tight primitive loop inside whole-stage codegen — measured ~5× on
  * the sf0.1 embedding near-dup (q33).
  */
object VecFunctions {

  /** dot(a, b) over array<double> in one codegen'd loop. Summation is
    * sequential (index order), matching both the HOF left-fold it replaces
    * and DuckDB's list_sum — oracle-exact.
    */
  case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(t: DataType) = t match {
        case ArrayType(DoubleType, _) => true
        case _                        => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})"
        )
    }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    // fresh names: with non-nullable inputs nullSafeCodeGen inlines this
    // block unscoped, so fixed local names collide when the expression
    // appears twice in one codegen function (Janino "Redefinition of local
    // variable" → silent whole-stage interpreted fallback).
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        (a, b) => {
          val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
          s"""
          |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          |double $s = 0.0;
          |for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $b.getDouble($i); }
          |${ev.value} = $s;
          |""".stripMargin
        }
      )

    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
      copy(left = l, right = r)
  }

  /** |A ∩ B| for two SORTED arrays of distinct longs, via a two-pointer
    * merge — O(n+m) with zero per-pair allocation, vs array_intersect's
    * per-call hash-set build. The workhorse of the token-set Jaccard join
    * (sort once per document, merge per pair).
    */
  case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(t: DataType) = t match {
        case ArrayType(org.apache.spark.sql.types.LongType, _) => true
        case _                                                 => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count expects two array<bigint>, got (${left.dataType}, ${right.dataType})"
        )
    }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      var i = 0; var j = 0; var c = 0
      val n = x.numElements(); val m = y.numElements()
      while (i < n && j < m) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      c
    }

    // fresh names — see VecDot.doGenCode for why fixed names break codegen
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        (a, b) => {
          val i = ctx.freshName("i"); val j = ctx.freshName("j"); val c = ctx.freshName("c")
          val n = ctx.freshName("n"); val m = ctx.freshName("m")
          val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
          s"""
          |int $i = 0, $j = 0, $c = 0;
          |int $n = $a.numElements(), $m = $b.numElements();
          |while ($i < $n && $j < $m) {
          |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
          |  if ($xv == $yv) { $c++; $i++; $j++; }
          |  else if ($xv < $yv) { $i++; } else { $j++; }
          |}
          |${ev.value} = $c;
          |""".stripMargin
        }
      )

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
      copy(left = l, right = r)
  }

  /** 64-bit SimHash over an array of token hashes: for each bit position the
    * sign of Σ±1 across tokens. One primitive double loop in codegen —
    * replaces a 64-way nested HOF aggregate (64 interpreted lambda calls per
    * token).
    */
  case class SimHash64(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(org.apache.spark.sql.types.LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"simhash64 expects array<bigint>, got $t"
          )
      }

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var i = 0
      val n = x.numElements()
      while (i < n) {
        val h = x.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }

    // fresh names — see VecDot.doGenCode for why fixed names break codegen
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        a => {
          val counts = ctx.freshName("counts"); val n = ctx.freshName("n")
          val i = ctx.freshName("i"); val h = ctx.freshName("h")
          val b = ctx.freshName("b"); val b2 = ctx.freshName("b2")
          val sig = ctx.freshName("sig")
          s"""
          |int[] $counts = new int[64];
          |int $n = $a.numElements();
          |for (int $i = 0; $i < $n; $i++) {
          |  long $h = $a.getLong($i);
          |  for (int $b = 0; $b < 64; $b++) {
          |    if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
          |  }
          |}
          |long $sig = 0L;
          |for (int $b2 = 0; $b2 < 64; $b2++) { if ($counts[$b2] > 0) $sig |= (1L << $b2); }
          |${ev.value} = $sig;
          |""".stripMargin
        }
      )

    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** splitmix64 finalizer — the shared mixer for the minhash function
    * and deterministic hyperplane generation.
    */
  @inline private[graft] def mix64(v: Long): Long = {
    var x = v
    x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 27; x *= 0x94D049BB133111EBL
    x ^= x >>> 31
    x
  }

  /** K MinHash signature values in one pass: min over elements of
    * mix64(h ^ seed_i) for K deterministic seeds. Replaces K separate
    * array_min(transform(...)) interpreted scans.
    */
  case class MinHashSigs(child: Expression, k: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(org.apache.spark.sql.types.LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"minhash_sigs expects array<bigint>, got $t"
          )
      }

    private val seeds: Array[Long] = Array.tabulate(k)(i => mix64(0x9E3779B97F4A7C15L * (i + 1)))

    private def build(x: ArrayData): Array[Long] = {
      val n = x.numElements()
      val out = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = x.getLong(i)
        var j = 0
        while (j < k) {
          val v = mix64(h ^ seeds(j))
          if (v < out(j)) out(j) = v
          j += 1
        }
        i += 1
      }
      out
    }

    override protected def nullSafeEval(a: Any): Any =
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(build(a.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhashFn", this, classOf[MinHashSigs].getName)
      nullSafeCodeGen(
        ctx,
        ev,
        a => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($a);"
      )
    }

    override protected def withNewChildInternal(c: Expression): MinHashSigs = copy(child = c)
  }

  private val registrations: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], { args: Seq[Expression] =>
      require(args.length == 2, "vec_dot takes exactly 2 arguments")
      VecDot(args(0), args(1))
    }),
    ("sorted_intersect_count", classOf[SortedIntersectCount], { args: Seq[Expression] =>
      require(args.length == 2, "sorted_intersect_count takes exactly 2 arguments")
      SortedIntersectCount(args(0), args(1))
    }),
    ("simhash64", classOf[SimHash64], { args: Seq[Expression] =>
      require(args.length == 1, "simhash64 takes exactly 1 argument")
      SimHash64(args(0))
    }),
    ("minhash_sigs16", classOf[MinHashSigs], { args: Seq[Expression] =>
      require(args.length == 1, "minhash_sigs16 takes exactly 1 argument")
      MinHashSigs(args(0), 16)
    })
  )

  /** Register into a session's FunctionRegistry. Registration is
    * first-wins per session: a name that already exists (including one of
    * ours from an earlier query) is left untouched — callers own their
    * registry; we never silently replace a user's function of the same name.
    * After this, `expr("vec_dot(a, b)")` and SQL both resolve.
    */
  def install(spark: SparkSession): Unit =
    registrations.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      // stateless builders: registering once per session is enough (and
      // skipping avoids a re-registration WARN per query invocation)
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry.registerFunction(
          id,
          new ExpressionInfo(cls.getName, name),
          builder
        )
    }

  private[functions] def all: Seq[(String, Class[_], Seq[Expression] => Expression)] = registrations
}

/** `SparkSessionExtensions` hook so external deployments can enable ALL the
  * native functions with `spark.sql.extensions=graft.functions.
  * GraftExtensions` (in-process callers can use `VecFunctions.install`
  * directly).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    VecFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
