package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `ngrams(tokens, min_n, max_n)` as a native Catalyst table-generating
 * function (SURVEY.md G1, §4.3: "Generator for SQL ergonomics") — gives SQL
 * users `LATERAL VIEW ngrams(tokens, 2, 5) g AS ngram` / `SELECT
 * explode_outer`-style access to the miner's n-gram semantics: every
 * contiguous window of length n ∈ [min_n, max_n], one row per OCCURRENCE
 * (phrasekit_mine.rs:144-158), lowercased with the gram key's case mapping
 * (`Grams.lower`), so its strings are the Miner's.
 *
 * Works directly on UTF8String token arrays (no Scala object conversion).
 * CodegenFallback: generators are invoked per input row, not per element, so
 * interpreted eval here costs one call per document — not the per-gram lambda
 * interpretation that made higher-order-function n-gram generation slow.
 */
case class NGramsGenerator(tokens: Expression, minN: Expression, maxN: Expression)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(tokens, minN, maxN)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    tokens.dataType match {
      case ArrayType(StringType, _) =>
        val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
        if (minN.foldable && maxN.foldable &&
          integral(minN.dataType) && integral(maxN.dataType))
          TypeCheckSuccess
        else TypeCheckFailure("ngrams: min_n and max_n must be integer literals")
      case other =>
        TypeCheckFailure(s"ngrams: first argument must be ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  @transient private lazy val lo: Int = minN.eval().asInstanceOf[Number].intValue()
  @transient private lazy val hi: Int = maxN.eval().asInstanceOf[Number].intValue()

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = tokens.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Nil
    val L = arr.numElements()
    val lowered = new Array[UTF8String](L)
    var i = 0
    while (i < L) {
      val t = arr.getUTF8String(i)
      lowered(i) = if (t == null) UTF8String.EMPTY_UTF8 else graft.mine.Grams.lower(t)
      i += 1
    }
    val out = Vector.newBuilder[InternalRow]
    var n = math.max(lo, 1)
    while (n <= hi) {
      var s = 0
      while (s + n <= L) {
        var g = lowered(s)
        var j = s + 1
        while (j < s + n) { g = UTF8String.concat(g, UTF8String.fromString(" "), lowered(j)); j += 1 }
        out += new GenericInternalRow(Array[Any](g))
        s += 1
      }
      n += 1
    }
    out.result()
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(tokens = newChildren(0), minN = newChildren(1), maxN = newChildren(2))
}

/** Session extension registering graft SQL functions; use via
 * `SparkSession.builder().withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.plans.GraftExtensions`. `GraftFunctions.register`
 * does the same on an existing session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.ngramsDescriptor)
    ext.injectFunction(VectorDot.descriptor)
    ext.injectFunction(TextExprs.extractDescriptor)
    ext.injectFunction(TextExprs.tokenizeDescriptor)
    ext.injectFunction(TextExprs.lowerDescriptor)
  }
}

object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val ngramsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("ngrams"),
    new ExpressionInfo(classOf[NGramsGenerator].getName, "ngrams"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 3, "ngrams(tokens, min_n, max_n) takes 3 arguments")
      NGramsGenerator(exprs(0), exprs(1), exprs(2))
    })

  /** Register on an already-built session. A function the session already
   * has (from an earlier call or from `GraftExtensions`) is left alone, so
   * repeated calls neither replace it nor log the replacement. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq(ngramsDescriptor, VectorDot.descriptor,
      TextExprs.extractDescriptor, TextExprs.tokenizeDescriptor,
      TextExprs.lowerDescriptor).foreach { case (id, _, builder) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }
}
