package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Native dot product over two `array<double>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, *), 0.0, +)` —
  * is semantically identical but evaluates its lambdas interpreted
  * (array higher-order functions have no codegen), measured 2.8x
  * slower than generated code on the shingle pipeline and squarely on
  * the similarity-search hot path (SURVEY.md: custom Catalyst
  * Expression preferred over UDFs when built-ins can't express the
  * semantics *efficiently*).
  *
  * Semantics mirror the HOF form exactly, so the DuckDB oracle and
  * all prior results are unchanged:
  *  - strict left-to-right accumulation (bit-identical doubles);
  *  - NULL if the arrays differ in length (zip_with pads with null ->
  *    null product -> null sum);
  *  - NULL if any element is null (null poisons the fold).
  *
  * Each side may be `array<double>` OR `array<float>`: floats widen
  * to double per element (exact), which spares the hot path a per-row
  * `cast(array<float> as array<double>)` array copy — the oracle's
  * CAST-then-sum computes the same doubles.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (NumericArray.ok(left.dataType) && NumericArray.ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two numeric-array arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  @transient private lazy val readX = NumericArray.reader(left.dataType)
  @transient private lazy val readY = NumericArray.reader(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += readX(x, i) * readY(y, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val gx = NumericArray.getter(left.dataType, a, i)
      val gy = NumericArray.getter(right.dataType, b, i)
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $gx * $gy;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared element-type plumbing for the numeric-array expressions.
  * Every numeric element type is accepted and widened to double in
  * the getter (so ad-hoc inputs like `array(1, 2, 3)` — array<int> —
  * work without an explicit cast; int/long values above 2^53 lose
  * precision exactly as an explicit cast-to-double would). */
private[expressions] object NumericArray {
  def ok(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType | FloatType | IntegerType | LongType |
                   ShortType | ByteType, _) => true
    case _ => false
  }
  /** Java source reading element `i` of `arr` as double. */
  def getter(dt: DataType, arr: String, i: String): String = dt match {
    case ArrayType(FloatType, _)   => s"((double) $arr.getFloat($i))"
    case ArrayType(IntegerType, _) => s"((double) $arr.getInt($i))"
    case ArrayType(LongType, _)    => s"((double) $arr.getLong($i))"
    case ArrayType(ShortType, _)   => s"((double) $arr.getShort($i))"
    case ArrayType(ByteType, _)    => s"((double) $arr.getByte($i))"
    case _                         => s"$arr.getDouble($i)"
  }
  /** Interpreted-eval twin of [[getter]]. */
  def reader(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(FloatType, _)   => (a, i) => a.getFloat(i).toDouble
    case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
    case ArrayType(LongType, _)    => (a, i) => a.getLong(i).toDouble
    case ArrayType(ShortType, _)   => (a, i) => a.getShort(i).toDouble
    case ArrayType(ByteType, _)    => (a, i) => a.getByte(i).toDouble
    case _                         => (a, i) => a.getDouble(i)
  }
}

/** Session extension registering the engine's native expressions and
  * the `netcdf` source's once-per-file path expressions
  * ([[graft.sources.HoistPathExprs]]) — enable with
  * `spark.sql.extensions=graft.expressions.GraftExtensions`
  * (Tables.conf does this for every engine session). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPreCBORule(_ => graft.sources.HoistPathExprs)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot(a, b) takes two arrays")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_cosine(a, b) takes two arrays")
        CosineSim(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_slices"),
      new ExpressionInfo(classOf[MinHashSlices].getName, "graft_minhash_slices"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_minhash_slices(tokens, k, seeds) takes three arguments")
        MinHashSlices(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingle_set"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_shingle_set(tokens, k) takes two arguments")
        ShingleSet(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_simhash(tokens, nBits) takes two arguments")
        SimHash64(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_counts"),
      new ExpressionInfo(classOf[WordCounts].getName, "graft_word_counts"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_word_counts(tokens) takes one argument")
        WordCounts(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "graft_cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_cms_estimate(sketch, item) takes two arguments")
        CmsEstimate(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_normalize(s) takes one string argument")
        NormalizeText(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_html_extract"),
      new ExpressionInfo(classOf[HtmlExtract].getName, "graft_html_extract"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_html_extract(s) takes one string argument")
        HtmlExtract(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_ngrams"),
      new ExpressionInfo(classOf[CharNgrams].getName, "graft_char_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_char_ngrams(s, n) takes a string and a literal n")
        CharNgrams(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_score"),
      new ExpressionInfo(classOf[PqScoreExpr].getName, "graft_pq_score"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "graft_pq_score(ve, qv, cbs, m, ks) takes five arguments")
        PqScoreExpr(children(0), children(1), children(2), children(3), children(4))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ivf_cell"),
      new ExpressionInfo(classOf[IvfCellExpr].getName, "graft_ivf_cell"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          "graft_ivf_cell(ve, cells[, stable]) takes two or three arguments")
        // third arg: literal TRUE asserts `cells` is task-immutable
        // (a broadcast fold) → enables the flat-decode cache; the
        // library layer (graft.ops.Pq) is the intended caller
        val stable = children.length == 3 && {
          val c = children(2)
          require(c.foldable && c.dataType == org.apache.spark.sql.types.BooleanType,
            "graft_ivf_cell stable flag must be a boolean literal")
          c.eval() == true
        }
        IvfCellExpr(children.head, children(1), stable)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bottom_k"),
      new ExpressionInfo(classOf[BottomK].getName, "graft_bottom_k"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_bottom_k(expr, k) takes a value and a literal k")
        BottomK(children.head, children(1)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_matvec"),
      new ExpressionInfo(classOf[MatVecExpr].getName, "graft_matvec"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_matvec(rflat, x) takes two arrays")
        MatVecExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bfd_assign"),
      new ExpressionInfo(classOf[BfdAssignExpr].getName, "graft_bfd_assign"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_bfd_assign(ds, budget) takes a sorted doc array and a literal budget")
        BfdAssignExpr(children.head, children(1))
      }))
    // Spark's OWN bloom sketch pair (the expressions behind AQE runtime
    // filters), surfaced by name: they are internal-only in the stock
    // registry, but they are exactly the right machinery for exact
    // prune-then-confirm pipelines (Dedup.bloomDecontamKeep).
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_bloom_agg(xxhash64_value, est_items, num_bits) takes three arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_might_contain(bloom_bytes, xxhash64_value) takes two arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
  }
}
