package graft.expr

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two float vectors — the SURVEY.md §4 custom
  * Catalyst inventory item ("CosineSimilarity Expression, perf v2").
  *
  * Why an Expression and not a UDF or higher-order functions: `doGenCode`
  * emits a tight primitive loop inside whole-stage codegen — no per-element
  * lambda dispatch (the interpreted-HOF formulation costs ~1 µs/element),
  * no boxing, no Scala⇄Java crossing. Numerics are bit-identical to the
  * `aggregate(zip_with(...))` formulation the oracled queries started with:
  * each float is promoted to double exactly, products/squares accumulate
  * sequentially left-to-right, norms via correctly-rounded sqrt — so
  * swapping it into an oracled query cannot change a single output bit.
  *
  * Null handling: null input array → null (BinaryExpression nullSafeEval);
  * vectors are assumed free of null elements (embedding columns are).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "cosine_similarity requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration plumbing: [[GraftExtensions]] is the idiomatic
  * `spark.sql.extensions` entry point; [[GraftFunctions.ensureRegistered]]
  * is the idempotent in-session guard the query functions call so they work
  * on any SparkSession handed to them. */
object GraftFunctions {
  private[expr] val ident = FunctionIdentifier("cosine_similarity")
  private[expr] val info =
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity")
  private[expr] val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "cosine_similarity takes exactly 2 arguments")
    CosineSimilarity(children.head, children(1))
  }

  private[expr] val ngramsIdent = FunctionIdentifier("word_ngrams")
  private[expr] val ngramsInfo =
    new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams")
  private[expr] val ngramsBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "word_ngrams takes exactly 2 arguments")
    WordNgrams(children.head, intLiteral("word_ngrams n", children(1)))
  }

  private[expr] val minhashIdent = FunctionIdentifier("minhash_bands")
  private[expr] val minhashInfo =
    new ExpressionInfo(classOf[MinhashBands].getName, "minhash_bands")
  private[expr] val minhashBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, "minhash_bands takes exactly 3 arguments")
    MinhashBands(children.head, intLiteral("minhash_bands bands", children(1)),
      intLiteral("minhash_bands rowsPerBand", children(2)))
  }

  private[expr] val rpIdent = FunctionIdentifier("rp_buckets")
  private[expr] val rpInfo =
    new ExpressionInfo(classOf[RpBuckets].getName, "rp_buckets")
  private[expr] val rpBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, "rp_buckets takes exactly 3 arguments")
    RpBuckets(children.head, intLiteral("rp_buckets bands", children(1)),
      intLiteral("rp_buckets bits", children(2)))
  }

  /** A builder argument that must be an int literal (it sizes the kernel). */
  private def intLiteral(what: String, e: Expression): Int =
    if (!e.foldable) throw new IllegalArgumentException(s"$what must be a literal")
    else e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$what must be an int literal, got $other")
    }

  private[expr] val packIdent = FunctionIdentifier("int8_pack")
  private[expr] val packInfo =
    new ExpressionInfo(classOf[Int8Pack].getName, "int8_pack")
  private[expr] val packBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, "int8_pack takes exactly 1 argument")
    Int8Pack(children.head)
  }

  private[expr] val dotIdent = FunctionIdentifier("int8_dot")
  private[expr] val dotInfo =
    new ExpressionInfo(classOf[Int8Dot].getName, "int8_dot")
  private[expr] val dotBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "int8_dot takes exactly 2 arguments")
    Int8Dot(children.head, children(1))
  }

  private[expr] val adcIdent = FunctionIdentifier("pq_adc")
  private[expr] val adcInfo =
    new ExpressionInfo(classOf[PqAdc].getName, "pq_adc")
  private[expr] val adcBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "pq_adc takes exactly 2 arguments")
    PqAdc(children.head, children(1))
  }

  private[expr] val dotMicroIdent = FunctionIdentifier("dot_micro")
  private[expr] val dotMicroInfo =
    new ExpressionInfo(classOf[DotMicro].getName, "dot_micro")
  private[expr] val dotMicroBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "dot_micro takes exactly 2 arguments")
    DotMicro(children.head, children(1))
  }

  private[expr] val bloomIdent = FunctionIdentifier("bloom_probe")
  private[expr] val bloomInfo =
    new ExpressionInfo(classOf[BloomProbe].getName, "bloom_probe")
  private[expr] val bloomBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "bloom_probe takes exactly 2 arguments")
    BloomProbe(children.head, children(1))
  }

  private[expr] val mortonIdent = FunctionIdentifier("morton32")
  private[expr] val mortonInfo =
    new ExpressionInfo(classOf[Morton32].getName, "morton32")
  private[expr] val mortonBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "morton32 takes exactly 2 arguments")
    Morton32(children.head, children(1))
  }

  private[expr] val entropyIdent = FunctionIdentifier("char_entropy")
  private[expr] val entropyInfo =
    new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy")
  private[expr] val entropyBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, "char_entropy takes exactly 1 argument")
    CharEntropy(children.head)
  }

  private val all = Seq(
    (ident, info, builder),
    (ngramsIdent, ngramsInfo, ngramsBuilder),
    (minhashIdent, minhashInfo, minhashBuilder),
    (rpIdent, rpInfo, rpBuilder),
    (packIdent, packInfo, packBuilder),
    (dotIdent, dotInfo, dotBuilder),
    (adcIdent, adcInfo, adcBuilder),
    (dotMicroIdent, dotMicroInfo, dotMicroBuilder),
    (bloomIdent, bloomInfo, bloomBuilder),
    (entropyIdent, entropyInfo, entropyBuilder),
    (mortonIdent, mortonInfo, mortonBuilder))

  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, inf, b) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, inf, b)
    }
  }
}

/** `--conf spark.sql.extensions=graft.expr.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((GraftFunctions.ident, GraftFunctions.info, GraftFunctions.builder))
    ext.injectFunction((GraftFunctions.ngramsIdent, GraftFunctions.ngramsInfo,
      GraftFunctions.ngramsBuilder))
    ext.injectFunction((GraftFunctions.minhashIdent, GraftFunctions.minhashInfo,
      GraftFunctions.minhashBuilder))
    ext.injectFunction((GraftFunctions.rpIdent, GraftFunctions.rpInfo,
      GraftFunctions.rpBuilder))
    ext.injectFunction((GraftFunctions.packIdent, GraftFunctions.packInfo,
      GraftFunctions.packBuilder))
    ext.injectFunction((GraftFunctions.dotIdent, GraftFunctions.dotInfo,
      GraftFunctions.dotBuilder))
    ext.injectFunction((GraftFunctions.adcIdent, GraftFunctions.adcInfo,
      GraftFunctions.adcBuilder))
    ext.injectFunction((GraftFunctions.dotMicroIdent, GraftFunctions.dotMicroInfo,
      GraftFunctions.dotMicroBuilder))
    ext.injectFunction((GraftFunctions.bloomIdent, GraftFunctions.bloomInfo,
      GraftFunctions.bloomBuilder))
    ext.injectFunction((GraftFunctions.entropyIdent, GraftFunctions.entropyInfo,
      GraftFunctions.entropyBuilder))
    ext.injectFunction((GraftFunctions.mortonIdent, GraftFunctions.mortonInfo,
      GraftFunctions.mortonBuilder))
    // whole-operator surface (TopKPerGroup — SURVEY.md §2.11 option (c)):
    // the planner strategy, plus the optimizer rule that un-blocks filter
    // pushdown through the custom node (injected rules join the operator-
    // optimization fixed point, so pushed predicates continue to the scan)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKPushdownRule)
  }
}
