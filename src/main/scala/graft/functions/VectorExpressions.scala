package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-search core.
  *
  * The reference delegates cosine similarity to the store's vector index
  * (MongoDbService.cs:194-227, index `similarity: "COS"` at :135/:159).
  * Here the similarity IS the engine's hot loop — at 100 TB it runs once
  * per (probe, candidate) pair — so it is a codegen'd `Expression`
  * (participates in whole-stage codegen; no boxing, no UDF call overhead),
  * not a Scala UDF.
  *
  * All arithmetic is double-precision over float inputs, accumulated in
  * index order, which matches DuckDB's `list_cosine_similarity` closely
  * enough that results hash-match after `round(_, 6)`.
  */
trait VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }
}

/** dot(a, b) accumulated in double; pairs beyond min length are ignored. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot/(|a||b|); 0.0 when either norm is 0 (ref uses COS
  * similarity, MongoDbService.cs:135). Single fused pass: dot + both norms. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Squared L2 distance — the IVF centroid-assignment metric. */
case class L2DistanceSq(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "l2_dist_sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** L2 norm of an array<float>, double result. Our analog of the
  * reference's index-build-time precomputation (SURVEY §1.3). */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def prettyName: String = "l2_norm"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"l2_norm expects array<float>, got $other")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0; var i = 0; val n = x.numElements()
    while (i < n) { val v = x.getFloat(i).toDouble; acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Symmetric int8 quantization of an embedding: scale = maxAbs/127,
  * q[i] = round(v[i]/scale) ∈ [-127, 127], packed as BINARY (1536-d
  * drops 6 KB → 1.5 KB + 4 B — the 4× that decides whether a 100 TB
  * corpus's vectors fit executor memory). Codegen'd so a fused
  * quantize-and-score projection stays inside whole-stage codegen
  * (a fallback here would de-compile the entire enclosing Project). */
case class QuantizeI8(child: Expression) extends UnaryExpression {
  override def prettyName: String = "vec_quantize_i8"
  override def dataType: DataType = StructType(Seq(
    StructField("scale", FloatType, nullable = false),
    StructField("q", BinaryType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<float>, got $other")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var maxAbs = 0f; var i = 0
    while (i < n) { val v = math.abs(x.getFloat(i)); if (v > maxAbs) maxAbs = v; i += 1 }
    val scale = maxAbs / 127f
    val q = new Array[Byte](n)
    if (scale > 0f) {
      i = 0
      while (i < n) {
        val r = math.round(x.getFloat(i) / scale)
        q(i) = math.max(-127, math.min(127, r)).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(scale, q)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val n = ctx.freshName("n")
      val maxAbs = ctx.freshName("maxAbs"); val scale = ctx.freshName("scale")
      val q = ctx.freshName("q"); val v = ctx.freshName("v"); val r = ctx.freshName("r")
      s"""
         |int $n = $a.numElements();
         |float $maxAbs = 0f;
         |for (int $i = 0; $i < $n; $i++) {
         |  float $v = java.lang.Math.abs($a.getFloat($i));
         |  if ($v > $maxAbs) $maxAbs = $v;
         |}
         |float $scale = $maxAbs / 127f;
         |byte[] $q = new byte[$n];
         |if ($scale > 0f) {
         |  for (int $j = 0; $j < $n; $j++) {
         |    int $r = java.lang.Math.round($a.getFloat($j) / $scale);
         |    $q[$j] = (byte) java.lang.Math.max(-127, java.lang.Math.min(127, $r));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] { $scale, $q });
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Cosine over two int8-quantized vectors. Cosine is scale-invariant,
  * so the per-vector scales cancel and the whole-stage-codegen'd loop
  * runs on bytes with long accumulators — the quantized scan's hot
  * inner loop (4× less memory traffic than the float path). */
case class CosineSimI8(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "cosine_sim_i8"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects (binary, binary), got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]; val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < n) {
      val xv = x(i).toLong; val yv = y(i).toLong
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xv = (long) $a[$i];
         |  long $yv = (long) $b[$i];
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0L || $nb == 0L) ? 0.0
         |  : $dot / (java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Inverse of [[QuantizeI8]]: q[i]·scale back to array<float> (error
  * ≤ scale/2 per element — spec'd, not assumed). Diagnostic path. */
case class DequantizeI8(left: Expression, right: Expression) extends BinaryExpression
    with codegen.CodegenFallback {
  override def prettyName: String = "vec_dequantize_i8"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, FloatType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects (binary, float), got $other")
  }

  override def nullSafeEval(a: Any, s: Any): Any = {
    val q = a.asInstanceOf[Array[Byte]]; val scale = s.asInstanceOf[Float]
    val out = new Array[Float](q.length)
    var i = 0
    while (i < q.length) { out(i) = q(i) * scale; i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Asymmetric-distance (ADC) dot product for product-quantized vectors:
  * codes[s] indexes the query's precomputed per-subspace lookup table
  * (lut laid out as m × ks, flattened), so the scan's inner loop is m
  * table lookups — no float math per dimension. This is the PQ scan
  * kernel (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011): at 100 TB the corpus is m bytes/vector and the
  * per-candidate cost is O(m), not O(dims). Codegen'd so the whole
  * scan→score→top-k pass stays in one WholeStageCodegen span. */
case class PqAdcDot(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "pq_adc_dot"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary codes, array<float> lut), got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[Array[Byte]]
    val lut = b.asInstanceOf[ArrayData]
    val m = codes.length
    val ks = if (m == 0) 0 else lut.numElements() / m
    var acc = 0.0; var s = 0
    while (s < m) { acc += lut.getFloat(s * ks + (codes(s) & 0xFF)); s += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s"); val m = ctx.freshName("m")
      val ks = ctx.freshName("ks"); val acc = ctx.freshName("acc")
      s"""
         |int $m = $a.length;
         |int $ks = ($m == 0) ? 0 : $b.numElements() / $m;
         |double $acc = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  $acc += (double) $b.getFloat($s * $ks + ($a[$s] & 0xFF));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Ingest-time PQ encoder: nearest-centroid code per subspace (L2 in the
  * subspace, ties to the lower code — bit-identical to
  * `PqCodebook.encodeOne`, spec-asserted). The codebook rides as a
  * referenced flat float[] (m × ks × dsub row-major), NOT a Literal, so
  * the plan string stays readable and the generated code indexes one
  * flat array. Codegen matters here because encode is the one pass that
  * touches every float of a 100 TB corpus: keeping it inside
  * whole-stage codegen (no ScalaUDF boxing of a 1536-element Seq per
  * row) is worth ~the same factor as the ADC scan's lookup kernel. */
case class PqEncode(child: Expression, centroids: Array[Float],
                    m: Int, ks: Int, dsub: Int) extends UnaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<float>, got $other")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < ks) {
        val base = (s * ks + j) * dsub
        var d = 0.0; var i = 0
        while (i < dsub) {
          val t = x.getFloat(s * dsub + i).toDouble - centroids(base + i)
          d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      codes(s) = best.toByte
      s += 1
    }
    codes
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("pqCentroids", centroids, "float[]")
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s"); val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val base = ctx.freshName("base"); val d = ctx.freshName("d")
      val t = ctx.freshName("t"); val q = ctx.freshName("q")
      s"""
         |byte[] $q = new byte[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  int $best = 0; double $bestD = Double.MAX_VALUE;
         |  for (int $j = 0; $j < $ks; $j++) {
         |    int $base = ($s * $ks + $j) * $dsub;
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      double $t = (double) $a.getFloat($s * $dsub + $i)
         |        - (double) $cents[$base + $i];
         |      $d += $t * $t;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $j; }
         |  }
         |  $q[$s] = (byte) $best;
         |}
         |${ev.value} = $q;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API + SQL-registry surface for the vector expressions. */
object VectorFunctions {
  private def e(c: Column): Expression = GraftSqlBridge.expression(c)
  private def col(x: Expression): Column = GraftSqlBridge.column(x)

  def vec_dot(a: Column, b: Column): Column = col(DotProduct(e(a), e(b)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimilarity(e(a), e(b)))
  def l2_dist_sq(a: Column, b: Column): Column = col(L2DistanceSq(e(a), e(b)))
  def l2_norm(a: Column): Column = col(L2Norm(e(a)))
  def vec_quantize_i8(a: Column): Column = col(QuantizeI8(e(a)))
  def cosine_sim_i8(a: Column, b: Column): Column = col(CosineSimI8(e(a), e(b)))
  def vec_dequantize_i8(q: Column, scale: Column): Column = col(DequantizeI8(e(q), e(scale)))
  def pq_adc_dot(codes: Column, lut: Column): Column = col(PqAdcDot(e(codes), e(lut)))
  def pq_encode(v: Column, centroids: Array[Float], m: Int, ks: Int, dsub: Int): Column =
    col(PqEncode(e(v), centroids, m, ks, dsub))

  /** The one SQL function table — (name, usage, arity, builder) — that
    * both install paths read: [[register]] (per session) and
    * [[graft.GraftExtensions]] (cluster-wide `spark.sql.extensions`),
    * so the two can never offer different functions. */
  private[graft] val sqlFunctions
      : Seq[(String, String, Int, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two float vectors", 2,
      xs => DotProduct(xs(0), xs(1))),
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors", 2,
      xs => CosineSimilarity(xs(0), xs(1))),
    ("l2_dist_sq", "l2_dist_sq(a, b) - squared L2 distance of two float vectors", 2,
      xs => L2DistanceSq(xs(0), xs(1))),
    ("l2_norm", "l2_norm(a) - L2 norm of a float vector", 1,
      xs => L2Norm(xs(0))),
    ("vec_quantize_i8", "vec_quantize_i8(a) - int8 codes and scale of a float vector", 1,
      xs => QuantizeI8(xs(0))),
    ("cosine_sim_i8", "cosine_sim_i8(q1, q2) - cosine similarity of two int8 code vectors", 2,
      xs => CosineSimI8(xs(0), xs(1))),
    ("vec_dequantize_i8", "vec_dequantize_i8(q, scale) - float vector from int8 codes", 2,
      xs => DequantizeI8(xs(0), xs(1))),
    ("pq_adc_dot", "pq_adc_dot(codes, lut) - PQ asymmetric dot product over a lookup table", 2,
      xs => PqAdcDot(xs(0), xs(1))))

  /** `build` behind an arity check: a wrong argument count fails analysis
    * with a proper AnalysisException, not an IndexOutOfBounds. */
  private[graft] def checkedBuilder(name: String, arity: Int,
                                    build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { xs =>
    if (xs.length != arity) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map("functionName" -> name,
        "expectedNum" -> arity.toString, "actualNum" -> xs.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
    build(xs)
  }

  /** Register as SQL functions so `spark.sql("... cosine_sim(a,b) ...")` works. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, arity, build) =>
      reg.createOrReplaceTempFunction(name, checkedBuilder(name, arity, build), "scala_udf")
    }
  }
}
