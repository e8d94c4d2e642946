package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Cosine similarity over two `ARRAY<FLOAT>` embedding columns as a native
  * Catalyst expression with whole-stage codegen — the hot inner loop of
  * similarity search (SURVEY.md §2.11). A Scala UDF here would box every
  * float of every vector pair; at 100 TB the candidate-pair stream is the
  * dominant cost, so this must stay inside WholeStageCodegen.
  *
  * Semantics (kept bit-stable so the DuckDB oracle can reproduce them):
  * accumulate dot/na/nb sequentially in doubles over the float elements,
  * return dot / (sqrt(na) * sqrt(nb)); null if either input is null, the
  * lengths differ, or either norm is zero.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (ARRAY<FLOAT>, ARRAY<FLOAT>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val x = ctx.freshName("x"); val y = ctx.freshName("y")
    val n = ctx.freshName("n"); val i = ctx.freshName("i")
    val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
    val nb = ctx.freshName("nb"); val xi = ctx.freshName("xi")
    val yi = ctx.freshName("yi"); val denom = ctx.freshName("denom")
    val arrayCls = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${leftGen.isNull} && !${rightGen.isNull}) {
          $arrayCls $x = ${leftGen.value};
          $arrayCls $y = ${rightGen.value};
          int $n = $x.numElements();
          if ($n == $y.numElements()) {
            double $dot = 0.0, $na = 0.0, $nb = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              double $xi = (double) $x.getFloat($i);
              double $yi = (double) $y.getFloat($i);
              $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
            }
            double $denom = Math.sqrt($na) * Math.sqrt($nb);
            if ($denom != 0.0) {
              ${ev.isNull} = false;
              ${ev.value} = $dot / $denom;
            }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ColBERT-style late-interaction MaxSim over two multi-vector columns
  * packed as flat `ARRAY<FLOAT>`s of `subDim`-sized sub-vectors:
  *
  *   max_sim(q, d) = Σ_{i < |q|/subDim}  max_{j < |d|/subDim}
  *                     cos(q[i·subDim ..], d[j·subDim ..])
  *
  * — each query token-vector scores against its best-matching document
  * token-vector, and the per-token bests sum in ascending i order (a
  * FIXED-order sum, so the result is bit-stable; max over j is
  * order-free). A zero-norm sub-vector pair contributes cosine 0.0 —
  * keeping the function total so the oracle can replay it with a
  * coalesce — and null is returned when either length is not a positive
  * multiple of `subDim`. Native codegen for the same reason as
  * [[CosineSimilarity]]: the candidate-pair stream is the dominant cost
  * and boxes `|q|·|d|/subDim²` sub-cosines per pair under a UDF.
  */
case class MaxSim(left: Expression, right: Expression, subDim: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) if subDim > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case _ if subDim <= 0 => TypeCheckResult.TypeCheckFailure(
        s"max_sim: subDim must be positive, got $subDim")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"max_sim requires (ARRAY<FLOAT>, ARRAY<FLOAT>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "max_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    if (nx == 0 || ny == 0 || nx % subDim != 0 || ny % subDim != 0) null
    else {
      val nq = nx / subDim; val nd = ny / subDim
      var total = 0.0
      var qi = 0
      while (qi < nq) {
        var best = java.lang.Double.NEGATIVE_INFINITY
        var dj = 0
        while (dj < nd) {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
          while (k < subDim) {
            val xi = x.getFloat(qi * subDim + k).toDouble
            val yi = y.getFloat(dj * subDim + k).toDouble
            dot += xi * yi; na += xi * xi; nb += yi * yi
            k += 1
          }
          val denom = math.sqrt(na) * math.sqrt(nb)
          val c = if (denom == 0.0) 0.0 else dot / denom
          if (c > best) best = c
          dj += 1
        }
        total += best
        qi += 1
      }
      java.lang.Double.valueOf(total)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val x = ctx.freshName("x"); val y = ctx.freshName("y")
    val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
    val nq = ctx.freshName("nq"); val nd = ctx.freshName("nd")
    val qi = ctx.freshName("qi"); val dj = ctx.freshName("dj")
    val k = ctx.freshName("k"); val dot = ctx.freshName("dot")
    val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
    val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
    val denom = ctx.freshName("denom"); val c = ctx.freshName("c")
    val best = ctx.freshName("best"); val total = ctx.freshName("total")
    val arrayCls = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${leftGen.isNull} && !${rightGen.isNull}) {
          $arrayCls $x = ${leftGen.value};
          $arrayCls $y = ${rightGen.value};
          int $nx = $x.numElements();
          int $ny = $y.numElements();
          if ($nx > 0 && $ny > 0 && $nx % $subDim == 0 && $ny % $subDim == 0) {
            int $nq = $nx / $subDim;
            int $nd = $ny / $subDim;
            double $total = 0.0;
            for (int $qi = 0; $qi < $nq; $qi++) {
              double $best = Double.NEGATIVE_INFINITY;
              for (int $dj = 0; $dj < $nd; $dj++) {
                double $dot = 0.0, $na = 0.0, $nb = 0.0;
                for (int $k = 0; $k < $subDim; $k++) {
                  double $xi = (double) $x.getFloat($qi * $subDim + $k);
                  double $yi = (double) $y.getFloat($dj * $subDim + $k);
                  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
                }
                double $denom = Math.sqrt($na) * Math.sqrt($nb);
                double $c = ($denom == 0.0) ? 0.0 : $dot / $denom;
                if ($c > $best) $best = $c;
              }
              $total += $best;
            }
            ${ev.isNull} = false;
            ${ev.value} = $total;
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection bits over an `ARRAY<FLOAT>` vector against a
  * flattened plane-major `ARRAY<DOUBLE>` literal of `nPlanes × dim`
  * hyperplane components: bit p of the result is set iff
  * dot(vec, plane_p) > 0. One codegen'd pass over the vector replaces
  * `nPlanes` interpreted `aggregate(zip_with(...))` pipelines (higher-order
  * lambdas don't participate in codegen and allocate a zipped array per
  * plane per row — measurably dominant in the LSH bucketing hot path).
  *
  * Accumulation order per plane matches the former built-in pipeline
  * (sequential double sum over dims), so bucket ids are bit-identical.
  * Null if either input is null or the plane array length is not a
  * positive multiple of the vector length.
  */
case class SrpBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"srp_bits requires (ARRAY<FLOAT>, ARRAY<DOUBLE>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "srp_bits"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val w = b.asInstanceOf[ArrayData]
    val n = v.numElements()
    val m = w.numElements()
    if (n == 0 || m == 0 || m % n != 0) null
    else {
      val nPlanes = m / n
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        var dot = 0.0; var i = 0; val base = p * n
        while (i < n) {
          dot += v.getFloat(i).toDouble * w.getDouble(base + i)
          i += 1
        }
        if (dot > 0.0) bucket |= 1L << p
        p += 1
      }
      java.lang.Long.valueOf(bucket)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val v = ctx.freshName("v"); val w = ctx.freshName("w")
    val n = ctx.freshName("n"); val m = ctx.freshName("m")
    val p = ctx.freshName("p"); val i = ctx.freshName("i")
    val dot = ctx.freshName("dot"); val base = ctx.freshName("base")
    val nPlanes = ctx.freshName("nPlanes")
    val arrayCls = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${leftGen.isNull} && !${rightGen.isNull}) {
          $arrayCls $v = ${leftGen.value};
          $arrayCls $w = ${rightGen.value};
          int $n = $v.numElements();
          int $m = $w.numElements();
          if ($n > 0 && $m > 0 && $m % $n == 0) {
            ${ev.isNull} = false;
            int $nPlanes = $m / $n;
            for (int $p = 0; $p < $nPlanes; $p++) {
              double $dot = 0.0;
              int $base = $p * $n;
              for (int $i = 0; $i < $n; $i++) {
                $dot += ((double) $v.getFloat($i)) * $w.getDouble($base + $i);
              }
              if ($dot > 0.0) ${ev.value} |= 1L << $p;
            }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column-level entry points for the graft expressions. */
/** Symmetric int8 quantization stats over an `ARRAY<FLOAT>` embedding as a
  * native codegen expression: struct(scale, checksum) with
  * scale = 127 / max|x_i| and checksum = Σ floor(x_i·scale + 0.5) — the
  * compression pass (and its integrity check) a vector store runs before
  * serving quantized embeddings. The checksum is an exact INTEGER sum, so
  * it is order-independent and bit-comparable across engines — the property
  * that makes the whole quantization oracle-checkable, unlike a float
  * reconstruction error.
  *
  * Like [[CosineSimilarity]], this must stay inside WholeStageCodegen: at
  * 100 TB the embedding column is the widest thing in the scan, and an
  * interpreted `transform`/`aggregate` lambda pipeline allocates boxed
  * arrays per row (the q76 lesson). One static call per row; null for
  * null/empty/all-zero/non-finite vectors.
  */
case class Int8QuantStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_quant requires ARRAY<FLOAT>, got ${other.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("checksum", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "int8_quant"

  override def nullSafeEval(input: Any): Any =
    HashExpressions.int8QuantStats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val v = ctx.freshName("quant")
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        $rowCls ${ev.value} = null;
        if (!${childGen.isNull}) {
          $rowCls $v =
            graft.functions.HashExpressions.int8QuantStats(${childGen.value});
          if ($v != null) {
            ${ev.isNull} = false;
            ${ev.value} = $v;
          }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC (asymmetric distance computation) lookup sum — the IVF-PQ probe's
  * per-candidate hot loop as a native codegen expression. `left` is a
  * candidate's `ARRAY<TINYINT>` PQ codes (m entries), `right` the query's
  * flattened subvector-major `ARRAY<DOUBLE>` LUT (m × ksub entries, ksub
  * inferred as lut.length / m — no extra literal to keep in sync).
  * Result: Σ_mi lut[mi·ksub + codes[mi]], accumulated sequentially in
  * ascending mi — bit-identical to the `aggregate(sequence(...))` fold it
  * replaces, which, being a higher-order lambda, ran INTERPRETED per
  * candidate row: on a probe the candidate stream is O(queries ×
  * corpus/nCells), exactly where interpretation overhead multiplies.
  * Measured 3.35× faster than the fold on a 5M-row candidate stream at
  * the q163 shape (m=8, ksub=16, local[8]); end-to-end q163 at sf0.1 is
  * index-build-dominated, so the win shows at probe volume, not there.
  *
  * Null if either input is null, codes is empty, the LUT length is not a
  * positive multiple of m, or any code falls outside [0, ksub) — a
  * corrupt code must poison the score visibly, not read a neighboring
  * subvector's cell.
  */
case class AdcScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_score requires (ARRAY<TINYINT>, ARRAY<DOUBLE>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_score"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val l = lut.numElements()
    if (m == 0 || l % m != 0) null
    else {
      val ksub = l / m
      var s = 0.0
      var i = 0
      while (i < m) {
        // a null code or LUT cell poisons the score to null (the fold
        // this replaced propagated element nulls the same way; reading
        // the zeroed slot would fabricate a plausible wrong score)
        if (codes.isNullAt(i)) return null
        val c = codes.getByte(i).toInt
        if (c < 0 || c >= ksub) return null
        val idx = i * ksub + c
        if (lut.isNullAt(idx)) return null
        s += lut.getDouble(idx)
        i += 1
      }
      java.lang.Double.valueOf(s)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val codes = ctx.freshName("codes"); val lut = ctx.freshName("lut")
    val m = ctx.freshName("m"); val l = ctx.freshName("l")
    val ksub = ctx.freshName("ksub"); val i = ctx.freshName("i")
    val c = ctx.freshName("c"); val s = ctx.freshName("s")
    val ok = ctx.freshName("ok"); val idx = ctx.freshName("idx")
    val arrayCls = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${leftGen.isNull} && !${rightGen.isNull}) {
          $arrayCls $codes = ${leftGen.value};
          $arrayCls $lut = ${rightGen.value};
          int $m = $codes.numElements();
          int $l = $lut.numElements();
          if ($m > 0 && $l % $m == 0) {
            int $ksub = $l / $m;
            double $s = 0.0;
            boolean $ok = true;
            for (int $i = 0; $ok && $i < $m; $i++) {
              if ($codes.isNullAt($i)) { $ok = false; }
              else {
                int $c = (int) $codes.getByte($i);
                if ($c < 0 || $c >= $ksub) { $ok = false; }
                else {
                  int $idx = $i * $ksub + $c;
                  if ($lut.isNullAt($idx)) { $ok = false; }
                  else { $s += $lut.getDouble($idx); }
                }
              }
            }
            if ($ok) {
              ${ev.isNull} = false;
              ${ev.value} = $s;
            }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization ENCODER as a native codegen expression — the
  * IVF-PQ index build's per-row hot loop. `left` is the vector
  * (`ARRAY<FLOAT>`, length m·dsub), `right` the flattened
  * subvector-major codebooks (`ARRAY<DOUBLE>`, length m·ksub·dsub; ksub
  * inferred as right.length / left.length), and `m` the subvector count
  * (a literal, as in [[MaxSim]]). Result: `ARRAY<TINYINT>` of length m —
  * per subvector the argmin-L2 codebook entry, ties to the LOWEST code.
  *
  * Bit-identical to the `transform(sequence)/aggregate` fold chain it
  * replaces ([[graft.operators.SimilaritySearch.pqEncodeHof]], the
  * retained parity witness — SimilaritySearchSpec pins element-for-
  * element equality): the distance accumulates (x−c)² in ascending t
  * from 0.0 exactly as the fold did, and the strict `<` argmin keeps
  * the first minimum exactly as `array_position(dists,
  * array_min(dists))` did. The fold chain is a higher-order lambda —
  * INTERPRETED per row, m·ksub·dsub lambda steps each (1,024 at the
  * q163 shape) — and encoding runs over the FULL corpus at index build:
  * the measured q163 profile put 3.5 s of a 7.9 s warm pass in the one
  * job that encoded 2,000 rows.
  *
  * Null if either input is null, m does not divide the vector length,
  * the codebook length is not exactly ksub·(vector length) for a
  * positive ksub, or any touched element is null — corrupt shapes must
  * poison the codes visibly (the [[AdcScore]] stance). Inputs are
  * non-null dense by the PQ contract; the HOF's null propagation
  * differed only on inputs outside that contract.
  */
case class PqEncode(left: Expression, right: Expression, m: Int)
    extends BinaryExpression {

  require(m > 0, s"pq_encode: m must be positive, got $m")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_encode requires (ARRAY<FLOAT>, ARRAY<DOUBLE>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val flat = b.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    val fl = flat.numElements()
    if (dim == 0 || dim % m != 0 || fl == 0 || fl % dim != 0) return null
    val dsub = dim / m
    val ksub = fl / dim
    if (ksub > 128) return null
    val out = new Array[Byte](m)
    var mi = 0
    while (mi < m) {
      var best = -1
      var bd = 0.0
      var j = 0
      while (j < ksub) {
        var d2 = 0.0
        var t = 0
        val vBase = mi * dsub
        val cBase = (mi * ksub + j) * dsub
        while (t < dsub) {
          if (vec.isNullAt(vBase + t) || flat.isNullAt(cBase + t)) return null
          val d = vec.getFloat(vBase + t).toDouble - flat.getDouble(cBase + t)
          d2 += d * d
          t += 1
        }
        if (best < 0 || d2 < bd) { bd = d2; best = j }
        j += 1
      }
      out(mi) = best.toByte
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val vec = ctx.freshName("vec"); val flat = ctx.freshName("flat")
    val dim = ctx.freshName("dim"); val fl = ctx.freshName("fl")
    val dsub = ctx.freshName("dsub"); val ksub = ctx.freshName("ksub")
    val out = ctx.freshName("out"); val mi = ctx.freshName("mi")
    val j = ctx.freshName("j"); val t = ctx.freshName("t")
    val d2 = ctx.freshName("d2"); val d = ctx.freshName("d")
    val bd = ctx.freshName("bd"); val best = ctx.freshName("best")
    val vBase = ctx.freshName("vBase"); val cBase = ctx.freshName("cBase")
    val ok = ctx.freshName("ok")
    val arrayCls = classOf[ArrayData].getName
    val genericCls = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    ev.copy(code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = true;
        $arrayCls ${ev.value} = null;
        if (!${leftGen.isNull} && !${rightGen.isNull}) {
          $arrayCls $vec = ${leftGen.value};
          $arrayCls $flat = ${rightGen.value};
          int $dim = $vec.numElements();
          int $fl = $flat.numElements();
          if ($dim > 0 && $dim % $m == 0 && $fl > 0 && $fl % $dim == 0
              && $fl / $dim <= 128) {
            int $dsub = $dim / $m;
            int $ksub = $fl / $dim;
            byte[] $out = new byte[$m];
            boolean $ok = true;
            for (int $mi = 0; $ok && $mi < $m; $mi++) {
              int $best = -1;
              double $bd = 0.0;
              for (int $j = 0; $ok && $j < $ksub; $j++) {
                double $d2 = 0.0;
                int $vBase = $mi * $dsub;
                int $cBase = ($mi * $ksub + $j) * $dsub;
                for (int $t = 0; $ok && $t < $dsub; $t++) {
                  if ($vec.isNullAt($vBase + $t) || $flat.isNullAt($cBase + $t)) {
                    $ok = false;
                  } else {
                    double $d = (double) $vec.getFloat($vBase + $t)
                      - $flat.getDouble($cBase + $t);
                    $d2 += $d * $d;
                  }
                }
                if ($ok && ($best < 0 || $d2 < $bd)) { $bd = $d2; $best = $j; }
              }
              if ($ok) { $out[$mi] = (byte) $best; }
            }
            if ($ok) {
              ${ev.isNull} = false;
              ${ev.value} = new $genericCls($out);
            }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-query ADC lookup table as a native codegen expression — the
  * flattened lut[mi·ksub + j] = ⟨q_sub(mi), codebook(mi)(j)⟩ that
  * [[AdcScore]] consumes. Same operand convention as [[PqEncode]]
  * (vector, flat codebooks, literal m); accumulates x·c in ascending t
  * from 0.0 — bit-identical to the interpreted fold it replaces
  * ([[graft.operators.SimilaritySearch.pqLutHof]], parity-pinned).
  * Query-side only (O(queries) rows), but each row ran m·ksub·dsub
  * interpreted lambda steps.
  */
case class PqLut(left: Expression, right: Expression, m: Int)
    extends BinaryExpression {

  require(m > 0, s"pq_lut: m must be positive, got $m")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_lut requires (ARRAY<FLOAT>, ARRAY<DOUBLE>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_lut"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val flat = b.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    val fl = flat.numElements()
    if (dim == 0 || dim % m != 0 || fl == 0 || fl % dim != 0) return null
    val dsub = dim / m
    val ksub = fl / dim
    val out = new Array[Double](m * ksub)
    var i = 0
    while (i < m * ksub) {
      val mi = i / ksub
      var acc = 0.0
      var t = 0
      while (t < dsub) {
        if (vec.isNullAt(mi * dsub + t) || flat.isNullAt(i * dsub + t)) return null
        acc += vec.getFloat(mi * dsub + t).toDouble * flat.getDouble(i * dsub + t)
        t += 1
      }
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val vec = ctx.freshName("vec"); val flat = ctx.freshName("flat")
    val dim = ctx.freshName("dim"); val fl = ctx.freshName("fl")
    val dsub = ctx.freshName("dsub"); val ksub = ctx.freshName("ksub")
    val out = ctx.freshName("out"); val i = ctx.freshName("i")
    val t = ctx.freshName("t"); val acc = ctx.freshName("acc")
    val mi = ctx.freshName("mi"); val ok = ctx.freshName("ok")
    val arrayCls = classOf[ArrayData].getName
    val genericCls = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    ev.copy(code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = true;
        $arrayCls ${ev.value} = null;
        if (!${leftGen.isNull} && !${rightGen.isNull}) {
          $arrayCls $vec = ${leftGen.value};
          $arrayCls $flat = ${rightGen.value};
          int $dim = $vec.numElements();
          int $fl = $flat.numElements();
          if ($dim > 0 && $dim % $m == 0 && $fl > 0 && $fl % $dim == 0) {
            int $dsub = $dim / $m;
            int $ksub = $fl / $dim;
            double[] $out = new double[$m * $ksub];
            boolean $ok = true;
            for (int $i = 0; $ok && $i < $m * $ksub; $i++) {
              int $mi = $i / $ksub;
              double $acc = 0.0;
              for (int $t = 0; $ok && $t < $dsub; $t++) {
                if ($vec.isNullAt($mi * $dsub + $t) || $flat.isNullAt($i * $dsub + $t)) {
                  $ok = false;
                } else {
                  $acc += (double) $vec.getFloat($mi * $dsub + $t)
                    * $flat.getDouble($i * $dsub + $t);
                }
              }
              $out[$i] = $acc;
            }
            if ($ok) {
              ${ev.isNull} = false;
              ${ev.value} = new $genericCls($out);
            }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hilbert-curve distance of two 16-bit coordinates — the xy2d walk as
  * ONE native expression whose `doGenCode` emits the 16-iteration LOOP.
  * The Column-chain formulation ([[graft.operators.Layout]]'s first
  * cut) fused 17 stacked projections into a whole-stage method big
  * enough to lose codegen/JIT benefits and ran ~10 µs/row; the loop
  * compiles to ~30 lines of branch-light Java and keeps the stage
  * small — the "custom Expression beats expression-tree contortions"
  * case, same as [[AdcScore]].
  */
case class Hilbert16Dist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert16 requires (BIGINT, BIGINT), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert16"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.operators.Layout.hilbert16Scala(
      a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val hx = ctx.freshName("hx"); val hy = ctx.freshName("hy")
      val hd = ctx.freshName("hd"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry"); val t = ctx.freshName("t")
      s"""
        long $hx = ($x) & 65535L;
        long $hy = ($y) & 65535L;
        long $hd = 0L;
        for (int $i = 15; $i >= 0; $i--) {
          long $s = 1L << $i;
          long $rx = ($hx >> $i) & 1L;
          long $ry = ($hy >> $i) & 1L;
          $hd += $s * $s * (3L * $rx + $ry * (1L - 2L * $rx));
          if ($ry == 0L) {
            if ($rx == 1L) { $hx = 65535L - $hx; $hy = 65535L - $hy; }
            long $t = $hx; $hx = $hy; $hy = $t;
          }
        }
        ${ev.value} = $hd;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** EXACT point-in-convex-polygon test over integer coordinates —
  * native codegen replacement (r19) for the interpreted `forall`
  * half-plane fold in [[graft.operators.SpatialJoin]]: the candidate
  * stream after the cell join is points × overlapping-bbox polygons,
  * and every candidate row paid an interpreted lambda per edge. Inside
  * iff every directed edge (v_i → v_{i+1}, cyclic) keeps the point on
  * its LEFT: cross = (x_j − x_i)(py − y_i) − (y_j − y_i)(px − x_i) ≥ 0
  * — identical operand order to the Column formulation it replaces.
  * Callers guarantee CCW convex rings (refused upstream otherwise) and
  * grid-bounded coordinates (no cross-product overflow; the Column
  * form would have thrown under ANSI where this wraps — unreachable
  * under the documented coordinate bound). NULL if the array, the
  * point, any vertex, or any coordinate is NULL.
  */
case class PointInConvexPoly(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StructType(Array(fx, fy)), _), LongType, LongType)
          if fx.dataType == LongType && fy.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case (v, x, y) => TypeCheckResult.TypeCheckFailure(
        "point_in_convex_poly requires (ARRAY<STRUCT<x BIGINT, y BIGINT>>, " +
          s"BIGINT, BIGINT), got (${v.simpleString}, ${x.simpleString}, ${y.simpleString})")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "point_in_convex_poly"

  override def nullSafeEval(v: Any, x: Any, y: Any): Any = {
    val verts = v.asInstanceOf[ArrayData]
    val px = x.asInstanceOf[Long]
    val py = y.asInstanceOf[Long]
    val n = verts.numElements()
    var i = 0
    while (i < n) {
      if (verts.isNullAt(i) || verts.isNullAt((i + 1) % n)) return null
      val vi = verts.getStruct(i, 2)
      val vj = verts.getStruct((i + 1) % n, 2)
      if (vi.isNullAt(0) || vi.isNullAt(1) || vj.isNullAt(0) || vj.isNullAt(1))
        return null
      val cross = (vj.getLong(0) - vi.getLong(0)) * (py - vi.getLong(1)) -
        (vj.getLong(1) - vi.getLong(1)) * (px - vi.getLong(0))
      if (cross < 0) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vGen = first.genCode(ctx)
    val xGen = second.genCode(ctx)
    val yGen = third.genCode(ctx)
    val verts = ctx.freshName("verts"); val n = ctx.freshName("n")
    val i = ctx.freshName("i"); val vi = ctx.freshName("vi")
    val vj = ctx.freshName("vj"); val cross = ctx.freshName("cross")
    val bad = ctx.freshName("bad"); val inside = ctx.freshName("inside")
    val arrayCls = classOf[ArrayData].getName
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    ev.copy(code =
      code"""
        ${vGen.code}
        ${xGen.code}
        ${yGen.code}
        boolean ${ev.isNull} = true;
        boolean ${ev.value} = false;
        if (!${vGen.isNull} && !${xGen.isNull} && !${yGen.isNull}) {
          $arrayCls $verts = ${vGen.value};
          int $n = $verts.numElements();
          boolean $bad = false;
          boolean $inside = true;
          for (int $i = 0; $i < $n && !$bad && $inside; $i++) {
            if ($verts.isNullAt($i) || $verts.isNullAt(($i + 1) % $n)) { $bad = true; break; }
            $rowCls $vi = $verts.getStruct($i, 2);
            $rowCls $vj = $verts.getStruct(($i + 1) % $n, 2);
            if ($vi.isNullAt(0) || $vi.isNullAt(1) || $vj.isNullAt(0) || $vj.isNullAt(1)) {
              $bad = true; break;
            }
            long $cross = ($vj.getLong(0) - $vi.getLong(0)) * (${yGen.value} - $vi.getLong(1))
              - ($vj.getLong(1) - $vi.getLong(1)) * (${xGen.value} - $vi.getLong(0));
            if ($cross < 0) $inside = false;
          }
          if (!$bad) { ${ev.isNull} = false; ${ev.value} = $inside; }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object GraftFunctions {

  /** Idempotent; call once per session before using the helpers below. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "max_sim", exprs => MaxSim(exprs(0), exprs(1),
        HashExpressions.litInt(exprs(2), "max_sim", "subDim")), "built-in")
    registry.createOrReplaceTempFunction(
      "simhash32", exprs => SimHash32(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "simhash60", exprs => SimHash60(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "char_entropy", exprs => CharEntropy(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "srp_bits", exprs => SrpBits(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => SortedLongIntersectCount(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "int8_quant", exprs => Int8QuantStats(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "adc_score", exprs => AdcScore(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "pq_encode", exprs => PqEncode(exprs(0), exprs(1),
        HashExpressions.litInt(exprs(2), "pq_encode", "m")), "built-in")
    registry.createOrReplaceTempFunction(
      "pq_lut", exprs => PqLut(exprs(0), exprs(1),
        HashExpressions.litInt(exprs(2), "pq_lut", "m")), "built-in")
    registry.createOrReplaceTempFunction(
      "hilbert16", exprs => Hilbert16Dist(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "point_in_convex_poly",
      exprs => PointInConvexPoly(exprs(0), exprs(1), exprs(2)), "built-in")
    registry.createOrReplaceTempFunction(
      "url_canonicalize", exprs => UrlCanonicalize(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "text_canonicalize", exprs => TextCanonicalize(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "cdc_bounds", exprs => CdcBounds(exprs(0),
        HashExpressions.litInt(exprs(1), "cdc_bounds", "window"),
        HashExpressions.litInt(exprs(2), "cdc_bounds", "modulus"),
        HashExpressions.litInt(exprs(3), "cdc_bounds", "minLen")), "built-in")
    registry.createOrReplaceTempFunction(
      "image_dhash", exprs => ImageDHash(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "double_sortable_bits", exprs => DoubleSortableBits(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "sortable_bits_double", exprs => SortableBitsDouble(exprs.head), "built-in")
    // ACID-table reads as table-valued functions: FROM txtable_merged(...)
    val tvf = spark.sessionState.tableFunctionRegistry
    TxTableTvf.all.foreach { case (name, _, builder) =>
      tvf.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def maxSim(a: Column, b: Column, subDim: Int): Column =
    call_function("max_sim", a, b, lit(subDim))
  def simhash32(tokens: Column): Column = call_function("simhash32", tokens)
  def simhash60(tokens: Column): Column = call_function("simhash60", tokens)
  def rollingHash(text: Column): Column = call_function("rolling_hash", text)
  def charEntropy(text: Column): Column = call_function("char_entropy", text)
  def srpBits(vec: Column, planes: Column): Column =
    call_function("srp_bits", vec, planes)
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
  def int8Quant(vec: Column): Column = call_function("int8_quant", vec)
  def hilbert16(x: Column, y: Column): Column = call_function("hilbert16", x, y)
  def pointInConvexPoly(verts: Column, px: Column, py: Column): Column =
    call_function("point_in_convex_poly", verts, px, py)
  def adcScore(codes: Column, lut: Column): Column =
    call_function("adc_score", codes, lut)
  def pqEncode(vec: Column, flatCodebooks: Column, m: Int): Column =
    call_function("pq_encode", vec, flatCodebooks, lit(m))
  def pqLut(vec: Column, flatCodebooks: Column, m: Int): Column =
    call_function("pq_lut", vec, flatCodebooks, lit(m))
  def urlCanonicalize(url: Column): Column = call_function("url_canonicalize", url)
  def textCanonicalize(text: Column): Column = call_function("text_canonicalize", text)
  def cdcBounds(text: Column, window: Int, modulus: Int, minLen: Int): Column =
    call_function("cdc_bounds", text, lit(window), lit(modulus), lit(minLen))
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)
  def doubleSortableBits(d: Column): Column =
    call_function("double_sortable_bits", d)
  def sortableBitsDouble(s: Column): Column =
    call_function("sortable_bits_double", s)
}
