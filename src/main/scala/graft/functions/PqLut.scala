package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native per-query ADC lookup table: dot(v_m, c_{m,k}) for every
  * codebook subspace × centroid, flattened m-major (index mi·k* + cid).
  * Output `array<double>` of length m·k*.
  *
  * Value-identical to the composed form it replaced
  * (kept in the specs as `SimOracle.pqLutComposed`): per entry a strict
  * left-to-right double fold over `min(sub, numElements − mi·sub)`
  * elements — exactly `dot(slice(v, mi·sub+1, sub), c)` — but generated
  * as three tight loops over a referenced codebook array instead of
  * m·k* inlined dot subtrees each carrying a sub-element literal array.
  * At production dims the composed tree's generated method exceeds
  * Janino's hard 64 KB bytecode limit (measured at m=96, k*=16:
  * `InternalCompilerException: Code grows beyond 64 KB`), and the
  * failed compile is NOT cached — every execution re-attempted a
  * ~7000-line compile before falling back to interpreted eval, turning
  * the 12× embedding-dimension scale cell into ~21× wall. This
  * expression keeps the stage a few hundred bytecodes regardless of m.
  *
  * A null input array yields null; a null element yields null (same
  * contract as [[PqEncode]] — the embedding columns carry none).
  */
case class PqLut(child: Expression,
                 codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private val m = codebook.length
  private val k = codebook(0).length
  private val sub = codebook(0)(0).length

  // flattened [mi][cid] -> centroid weights, built once
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](m * k * sub)
    var mi = 0
    while (mi < m) {
      var c = 0
      while (c < k) {
        System.arraycopy(codebook(mi)(c), 0, a, (mi * k + c) * sub, sub)
        c += 1
      }
      mi += 1
    }
    a
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean =
    child.nullable || (child.dataType match {
      case ArrayType(_, cn) => cn
      case _                => true
    })

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t.isInstanceOf[NumericType] =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_lut needs a numeric array, got ${other.sql}")
  }

  private def toD(t: DataType, a: ArrayData, i: Int): Double = t match {
    case DoubleType  => a.getDouble(i)
    case FloatType   => a.getFloat(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case LongType    => a.getLong(i).toDouble
    case ShortType   => a.getShort(i).toDouble
    case ByteType    => a.getByte(i).toDouble
    case d: DecimalType => a.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalStateException(s"unsupported element $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val t = elemType
    val n = v.numElements()
    val lut = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      // slice semantics: dot runs over min(sub, remaining) elements
      val len = math.max(0, math.min(sub, n - off))
      var c = 0
      while (c < k) {
        var acc = 0.0
        var j = 0
        while (j < len) {
          if (v.isNullAt(off + j)) return null
          acc += toD(t, v, off + j) * flat((mi * k + c) * sub + j)
          j += 1
        }
        lut(mi * k + c) = acc
        c += 1
      }
      mi += 1
    }
    ArrayData.toArrayData(lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqLutFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val lut = ctx.freshName("lut")
      val mi = ctx.freshName("mi")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val len = ctx.freshName("len")
      val acc = ctx.freshName("acc")
      val getV = CodeGenerator.getValue(v, elemType, s"$off + $j")
      val containsNull = child.dataType.asInstanceOf[ArrayType].containsNull
      // a null ELEMENT nulls the whole result; when elements are
      // provably non-null the check (and the assignment to the
      // constant-folded ev.isNull) must not be emitted
      val nullBreak =
        if (containsNull)
          s"""if ($v.isNullAt($off + $j)) { ${ev.isNull} = true; break; }"""
        else ""
      val outerGuard = if (containsNull) s" && !${ev.isNull}" else ""
      val innerGuard = if (containsNull) s"if (${ev.isNull}) break;" else ""
      s"""
         |int $n = $v.numElements();
         |double[] $lut = new double[$m * $k];
         |for (int $mi = 0; $mi < $m$outerGuard; $mi++) {
         |  int $off = $mi * $sub;
         |  int $len = java.lang.Math.max(0, java.lang.Math.min($sub, $n - $off));
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $acc = 0.0;
         |    for (int $j = 0; $j < $len; $j++) {
         |      $nullBreak
         |      $acc += (double)($getV) * $flatRef[($mi * $k + $c) * $sub + $j];
         |    }
         |    $innerGuard
         |    $lut[$mi * $k + $c] = $acc;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($lut);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)

  override def prettyName: String = "pq_lut"
}

object PqLut {
  /** Column-level entry point. */
  def apply(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqLut(ColumnBridge.expression(v), codebook))
}
