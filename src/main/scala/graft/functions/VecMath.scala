package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst twins of the `aggregate(zip_with(...))` folds on the
  * vector hot paths (integer k-means assignment, PQ code assignment,
  * LSH signatures). Higher-order functions are CodegenFallback in
  * Spark — every per-element step pays interpreted eval plus boxing —
  * and the n×K assignment term evaluates them n·K times per pass, which
  * ScaleBench measured as THE super-linear cost of the IVF prep. These
  * expressions run the same arithmetic in one fused whole-stage-codegen
  * loop.
  *
  * Exactness contract (pinned by VecMathSpec against the declarative
  * forms): long arithmetic is associative (wraps identically), and the
  * double variant accumulates strictly left-to-right like the
  * sequential fold it replaces, so results are BIT-identical — the
  * DuckDB oracles of every consumer stay untouched.
  *
  * Null semantics replicate the folds exactly:
  * - ragged inputs → NULL (zip_with pads the shorter side with null,
  *   the fold then yields null);
  * - any null element → NULL for the same reason.
  */
abstract class L2SqBase extends BinaryExpression {

  protected def elemType: DataType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(t, _) if t == elemType => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<${elemType.simpleString}> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullable: Boolean = true
}

/** Σ (a_i − b_i)² over two array<long> columns — the integer k-means
  * distance kernel ([[graft.ops.Clustering]] assignment).
  */
case class L2SqLong(left: Expression, right: Expression) extends L2SqBase {

  override protected def elemType: DataType = LongType
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    var acc = 0L
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqLong =
    copy(left = newLeft, right = newRight)
}

/** Σ (a_i − b_i)² over two array<double> columns, accumulated strictly
  * left-to-right — the PQ sub-slice assignment kernel
  * ([[graft.index.VectorIndex]] codebook argmin).
  */
case class L2SqDouble(left: Expression, right: Expression) extends L2SqBase {

  override protected def elemType: DataType = DoubleType
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    var acc = 0.0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqDouble =
    copy(left = newLeft, right = newRight)
}

/** All [[graft.ops.Similarity.LshBits]] sign-projection bits in ONE
  * pass: bit b of the result is set iff Σ_j vq[j]·coefs[b][j] ≥ 0. The
  * declarative form it replaces evaluates 16 separate interpreted
  * zip_with+aggregate folds per row and sums
  * `when(dot ≥ 0, 1<<b).otherwise(0)` terms, whose null semantics are:
  * - a null element or a length mismatch against coefs[b] makes that
  *   bit's dot NULL, and `when` then falls to the 0 branch — such bits
  *   contribute 0 (never null);
  * - a null vq makes every dot null → the sum of `otherwise(0)` terms
  *   is 0. This expression is null for a null input like every
  *   BinaryExpression; call sites wrap it in `coalesce(·, 0)`, which
  *   restores exactly that corner.
  *
  * `coefs` must be a foldable literal (the md5-derived hyperplane
  * matrix) — enforced in type checking.
  */
case class LshSigPack(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val childOk = left.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val coefOk = right.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    if (!childOk || !coefOk)
      TypeCheckResult.TypeCheckFailure(
        "lsh_sig expects (array<bigint>, array<array<bigint>>), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("lsh_sig coefs must be a literal")
    else {
      // a null matrix or a null row would NPE in mat's materialization
      // below — reject it as a type error at analysis time instead
      val arr = right.eval()
      if (arr == null)
        TypeCheckResult.TypeCheckFailure("lsh_sig coefs must be non-null")
      else {
        val ad = arr.asInstanceOf[ArrayData]
        if ((0 until ad.numElements()).exists(ad.isNullAt))
          TypeCheckResult.TypeCheckFailure(
            "lsh_sig coefs rows must be non-null")
        else TypeCheckResult.TypeCheckSuccess
      }
    }
  }

  // the hyperplane matrix, materialized once per expression instance
  @transient private lazy val mat: Array[Array[Long]] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { b =>
      arr.getArray(b).toLongArray()
    }.toArray
  }

  private def sigOf(x: ArrayData): Long = {
    val n = x.numElements()
    var sig = 0L
    var b = 0
    while (b < mat.length) {
      val row = mat(b)
      if (row.length == n) {
        var dot = 0L
        var ok = true
        var j = 0
        while (j < n && ok) {
          if (x.isNullAt(j)) ok = false
          else { dot += x.getLong(j) * row(j); j += 1 }
        }
        if (ok && dot >= 0L) sig |= (1L << b)
      }
      b += 1
    }
    sig
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    sigOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ship the matrix as a reference object; the generated loop is the
    // eval loop without the per-element interpreter dispatch
    val matRef = ctx.addReferenceObj("lshMat", mat, "long[][]")
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val n = ctx.freshName("n"); val sig = ctx.freshName("sig")
      val b = ctx.freshName("b"); val row = ctx.freshName("row")
      val dot = ctx.freshName("dot"); val ok = ctx.freshName("ok")
      val j = ctx.freshName("j")
      s"""
         |int $n = $a.numElements();
         |long $sig = 0L;
         |for (int $b = 0; $b < $matRef.length; $b++) {
         |  long[] $row = $matRef[$b];
         |  if ($row.length == $n) {
         |    long $dot = 0L; boolean $ok = true;
         |    for (int $j = 0; $j < $n && $ok; $j++) {
         |      if ($a.isNullAt($j)) $ok = false;
         |      else $dot += $a.getLong($j) * $row[$j];
         |    }
         |    if ($ok && $dot >= 0L) $sig |= (1L << $b);
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshSigPack =
    copy(left = newLeft, right = newRight)
}

/** Packed sign bits of an array<double> vector in ONE pass: bit
  * (i mod 64) of word (i div 64) is set iff v[i] > 0 — the
  * [[graft.ops.BinaryQuant]] signature kernel. The declarative form it
  * replaces (`transform(sequence(...), w => aggregate(sequence(0,63),
  * ...))`) evaluates 64 interpreted when/pow steps per word per row.
  *
  * Null semantics replicate the fold: null input → NULL; a null
  * ELEMENT contributes a 0 bit (the fold's `when(... > 0)` falls to
  * `otherwise(0)` on a null comparison). Word count is ⌈n/64⌉ like the
  * fold's sequence bound (the fold errors on n = 0 under ANSI
  * element_at(v, 0); embeddings are never empty — this returns an
  * empty array there, pinned in VecMathSpec as the one divergence).
  */
case class SignPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_pack expects array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && x.getDouble(i) > 0.0)
        out(i / 64) |= (1L << (i % 64))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[($n + 63) / 64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && $a.getDouble($i) > 0.0)
         |    $out[$i / 64] |= (1L << ($i % 64));
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)
}

/** Σ popcount(a_i XOR b_i) over two array<long> columns — the packed
  * Hamming-distance kernel ([[graft.ops.BinaryQuant]] candidate scan).
  * Null semantics are the [[L2SqLong]] contract (= the
  * `aggregate(zip_with(bit_count(xor)))` fold it replaces): ragged or
  * null-element inputs → NULL.
  */
case class HammingDist(left: Expression, right: Expression) extends L2SqBase {

  override protected def elemType: DataType = LongType
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    var acc = 0L
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDist =
    copy(left = newLeft, right = newRight)
}

/** One-pass broadcast-model document scorer for
  * [[graft.ops.Classifier.scoreWithModel]]: given a token array, a
  * token → per-class-rho map LITERAL, and the class count, returns
  * `[matched, score_0, …, score_{k-1}]` — matched = token INSTANCES
  * present in the model, score_c = Σ rho[t][c] over those instances.
  * Replaces TWO interpreted HOF passes per row (a `filter(…isNotNull)`
  * for matched and an `aggregate(zip_with(+))` fold for the scores),
  * each CodegenFallback with per-token per-class boxing.
  *
  * Null semantics replicate the folds: null token array → NULL row
  * (both forms then drop it at the matched > 0 filter); a null or
  * out-of-vocabulary token contributes nothing to matched or scores
  * (the fold's `coalesce(element_at(map, t), zero)`).
  */
case class NbScorePack(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val tkOk = first.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val mapOk = second.dataType match {
      case MapType(StringType, ArrayType(LongType, _), _) => true
      case _ => false
    }
    val nOk = third.dataType == IntegerType
    if (!tkOk || !mapOk || !nOk)
      TypeCheckResult.TypeCheckFailure(
        "nb_score_pack expects (array<string>, map<string,array<bigint>>, " +
          s"int), got ${first.dataType.simpleString}, " +
          s"${second.dataType.simpleString}, ${third.dataType.simpleString}")
    else if (!second.foldable || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "nb_score_pack model map and class count must be literals")
    else if (second.eval() == null || third.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        "nb_score_pack model map and class count must be non-null")
    else if (nClasses < 0)
      TypeCheckResult.TypeCheckFailure(
        s"nb_score_pack class count must be >= 0, got $nClasses")
    else badValue match {
      // the kernel reads nClasses counts from every value array: a
      // null or shorter one must fail here, not mid-task
      case Some(why) => TypeCheckResult.TypeCheckFailure(
        s"nb_score_pack model value for $why")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val nClasses: Int =
    third.eval().asInstanceOf[Int]

  // the first model entry the kernel cannot read, checked once per
  // instance — analysis re-runs the type check
  @transient private lazy val badValue: Option[String] = {
    val md = second.eval().asInstanceOf[MapData]
    val (ks, vs) = (md.keyArray(), md.valueArray())
    (0 until md.numElements()).collectFirst {
      case i if vs.isNullAt(i) => s"'${ks.getUTF8String(i)}' is null"
      case i if vs.getArray(i).numElements() < nClasses =>
        s"'${ks.getUTF8String(i)}' has ${vs.getArray(i).numElements()} " +
          s"counts, fewer than the class count $nClasses"
    }
  }

  // the broadcast model, hashed once per expression instance
  @transient private lazy val model: java.util.HashMap[UTF8String, Array[Long]] = {
    val m = new java.util.HashMap[UTF8String, Array[Long]]()
    val md = second.eval().asInstanceOf[MapData]
    val ks = md.keyArray(); val vs = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      m.put(ks.getUTF8String(i).clone(), vs.getArray(i).toLongArray())
      i += 1
    }
    m
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val tk = a.asInstanceOf[ArrayData]
    val n = tk.numElements()
    val out = new Array[Long](nClasses + 1)
    var i = 0
    while (i < n) {
      if (!tk.isNullAt(i)) {
        val arr = model.get(tk.getUTF8String(i))
        if (arr != null) {
          out(0) += 1L
          var cc = 0
          while (cc < nClasses) { out(cc + 1) += arr(cc); cc += 1 }
        }
      }
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("nbModel", model, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (a, _, _) => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val arr = ctx.freshName("arr")
      val cc = ctx.freshName("cc")
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[${nClasses + 1}];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long[] $arr = (long[]) $mRef.get($a.getUTF8String($i));
         |    if ($arr != null) {
         |      $out[0] += 1L;
         |      for (int $cc = 0; $cc < $nClasses; $cc++)
         |        $out[$cc + 1] += $arr[$cc];
         |    }
         |  }
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NbScorePack =
    copy(first = newFirst, second = newSecond, third = newThird)
}
