package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native vector kernels (graft.functions.VecMath) bit-equal
  * to the declarative aggregate(zip_with(...)) folds they replaced on
  * the hot paths — including the ragged/null corners whose semantics
  * the folds define.
  */
class VecMathSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val longVecs: Seq[(Long, Seq[Long])] =
    (0L until 40L).map(i => (i, Seq.fill(64)(rnd.nextLong() % 1000000L)))
  private val dblVecs: Seq[(Long, Seq[Double])] =
    (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextDouble() - 0.4)))

  test("l2sq_long is bit-identical to the integer fold") {
    val df = longVecs.toDF("id", "q")
    val c = typedLit(longVecs.head._2)
    val want = df.select(
      aggregate(zip_with(col("q"), c, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)).collect().map(_.getLong(0))
    val got = df.select(GraftExtensions.l2sqLong(spark, col("q"), c))
      .collect().map(_.getLong(0))
    assert(got.toSeq == want.toSeq)
  }

  test("l2sq_long ragged and null-element inputs are NULL like the fold") {
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 2L)),
      (2L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
      (3L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L, 6L))
    ).toDF("id", "a", "b")
    val want = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x).as("r")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
    val got = df.select(col("id"),
      GraftExtensions.l2sqLong(spark, col("a"), col("b")).as("r")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    assert(got.count(_._2 == null) == 2) // rows 1 and 2 really are null
  }

  test("l2sq_double is bit-identical to the sequential double fold") {
    val df = dblVecs.toDF("id", "v")
    val c = typedLit(dblVecs.head._2)
    val want = df.select(
      aggregate(zip_with(col("v"), c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)).collect().map(_.getDouble(0))
    val got = df.select(GraftExtensions.l2sqDouble(spark, col("v"), c))
      .collect().map(_.getDouble(0))
    // exact comparison: the kernel must preserve left-fold order
    assert(got.toSeq == want.toSeq)
  }

  test("lsh_sig packs exactly the bits of the 16-fold form") {
    val coefs = graft.ops.Similarity.lshCoefs
    val coefLit = typedLit(coefs)
    val df = longVecs.toDF("id", "vq")
    val foldSig = (0 until coefs.size).map { b =>
      val dot = aggregate(
        zip_with(col("vq"), element_at(coefLit, b + 1), (x, c) => x * c),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val want = df.select(foldSig).collect().map(_.getLong(0))
    val got = df.select(coalesce(
      GraftExtensions.lshSig(spark, col("vq"), coefLit), lit(0L)))
      .collect().map(_.getLong(0))
    assert(got.toSeq == want.toSeq)
  }

  test("lsh_sig corners: null vq and ragged vq pack to 0 like the fold") {
    val coefs = graft.ops.Similarity.lshCoefs
    val coefLit = typedLit(coefs)
    val df = Seq(
      (1L, null.asInstanceOf[Seq[Long]]),
      (2L, Seq(1L, 2L, 3L)) // shorter than the 64-dim hyperplanes
    ).toDF("id", "vq")
    val foldSig = (0 until coefs.size).map { b =>
      val dot = aggregate(
        zip_with(col("vq"), element_at(coefLit, b + 1), (x, c) => x * c),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val want = df.select(col("id"), foldSig.as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val got = df.select(col("id"), coalesce(
      GraftExtensions.lshSig(spark, col("vq"), coefLit), lit(0L)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq == want.toSeq)
    assert(got.forall(_._2 == 0L))
  }

  test("sign_pack is bit-identical to the signBits fold (multi-word)") {
    // 130 dims → 3 packed words; mix of signs, zeros, and a positive
    // 64th/128th component so bit 63 of words 0 and 1 is exercised
    val vecs = (0L until 30L).map { i =>
      (i, Seq.tabulate(130) { j =>
        if (j == 63 || j == 127) 0.5 else rnd.nextDouble() - 0.5
      })
    }
    val df = vecs.toDF("id", "v")
    val want = df.select(col("id"),
      graft.ops.BinaryQuant.signBits(col("v")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    val got = df.select(col("id"),
      GraftExtensions.signPack(spark, col("v")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(got.toSeq == want.toSeq)
    // the driver-side twin packs the same words
    val local = vecs.map { case (i, v) =>
      i -> graft.ops.BinaryQuant.packSigns(v).toSeq }
    assert(got.map(_._2).toSeq == local.map(_._2).toSeq)
  }

  test("sign_pack corners: null input is NULL, null elements pack to 0") {
    val df = Seq(
      (1L, null.asInstanceOf[Seq[java.lang.Double]]),
      (2L, Seq[java.lang.Double](1.0, null, -3.0, null, 2.0))
    ).toDF("id", "v")
    val want = df.select(col("id"),
      graft.ops.BinaryQuant.signBits(col("v")).as("s")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
    val got = df.select(col("id"),
      GraftExtensions.signPack(spark, col("v")).as("s")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
    assert(got.toSeq == want.toSeq)
    assert(got.head._2 == null)               // null in → null out
    assert(got(1)._2 == Seq(1L | (1L << 4)))  // bits 0 and 4 only
  }

  test("sign_pack n=0: an empty vector packs to zero words") {
    // the one divergence from the fold (which errors on n=0 under ANSI)
    val got = Seq((1L, Seq.empty[Double])).toDF("id", "v")
      .select(GraftExtensions.signPack(spark, col("v"))).head().getSeq[Long](0)
    assert(got.isEmpty)
    assert(graft.ops.BinaryQuant.packSigns(Seq.empty).isEmpty)
  }

  test("nb_score_pack rejects a value array shorter than the class count at analysis") {
    GraftExtensions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      "SELECT nb_score_pack(array('a'), " +
        "map('a', array(1L, 2L), 'b', array(3L)), 2)"))
    assert(e.getMessage.contains(
      "model value for 'b' has 1 counts, fewer than the class count 2"),
      e.getMessage)
    // a well-formed model analyses and scores: (hits, per-class sums)
    val ok = spark.sql("SELECT nb_score_pack(array('a', 'b', 'z'), " +
      "map('a', array(1L, 2L), 'b', array(3L, 4L)), 2)").head().getSeq[Long](0)
    assert(ok == Seq(2L, 4L, 6L))
  }

  test("hamming_dist is bit-identical to the popcount fold") {
    val words = (0L until 40L).map(i =>
      (i, Seq.fill(3)(rnd.nextLong()), Seq.fill(3)(rnd.nextLong())))
    val df = words.toDF("id", "a", "b")
    val want = df.select(col("id"),
      graft.ops.BinaryQuant.hamming(col("a"), col("b")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val got = df.select(col("id"),
      GraftExtensions.hammingDist(spark, col("a"), col("b")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq == want.toSeq)
  }

  test("hamming_dist ragged and null-element inputs are NULL like the fold") {
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 2L)),
      (2L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
      (3L, Seq[java.lang.Long](-1L, 0L), Seq[java.lang.Long](0L, 0L))
    ).toDF("id", "a", "b")
    val want = df.select(col("id"),
      graft.ops.BinaryQuant.hamming(col("a"), col("b")).as("h")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
    val got = df.select(col("id"),
      GraftExtensions.hammingDist(spark, col("a"), col("b")).as("h"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    assert(got.count(_._2 == null) == 2)
    assert(got(2)._2 == 64L) // -1L xor 0L = all 64 bits
  }
}
