package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
    (2L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
  ).toDF("id", "a", "b")

  test("native dot matches the sequential fold") {
    val out = vecs.select(dot(col("a"), col("b")))
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(1.0 * 4 + 2 * 5 + 3 * 6, 0.0))
  }

  test("dot survives codegen fallback (interpreted path)") {
    val s = spark
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val out = vecs.select(dot(col("a"), col("b")))
        .collect().map(_.getDouble(0)).toSeq
      assert(out == Seq(32.0, 0.0))
    } finally s.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("dot is null-safe") {
    val withNull = Seq((1L, Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("id", "a", "b")
    val out = withNull.select(dot(col("a"), col("b"))).collect()
    assert(out.head.isNullAt(0))
  }

  test("cosine of identical vectors is 1") {
    val out = vecs.select(round(cosine(col("a"), col("a")), 9))
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(1.0, 1.0))
  }

  test("cosine of orthogonal vectors is 0") {
    val out = Seq((Array(1.0, 0.0), Array(0.0, 1.0))).toDF("a", "b")
      .select(cosine(col("a"), col("b"))).head.getDouble(0)
    assert(out == 0.0)
  }

  // The HOF formulation lshBucket replaced, kept as its reference: bit
  // p is the sign of sum_i v_i * r_{p,i}, with ±1 weights r derived
  // from xxhash64(dim, plane).
  private def hyperplaneBit(v: Column, plane: Int): Column = {
    val signed = zip_with(
      v,
      transform(sequence(lit(0), size(v) - 1),
        i => when(pmod(xxhash64(i, lit(plane)), lit(2)) === 0, 1.0).otherwise(-1.0)),
      (x, s) => x * s)
    val s = aggregate(signed, lit(0.0), (acc, x) => acc + x)
    when(s >= 0, 1L).otherwise(0L)
  }

  private def lshBucketHof(v: Column, nPlanes: Int): Column =
    (0 until nPlanes)
      .map(p => hyperplaneBit(v, p) * lit(1L << p))
      .reduce(_ + _)

  test("native lshBucket is bit-identical to the HOF formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(asDouble(col("embedding")).as("v"))
    val mismatches = emb.select(
        lshBucket(col("v"), 8).as("native"),
        lshBucketHof(col("v"), 8).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatches == 0L)
  }

  test("float embedding columns cast cleanly") {
    val f = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val out = f.select(dot(asDouble(col("a")), asDouble(col("b")))).head.getDouble(0)
    assert(out == 11.0)
  }

  test("native sigAgreement is identical to the zip_with/aggregate form") {
    import graft.functions.SigAgreement.sigAgreement
    // real signature shapes plus the padding/null edges zip_with defines
    val rows = Seq(
      (Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 4L)),
      (Array(7L, 7L), Array(7L, 7L)),
      (Array(1L, 2L, 3L), Array(1L, 2L)), // unequal length: pad counts 0
      (Array.empty[Long], Array(5L))
    ).toDF("a", "b")
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x)
    val mism = rows.select(
        sigAgreement(col("a"), col("b")).as("native"),
        hof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mism == 0L)
    // null input arrays yield null, like the HOF form
    val withNull = Seq((Some(Array(1L)), Option.empty[Array[Long]]))
      .toDF("a", "b")
    assert(withNull.select(sigAgreement(col("a"), col("b"))).head.isNullAt(0))
  }
}
