package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{cosineSim, MinHashAgg}

/** Custom function surface: native expression vs built-in composition
  * parity, and the typed MinHash Aggregator's sketch laws. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("native cosine expression == higher-order composition, bit-exact") {
    import spark.implicits._
    val emb = graft.io.Tables.embeddings(spark, SparkTestSession.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val a = emb.select(col("vec_id").as("a_id"), col("emb").as("a"))
      .filter(col("a_id") < 30)
    val b = emb.select(col("vec_id").as("b_id"), col("emb").as("b"))
      .filter(col("b_id").between(30, 60))
    val both = a.crossJoin(b)
      .withColumn("native", cosineSim(col("a"), col("b")))
      .withColumn("composed",
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), _ + _)
          / (sqrt(aggregate(zip_with(col("a"), col("a"), (x, y) => x * y), lit(0.0), _ + _))
            * sqrt(aggregate(zip_with(col("b"), col("b"), (x, y) => x * y), lit(0.0), _ + _))))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
    assert(both.count() > 0)
  }

  test("FuseDotProduct rewrites the higher-order idiom, bit-exact") {
    def dotted = {
      val emb = graft.io.Tables.embeddings(spark, SparkTestSession.sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      emb.withColumn("d",
        aggregate(zip_with(col("e"), col("e"), (x, y) => x * y), lit(0.0), _ + _))
    }
    val unfused = dotted.select(col("vec_id"), col("d")).collect().toSeq
    GraftSession.install(spark)
    try {
      val q = dotted
      assert(q.queryExecution.optimizedPlan.toString.contains("dot_product"),
        "rule did not fire on the aggregate(zip_with(...)) idiom")
      assert(q.select(col("vec_id"), col("d")).collect().toSeq == unfused)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == org.apache.spark.sql.graft.FuseDotProduct)
    }
  }

  test("DotProduct.eval equals the fold for adversarial inputs (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.DotProduct
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // element pool includes nulls, signed zeros, NaN, infinities
    val elem: Gen[Any] = Gen.frequency(
      8 -> Gen.chooseNum(-1e9, 1e9).map(Double.box),
      1 -> Gen.oneOf[Any](null, Double.box(0.0), Double.box(-0.0),
        Double.box(Double.NaN), Double.box(Double.PositiveInfinity)))
    val arr: Gen[Array[Any]] = Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, elem)).map(_.toArray)
    def fold(a: Array[Any], b: Array[Any]): Any = {
      // reference: aggregate(zip_with(a,b,*),0.0,+) — zip pads with null,
      // null poisons the fold
      val n = math.max(a.length, b.length)
      var acc: Any = 0.0
      for (i <- 0 until n) {
        val x = if (i < a.length) a(i) else null
        val y = if (i < b.length) b(i) else null
        val prod = if (x == null || y == null) null
          else Double.box(x.asInstanceOf[Double] * y.asInstanceOf[Double])
        acc = if (acc == null || prod == null) null
          else Double.box(acc.asInstanceOf[Double] + prod.asInstanceOf[Double])
      }
      acc
    }
    val t = ArrayType(DoubleType)
    val p = Prop.forAll(arr, arr) { (a, b) =>
      val got = DotProduct(
        Literal(new GenericArrayData(a), t),
        Literal(new GenericArrayData(b), t)).eval(null)
      val want = fold(a, b)
      (got, want) match {
        case (null, null) => true
        case (g: java.lang.Double, w: java.lang.Double) =>
          java.lang.Double.doubleToLongBits(g) ==
            java.lang.Double.doubleToLongBits(w)
        case _ => false
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("Md5Prefix60 equals the conv(substring(md5(...))) chain (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.graft.Md5Prefix60
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // Dedup's salted hash: input row (salt prefix "i|", word)
    val salted = Concat(Seq(BoundReference(0, StringType, nullable = false),
      BoundReference(1, StringType, nullable = true)))
    val chain = Cast(Conv(Substring(Md5(Cast(salted, BinaryType)), Literal(1), Literal(15)),
      Literal(16), Literal(10)), LongType)
    val kernel = Md5Prefix60(salted)
    // compiled once; each case runs the generated code and both evals
    val compiled = GenerateUnsafeProjection.generate(Seq(kernel, chain))
    val word: Gen[String] = Gen.frequency(
      1 -> Gen.const(""),
      1 -> Gen.const(null),
      3 -> Gen.alphaNumStr,
      3 -> Gen.listOf(Gen.oneOf('é', 'ß', '日', '本', 'ж', '€', 'a')).map(_.mkString),
      1 -> Gen.const("𝄞 clef"),
      2 -> Gen.alphaStr.map(w => s"$w|$w|"))
    val p = Prop.forAll(Gen.oneOf(0, 7, 63), word) { (i, w) =>
      val row = InternalRow(UTF8String.fromString(s"$i|"), UTF8String.fromString(w))
      val want = chain.eval(row)
      val out = compiled(row)
      val gen = if (out.isNullAt(0)) null else Long.box(out.getLong(0))
      (w == null) == (want == null) && kernel.eval(row) == want && gen == want &&
        out.isNullAt(1) == (want == null)
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("dot_product edge semantics match the fold: unequal=NULL, empty=0") {
    graft.functions.DotProduct.register(spark)
    val row = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS v,
        |       dot_product(array(1.0d), array(1.0d, 2.0d)) AS unequal,
        |       dot_product(CAST(array() AS array<double>),
        |                   CAST(array() AS array<double>)) AS empty,
        |       dot_product(array(1.0d, CAST(NULL AS double)), array(1.0d, 2.0d)) AS nullel,
        |       aggregate(zip_with(array(1.0d), array(1.0d, 2.0d),
        |                          (x, y) -> x * y), 0.0d, (a, v) -> a + v) AS fold_unequal
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.isNullAt(1) && row.isNullAt(4), "unequal lengths must NULL in both forms")
    assert(row.getDouble(2) == 0.0)
    assert(row.isNullAt(3))
  }

  test("native cosine registers for SQL text and handles zero vectors") {
    graft.functions.CosineSimilarity.register(spark)
    val row = spark.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS same,
        |       cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS orth,
        |       cosine_sim(array(0.0d, 0.0d), array(1.0d, 0.0d)) AS zero
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 1.0)
    assert(row.getDouble(1) == 0.0)
    assert(row.isNullAt(2))
  }

  test("MinHashAgg: deterministic, merge=element-min, estimates track Jaccard") {
    val agg = new MinHashAgg(numHashes = 64)
    def sig(tokens: Seq[String]) =
      tokens.foldLeft(agg.zero)(agg.reduce)
    val a = sig(Seq("the", "fast", "query", "engine", "scans", "tables"))
    val a2 = sig(Seq("the", "fast", "query", "engine", "scans", "tables"))
    assert(a.toSeq == a2.toSeq)

    // merge equals reduce over the union (order-insensitive sketch law)
    val left = sig(Seq("the", "fast", "query"))
    val right = sig(Seq("engine", "scans", "tables"))
    assert(agg.merge(left.clone(), right).toSeq == a.toSeq)

    val identical = MinHashAgg.estimate(a, a2)
    assert(identical == 1.0)
    val disjoint = MinHashAgg.estimate(
      sig(Seq("aa", "bb", "cc", "dd")), sig(Seq("ee", "ff", "gg", "hh")))
    assert(disjoint < 0.3)
    // true Jaccard 0.5 (4 shared of 8): estimate within sketch error
    val half = MinHashAgg.estimate(
      sig(Seq("a", "b", "c", "d", "e", "f")),
      sig(Seq("a", "b", "c", "g", "h", "i")))
    assert(half > 0.15 && half < 0.75, s"estimate=$half")
  }

  test("MinHashAgg as typed Dataset aggregation (partial-merge path)") {
    import spark.implicits._
    val agg = new MinHashAgg(numHashes = 32)
    val sigs = graft.io.Tables.documents(spark, SparkTestSession.sf)
      .select(col("doc_id"), explode(graft.ops.Text.tokens(col("text"))).as("word"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("sig"))
      .collect()
    assert(sigs.length == 500)
    assert(sigs.forall(_._2.length == 32))
  }
}
