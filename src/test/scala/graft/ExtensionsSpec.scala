package graft

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product is callable from SQL after install") {
    GraftExtensions.install(spark)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .createOrReplaceTempView("vecs_ext")
    val r = spark.sql("SELECT dot_product(a, b) AS d FROM vecs_ext")
      .as[Double].collect()
    assert(r.head == 11.0)
    // float arrays cast transparently
    Seq((Seq(1.0f, 2.0f), Seq(0.5f, 0.5f))).toDF("a", "b")
      .createOrReplaceTempView("vecs_ext_f")
    assert(spark.sql("SELECT dot_product(a, b) AS d FROM vecs_ext_f")
      .as[Double].collect().head == 1.5)
  }

  test("minhash_sig is callable from SQL; null for shingle-less text") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT minhash_sig('the quick brown fox jumps', 3, 8) AS sig, " +
        "minhash_sig('hi', 3, 8) AS nosig")
      .head()
    assert(r.getSeq[Long](0).length == 8)
    assert(r.isNullAt(1)) // fewer than n tokens -> no shingles -> NULL
  }

  test("quantize/dequantize, sign_lsh64, nfc_normalize are callable from SQL (r7)") {
    GraftExtensions.install(spark)
    // quantize → dequantize round-trip matches the Column formulation
    val vec = Seq(0.5, -1.0, 0.25)
    Seq(Tuple1(vec)).toDF("v").createOrReplaceTempView("vecs_ext_q")
    val viaSql = spark.sql(
      "SELECT dequantize_int8(quantize_int8(v)) AS dq FROM vecs_ext_q")
      .as[Seq[Double]].collect().head
    val viaCol = Seq(Tuple1(vec)).toDF("v")
      .select(graft.functions.VectorFunctions.dequantizeInt8(
        graft.functions.VectorFunctions.quantizeInt8($"v")).as("dq"))
      .as[Seq[Double]].collect().head
    assert(viaSql == viaCol)
    // sign_lsh64 matches the expression with the same knobs (seed arm too)
    val sqlKey = spark.sql("SELECT sign_lsh64(v, 3, 16) AS k, " +
      "sign_lsh64(v, 3, 16, 42) AS k42 FROM vecs_ext_q").head()
    assert(sqlKey.getLong(0) == sqlKey.getLong(1)) // default seed = 42
    // nfc_normalize composes the decomposed accent (e + combining acute)
    Seq("Cafe\u0301").toDF("s").createOrReplaceTempView("nfc_ext")
    val n = spark.sql("SELECT nfc_normalize(s) AS s FROM nfc_ext")
      .as[String].collect().head
    assert(n == "Caf\u00e9")
  }

  test("bounded_ids_20 udaf is callable from SQL (r8 posting-list primitive)") {
    GraftExtensions.install(spark)
    Seq(("a", 1L), ("a", 2L), ("b", 9L)).toDF("k", "id")
      .createOrReplaceTempView("posting_ext")
    val rows = spark.sql(
      "SELECT k, bounded_ids_20(id) AS acc FROM posting_ext GROUP BY k ORDER BY k")
      .select($"k", $"acc.ids", $"acc.n")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toSet, r.getLong(2)))
    assert(rows.toSeq == Seq(("a", Set(1L, 2L), 2L), ("b", Set(9L), 1L)))
  }

  test("class registration (spark.sql.extensions) injects the planner strategy") {
    import org.apache.spark.sql.{GraftTestBridge, SparkSessionExtensions}
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    val strategies = GraftTestBridge.plannerStrategies(e, spark)
    assert(strategies.contains(graft.plans.AsofJoinStrategy),
      s"expected AsofJoinStrategy among injected strategies: $strategies")
  }

  test("wrong arity fails at analysis") {
    GraftExtensions.install(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT dot_product(array(1.0))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("2 arguments") ||
      e.getMessage.toLowerCase.contains("dot_product"))
  }
}
