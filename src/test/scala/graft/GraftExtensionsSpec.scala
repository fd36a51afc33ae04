package graft

import graft.functions.GraftFunctions

/** The SQL function surface: every registered graft_* function callable
  * from spark.sql and agreeing with its Scala-API twin. */
class GraftExtensionsSpec extends SparkSpecBase {

  GraftFunctions.register(spark)

  test("scalar functions evaluate from SQL") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  graft_array_eq_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS c,
        |  graft_rolling_hash('hello world') AS h,
        |  graft_sorted_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS i""".stripMargin)
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getInt(3) == 2)
    // same fold as FunctionsSpec's reference
    var h = 0L
    "hello world".codePoints().toArray.foreach(cp => h = (h * 31L + cp) % 2147483647L)
    assert(r.getLong(2) == h)
  }

  test("aggregate functions evaluate from SQL and match the Scala API") {
    import spark.implicits._
    Seq(10L, 20L, 30L).toDF("gh").createOrReplaceTempView("ghs")
    val sqlSig = spark.sql("SELECT graft_minhash(gh, 16) FROM ghs").head().getSeq[Long](0)
    val apiSig = Seq(10L, 20L, 30L).toDF("gh")
      .agg(graft.functions.SketchAggs.minhash(org.apache.spark.sql.functions.col("gh"), 16))
      .head().getSeq[Long](0)
    assert(sqlSig == apiSig)

    // the scalar twin agrees with the aggregate from SQL too
    val rowSig = spark.sql("SELECT graft_minhash_array(array(10L, 20L, 30L), 16)")
      .head().getSeq[Long](0)
    assert(rowSig == sqlSig)

    val sim = spark.sql("SELECT graft_simhash(gh) FROM ghs").head().getLong(0)
    val apiSim = Seq(10L, 20L, 30L).toDF("gh")
      .agg(graft.functions.SketchAggs.simhash(org.apache.spark.sql.functions.col("gh")))
      .head().getLong(0)
    assert(sim == apiSim)

    Seq((0.9, 1L), (0.5, 2L), (0.9, 0L), (0.1, 3L)).toDF("s", "id")
      .createOrReplaceTempView("scored")
    val top = spark.sql("SELECT graft_topk(s, id, 2).id FROM scored").head().getSeq[Long](0)
    assert(top == Seq(0L, 1L))

    (1L to 5000L).map(i => i * i % 1013L).toDF("v").repartition(4)
      .createOrReplaceTempView("vals")
    val hll = spark.sql("SELECT graft_approx_count_distinct(v, 0.02) FROM vals").head().getLong(0)
    val apiHll = spark.table("vals")
      .agg(graft.functions.SketchAggs.approxCountDistinct(org.apache.spark.sql.functions.col("v"), 0.02))
      .head().getLong(0)
    assert(hll == apiHll)
    // a double-typed rsd literal builds the same sketch as the decimal one
    assert(spark.sql("SELECT graft_approx_count_distinct(v, 2e-2D) FROM vals")
      .head().getLong(0) == hll)
  }

  test("non-literal sketch parameter fails fast") {
    import spark.implicits._
    Seq((1L, 4)).toDF("gh", "k").createOrReplaceTempView("bad")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(gh, k) FROM bad").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))

    Seq((1L, 0.05)).toDF("v", "rsd").createOrReplaceTempView("bad_rsd")
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_approx_count_distinct(v, rsd) FROM bad_rsd").collect()
    }
    assert(e2.getMessage.contains("double literal"))
  }
}
