package graft

import graft.functions.{RollingHash, SketchAggs, VectorExprs, XorChecksum}
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("RollingHash matches the reference fold, including codegen path") {
    def ref(s: String): Long = {
      var h = 0L
      s.codePoints().toArray.foreach(cp => h = (h * 31L + cp) % 2147483647L)
      h
    }
    val inputs = Seq("", "a", "hello world", "the fast key order", "café über 中文")
    val got = inputs.toDF("s").select(RollingHash.column(col("s")).as("h"))
      .collect().map(_.getLong(0))
    assert(got.sameElements(inputs.map(ref)))
  }

  test("RollingHash returns null on null input") {
    val r = Seq[Option[String]](None).toDF("s")
      .select(RollingHash.column(col("s"))).collect().head
    assert(r.isNullAt(0))
  }

  test("DotProduct matches manual computation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(VectorExprs.dot(col("a"), col("b"))).collect().head.getDouble(0)
    assert(got == 32.0)
  }

  test("ArrayEqualCount counts agreeing slots") {
    val df = Seq((Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 7L))).toDF("a", "b")
    assert(df.select(VectorExprs.eqCount(col("a"), col("b"))).collect().head.getInt(0) == 2)
  }

  test("SortedIntersectCount equals set intersection for sorted arrays") {
    val cases = Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 5L, 10L), 2),
      (Array.empty[Long], Array(1L, 2L), 0),
      (Array(7L), Array(7L), 1),
      (Array(1L, 2L, 3L), Array(4L, 5L), 0))
    for ((a, b, want) <- cases) {
      val got = Seq((a, b)).toDF("a", "b")
        .select(VectorExprs.sortedIntersect(col("a"), col("b"))).head().getInt(0)
      assert(got == want, s"${a.toSeq} ∩ ${b.toSeq}")
    }
    // random sorted sets vs the Set-based reference
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val a = Array.fill(rnd.nextInt(50))(rnd.nextLong() % 100).distinct.sorted
      val b = Array.fill(rnd.nextInt(50))(rnd.nextLong() % 100).distinct.sorted
      val got = Seq((a, b)).toDF("a", "b")
        .select(VectorExprs.sortedIntersect(col("a"), col("b"))).head().getInt(0)
      assert(got == a.toSet.intersect(b.toSet).size)
    }
  }

  test("XorChecksum is order-insensitive and matches the documented mix") {
    def mix(x: Long) = x ^ (x << 13) ^ (x >> 7)
    val ids = Seq(5L, 99L, 1234567L)
    val expected = ids.map(mix).reduce(_ ^ _)
    val fwd = ids.toDF("id").agg(XorChecksum.column(col("id"))).collect().head.getLong(0)
    val rev = ids.reverse.toDF("id").agg(XorChecksum.column(col("id"))).collect().head.getLong(0)
    assert(fwd == expected && rev == expected)
  }

  test("MinHashAgg is deterministic and identical sets collide") {
    val a = Seq(10L, 20L, 30L).toDF("gh").agg(SketchAggs.minhash(col("gh"), 16))
      .collect().head.getSeq[Long](0)
    val b = Seq(30L, 10L, 20L).toDF("gh").agg(SketchAggs.minhash(col("gh"), 16))
      .collect().head.getSeq[Long](0)
    assert(a == b && a.length == 16)
  }

  test("SimHashAgg: identical multisets produce identical signatures, tf matters") {
    def sig(words: Seq[String]): Long =
      words.toDF("w").agg(SketchAggs.simhash(xxhash64(col("w")))).collect().head.getLong(0)
    assert(sig(Seq("a", "b", "a")) == sig(Seq("a", "a", "b")))
    assert(sig(Seq("a", "b", "a")) != sig(Seq("a", "b", "b")))
  }

  test("TopKAgg keeps k best by (score DESC, id ASC) across partition merges") {
    val rows = Seq(
      (1L, 0.5, 10L), (1L, 0.9, 11L), (1L, 0.9, 5L), (1L, 0.1, 12L), (1L, 0.7, 13L),
      (2L, 0.3, 20L)) // second group: fewer than k rows
    val got = rows.toDF("g", "score", "id")
      .repartition(4) // force partial buffers + merge
      .groupBy("g").agg(SketchAggs.topk(col("score"), col("id"), 3).as("top"))
      .select(col("g"), col("top.id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // ties on 0.9 break toward the smaller id
    assert(got(1L) == Seq(5L, 11L, 13L))
    assert(got(2L) == Seq(20L))
  }

  test("topkDistinct keeps one (best) entry per id across duplicates and merges") {
    // the ANN-serving shape: a candidate multi-assigned to several
    // probed cells offers the same (score, id) repeatedly — with plain
    // topk it would fill the buffer with copies of itself
    val rows = Seq(
      (1L, 0.9, 11L), (1L, 0.9, 11L), (1L, 0.9, 11L), (1L, 0.9, 11L),
      (1L, 0.8, 12L), (1L, 0.8, 12L), (1L, 0.7, 13L), (1L, 0.6, 14L),
      // same id with differing scores keeps the best
      (1L, 0.2, 15L), (1L, 0.65, 15L))
    def run(c: org.apache.spark.sql.Column) = rows.toDF("g", "score", "id")
      .repartition(4) // force partial buffers + merge
      .groupBy("g").agg(c.as("top"))
      .select(col("top.id").as("ids"))
      .collect().head.getSeq[Long](0)
    assert(run(SketchAggs.topkDistinct(col("score"), col("id"), 3)) == Seq(11L, 12L, 13L))
    assert(run(SketchAggs.topkDistinct(col("score"), col("id"), 5)) ==
      Seq(11L, 12L, 13L, 15L, 14L))
    // and the non-distinct form still admits duplicates (the contrast)
    assert(run(SketchAggs.topk(col("score"), col("id"), 3)) == Seq(11L, 11L, 11L))
  }

  test("HllAgg equals approx_count_distinct: types, nulls, rsd, global and grouped") {
    val rnd = new scala.util.Random(23)
    // skewed values so groups see very different cardinalities, a
    // sprinkle of nulls, and ~20k rows so the estimator leaves its
    // exact small-range regime in the global case
    val rows = (0 until 20000).map { i =>
      val v = (rnd.nextGaussian() * 3000).toLong
      (i % 7L, v, s"s$v", v / 3.0, if (i % 11 == 0) None else Some(v))
    }
    val df = rows.toDF("g", "l", "s", "d", "n").repartition(4).cache()
    try {
      for (c <- Seq("l", "s", "d", "n"); rsd <- Seq(0.01, 0.05)) {
        val pair = Seq(
          approx_count_distinct(col(c), rsd).as("spark"),
          SketchAggs.approxCountDistinct(col(c), rsd).as("graft"))
        val global = df.agg(pair.head, pair(1)).head()
        assert(global.getLong(0) == global.getLong(1), s"global $c rsd=$rsd")
        assert(global.getLong(1) > 0)
        val grouped = df.groupBy("g").agg(pair.head, pair(1)).collect()
        assert(grouped.length == 7)
        grouped.foreach { r =>
          assert(r.getLong(1) == r.getLong(2), s"group ${r.getLong(0)} $c rsd=$rsd")
        }
      }
    } finally { df.unpersist(); () }
  }

  test("HllAgg counts 0 on empty input") {
    val empty = Seq.empty[Long].toDF("l").repartition(4)
    assert(empty.agg(SketchAggs.approxCountDistinct(col("l"), 0.01)).head().getLong(0) == 0L)
    assert(Seq[Option[Long]](None, None).toDF("l")
      .agg(SketchAggs.approxCountDistinct(col("l"), 0.05)).head().getLong(0) == 0L)
  }
}
