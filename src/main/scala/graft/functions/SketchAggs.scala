package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, SpecificInternalRow, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, HyperLogLogPlusPlusHelper}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Sketch aggregates as native TypedImperativeAggregates (the Catalyst
  * form for mutable-buffer sketches, cf. Spark's own HLL++): per input
  * row a tight JVM loop updates a fixed-size long[] buffer; partial
  * buffers merge associatively, so Spark's map-side partial aggregation
  * ships one small buffer per (doc, partition) instead of exploded
  * (row × hash-index) tuples — the difference between a 38M-row shuffle
  * and a 5000-row one on the sf0.1 corpus.
  */

/** 128-slot (configurable) MinHash signature over 64-bit shingle hashes:
  * slot i = min over inputs of xxhash64(gramHash, seed=i). */
case class MinHashAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val gh = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashLong(gh, i)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashAgg =
    copy(child = c.head)
  override def prettyName: String = "graft_minhash"
}

/** Term-frequency-weighted 64-bit SimHash over word hashes: one input
  * row per word *occurrence*; bit b of the result is the sign of
  * Σ ±1 (by bit b of each occurrence's hash) — occurrence summing IS
  * the tf weighting. */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    var sig = 0L
    var b = 0
    while (b < 64) { if (buf(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def withNewMutableAggBufferOffset(o: Int): SimHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SimHashAgg =
    copy(child = c.head)
  override def prettyName: String = "graft_simhash"
}

/** Bounded top-k by (score DESC, id ASC): the aggregate form of
  * per-group top-k. A row_number window shuffles EVERY scored row to
  * sort it; this buffer keeps only k (score, id) pairs, so map-side
  * partial aggregation ships k pairs per (group, partition) — the
  * TakeOrdered idea applied per group. k is tiny (≤ 100s), so sorted
  * insertion beats a heap on constants. */
case class TopKAgg(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    distinctIds: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k, distinctIds)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val s = scoreChild.eval(input)
    val id = idChild.eval(input)
    if (s != null && id != null)
      buf.offer(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = { b1.absorb(b2); b1 }

  /** array<struct<score double, id bigint>> in rank order. */
  override def eval(buf: TopKBuf): Any =
    new GenericArrayData(Array.tabulate[Any](buf.size) { i =>
      InternalRow(buf.scores(i), buf.ids(i))
    })

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuf(k, distinctIds)
    var i = 0
    while (i < n) { buf.offer(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(scoreChild, idChild)
  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKAgg =
    copy(scoreChild = c(0), idChild = c(1))
  override def prettyName: String = "graft_topk"
}

/** Mutable bounded top-k list kept sorted by (score DESC, id ASC).
  * `distinct = true` keeps at most one (best) entry per id — the
  * aggregate-level dedup that lets ANN serving score multi-assigned
  * candidates DIRECTLY (a pair sharing several probed cells offers the
  * same (score, id) more than once) without a distinct/dropDuplicates
  * exchange before the aggregation. */
final class TopKBuf(k: Int, distinct: Boolean = false) {
  require(k > 0, s"top-k needs k > 0, got $k")
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size: Int = 0

  private def beats(s: Double, id: Long, i: Int): Boolean =
    s > scores(i) || (s == scores(i) && id < ids(i))

  def offer(s: Double, id: Long): Unit = {
    if (distinct) {
      // k is tiny — the linear probe is cheaper than any map
      var j = 0
      while (j < size) {
        if (ids(j) == id) {
          if (!beats(s, id, j)) return // existing entry is ≥ — drop the dup
          // better score for the same id: remove, then insert normally
          var m = j
          while (m < size - 1) { scores(m) = scores(m + 1); ids(m) = ids(m + 1); m += 1 }
          size -= 1
          j = size // exit loop
        } else j += 1
      }
    }
    if (size == k && !beats(s, id, k - 1)) return
    var i = math.min(size, k - 1)
    while (i > 0 && beats(s, id, i - 1)) {
      scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
    }
    scores(i) = s; ids(i) = id
    if (size < k) size += 1
  }

  def absorb(o: TopKBuf): Unit = {
    var i = 0
    while (i < o.size) { offer(o.scores(i), o.ids(i)); i += 1 }
  }
}

/** HyperLogLog++ distinct count (Heule, Nunkesser & Hall, EDBT 2013)
  * run by Spark's own HyperLogLogPlusPlusHelper (update, merge and query
  * at offset 0), so every estimate equals `approx_count_distinct` bit for
  * bit. Only the buffer layout differs: Spark's declarative form declares
  * one LongType buffer field per 10 registers — 1,638 fields at rsd 0.01
  * — which is past codegen's field limit and ships 1,640-column rows
  * through the exchange. Here the registers live in ONE mutable row of
  * `numWords` longs, shipped as ONE `numWords × 8`-byte binary. */
case class HllAgg(
    child: Expression,
    relativeSD: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpecificInternalRow] {

  private lazy val hll = new HyperLogLogPlusPlusHelper(relativeSD)

  // a fresh MutableLong reads 0: every register starts empty
  override def createAggregationBuffer(): SpecificInternalRow =
    new SpecificInternalRow(Seq.fill(hll.numWords)(LongType))

  override def update(buf: SpecificInternalRow, input: InternalRow): SpecificInternalRow = {
    val v = child.eval(input)
    if (v != null) hll.update(buf, 0, v, child.dataType)
    buf
  }

  override def merge(b1: SpecificInternalRow, b2: SpecificInternalRow): SpecificInternalRow = {
    hll.merge(b1, b2, 0, 0)
    b1
  }

  override def eval(buf: SpecificInternalRow): Any = hll.query(buf, 0)

  override def serialize(buf: SpecificInternalRow): Array[Byte] = {
    val bb = ByteBuffer.allocate(hll.numWords * 8)
    var i = 0
    while (i < hll.numWords) { bb.putLong(buf.getLong(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SpecificInternalRow = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    var i = 0
    while (i < hll.numWords) { buf.setLong(i, bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  // empty input counts 0, as approx_count_distinct does
  override def defaultResult: Option[Literal] = Some(Literal.create(0L, LongType))
  override def children: Seq[Expression] = Seq(child)
  override def withNewMutableAggBufferOffset(o: Int): HllAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllAgg =
    copy(child = c.head)
  override def prettyName: String = "graft_approx_count_distinct"
}

/** Per-ROW MinHash signature over a gram-hash array — the scalar twin of
  * [[MinHashAgg]] (same XXH64.hashLong slot family, pinned equal by a
  * property test), for paths where each document is one row and no
  * aggregation exists to fold through: the streaming dedup-at-ingest
  * pipeline computes signatures with this inside a plain projection,
  * so its banding keys are bit-identical to the batch index's. */
case class MinHashArray(child: Expression, numHashes: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    MinHashArray.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    // one static call keeps the projection inside whole-stage codegen;
    // the tight hash loop itself lives in ONE JIT-compiled method
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashArray$$.MODULE$$.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashArray =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_array"
}

object MinHashArray {
  /** slot i = min over gram hashes of XXH64.hashLong(gh, seed=i) —
    * verbatim the MinHashAgg update/merge result for the same grams. */
  def compute(ghs: ArrayData, numHashes: Int): ArrayData = {
    val buf = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < ghs.numElements()) {
      val gh = ghs.getLong(j)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashLong(gh, i)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(buf)
  }
}

object SketchAggs {
  def minhash(c: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashAgg(ColumnBridge.expression(c), numHashes).toAggregateExpression())
  def minhashArray(c: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashArray(ColumnBridge.expression(c), numHashes))
  def simhash(c: Column): Column =
    ColumnBridge.column(
      SimHashAgg(ColumnBridge.expression(c)).toAggregateExpression())
  def topk(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())
  /** Top-k over DISTINCT ids (best entry per id) — dedups duplicate
    * candidate offers inside the sketch instead of with an upstream
    * distinct exchange. */
  def topkDistinct(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(score), ColumnBridge.expression(id), k,
        distinctIds = true).toAggregateExpression())
  /** `approx_count_distinct(c, rsd)` with the same estimate, over one
    * binary buffer instead of one column per 10 registers. */
  def approxCountDistinct(c: Column, rsd: Double): Column =
    ColumnBridge.column(HllAgg(ColumnBridge.expression(c), rsd).toAggregateExpression())
}
