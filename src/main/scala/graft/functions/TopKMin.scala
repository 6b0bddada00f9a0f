package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Bounded top-k minimum aggregate over struct values: keeps the `k`
  * smallest DISTINCT values of a struct child under the struct's natural
  * (lexicographic, null-free) ordering and returns them as an ascending
  * array — the aggregation form of
  * `row_number().over(Window.partitionBy(g).orderBy(fields…)) <= k`.
  *
  * Why it exists (guide §2.3/§2.4): the KNN chains previously shuffled the
  * FULL candidate set twice — once for the `(src, dst) → min(dist)` dedup
  * aggregation and once for the per-src row_number window — before cutting
  * to k rows. This aggregate does the cut inside the aggregation with
  * map-side partial aggregation, so at most k rows per (map partition ×
  * src) ever cross the one remaining exchange, and the window (a full
  * sort of the deduped candidates) disappears.
  *
  * Exactness: candidate duplicates produced by multi-round LSH / IVF
  * probing carry bit-identical struct values (same vector pair ⇒ same
  * IEEE distance ⇒ same rounded sort key), so the ordering-equality dedup
  * of the internal sorted set keeps exactly the rows `groupBy(src,
  * dst).min(dist)` kept, and the bound-k selection under the identical
  * (sort-key, id) total order matches the window's first k rows. Distinct
  * ids never compare equal (the id is the last struct field), so set
  * dedup can only ever collapse true duplicates.
  *
  * Null handling: null struct inputs are skipped (the callers never
  * produce them); struct FIELDS are assumed non-null like the window sort
  * assumed.
  */
case class TopKMin(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[InternalRow]]
    with UnaryLike[Expression] {

  require(k > 0, s"top_k_min requires k > 0 (got $k)")

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  private lazy val fieldTypes = structType.fields.map(_.dataType)

  @transient private lazy val ordering: Ordering[InternalRow] =
    TypeUtils.getInterpretedOrdering(structType)
      .asInstanceOf[Ordering[InternalRow]]

  // one projection per deserialized instance (a task's copy), not per
  // serialize call
  @transient private lazy val toUnsafe = UnsafeProjection.create(fieldTypes)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType if TypeUtils.typeWithProperEquals(st) || st.fields.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_k_min expects a struct input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[InternalRow] =
    new java.util.TreeSet[InternalRow](new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int =
        ordering.compare(a, b)
    })

  override def update(buffer: java.util.TreeSet[InternalRow],
                      input: InternalRow): java.util.TreeSet[InternalRow] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (buffer.size < k) {
        buffer.add(row.copy())
      } else if (ordering.compare(row, buffer.last()) < 0) {
        // strictly smaller than the current k-th: equal-to-last rows are
        // either duplicates (already present) or would be cut anyway
        if (buffer.add(row.copy())) buffer.pollLast()
      }
    }
    buffer
  }

  override def merge(buffer: java.util.TreeSet[InternalRow],
                     other: java.util.TreeSet[InternalRow]): java.util.TreeSet[InternalRow] = {
    val it = other.iterator()
    var done = false
    while (it.hasNext && !done) {
      val row = it.next() // ascending: once one row fails the bound, the rest do too
      if (buffer.size < k) buffer.add(row)
      else if (ordering.compare(row, buffer.last()) < 0) {
        if (buffer.add(row)) buffer.pollLast()
      } else done = true
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[InternalRow]): Any = {
    val arr = new Array[Any](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buffer: java.util.TreeSet[InternalRow]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val dos = new DataOutputStream(out)
    dos.writeInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) {
      val ur = toUnsafe(it.next()).copy()
      val bytes = ur.getBytes
      dos.writeInt(bytes.length)
      dos.write(bytes)
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[InternalRow] = {
    val buffer = createAggregationBuffer()
    val dis = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = dis.readInt()
    var i = 0
    while (i < n) {
      val len = dis.readInt()
      val b = new Array[Byte](len)
      dis.readFully(b)
      val row = new UnsafeRow(fieldTypes.length)
      row.pointTo(b, len)
      buffer.add(row)
      i += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMin =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMin =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKMin =
    copy(child = newChild)
  override def prettyName: String = "top_k_min"
}

object TopKMin {
  /** `top_k_min(struct(sortKey…, id), k)` as a Column aggregate. */
  def column(c: Column, k: Int): Column =
    GraftBridge.column(
      TopKMin(GraftBridge.expression(c), k).toAggregateExpression())
}
