package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.eventstore.SchemaInfer

/** `infer_schema(payload)` — the reference's statistical payload-schema
  * inference (default_projs.clj:8-26: full inference for the first 10
  * events, then 2% sampling) as a native Catalyst
  * TypedImperativeAggregate, usable directly from SQL:
  *
  *   SELECT stream, infer_schema(payload) FROM log GROUP BY stream
  *
  * → map<field, struct<ftype, count>> plus exact processed/sampled
  * totals. The buffer is mergeable (partial aggregation works): the 2%
  * draw is a deterministic per-payload hash, while the first-10 head
  * rule applies per PARTIAL buffer — so partitioning can only
  * OVER-sample the head (≥10 per group in total), never under-sample,
  * and `processed` stays exact. This is the catalyst-level packaging of
  * graft.eventstore.SchemaInfer's logic — same Buf type, same sampling
  * rule (SURVEY.md §7.3).
  */
case class InferSchemaAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SchemaInfer.Buf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("processed", LongType),
    StructField("sampled", LongType),
    StructField("fields", MapType(StringType, StructType(Seq(
      StructField("ftype", StringType),
      StructField("count", LongType)))))))

  override def createAggregationBuffer(): SchemaInfer.Buf =
    SchemaInfer.Buf(0L, 0L, Map.empty)

  override def update(b: SchemaInfer.Buf, input: InternalRow): SchemaInfer.Buf = {
    val v = child.eval(input)
    if (v == null) b else SchemaInfer.reduceBuf(b, v.toString)
  }

  override def merge(a: SchemaInfer.Buf, b: SchemaInfer.Buf): SchemaInfer.Buf =
    SchemaInfer.mergeBuf(a, b)

  override def eval(b: SchemaInfer.Buf): Any = {
    val keys = b.fields.keys.toSeq.sorted
    InternalRow(
      b.processed,
      b.sampled,
      new ArrayBasedMapData(
        new GenericArrayData(keys.map(UTF8String.fromString).toArray[Any]),
        new GenericArrayData(keys.map { k =>
          val st = b.fields(k)
          InternalRow(UTF8String.fromString(st.ftype), st.count)
        }.toArray[Any])))
  }

  override def serialize(b: SchemaInfer.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(b); oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SchemaInfer.Buf =
    new ObjectInputStream(new ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[SchemaInfer.Buf]

  override def withNewMutableAggBufferOffset(n: Int): InferSchemaAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): InferSchemaAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(child = c.head)

  override def prettyName: String = "infer_schema"
}
