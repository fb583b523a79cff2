package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary as a native mergeable aggregate:
  * `mg_summary(col, k)` → `map<string,bigint>` of at most `k` counters.
  *
  * The frequent-items counterpart of the engine's HLL/quantile sketch
  * faces (SURVEY.md §2.12 "sketch aggregates"): at 100 TB, an exact
  * token/key histogram is a vocabulary-sized shuffle, but the questions
  * a pipeline actually asks — which keys dominate a skewed join, which
  * tokens flood a corpus, which domains monopolize a crawl — only need
  * the items above a frequency threshold. One MG summary answers them
  * in `O(k)` space per partition with ONE pass and no shuffle beyond
  * `k`-sized partial states.
  *
  * Guarantees (deterministic, any partitioning): with `est(x)` the
  * summary count (0 when absent) and `N` the processed row count,
  *   `exact(x) − N/(k+1) ≤ est(x) ≤ exact(x)`   for EVERY item x,
  * so every item with `exact > N/(k+1)` is present. Both inequalities
  * survive partial-state merging with the same constant (the classic
  * mergeable-summaries argument: update-path decrements charge k+1
  * distinct items each; the merge-path subtracts the (k+1)-th largest
  * count, which the same argument bounds) — that is what makes the
  * aggregate safe under Spark's partial aggregation, AQE re-plans, and
  * any cluster size: the bound is a property of total decrement mass,
  * not of arrival order. The ITEM SET of surviving sub-threshold
  * counters does depend on partitioning — callers must treat the
  * summary as (guaranteed superset of heavy items + bounded
  * estimates), never as a deterministic top-k; the catalog face
  * certifies exactly the order-free contract.
  *
  * Buffer is a plain string→count map, serialized as
  * (size, [UTF, long]*) — k is small by construction, so the partial
  * state is a few KB against shuffle-framing overhead.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mg_summary needs a string column and k >= 1, got " +
        s"${child.dataType.simpleString}, k=$k")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // copy out of the unsafe row's reusable buffer before keying
      MisraGries.add(buf, v.asInstanceOf[UTF8String].toString, k)
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
                     other: mutable.HashMap[String, Long])
      : mutable.HashMap[String, Long] =
    MisraGries.mergeInto(buf, other, k)

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val keys = buf.keysIterator.toArray
    new ArrayBasedMapData(
      new GenericArrayData(keys.map(s => UTF8String.fromString(s)
        .asInstanceOf[Any])),
      new GenericArrayData(keys.map(buf(_).asInstanceOf[Any])))
  }

  // length-prefixed raw UTF-8, NOT writeUTF: modified-UTF-8 caps a
  // string at 65535 encoded bytes and throws past it — mg_summary is
  // a general aggregate and a 64 KB key (a whole document, a long
  // stringified join key) must serialize, not crash the stage
  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (key, c) =>
      val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.update(new String(b, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "mg_summary"
}

/** The pure Misra-Gries kernel behind the aggregate above: the
  * N/(k+1) contract lives here. */
object MisraGries {

  /** One observation of `key` into a summary of width `k`. */
  def add(buf: mutable.HashMap[String, Long], key: String, k: Int): Unit =
    buf.get(key) match {
      case Some(c) => buf.update(key, c + 1)
      case None if buf.size < k => buf.update(key, 1L)
      case None =>
        // the classic step: a miss on a full summary decrements ALL
        // k counters (plus the implicit new item's 1), charging this
        // row's unit of mass against k+1 distinct items at once —
        // the source of the N/(k+1) bound
        val dead = mutable.ArrayBuffer.empty[String]
        buf.keysIterator.foreach { kk =>
          val c = buf(kk) - 1
          if (c == 0L) dead += kk else buf.update(kk, c)
        }
        dead.foreach(buf.remove)
    }

  /** Fold `other` into `buf`, truncating back to `k` counters. */
  def mergeInto(buf: mutable.HashMap[String, Long],
                other: scala.collection.Map[String, Long], k: Int)
      : mutable.HashMap[String, Long] = {
    other.foreach { case (key, c) =>
      buf.update(key, buf.getOrElse(key, 0L) + c)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count and drop what hits zero:
      // at most k counters survive, and the subtracted mass is again
      // charged to k+1 items simultaneously
      val m = buf.values.toArray.sortWith(_ > _).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { kk =>
        val c = buf(kk) - m
        if (c <= 0L) dead += kk else buf.update(kk, c)
      }
      dead.foreach(buf.remove)
    }
    buf
  }
}
