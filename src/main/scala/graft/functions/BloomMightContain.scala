package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Native Bloom-filter membership probe:
  * `bloom_might_contain(filterBytes, hash)` → boolean, where
  * `filterBytes` is a FOLDABLE binary column (a serialized
  * `org.apache.spark.util.sketch.BloomFilter`, normally a `lit(...)`
  * of driver-built bytes) and `hash` is a long key.
  *
  * This is the executor half of the classic 100 TB pre-join gate: build
  * a filter over the small side's keys once (one aggregate job —
  * operators.Bloom.buildLong), broadcast the BYTES as a literal, and
  * drop non-candidate rows on the big side with a narrow, codegen'd
  * per-row probe BEFORE any exchange. False positives pass through to
  * the exact join downstream; false negatives cannot occur — so a
  * Bloom-gated pipeline returns bit-identical results to its ungated
  * form, which is exactly how the catalog certifies it
  * (dd_decontaminate_bloom shares dd_decontaminate's oracle).
  *
  * The filter deserializes once per task (transient lazy), never per
  * row: each task deserializes its own copy of this expression, so
  * each copy decodes its own filter. Codegen reaches it through a
  * reference to this expression instance, whose serialized form
  * carries only the literal bytes.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && left.foldable &&
        right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (foldable binary, long), got " +
          s"(${left.dataType.simpleString}${if (left.foldable) "" else " non-foldable"}, " +
          s"${right.dataType.simpleString})")

  override def dataType: DataType = BooleanType

  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter: BloomFilter = {
    val bytes = left.eval().asInstanceOf[Array[Byte]]
    require(bytes != null, s"$prettyName filter bytes must not be null")
    BloomFilter.readFrom(bytes)
  }

  /** Probe entry point for both eval paths (also exercised directly by
    * FnsSpec against a driver-built filter). */
  def mightContain(h: Long): Boolean = filter.mightContainLong(h)

  override def eval(input: InternalRow): Any = {
    // left is foldable — only the probe key is evaluated per row
    val h = right.eval(input)
    if (h == null) null else mightContain(h.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // reference THIS expression (serializable: children only) so the
    // generated code shares the once-per-executor deserialized filter
    val self = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomMightContain].getName)
    val h = right.genCode(ctx)
    ev.copy(code = code"""
      ${h.code}
      boolean ${ev.isNull} = ${h.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = $self.mightContain(${h.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/** Broadcast-backed variant of [[BloomMightContain]] — the form every
  * large filter is rewritten into at analysis time (see
  * GraftExtensions' `bloom_might_contain` builder).
  *
  * Why not keep the bytes as a literal child: a literal lives INSIDE
  * the expression tree, so (a) every stage whose plan contains the
  * probe serializes the full filter into its task binary — at the
  * 1 MiB default that fires Spark's "broadcasting large task binary"
  * warning on each of the pipeline's stages — and (b) every Catalyst
  * transform/canonicalization that hashes or compares the tree pays
  * for the whole array, a driver-side planning tax measured at
  * ~2.5 s/run on the composed curation pipeline. Holding a
  * `Broadcast` handle instead keeps the tree node at pointer size:
  * the bytes ship to each executor exactly once over the torrent
  * protocol, and the driver's ContextCleaner reclaims them when the
  * handle becomes unreachable.
  *
  * Semantics are identical to the literal form (same probe, same
  * no-false-negative contract); BloomSpec pins both paths against the
  * same membership fixture.
  */
case class BloomMightContainBcast(
    bc: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a long key, got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType

  override def prettyName: String = "bloom_might_contain"

  // one deserialize per task that evaluates the probe, never per row:
  // each task deserializes its own copy of this expression, so the
  // lazy filter is decoded once per task, though bc.value is a
  // per-executor cached fetch
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(bc.value)

  def mightContain(h: Long): Boolean = filter.mightContainLong(h)

  override def eval(input: InternalRow): Any = {
    val h = child.eval(input)
    if (h == null) null else mightContain(h.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomBcExpr", this,
      classOf[BloomMightContainBcast].getName)
    val h = child.genCode(ctx)
    ev.copy(code = code"""
      ${h.code}
      boolean ${ev.isNull} = ${h.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = $self.mightContain(${h.value});
      }""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContainBcast =
    copy(child = newChild)
}
