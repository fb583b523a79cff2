package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Gopher repetition statistics: `gopher_stats(text)` →
  * struct of the exact integer PRIMITIVES behind the published
  * Rae et al. 2021 A1 repetition/length gate —
  *
  *   `(n_words, nc, top2, top3, top4, dup5 … dup10)`
  *
  * where `nc` is the non-space character count, `top{n}` is the
  * packed witness `count·10⁵ + min(charlen, 99999)` of the most
  * frequent n-gram (tie on count → longer gram; charlen clamps below
  * the radix so a whale gram can never bleed into the count units —
  * the same single-max encoding the SQL replay uses), and `dup{n}`
  * is the duplicated-gram excess mass
  * Σ (count−1)·charlen. The permille arithmetic and thresholds stay
  * OUTSIDE the expression (plain codegen'd long math in
  * [[graft.operators.GopherRules]]), so this kernel states only the
  * counting semantics.
  *
  * Why native (the §2.9 ladder, measured at sf0.1 full evaluation):
  * grouped explode+hash-agg ≈ 6.6 s, higher-order in-row fold ≈
  * 5.1 s — the fold wins the shuffle back but pays interpreted
  * lambda dispatch and a 4-field struct allocation PER GRAM. This
  * expression runs the identical run-length analysis as one fused
  * JVM kernel: split once, then per n sort gram START INDICES
  * (comparing token slices — no gram strings are ever allocated) and
  * walk runs in one pass. Any total order groups equal grams
  * identically, so index-sort order vs the SQL replay's joined-string
  * sort order cannot change any count. Cost: O(Σₙ Gₙ log Gₙ · n)
  * token comparisons per doc, zero shuffle, zero per-gram
  * allocation.
  *
  * Whale documents: per-row transient memory is O(tokens) boxed
  * index Integers (×9 sequentially, not at once). The A1 gate
  * itself rejects anything over 100k words, so a pipeline that cuts
  * obvious whales on the cheap word count first (one split, no
  * grams) bounds this kernel's per-row footprint to ~a few MB; the
  * grouped [[graft.operators.GopherRules.metrics]] twin distributes
  * even a single document's grams if that is ever the constraint.
  */
case class GopherStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got " +
        child.dataType.simpleString)

  override def dataType: DataType = GopherOps.schema

  override def prettyName: String = "gopher_stats"

  override protected def nullSafeEval(t: Any): Any =
    GopherOps.stats(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.GopherOps.stats($t)")

  override protected def withNewChildInternal(
      newChild: Expression): GopherStats = copy(child = newChild)
}

object GopherOps {

  val MinN = 2
  val MaxN = 10
  /** n ≤ TopMaxN report the top-gram witness; n > TopMaxN the
    * duplicated excess mass. */
  val TopMaxN = 4

  val schema: StructType = StructType(
    Seq(StructField("n_words", LongType, nullable = false),
      StructField("nc", LongType, nullable = false)) ++
      (MinN to TopMaxN).map(n =>
        StructField(s"top$n", LongType, nullable = false)) ++
      ((TopMaxN + 1) to MaxN).map(n =>
        StructField(s"dup$n", LongType, nullable = false)))

  private val Space = UTF8String.fromString(" ")

  /** The fused kernel (semantics in the expression scaladoc). */
  def stats(text: UTF8String): InternalRow = {
    val toks: Array[UTF8String] = text.split(Space, -1)
    val tN = toks.length
    var nWords = 0L
    var nc = 0L
    val charLen = new Array[Int](tN)
    // intern tokens to dense ids: gram comparison becomes int
    // compares instead of UTF8 byte walks (equal ids ⇔ equal tokens;
    // any total order groups equal grams, so id order is as good as
    // lexicographic)
    val ids = new Array[Int](tN)
    val seen = new java.util.HashMap[UTF8String, Integer](tN * 2)
    var i = 0
    while (i < tN) {
      val t = toks(i)
      val l = t.numChars()
      charLen(i) = l
      nc += l
      if (t.numBytes() > 0) nWords += 1
      val e = seen.get(t)
      if (e == null) {
        val id = seen.size()
        seen.put(t, Integer.valueOf(id))
        ids(i) = id
      } else ids(i) = e.intValue()
      i += 1
    }

    val out = new Array[Any](2 + (MaxN - MinN + 1))
    out(0) = nWords
    out(1) = nc

    var n = MinN
    while (n <= MaxN) {
      val g = tN - n + 1
      var top = 0L
      var dup = 0L
      if (g > 0) {
        // sort gram start indices by token-slice order — equal grams
        // become adjacent (ANY total order works for run detection)
        val idx = new Array[Integer](g)
        var k = 0
        while (k < g) { idx(k) = k; k += 1 }
        val nn = n
        java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
          override def compare(a: Integer, b: Integer): Int = {
            var j = 0
            while (j < nn) {
              val c = ids(a + j) - ids(b + j)
              if (c != 0) return c
              j += 1
            }
            0
          }
        })
        // one run-length pass; a run closes when the next gram differs
        var runStart = 0
        var k2 = 1
        while (k2 <= g) {
          val boundary = k2 == g || {
            val a = idx(k2 - 1).intValue()
            val b = idx(k2).intValue()
            var j = 0
            var diff = false
            while (j < nn && !diff) {
              if (ids(a + j) != ids(b + j)) diff = true
              j += 1
            }
            diff
          }
          if (boundary) {
            val cnt = (k2 - runStart).toLong
            val s = idx(runStart).intValue()
            var cl = 0L
            var j = 0
            while (j < nn) { cl += charLen(s + j); j += 1 }
            if (n <= TopMaxN) {
              // clamp charlen below the 10⁵ radix: a whale gram
              // (≥100k chars — base64 blobs, minified JS are real in
              // crawl data) must NOT bleed into the count units and
              // corrupt "tie on count → longer gram" into "higher
              // count". Same clamp in the grouped kernel, this one
              // and the DuckDB replay.
              val code = cnt * 100000L + math.min(cl, 99999L)
              if (code > top) top = code
            } else if (cnt > 1L) {
              dup += (cnt - 1L) * cl
            }
            runStart = k2
          }
          k2 += 1
        }
      }
      out(2 + (n - MinN)) = if (n <= TopMaxN) top else dup
      n += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}
