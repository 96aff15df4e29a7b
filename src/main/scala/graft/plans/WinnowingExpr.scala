package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint kernel (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003): char k-gram hashes → w-window sliding min → distinct, as ONE
  * primitive per-row loop.
  *
  * Why a native Expression (SURVEY.md §4 tier b): the composable form —
  * `transform(sequence, pos → hash(substr))` then windowed `array_min`
  * — evaluates interpretively per GRAM (UTF8String substring alloc, the
  * md5→hex→conv round trip, boxed lambda vars), and at corpus scale the
  * gram count IS the corpus byte count. Here the text's char→byte
  * boundaries are walked once, each gram hashes a zero-copy byte range,
  * and the sliding min never leaves a local long array.
  *
  * Hash parity is bit-exact with the form it replaces:
  * `conv(substring(md5(gram),1,15),16,10)` = the digest's first 60 bits
  * big-endian (what DuckDB replays, [[graft.functions.Text.md5Long]]).
  *
  * Inputs shorter than k+w−1 chars yield an empty array (the operator
  * filters them upstream; the declarative form's `sequence` would
  * misbehave there, so the kernel makes the degenerate case explicit).
  * Fingerprints keep first-occurrence order, matching `array_distinct`.
  */
case class WinnowingFpExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 2 && w >= 1, s"degenerate winnowing params k=$k w=$w")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_winnow_fp expects string, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_winnow_fp"

  override def nullSafeEval(v: Any): Any =
    fingerprints(v.asInstanceOf[UTF8String])

  /** Shared by the interpreted eval and the generated code (one body,
    * two entry points). Generated projections call this directly so the
    * enclosing WholeStageCodegen span stays whole (the CodegenFallback
    * form split it and re-entered the interpreted evaluator per row).
    */
  def fingerprints(u: UTF8String): ArrayData = {
    val bytes = u.getBytes // one copy per row, shared by every gram
    // char → byte boundary walk (UTF-8 aware; for ASCII offs(i) == i)
    val nChars = u.numChars()
    if (nChars < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val offs = new Array[Int](nChars + 1)
    var ci = 0
    var bi = 0
    while (bi < bytes.length) {
      offs(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    offs(ci) = bytes.length
    val nGrams = nChars - k + 1
    val hs = new Array[Long](nGrams)
    val md = WinnowingFpExpr.digest.get()
    var p = 0
    while (p < nGrams) {
      val from = offs(p)
      md.reset()
      md.update(bytes, from, offs(p + k) - from)
      val d = md.digest()
      // first 15 hex chars of md5 parsed base-16 = first 60 bits BE
      var acc = 0L
      var j = 0
      while (j < 7) { acc = (acc << 8) | (d(j) & 0xffL); j += 1 }
      hs(p) = (acc << 4) | ((d(7) & 0xffL) >>> 4)
      p += 1
    }
    // sliding min per full window; distinct in first-occurrence order
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= nGrams - w) {
      var m = hs(i)
      var j = 1
      while (j < w) { if (hs(i + j) < m) m = hs(i + j); j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowFp", this, classOf[WinnowingFpExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.fingerprints($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WinnowingFpExpr {
  /** MessageDigest is stateful and not thread-safe — one per task thread. */
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
}
