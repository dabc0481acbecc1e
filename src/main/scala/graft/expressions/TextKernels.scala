package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the distinct `n`-token shingles of a text,
  * in first-occurrence order — one scan of the UTF-8 bytes instead of a
  * `split` plus one interpreted `slice`/`array_join` lambda call per token
  * window.
  *
  * Tokens are the fields of `split(text, " ")`: every `' '` byte separates
  * two fields, so leading, trailing and doubled spaces yield empty tokens
  * and tabs do not split. The `i`-th window is tokens `i .. i+n-1` joined
  * by `' '`, which is exactly the byte range of the text from the start of
  * token `i` to the end of token `i+n-1`; a text of fewer than `n` tokens
  * is one window, the whole text. Equal to
  * `array_distinct(transform(sequence(1, greatest(size(tk) - (n - 1), 1)),
  * i -> array_join(slice(tk, i, n), ' ')))` on every valid UTF-8 text
  * (`' '` never occurs inside a multibyte sequence). NULL text is NULL.
  */
case class TokenShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, s"shingle size n=$n must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.checkString(child, prettyName)

  override def prettyName: String = "token_shingles"

  override def sql: String = s"$prettyName(${child.sql}, $n)"

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextKernels.Name}.shingles($t, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: the occurrence count of the most frequent
  * token of `split(text, " ")` (same token rule as [[TokenShingles]]), in
  * one hashed pass over the bytes — no token array, no sort. NULL text is
  * NULL; any other text has at least one token, so the count is ≥ 1.
  */
case class TopTokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.checkString(child, prettyName)

  override def prettyName: String = "top_token_count"

  override def nullSafeEval(input: Any): Any =
    TextKernels.topTokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextKernels.Name}.topTokenCount($t)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The kernels behind [[TokenShingles]] and [[TopTokenCount]]. Called from
  * generated code — the methods must stay public on this top-level object
  * (static forwarders).
  */
object TextKernels {

  private[expressions] val Name: String = getClass.getName.stripSuffix("$")

  private final val Space: Byte = 0x20

  private[expressions] def checkString(child: Expression,
                                       fn: String): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn expects string, got ${other.simpleString}")
    }

  /** Start offsets of the `' '`-separated fields of `bytes[0, nb)`, plus a
    * sentinel `nb + 1` at index `m` (the field count), so field `j` spans
    * `[starts(j), starts(j + 1) - 1)`.
    */
  private def fieldStarts(base: AnyRef, off: Long, nb: Int): Array[Int] = {
    var m = 1
    var i = 0
    while (i < nb) {
      if (Platform.getByte(base, off + i) == Space) m += 1
      i += 1
    }
    val starts = new Array[Int](m + 1)
    var k = 1
    i = 0
    while (i < nb) {
      if (Platform.getByte(base, off + i) == Space) { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(m) = nb + 1
    starts
  }

  def shingles(text: UTF8String, n: Int): ArrayData = {
    val nb = text.numBytes()
    // one private copy of the bytes: every shingle is a view into it, and
    // the input may sit in a buffer the caller reuses for the next row
    val bytes = new Array[Byte](nb)
    Platform.copyMemory(text.getBaseObject, text.getBaseOffset, bytes,
      Platform.BYTE_ARRAY_OFFSET, nb)
    val starts = fieldStarts(bytes, Platform.BYTE_ARRAY_OFFSET, nb)
    val m = starts.length - 1
    val w = math.max(m - n + 1, 1)
    val out = new Array[AnyRef](w)
    val seen = if (w > 1) new java.util.HashSet[UTF8String](2 * w) else null
    var len = 0
    var i = 0
    while (i < w) {
      val s = starts(i)
      val sh = UTF8String.fromBytes(bytes, s, starts(math.min(i + n, m)) - 1 - s)
      if (seen == null || seen.add(sh)) { out(len) = sh; len += 1 }
      i += 1
    }
    new GenericArrayData(
      (if (len == w) out else java.util.Arrays.copyOf(out, len)).asInstanceOf[Array[Any]])
  }

  def topTokenCount(text: UTF8String): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nb = text.numBytes()
    val starts = fieldStarts(base, off, nb)
    val m = starts.length - 1
    if (m == 1) return 1
    // open addressing over token views (binary equality, like array_sort's
    // ordering and `<=>`); capacity ≥ 2m keeps probes short
    val cap = Integer.highestOneBit(2 * m - 1) << 1
    val mask = cap - 1
    val keys = new Array[UTF8String](cap)
    val counts = new Array[Int](cap)
    var best = 0
    var j = 0
    while (j < m) {
      val s = starts(j)
      val tok = UTF8String.fromAddress(base, off + s, starts(j + 1) - 1 - s)
      var h = tok.hashCode() & mask
      while (keys(h) != null && !keys(h).equals(tok)) h = (h + 1) & mask
      if (keys(h) == null) keys(h) = tok
      counts(h) += 1
      if (counts(h) > best) best = counts(h)
      j += 1
    }
    best
  }
}
