package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: every `width`-token window of a token
  * array, in order, as its space-joined text or (when `hashed`) as the
  * lowercase md5 hex of that text's UTF-8 bytes.
  *
  * Why not a `transform` lambda that picks each window out with
  * `element_at` or `slice`: the lambda re-evaluates its captured token
  * expression once per window, and with `t = split(text)` inlined every
  * window re-splits the whole document, O(tokens²) per document. Here
  * the array is read once: its non-null tokens are joined into one
  * buffer, and since a null token drops out together with its separator
  * (the `concat_ws`/`array_join` rule), every window is one contiguous
  * slice of that buffer. A text window is a view of the slice; a hashed
  * window is one md5 update over it.
  *
  * Contract: null array -> null; fewer than `width` tokens -> empty
  * array; empty tokens are kept (so a double space yields an empty
  * token between two separators); the hash equals Spark's
  * `md5(cast(text as binary))`. `width` (>= 1) and `hashed` must be
  * constants.
  */
case class TokenWindows(tokens: Expression, width: Expression, hashed: Expression)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = tokens
  override def second: Expression = width
  override def third: Expression = hashed

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, width.dataType, hashed.dataType) match {
      case (ArrayType(_: StringType, _), IntegerType, BooleanType) =>
        if (!width.foldable || !hashed.foldable)
          TypeCheckResult.TypeCheckFailure(
            "token_windows requires a constant width and hashed flag")
        else width.eval() match {
          case w: Integer if w >= 1 => TypeCheckResult.TypeCheckSuccess
          case w => TypeCheckResult.TypeCheckFailure(
            s"token_windows requires width >= 1, got $w")
        }
      case (t, w, h) => TypeCheckResult.TypeCheckFailure(
        "token_windows requires (array<string>, int, boolean), got " +
          s"(${t.simpleString}, ${w.simpleString}, ${h.simpleString})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = TokenWindows.Name

  override def nullSafeEval(input: Any, widthValue: Any, hashedValue: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val w = widthValue.asInstanceOf[Int]
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    // nonNull(k): how many non-null tokens precede index k
    val nonNull = new Array[Int](n + 1)
    var bytes = 0
    var m = 0
    var k = 0
    while (k < n) {
      if (!toks.isNullAt(k)) {
        bytes += toks.getUTF8String(k).numBytes + (if (m > 0) 1 else 0)
        m += 1
      }
      k += 1
      nonNull(k) = m
    }
    // the non-null tokens joined by single spaces; token i spans
    // [starts(i), ends(i)) of buf
    val buf = new Array[Byte](bytes)
    val starts = new Array[Int](m)
    val ends = new Array[Int](m)
    var pos = 0
    var i = 0
    k = 0
    while (k < n) {
      if (!toks.isNullAt(k)) {
        if (i > 0) { buf(pos) = ' '; pos += 1 }
        val s = toks.getUTF8String(k)
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        starts(i) = pos
        pos += s.numBytes
        ends(i) = pos
        i += 1
      }
      k += 1
    }
    val md = if (hashedValue.asInstanceOf[Boolean]) MessageDigest.getInstance("MD5") else null
    val out = new Array[Any](n - w + 1)
    var j = 0
    while (j < out.length) {
      val a = nonNull(j)
      val b = nonNull(j + w)
      val off = if (a < b) starts(a) else 0
      val len = if (a < b) ends(b - 1) - off else 0
      out(j) =
        if (md == null) UTF8String.fromBytes(buf, off, len)
        else {
          md.update(buf, off, len)
          TokenWindows.hex(md.digest())
        }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TokenWindows =
    copy(tokens = newFirst, width = newSecond, hashed = newThird)
}

object TokenWindows {
  val Name = "token_windows"

  private val HexDigits = "0123456789abcdef".getBytes

  private def hex(digest: Array[Byte]): UTF8String = {
    val out = new Array[Byte](digest.length * 2)
    var i = 0
    while (i < digest.length) {
      out(2 * i) = HexDigits((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The DataFrame form of `token_windows(tokens, width, hashed)`; it
    * resolves through the function that [[graft.GraftExtensions]]
    * installs in every engine session.
    */
  def apply(tokens: Column, width: Int, hashed: Boolean): Column =
    call_function(Name, tokens, lit(width), lit(hashed))
}
