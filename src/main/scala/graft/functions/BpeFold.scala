package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** t20's BPE-encode fold as one eval call per document, bit-identical to
  *
  *   aggregate(merges,
  *     concat('|', regexp_replace(text, '(.)', '$1|')),
  *     (s, p) -> replace(s, concat('|', substr(p,1,1), '|', substr(p,2,1), '|'),
  *                       concat('|', p, '|')))
  *
  * (the output feeds md5(enc), so the encoding STRING is the pinned
  * contract, not just the counts). The old fold built the delimiter
  * string through the regex engine (one match + group capture per
  * character) and then ran 30 interpreted `replace` passes, each
  * allocating a fresh UTF8String of the whole document plus the
  * per-step pattern/replacement concats — per doc that is 31 full-string
  * allocations and a regex walk before any real work. This kernel
  * builds the delimited form in one byte walk and runs the same 30
  * passes as byte scans over two reused buffers.
  *
  * Exactness notes, piece by piece:
  *  - `regexp_replace(text, '(.)', '$1|')`: Java regex `.` matches one
  *    CODE POINT, except the five line terminators (\n \r U+0085 U+2028
  *    U+2029), which pass through unreplaced. The byte walk steps code
  *    points with UTF8String.numBytesForFirstByte and skips the pipe
  *    after exactly those five sequences. (Valid-UTF-8 inputs only —
  *    on malformed bytes the regex path transcodes through UTF-16
  *    replacement chars and nothing byte-level can agree; the corpus is
  *    parquet-born valid UTF-8, and BpeFoldSpec pins the identity on
  *    the real corpus plus adversarial docs.)
  *  - `substr(p,1,1)/substr(p,2,1)`: merge pairs are two CODE POINTS;
  *    the pattern splits the merge's bytes at the first code-point
  *    boundary, so multi-byte pairs work.
  *  - `replace`: UTF8String.replace finds byte-level occurrences
  *    left-to-right, non-overlapping, resuming AFTER each match — the
  *    scan below does exactly that (which is why adjacent pairs sharing
  *    a boundary pipe do NOT both merge: '|a|b|a|b|' under merge "ab"
  *    yields '|ab|a|b|', matching the SQL form).
  *  - Merge k's 2-char output cell can never match a later single-char
  *    cell pattern, but merges still COMPETE for characters, so the 30
  *    passes stay sequential in rank order — same as the fold.
  *
  * The merges array is identical for every row (a broadcast scalar);
  * compiled patterns are memoized by its content, not its reference (the
  * input row's buffer may be reused, so an identity check is not safe).
  * A merge that is null or not exactly two code points fails compilation,
  * naming the element. */
case class BpeFold(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_fold expects (string, array<string>), got ($l, $r)")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_bpe_fold"

  @transient private var cachedMerges: ArrayData = _
  @transient private var patterns: Array[Array[Byte]] = _
  @transient private var replacements: Array[Array[Byte]] = _

  private def compile(merges: ArrayData): Unit = {
    val n = merges.numElements()
    val ps = new Array[Array[Byte]](n)
    val rs = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val merge = if (merges.isNullAt(i)) null else merges.getUTF8String(i)
      require(merge != null && merge.numChars == 2,
        s"graft_bpe_fold: merge $i must be exactly 2 code points, got " +
          (if (merge == null) "null" else s"'$merge'"))
      val m = merge.getBytes
      val cut = UTF8String.numBytesForFirstByte(m(0))
      // pattern '|a|b|', replacement '|ab|'
      val p = new Array[Byte](m.length + 3)
      p(0) = '|'
      System.arraycopy(m, 0, p, 1, cut)
      p(cut + 1) = '|'
      System.arraycopy(m, cut, p, cut + 2, m.length - cut)
      p(m.length + 2) = '|'
      val r = new Array[Byte](m.length + 2)
      r(0) = '|'
      System.arraycopy(m, 0, r, 1, m.length)
      r(m.length + 1) = '|'
      ps(i) = p
      rs(i) = r
      i += 1
    }
    patterns = ps
    replacements = rs
    cachedMerges = merges.copy()
  }

  /** The five Java-regex line terminators `.` does not match. */
  private def lineTermLen(b: Array[Byte], i: Int, w: Int): Boolean = w match {
    case 1 => b(i) == 0x0A || b(i) == 0x0D
    case 2 => (b(i) & 0xff) == 0xC2 && (b(i + 1) & 0xff) == 0x85
    case 3 => (b(i) & 0xff) == 0xE2 && (b(i + 1) & 0xff) == 0x80 &&
      ((b(i + 2) & 0xff) == 0xA8 || (b(i + 2) & 0xff) == 0xA9)
    case _ => false
  }

  override def nullSafeEval(t: Any, m: Any): Any = {
    val merges = m.asInstanceOf[ArrayData]
    if (cachedMerges == null || !(cachedMerges == merges)) compile(merges)
    val text = t.asInstanceOf[UTF8String].getBytes
    // stage 0: '|' + per-code-point char + '|' (line terminators bare)
    var buf = new Array[Byte](2 * text.length + 1)
    var len = 0
    buf(len) = '|'; len += 1
    var i = 0
    while (i < text.length) {
      val w0 = UTF8String.numBytesForFirstByte(text(i))
      val w = math.min(w0, text.length - i)
      System.arraycopy(text, i, buf, len, w)
      len += w
      if (!lineTermLen(text, i, w)) { buf(len) = '|'; len += 1 }
      i += w
    }
    // merge passes: left-to-right non-overlapping byte replace,
    // alternating between two buffers (dst can never outgrow src since
    // the replacement is one byte shorter than the pattern)
    var src = buf
    var srcLen = len
    var dst = new Array[Byte](buf.length)
    var k = 0
    while (k < patterns.length) {
      val p = patterns(k)
      val r = replacements(k)
      var in = 0
      var out = 0
      var replaced = false
      while (in <= srcLen - p.length) {
        var j = 0
        while (j < p.length && src(in + j) == p(j)) j += 1
        if (j == p.length) {
          System.arraycopy(r, 0, dst, out, r.length)
          out += r.length
          in += p.length
          replaced = true
        } else {
          dst(out) = src(in); out += 1; in += 1
        }
      }
      while (in < srcLen) { dst(out) = src(in); out += 1; in += 1 }
      if (replaced) {
        val tmp = src; src = dst; dst = tmp
        srcLen = out
      }
      k += 1
    }
    UTF8String.fromBytes(src, 0, srcLen)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeFold =
    copy(left = newLeft, right = newRight)
}
