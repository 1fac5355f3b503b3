package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static runtime for the text-pipeline expressions: tight single-pass
  * loops the generated code calls into. Everything here is semantically
  * locked to the HOF formulations it replaces (and to the DuckDB oracle
  * mirrors) — see each expression's scaladoc for the exact equivalence.
  */
object TextOps {

  /** UTF-8 bytes belonging to characters OUTSIDE [A-Za-z0-9 ] — the
    * symbol-ratio numerator ([[SymbolBytes]]). Byte-level counting is
    * exactly `octet_length(s) - octet_length(regexp_replace(s,
    * '[^A-Za-z0-9 ]', ''))`: every byte of a multi-byte character is
    * ≥ 0x80 (so the whole character's bytes count, as the regex removes
    * them all) and class members are single ASCII bytes. One branchy pass,
    * no regex engine, no stripped-string allocation — a cost anatomy
    * (NOTES.md) measured the regexp_replace form at 3.3 s of
    * text_quality_filter's 6.4 s at sf1.
    */
  def symbolBytes(s: UTF8String): Int = {
    val n = s.numBytes()
    var c = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val keep = b == 32 || (b >= 48 && b <= 57) ||
        (b >= 65 && b <= 90) || (b >= 97 && b <= 122)
      if (!keep) c += 1
      i += 1
    }
    c
  }

  /** Count of matches of `[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]` — the BPE-ish
    * token count ([[RetokenCount]]), without materializing the token array
    * `regexp_extract_all` builds per row. The alternation is a three-case
    * state machine over code points, exactly as the regex engines (Java
    * util.regex for Spark, RE2 for the DuckDB oracle — both code-point
    * semantics for character classes) scan it left to right: a maximal
    * ASCII-letter run counts once, each ASCII digit counts once, every
    * other non-space code point counts once, spaces separate. UTF-8
    * continuation bytes ((b & 0xC0) == 0x80) are skipped so a multi-byte
    * character counts once at its lead byte.
    */
  def retokenCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var c = 0
    var inLetters = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if ((b >= 65 && b <= 90) || (b >= 97 && b <= 122)) {
        if (!inLetters) { c += 1; inLetters = true }
      } else {
        inLetters = false
        if (b != 32 && (b & 0xc0) != 0x80) c += 1 // digit, symbol, or lead byte
      }
      i += 1
    }
    c
  }

  /** md5-prefix hash of every char k-gram of `s`, one pass over the utf-8
    * bytes: char-start offsets are computed incrementally (no per-gram
    * substring objects, no quadratic utf-8 re-scans), each gram hashed
    * straight from the byte slice. Equals, element-for-element,
    * `transform(sequence(1, numChars - k + 1), i -> md5Prefix(substr(s, i, k) ++ suffix))`.
    * Texts shorter than k yield an empty array.
    */
  def gramHashes(s: UTF8String, k: Int, suffix: UTF8String, nibbles: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    // char start offsets (ASCII fast path: offsets are identities)
    var numChars = 0
    var i = 0
    val starts = new Array[Int](n + 1)
    while (i < n) {
      starts(numChars) = i
      val b = bytes(i) & 0xff
      i += (if (b < 0x80) 1 else if (b < 0xe0) 2 else if (b < 0xf0) 3 else 4)
      numChars += 1
    }
    starts(numChars) = n
    val m = numChars - k + 1
    if (m <= 0) return Array.emptyLongArray
    val sufBytes = suffix.getBytes
    val md = digest.get()
    val out = new Array[Long](m)
    var g = 0
    while (g < m) {
      md.reset()
      md.update(bytes, starts(g), starts(g + k) - starts(g))
      if (sufBytes.length > 0) md.update(sufBytes)
      out(g) = prefixOf(md.digest(), nibbles)
      g += 1
    }
    out
  }

  /** Minima of every `w`-wide sliding window: out(i) = min(arr(i..i+w-1)),
    * length max(0, n - w + 1) — the zip_with-over-shifted-slices form.
    * Null elements follow `least` semantics: skipped; an all-null window
    * yields a null output element (only reachable on containsNull inputs).
    */
  def slidingMin(arr: ArrayData, w: Int): Array[Long] = {
    val n = arr.numElements()
    val m = n - w + 1
    if (m <= 0) return Array.emptyLongArray
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var best = arr.getLong(i)
      var j = 1
      while (j < w) {
        val v = arr.getLong(i + j)
        if (v < best) best = v
        j += 1
      }
      out(i) = best
      i += 1
    }
    out
  }

  /** Boxed twin of [[slidingMin]] for containsNull inputs. */
  def slidingMinNullable(arr: ArrayData, w: Int): Array[Any] = {
    val n = arr.numElements()
    val m = n - w + 1
    if (m <= 0) return Array.empty[Any]
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var best = Long.MaxValue
      var any = false
      var j = 0
      while (j < w) {
        if (!arr.isNullAt(i + j)) {
          val v = arr.getLong(i + j)
          if (!any || v < best) { best = v; any = true }
        }
        j += 1
      }
      out(i) = if (any) best else null
      i += 1
    }
    out
  }

  /** k affine-permutation minhash minima over 32-bit element hashes:
    * sig(j) = min over h of ((1 + j·104729)·h + j·7919) mod 4294967311,
    * starting from Long.MaxValue (so an empty input yields MaxValue per
    * band) — bit-identical to the
    * `transform(sequence(0, k-1), j -> aggregate(sh32, maxLong, (acc, h) -> least(acc, …)))`
    * HOF form. h < 2^32 and (1 + j·104729) < 2^21 for the k used here keep
    * the product exact in int64.
    */
  def minhashSig(arr: ArrayData, k: Int): Array[Long] = {
    val n = arr.numElements()
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = 1L + j.toLong * 104729L
      val b = j.toLong * 7919L
      var best = Long.MaxValue
      var i = 0
      while (i < n) {
        // null element hashes are skipped — least(acc, null) = acc in the
        // HOF form this mirrors
        if (!arr.isNullAt(i)) {
          val v = (a * arr.getLong(i) + b) % 4294967311L
          if (v < best) best = v
        }
        i += 1
      }
      out(j) = best
      j += 1
    }
    out
  }

  /** 32-bit simhash over element hashes: bit j of the result is set iff the
    * sum over elements of (+1 if bit j of the element is set, else -1) is
    * ≥ 0 — the vote formulation of LlmOps.withSimhash, evaluated in one
    * pass with an int[32] accumulator.
    */
  def simhash32(arr: ArrayData): Long = simhashW(arr, 32)

  /** 64-lane variant for corpora where 32 bits go quadratic in the hamming
    * block search (expected equal-block bucket size N/2^blockBits — see
    * LlmQueries dedup_simhash_hamming64). With md5-prefix element hashes of
    * 15 nibbles the top 4 lanes are structurally zero (votes stay negative),
    * so the effective hash is 60 bits — still 2^28 more block-value space
    * than the 32-bit/11-bit-block form.
    */
  def simhash64(arr: ArrayData): Long = simhashW(arr, 64)

  private def simhashW(arr: ArrayData, w: Int): Long = {
    val votes = new Array[Int](w)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // a null element votes -1 on every bit: the HOF's
      // if((shiftright(null, j) & 1) = 1, 1, -1) takes the else branch
      val h = if (arr.isNullAt(i)) 0L else arr.getLong(i)
      var j = 0
      while (j < w) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < w) {
      if (votes(j) >= 0) acc |= (1L << j)
      j += 1
    }
    acc
  }

  /** Word n-grams joined by single spaces: out(i) = arr(i) ⧺ ' ' ⧺ … ⧺
    * arr(i+n-1), length max(0, numElements - n + 1) — the zip_with-concat
    * chain of LlmOps.withShingles. A null word anywhere in a window nulls
    * that n-gram (concat semantics); pass nullable=false inputs for the
    * primitive path.
    */
  def wordNgrams(arr: ArrayData, n: Int): Array[UTF8String] = {
    val len = arr.numElements()
    val m = len - n + 1
    if (m <= 0) return Array.empty[UTF8String]
    val words = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      words(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val space = UTF8String.fromString(" ")
    val out = new Array[UTF8String](m)
    i = 0
    while (i < m) {
      var anyNull = false
      var j = 0
      while (j < n && !anyNull) { anyNull = words(i + j) == null; j += 1 }
      out(i) =
        if (anyNull) null
        else {
          val parts = new Array[UTF8String](2 * n - 1)
          var p = 0
          while (p < n) {
            parts(2 * p) = words(i + p)
            if (p < n - 1) parts(2 * p + 1) = space
            p += 1
          }
          UTF8String.concat(parts: _*)
        }
      i += 1
    }
    out
  }

  /** LSH band keys as int64: band b = md5-prefix(nibbles) of the string
    * "b|s(b·r+1),…,s(b·r+r)" over the signature's decimal renderings —
    * mirrored in DuckDB as
    * `('0x' || substr(md5(b::VARCHAR || '|' || sig[…]::VARCHAR || ',' …), 1, nibbles))::BIGINT`.
    * The band index baked into the hashed string keeps bands from colliding
    * across positions; an int64 key shuffles and joins far cheaper than the
    * hex-string keys it replaces.
    */
  def bandHashes(sig: ArrayData, bands: Int, r: Int, nibbles: Int): Array[Long] = {
    // fail loudly on a too-short signature: UnsafeArrayData.getLong past
    // numElements has NO bounds check and would silently hash adjacent row
    // memory into nondeterministic band keys
    require(sig.numElements() >= bands * r,
      s"graft_band_hash needs a signature of >= ${bands * r} elements " +
        s"(bands=$bands x r=$r), got ${sig.numElements()}")
    val md = digest.get()
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(8 + 24 * r)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      sb.append(b).append('|')
      var i = 0
      while (i < r) {
        if (i > 0) sb.append(',')
        sb.append(sig.getLong(b * r + i))
        i += 1
      }
      md.reset()
      md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(b) = prefixOf(md.digest(), nibbles)
      b += 1
    }
    out
  }

  // digest pool and md5-prefix convention live in HashOps — one home, so
  // gram/band hashes can never desync from graft_hash_array
  private def digest = HashOps.digest
  private def prefixOf(d: Array[Byte], nibbles: Int): Long =
    HashOps.prefixOf(d, nibbles)

  /** Per-frame "energy" of a payload modeled as a code-point sequence (the
    * audio decode-stub convention — see [[graft.ext.LlmOps.audioFingerprintNearDups]]):
    * the time axis is normalized into `nFrames` equal windows of
    * `w = ceil(numChars / nFrames)` code points and frame f's energy is the
    * sum of its code points (frames past the end stay 0.0 — only tracks
    * shorter than nFrames samples have them). Sums are exact in double
    * (code points < 2^21, windows far below 2^32 samples). One pass over
    * the utf-8 bytes: a multi-byte character contributes its code point
    * once, at its position in CHARACTER coordinates — the same
    * `unicode(substr(text, i, 1))` view the DuckDB oracle computes.
    */
  def frameEnergies(s: UTF8String, nFrames: Int): ArrayData = {
    val out = new Array[Double](nFrames)
    val nc = s.numChars()
    val w = Math.max(1L, (nc.toLong + nFrames - 1) / nFrames)
    val nBytes = s.numBytes()
    var i = 0
    var c = 0L
    while (i < nBytes) {
      val b = s.getByte(i) & 0xff
      var cp = 0
      var len = 1
      if (b < 0x80) cp = b
      else if (b < 0xe0) { cp = b & 0x1f; len = 2 }
      else if (b < 0xf0) { cp = b & 0x0f; len = 3 }
      else { cp = b & 0x07; len = 4 }
      var j = 1
      while (j < len && i + j < nBytes) {
        cp = (cp << 6) | (s.getByte(i + j) & 0x3f)
        j += 1
      }
      val f = c / w
      if (f < nFrames) out(f.toInt) += cp
      i += len
      c += 1
    }
    new GenericArrayData(out)
  }

  /** One greedy left-to-right non-overlapping (left, right) → left+right
    * merge pass over a symbol sequence — see [[BpeMergePairs]]. Output
    * elements are either the input's UTF8Strings (shared, row-scoped) or
    * fresh concatenations.
    */
  def bpeMerge(arr: ArrayData, left: UTF8String,
               right: UTF8String): Array[AnyRef] = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val cur = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (cur != null && cur.equals(left) && i + 1 < n && !arr.isNullAt(i + 1)
          && arr.getUTF8String(i + 1).equals(right)) {
        out.add(UTF8String.concat(left, right))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    out.toArray(new Array[AnyRef](out.size()))
  }
}

/** `graft_gram_hash(text, k, suffix, nibbles)` → array<bigint>: the hash of
  * every char k-gram of `text` — the codegen'd fusion of
  * `transform(sequence(1, length(text)-k+1), i -> substr(text, i, k))`
  * followed by graft_hash_array. One pass over the utf-8 bytes, no gram
  * array materialized, no interpreted lambda per gram. k, suffix, nibbles
  * must be foldable; 1 ≤ nibbles ≤ 15, k ≥ 1.
  */
case class GramHash(text: Expression, kExpr: Expression,
                    suffixExpr: Expression, nibblesExpr: Expression)
    extends QuaternaryExpression {

  override def first: Expression = text
  override def second: Expression = kExpr
  override def third: Expression = suffixExpr
  override def fourth: Expression = nibblesExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, kExpr.dataType, suffixExpr.dataType, nibblesExpr.dataType) match {
      case (StringType, IntegerType, StringType, IntegerType)
        if kExpr.foldable && suffixExpr.foldable && nibblesExpr.foldable =>
        val k = kExpr.eval()
        val nib = nibblesExpr.eval()
        if (k == null || k.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(s"graft_gram_hash k must be >= 1, got $k")
        else if (nib == null || nib.asInstanceOf[Int] < 1 || nib.asInstanceOf[Int] > 15)
          TypeCheckResult.TypeCheckFailure(s"graft_gram_hash nibbles must be in [1, 15], got $nib")
        else if (suffixExpr.eval() == null)
          TypeCheckResult.TypeCheckFailure("graft_gram_hash suffix must be non-null")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_gram_hash requires (string, foldable int, foldable string, foldable int)")
    }

  override def nullSafeEval(t: Any, k: Any, suf: Any, nib: Any): Any =
    new GenericArrayData(TextOps.gramHashes(t.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], suf.asInstanceOf[UTF8String], nib.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k, suf, nib) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextOps.gramHashes($t, $k, $suf, $nib));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): GramHash =
    copy(text = f, kExpr = s, suffixExpr = t, nibblesExpr = q)
}

/** `graft_sliding_min(arr, w)` → array<bigint> of the minima of every
  * w-wide sliding window (length size(arr) - w + 1; empty when shorter) —
  * the winnowing window step without interpreted zip_with chains. `w` must
  * be a foldable int ≥ 1. Null elements follow `least` semantics (skipped;
  * an all-null window yields a null element), matching the HOF form.
  */
case class SlidingMin(child: Expression, wExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = wExpr
  private def childContainsNull: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = childContainsNull)
  override def prettyName: String = "graft_sliding_min"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, wExpr.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if wExpr.foldable =>
        val w = wExpr.eval()
        if (w == null || w.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(s"graft_sliding_min w must be >= 1, got $w")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_sliding_min requires (array<bigint>, foldable int)")
    }

  override def nullSafeEval(arr: Any, w: Any): Any =
    if (childContainsNull)
      new GenericArrayData(
        TextOps.slidingMinNullable(arr.asInstanceOf[ArrayData], w.asInstanceOf[Int]))
    else
      new GenericArrayData(
        TextOps.slidingMin(arr.asInstanceOf[ArrayData], w.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (childContainsNull) "slidingMinNullable" else "slidingMin"
    nullSafeCodeGen(ctx, ev, (arr, w) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextOps.$fn($arr, $w));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlidingMin =
    copy(child = newLeft, wExpr = newRight)
}

/** `graft_minhash(sh32, k)` → array<bigint>: k affine-permutation minhash
  * minima (see TextOps.minhashSig for the exact formula) — replaces the
  * interpreted transform-of-aggregates that dominates signature
  * computation. `k` must be a foldable int in [1, 64]; null element hashes
  * are skipped (least semantics, matching the HOF form).
  */
case class MinhashSig(child: Expression, kExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if kExpr.foldable =>
        val k = kExpr.eval()
        if (k == null || k.asInstanceOf[Int] < 1 || k.asInstanceOf[Int] > 64)
          TypeCheckResult.TypeCheckFailure(s"graft_minhash k must be in [1, 64], got $k")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_minhash requires (array<bigint>, foldable int)")
    }

  override def nullSafeEval(arr: Any, k: Any): Any =
    new GenericArrayData(
      TextOps.minhashSig(arr.asInstanceOf[ArrayData], k.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, k) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextOps.minhashSig($arr, $k));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashSig =
    copy(child = newLeft, kExpr = newRight)
}

/** `graft_word_ngrams(words, n)` → array<string>: n consecutive words
  * joined by single spaces (see TextOps.wordNgrams) — the codegen'd form
  * of the zip_with-concat shingle chain. `n` must be a foldable int ≥ 1.
  */
case class WordNgrams(child: Expression, nExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = nExpr
  private def childContainsNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = childContainsNull)
  override def prettyName: String = "graft_word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, nExpr.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if nExpr.foldable =>
        val n = nExpr.eval()
        if (n == null || n.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(s"graft_word_ngrams n must be >= 1, got $n")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_word_ngrams requires (array<string>, foldable int)")
    }

  override def nullSafeEval(arr: Any, n: Any): Any =
    new GenericArrayData(
      TextOps.wordNgrams(arr.asInstanceOf[ArrayData], n.asInstanceOf[Int])
        .asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, n) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) graft.functions.TextOps.wordNgrams($arr, $n));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgrams =
    copy(child = newLeft, nExpr = newRight)
}

/** `graft_band_hash(sig, bands, r, nibbles)` → array<bigint>: LSH band
  * keys (see TextOps.bandHashes). The signature must hold at least
  * bands·r non-null elements; bands/r/nibbles must be foldable ints,
  * 1 ≤ nibbles ≤ 15.
  */
case class BandHash(sig: Expression, bandsExpr: Expression,
                    rExpr: Expression, nibblesExpr: Expression)
    extends QuaternaryExpression {

  override def first: Expression = sig
  override def second: Expression = bandsExpr
  override def third: Expression = rExpr
  override def fourth: Expression = nibblesExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_band_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    (sig.dataType, bandsExpr.dataType, rExpr.dataType, nibblesExpr.dataType) match {
      case (ArrayType(LongType, _), IntegerType, IntegerType, IntegerType)
        if bandsExpr.foldable && rExpr.foldable && nibblesExpr.foldable =>
        val b = bandsExpr.eval()
        val r = rExpr.eval()
        val nib = nibblesExpr.eval()
        if (b == null || b.asInstanceOf[Int] < 1 || r == null || r.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure("graft_band_hash bands and r must be >= 1")
        else if (nib == null || nib.asInstanceOf[Int] < 1 || nib.asInstanceOf[Int] > 15)
          TypeCheckResult.TypeCheckFailure(s"graft_band_hash nibbles must be in [1, 15], got $nib")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_band_hash requires (array<bigint>, foldable int, foldable int, foldable int)")
    }

  override def nullSafeEval(s: Any, b: Any, r: Any, nib: Any): Any =
    new GenericArrayData(TextOps.bandHashes(s.asInstanceOf[ArrayData],
      b.asInstanceOf[Int], r.asInstanceOf[Int], nib.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, b, r, nib) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextOps.bandHashes($s, $b, $r, $nib));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): BandHash =
    copy(sig = f, bandsExpr = s, rExpr = t, nibblesExpr = q)
}

/** `graft_simhash32(arr)` → bigint: 32-bit vote simhash of the element
  * hashes (see TextOps.simhash32) — replaces the interpreted
  * aggregate-of-zip_with vote pipeline. A null element votes -1 on every
  * bit (matching the HOF form's null conditional).
  */
case class Simhash32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash32 requires array<bigint>, got $t")
  }

  override def nullSafeEval(arr: Any): Any =
    TextOps.simhash32(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.TextOps.simhash32($arr)")

  override protected def withNewChildInternal(newChild: Expression): Simhash32 =
    copy(child = newChild)
}

/** `graft_simhash64(arr)` → bigint: 64-lane vote simhash (see
  * TextOps.simhash64) — the scale form for the hamming-radius block search,
  * where bucket sizes are O(N / 2^blockBits) and 32-bit hashes leave only
  * ~11-bit blocks. Same null semantics as [[Simhash32]].
  */
case class Simhash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 requires array<bigint>, got $t")
  }

  override def nullSafeEval(arr: Any): Any =
    TextOps.simhash64(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.TextOps.simhash64($arr)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

/** `graft_symbol_bytes(text)` → int: UTF-8 bytes of characters outside
  * [A-Za-z0-9 ] (see [[TextOps.symbolBytes]]) — the symbol-ratio numerator
  * of the quality gate, value-identical to the
  * `octet_length(s) - octet_length(regexp_replace(s, '[^A-Za-z0-9 ]', ''))`
  * formulation it replaces (spec-pinned) without the per-row regex engine
  * and stripped-string allocation. Null in → null out.
  */
case class SymbolBytes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_symbol_bytes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_symbol_bytes requires string, got $t")
  }

  override def nullSafeEval(s: Any): Any =
    TextOps.symbolBytes(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextOps.symbolBytes($s)")

  override protected def withNewChildInternal(newChild: Expression): SymbolBytes =
    copy(child = newChild)
}

/** `graft_retoken_count(text)` → int: matches of the token alternation
  * `[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]` (see [[TextOps.retokenCount]]) —
  * value-identical to `size(regexp_extract_all(text, …, 0))` (spec-pinned)
  * without allocating the extracted-token array per row. Null in → null out.
  */
case class RetokenCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_retoken_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_retoken_count requires string, got $t")
  }

  override def nullSafeEval(s: Any): Any =
    TextOps.retokenCount(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextOps.retokenCount($s)")

  override protected def withNewChildInternal(newChild: Expression): RetokenCount =
    copy(child = newChild)
}

/** `graft_frame_energy(text, nFrames)` → array<double> of length nFrames:
  * time-normalized per-frame code-point energies (see
  * [[TextOps.frameEnergies]]) — the audio feature-extraction stub feeding
  * `graft_dhash` for the acoustic fingerprint. The declarative equivalent
  * (`transform(sequence(0, n-1), f -> aggregate(...substr per char...))`)
  * rescans the string O(n·w) times through interpreted lambdas; this is one
  * codegen'd pass. nFrames must be a foldable positive int (it is baked
  * into codegen). Null text → null.
  */
case class FrameEnergy(child: Expression, nFrames: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.DoubleType

  require(nFrames > 0, s"graft_frame_energy nFrames must be positive, got $nFrames")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_frame_energy"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_frame_energy requires string, got $t")
  }

  override def nullSafeEval(s: Any): Any =
    TextOps.frameEnergies(s.asInstanceOf[UTF8String], nFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextOps.frameEnergies($s, $nFrames)")

  override protected def withNewChildInternal(newChild: Expression): FrameEnergy =
    copy(child = newChild)
}

/** `graft_bpe_merge(syms, left, right)` → array<string>: one BPE merge
  * step — every LEFT-TO-RIGHT NON-OVERLAPPING adjacent (left, right)
  * occurrence in the symbol sequence is replaced by their concatenation
  * (the replacement discipline of the public BPE construction — Sennrich/
  * Haddow/Birch, "Neural Machine Translation of Rare Words with Subword
  * Units", ACL 2016: greedy scan, a consumed symbol can't also start the
  * next match, and the freshly merged symbol CAN match `left` for the
  * following position — so merging (a,a) over [a,a,a,a] yields [aa,aa],
  * not [aa,a,a]). One pass, no per-element lambda interpretation; the
  * training loop stacks this expression once per learned merge.
  *
  * Null ELEMENTS pass through unmerged (they can never equal `left`/
  * `right`); a null sequence or null pair side returns null (standard
  * null-in/null-out).
  */
case class BpeMergePairs(syms: Expression, left: Expression,
                         right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = syms
  override def second: Expression = left
  override def third: Expression = right
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bpe_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    (syms.dataType, left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_merge requires (array<string>, string, string), got $other")
    }

  override def nullSafeEval(a: Any, l: Any, r: Any): Any =
    new GenericArrayData(TextOps.bpeMerge(a.asInstanceOf[ArrayData],
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, l, r) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextOps.bpeMerge($a, $l, $r));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BpeMergePairs =
    copy(syms = f, left = s, right = t)
}
