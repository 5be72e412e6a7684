package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Tokenization + window hashing shared by [[ShingleHashes]] and
  * [[PositionalGramHashes]] — ONE implementation so the two kernels
  * (and the declarative `split(lower(trim(text)), "\\s+")` twin the
  * oracles replicate) can never drift apart on seeds, lane mixing, or
  * the whitespace class. */
private[functions] object WordHashing {

  /** Lower-case and tokenize on the ASCII `\s` class (matching the
    * regex split twin; `Character.isWhitespace` also matches U+3000
    * etc. and would diverge). Empty tokens never appear: leading /
    * trailing / repeated whitespace is skipped, unlike a bare regex
    * split, which emits a phantom "" first token when text leads with
    * whitespace — the declarative twin must filter that out. */
  def tokenize(input: UTF8String): Array[UTF8String] = {
    val s = input.toLowerCase.toString
    val words = new scala.collection.mutable.ArrayBuffer[UTF8String](64)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && TextProfile.isAsciiWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !TextProfile.isAsciiWs(s.charAt(i))) i += 1
      if (i > start) words += UTF8String.fromString(s.substring(start, i))
    }
    words.toArray
  }

  /** Full [[graft.functions.ShingleHashes]] kernel as one static call —
    * the target of that expression's generated code (and its interpreted
    * eval), so codegen inlines a single static invoke instead of the
    * CodegenFallback per-row `Expression.eval` dispatch. The result is
    * an [[UnsafeArrayData]] copied straight from the `long[]`:
    * `GenericArrayData(long[])` boxes every element. */
  def shingleHashes(input: UTF8String, n: Int): ArrayData = {
    val wArr = tokenize(input)
    if (wArr.isEmpty) return UnsafeArrayData.fromPrimitiveArray(NoHashes)
    val out =
      if (wArr.length < n) Array(hashWindow(wArr, 0, wArr.length))
      else {
        val m = wArr.length - n + 1
        val hs = new Array[Long](m)
        var j = 0
        while (j < m) { hs(j) = hashWindow(wArr, j, n); j += 1 }
        hs
      }
    // sorted distinct
    java.util.Arrays.sort(out)
    var uniq = 0
    var k = 0
    while (k < out.length) {
      if (k == 0 || out(k) != out(k - 1)) { out(uniq) = out(k); uniq += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, uniq))
  }

  /** Full [[graft.functions.PositionalGramHashes]] kernel as one static
    * call — same codegen rationale as [[shingleHashes]]. */
  def positionalGramHashes(input: UTF8String, n: Int): ArrayData = {
    val wArr = tokenize(input)
    if (wArr.length < n) return UnsafeArrayData.fromPrimitiveArray(NoHashes)
    val m = wArr.length - n + 1
    val hs = new Array[Long](m)
    var j = 0
    while (j < m) { hs(j) = hashWindow(wArr, j, n); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(hs)
  }

  private val NoHashes = Array.empty[Long]

  /** 64-bit hash of a word range: two independent 32-bit murmur lanes
    * over the same bytes (word-boundary mixed between words). */
  def hashWindow(words: Array[UTF8String], from: Int, len: Int): Long = {
    var h1 = 42
    var h2 = -1876011247 // 0x902E5711 — independent seed lane
    var i = from
    val end = from + len
    while (i < end) {
      val bytes = words(i).getBytes
      h1 = Murmur3_x86_32.hashUnsafeBytes2(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, h1)
      h2 = Murmur3_x86_32.hashUnsafeBytes2(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, h2)
      i += 1
    }
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }
}
