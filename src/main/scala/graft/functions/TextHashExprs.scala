package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-dedup hash pipeline.
  *
  * The previous route built shingles + MinHash bases out of built-in
  * higher-order functions (`transform` / `zip_with` / `array_min`).
  * Those are interpreted (no codegen), allocate an intermediate array
  * per lambda, and are so sensitive to re-inlining and JIT state that
  * the round-1 driver bench recorded 128 s for `q_minhash_lsh` in-suite
  * vs 1.2 s isolated. These expressions do the same arithmetic in one
  * compiled pass per row — a single md5 per distinct shingle / word,
  * no intermediate Catalyst arrays — and sit inside whole-stage codegen
  * as a plain static call, so cost is stable under any session state.
  *
  * Hash definitions are bit-identical to the DuckDB oracle SQL
  * (md5 hex, 15-hex-digit base-16 parses, mod P arithmetic): see
  * graft.llm.TextPrep for the SQL twins.
  */
object TextHash {

  /** Modulus for the arithmetic MinHash hash family (Kirsch–
    * Mitzenmacher: h_i = (a + i*b) mod P; fits a + 15*b in a long). */
  val HashP = 1000000007L

  private val hexDigits = "0123456789abcdef".toCharArray

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def md5Hex(s: String): String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val emptyShingles: InternalRow = {
    val e = new GenericArrayData(Array.empty[Any])
    val el = new GenericArrayData(Array.empty[Long])
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](e, el, el))
  }

  /** Distinct word n-gram shingles of lower(text) + the two md5-derived
    * MinHash base hashes per shingle. Matches the SQL twin exactly:
    * words = regex-split(lower(text), " ") keeping empties; shingle =
    * space-join of n consecutive words; ha = parse(hex[0,15)) mod P,
    * hb = parse(hex[16,31)) mod P. Returns struct(shs, ha, hb). */
  /** Space-joined word n-gram starting at `i`, built into the reused
    * builder — ONE definition of gram assembly for the shingle and
    * positional-gram kernels. */
  private def gramAt(sb: java.lang.StringBuilder, words: Array[String],
                     i: Int, n: Int): String = {
    sb.setLength(0)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(words(i + j))
      j += 1
    }
    sb.toString
  }

  /** The 60-bit md5-derived hash pair — THE oracle-parity-critical
    * formula (twin of TextPrep.sqlShingleCtes' substr(md5, 1, 15) /
    * substr(md5, 17, 15) parses), defined ONCE so the shingle and
    * positional-gram kernels can never drift apart. */
  private def hex60a(hex: String): Long =
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % HashP
  private def hex60b(hex: String): Long =
    java.lang.Long.parseLong(hex.substring(16, 31), 16) % HashP

  def computeShingles(text: UTF8String, n: Int): InternalRow = {
    val words = text.toLowerCase.toString.split(" ", -1)
    if (words.length < n) return emptyShingles
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - n) {
      seen.add(gramAt(sb, words, i, n))
      i += 1
    }
    val m = seen.size
    val shs = new Array[Any](m)
    val ha = new Array[Long](m)
    val hb = new Array[Long](m)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      val s = it.next()
      val hex = md5Hex(s)
      ha(k) = hex60a(hex)
      hb(k) = hex60b(hex)
      shs(k) = UTF8String.fromString(s)
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(shs), new GenericArrayData(ha),
        new GenericArrayData(hb)))
  }

  /** Distinct lowercase character n-grams of a document, first-
    * occurrence order. The trigram-LID hot path: the built-in route
    * (`transform(sequence(...)) → substring → array_distinct`) is an
    * interpreted higher-order lambda allocating one Catalyst array per
    * row plus a full intermediate gram array BEFORE deduplication;
    * this is one compiled pass with row-local dedup. Semantics match
    * `list_distinct(list_transform(generate_series(1, len-(n-1)),
    * i -> substr(lower(text), i, n)))` on the oracle side — in
    * code-POINT positions, like [[computeWinnow]]: DuckDB's
    * substr/len are character-based, so gramming by UTF-16 code
    * units would split surrogate pairs and silently break parity on
    * any non-BMP document. */
  def computeCharGrams(text: UTF8String, n: Int): ArrayData = {
    val cp = text.toLowerCase.toString.codePoints().toArray
    if (cp.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= cp.length - n) {
      seen.add(new String(cp, i, n))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = UTF8String.fromString(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature: sig(i) = min_j (ha(j) + i*hb(j)) mod P for
    * i in [0, k). One pass over the base hashes; empty input yields an
    * empty signature (callers filter size(shs) > 0 upstream). */
  def computeMinhash(ha: ArrayData, hb: ArrayData, k: Int): ArrayData = {
    val m = ha.numElements()
    // minhash_sigs is SQL-exposed: mismatched arrays must fail loudly —
    // the loop indexes hb by ha's length, and an UnsafeArrayData input
    // would otherwise read off-buffer and return silent garbage
    if (hb.numElements() != m) throw new IllegalArgumentException(
      s"minhash_sigs: ha and hb must be equal-length (got $m vs ${hb.numElements()})")
    if (m == 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      var mn = Long.MaxValue
      var j = 0
      while (j < m) {
        val v = (ha.getLong(j) + i * hb.getLong(j)) % HashP
        if (v < mn) mn = v
        j += 1
      }
      out(i) = mn
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Rabin-Karp polynomial hash parameters for winnowing: Horner fold
    * acc = (acc*B + char) mod P over k-char grams. */
  val RollB = 257L

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    * rolling Rabin-Karp hash over character k-grams of lower(text),
    * minimum hash of every w-window of consecutive gram hashes,
    * distinct minima sorted ascending. The rolling update
    * h' = (h - c_out·B^(k-1))·B + c_in (mod P) makes the gram pass
    * O(n) instead of O(n·k); the SQL oracle computes each gram hash
    * directly by Horner — identical values by construction. */
  def computeWinnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    // SQL-exposed: nonsensical parameters must fail loudly, not index
    // out of bounds (w = 0 skips the window minima loop and reads past
    // the gram-hash array; k < 1 makes the gram count exceed the text)
    if (k < 1 || w < 1) throw new IllegalArgumentException(
      s"winnow_fps: gram size and window must be >= 1 (got k=$k, w=$w)")
    // Code-POINT semantics (not UTF-16 code units): the DuckDB twin
    // grams via substr/ascii, which are character-based, so surrogate
    // pairs must count as one position with their full code point value
    // or Spark↔oracle parity silently breaks outside the BMP.
    val cp = text.toLowerCase.toString.codePoints().toArray
    val n = cp.length
    val numGrams = n - k + 1
    val numWindows = numGrams - w + 1
    if (numWindows <= 0) return new GenericArrayData(Array.empty[Long])
    val h = new Array[Long](numGrams)
    // B^(k-1) mod P for the roll-out term
    var bk = 1L
    var i = 0
    while (i < k - 1) { bk = bk * RollB % HashP; i += 1 }
    // first gram by Horner
    var acc = 0L
    i = 0
    while (i < k) { acc = (acc * RollB + cp(i).toLong) % HashP; i += 1 }
    h(0) = acc
    i = 1
    while (i < numGrams) {
      val out = cp(i - 1).toLong * bk % HashP
      acc = ((acc - out + HashP) % HashP * RollB + cp(i + k - 1).toLong) % HashP
      h(i) = acc
      i += 1
    }
    val seen = new java.util.TreeSet[java.lang.Long]()
    i = 0
    while (i < numWindows) {
      var mn = h(i)
      var j = 1
      while (j < w) { if (h(i + j) < mn) mn = h(i + j); j += 1 }
      seen.add(mn)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    new GenericArrayData(out)
  }

  /** POSITIONAL word n-gram hashes of lower(text): one 60-bit hash per
    * gram occurrence, in document order, NOT de-duplicated — the base
    * of the duplicated-passage statistics, where position and
    * multiplicity matter (computeShingles deliberately de-dups for the
    * set-similarity family). Hash = parse(md5 hex[0,15)) mod P, the
    * same `ha` formula as the MinHash base, so the DuckDB twin is the
    * one-line expression already used in TextPrep.sqlShingleCtes. */
  def computeGramHashesPos(text: UTF8String, n: Int): ArrayData = {
    val words = text.toLowerCase.toString.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Long])
    val m = words.length - n + 1
    val out = new Array[Long](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      out(i) = hex60a(md5Hex(gramAt(sb, words, i, n)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** NFC normalization with an is-normalized fast path (quick-check
    * true → return the input UTF8String untouched, no allocation). */
  def normalizeNfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Multiplicity of the most frequent word of lower(text), split on
    * single spaces (empty tokens count, matching split semantics in
    * both engines). O(n) one-pass hash count. */
  def computeTopWordCount(text: UTF8String): Long = {
    val words = text.toLowerCase.toString.split(" ", -1)
    val counts = new java.util.HashMap[String, Long](words.length * 2)
    var best = 0L
    var i = 0
    while (i < words.length) {
      val c = counts.merge(words(i), 1L, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best
  }

  /** 64-bit SimHash over the word multiset of lower(text).
    * Bit j (0-based) is set iff the sum over words of the per-word vote
    * is >= 0, where word w votes +1 on bit j iff:
    *   j <  32: hex digit j of md5(w) has nibble bit 8 (digit in 8..f)
    *   j >= 32: hex digit j-32 of md5(w) has nibble bit 4
    *            (digit in {4,5,6,7,c,d,e,f})
    * One md5 per DISTINCT word per row, votes weighted by the word's
    * multiplicity — natural text repeats words heavily (the whole
    * reason the Gopher top-word filters exist), so hashing per
    * occurrence would redo identical digests by the inverse
    * type-token ratio. Vote sums are identical either way; votes
    * accumulate in Long so no document length can wrap them. */
  def computeSimhash(text: UTF8String): Long = {
    val words = text.toLowerCase.toString.split(" ", -1)
    val counts = new java.util.HashMap[String, Long](words.length * 2)
    var wi = 0
    while (wi < words.length) {
      counts.merge(words(wi), 1L, (a, b) => a + b)
      wi += 1
    }
    val votes = new Array[Long](64)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.longValue()
      val hex = md5Hex(e.getKey)
      var i = 0
      while (i < 32) {
        val nib = Character.digit(hex.charAt(i), 16)
        if ((nib & 8) != 0) votes(i) += c else votes(i) -= c
        if ((nib & 4) != 0) votes(32 + i) += c else votes(32 + i) -= c
        i += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) >= 0) fp |= (1L << j)
      j += 1
    }
    fp
  }
}

/** `shingle_hashes(text, n)` → struct(shs: array<string>,
  * ha: array<long>, hb: array<long>). */
case class ShingleHashes(child: Expression, shingleWords: Int)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("shs", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("ha", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hb", ArrayType(LongType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.computeShingles(input.asInstanceOf[UTF8String], shingleWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.computeShingles($c, $shingleWords);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `nfc_normalize(text)` → string in Unicode Normalization Form C.
  * The canonical first step of text curation: composed vs decomposed
  * accents (é as U+00E9 vs e + U+0301) hash differently, so exact
  * dedup and every md5-keyed operator silently misses duplicates
  * until the corpus is normalized. java.text.Normalizer implements
  * the same Unicode standard as DuckDB's utf8proc-based
  * nfc_normalize, so the oracle twin is the built-in of the same
  * name. Row-local, codegen'd, with a fast path: NFC-clean text
  * (the overwhelming majority) is returned without allocation. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.normalizeNfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.normalizeNfc($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `char_grams(text, n)` → array<string> of DISTINCT lowercase
  * character n-grams, first-occurrence order. */
case class CharGrams(child: Expression, gramChars: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_grams requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.computeCharGrams(input.asInstanceOf[UTF8String], gramChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.computeCharGrams($c, $gramChars);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `gram_hashes_pos(text, n)` → array<long> of per-position word
  * n-gram hashes (document order, duplicates kept). */
case class GramHashesPos(child: Expression, gramWords: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_hashes_pos requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.computeGramHashesPos(input.asInstanceOf[UTF8String], gramWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.computeGramHashesPos($c, $gramWords);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_sigs(ha, hb, k)` → array<long> of the k MinHash mins. */
case class MinhashSigs(left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.computeMinhash(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextHash.computeMinhash($a, $b, $numHashes);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `simhash64(text)` → bigint 64-bit SimHash fingerprint (row-local —
  * no explode, no shuffle). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.computeSimhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.computeSimhash($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fps(text, k, w)` → array<bigint> of the document's
  * winnowing fingerprints (distinct window minima, sorted). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fps requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.computeWinnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.computeWinnow($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `top_word_count(text)` → bigint multiplicity of the most frequent
  * word of lower(text) (the Gopher top-word repetition signal). O(n)
  * hash count — the higher-order `transform(filter(...))` route is
  * O(n²) AND interpreted, the round-1 lesson. */
case class TopWordCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_word_count requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    TextHash.computeTopWordCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.computeTopWordCount($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** HTML/markup main-content extraction — the FIRST stage of every real
  * web-scale corpus run (C4/RefinedWeb-class boilerplate removal),
  * implemented as a single-pass state machine so it sits inside
  * whole-stage codegen as one static call per row (no regex engine,
  * no DOM allocation). Semantics, pinned for the oracle twin:
  *
  *  - `<head>…</head>` is dropped entirely (title/meta are metadata,
  *    not content); `<script>`/`<style>` bodies are raw-skipped to
  *    their literal close tag; `<!-- comments -->` are skipped.
  *  - `<nav>/<header>/<footer>/<aside>` subtree text is BOILERPLATE:
  *    excluded from the main text but measured (`boiler_chars`), so
  *    the caller can compute the C4-style boilerplate ratio.
  *  - every other tag boundary becomes one space; whitespace runs
  *    collapse to a single space; entities (&amp; &lt; &gt; &quot;
  *    &apos; &#NN;) decode. `main_text` is the collapsed, trimmed
  *    result; `text_chars` = its length.
  *  - `<a>` anchors in KEPT context are links: `n_links` counts them,
  *    `link_chars` sums their collapsed text lengths — the numerator
  *    of link density, the classic boilerplate-page signal.
  *
  * Malformed input never throws: unmatched closes floor depths at
  * zero, an unterminated tag/comment/script consumes to end-of-input.
  */
object HtmlText {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** Append with collapse-as-you-go: whitespace becomes one ' ', never
    * leading, never doubled. */
  private def put(sb: java.lang.StringBuilder, c: Char): Unit =
    if (isWs(c)) {
      val n = sb.length
      if (n > 0 && sb.charAt(n - 1) != ' ') sb.append(' ')
    } else sb.append(c)

  private def trimmedLen(sb: java.lang.StringBuilder): Int = {
    val n = sb.length
    if (n > 0 && sb.charAt(n - 1) == ' ') n - 1 else n
  }

  /** The entity starting at `i` (s(i) == '&') as (codePoint,
    * nextIndex) — or (literal '&', i+1) when nothing matches. */
  private def entityAt(s: String, i: Int): (Int, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 10) return ('&'.toInt, i + 1)
    val name = s.substring(i + 1, semi)
    val decoded: Int = name match {
      case "amp" => '&'
      case "lt" => '<'
      case "gt" => '>'
      case "quot" => '"'
      case "apos" => '\''
      case _ =>
        if (name.length > 1 && name.charAt(0) == '#' &&
            name.substring(1).forall(_.isDigit))
          try name.substring(1).toInt catch { case _: Exception => -1 }
        else -1
    }
    if (decoded < 0 || !Character.isValidCodePoint(decoded)) ('&'.toInt, i + 1)
    else (decoded, semi + 1)
  }

  def computeHtmlExtract(html: UTF8String): InternalRow = {
    val s = html.toString
    val lower = s.toLowerCase // once, for the raw-text close-tag search
    val n = s.length
    val main = new java.lang.StringBuilder(math.min(n, 1 << 16))
    val boiler = new java.lang.StringBuilder(64)
    val link = new java.lang.StringBuilder(32)
    var linkChars = 0
    var nLinks = 0
    var dropDepth = 0 // <head>
    var boilDepth = 0 // nav/header/footer/aside
    var inLink = false
    var i = 0

    def sep(): Unit = { put(main, ' '); put(boiler, ' '); if (inLink) put(link, ' ') }
    def closeLink(): Unit =
      if (inLink) { linkChars += trimmedLen(link); inLink = false }
    // route one decoded char to the buffers the current state feeds
    def emit(c: Char): Unit =
      if (dropDepth == 0) {
        if (boilDepth > 0) put(boiler, c)
        else { put(main, c); if (inLink) put(link, c) }
      }

    /** Skip a raw-text element: advance past the next `</name` + '>'. */
    def rawSkip(from: Int, name: String): Int = {
      val close = lower.indexOf("</" + name, from)
      if (close < 0) n
      else {
        val gt = s.indexOf('>', close)
        if (gt < 0) n else gt + 1
      }
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          sep()
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val gt = s.indexOf('>', i) // <!DOCTYPE …> / <?xml …?>
          i = if (gt < 0) n else gt + 1
          sep()
        } else {
          var j = i + 1
          val closing = j < n && s.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && (s.charAt(j).isLetter || s.charAt(j).isDigit)) j += 1
          val name = lower.substring(nameStart, j)
          // scan to the tag's '>' respecting quoted attribute values
          var quote: Char = 0
          while (j < n && (quote != 0 || s.charAt(j) != '>')) {
            val cj = s.charAt(j)
            if (quote == 0 && (cj == '"' || cj == '\'')) quote = cj
            else if (cj == quote) quote = 0
            j += 1
          }
          i = if (j < n) j + 1 else n
          sep()
          name match {
            case "script" | "style" if !closing => i = rawSkip(i, name)
            case "head" => dropDepth = math.max(0, dropDepth + (if (closing) -1 else 1))
            case "nav" | "header" | "footer" | "aside" =>
              if (closing) { if (boilDepth > 0) boilDepth -= 1 }
              else { closeLink(); boilDepth += 1 }
            case "a" =>
              if (closing) closeLink()
              else if (dropDepth == 0 && boilDepth == 0) {
                closeLink() // an unclosed previous anchor ends here
                inLink = true; nLinks += 1; link.setLength(0)
              }
            case _ => ()
          }
        }
      } else if (c == '&') {
        val (cp, ni) = entityAt(s, i)
        if (Character.isBmpCodePoint(cp)) emit(cp.toChar)
        else if (dropDepth == 0) { // rare astral entity: no collapse needed
          if (boilDepth > 0) boiler.appendCodePoint(cp)
          else { main.appendCodePoint(cp); if (inLink) link.appendCodePoint(cp) }
        }
        i = ni
      } else {
        emit(c)
        i += 1
      }
    }
    closeLink()
    val mainText = main.substring(0, trimmedLen(main))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(mainText),
      nLinks,
      mainText.length,
      linkChars,
      trimmedLen(boiler)))
  }
}

/** `html_extract(html)` → struct(main_text: string, n_links: int,
  * text_chars: int, link_chars: int, boiler_chars: int). */
case class HtmlExtract(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("main_text", StringType, nullable = false),
    StructField("n_links", IntegerType, nullable = false),
    StructField("text_chars", IntegerType, nullable = false),
    StructField("link_chars", IntegerType, nullable = false),
    StructField("boiler_chars", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_extract requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    HtmlText.computeHtmlExtract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HtmlText.computeHtmlExtract($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** URL decomposition for web-corpus curation — domain-level filtering
  * (blocklists, per-domain caps, domain dedup priors) is the other
  * first-mile stage of every crawl pipeline, and it needs one exact
  * parse, not a regex per field. Single pass, pinned semantics:
  *
  *  - scheme = text before "://" (lowercased; absent → "" and the
  *    whole input is treated as starting at the host);
  *  - host = after scheme up to the first '/', '?' or '#', with any
  *    userinfo ("user:pw@") stripped and a trailing ":digits" port
  *    split off (port 0 when absent); host is lowercased;
  *  - domain = the LAST TWO dot-labels of the host — the registrable
  *    domain under the generic TLDs this engine targets (a full
  *    public-suffix list is a data file, not an algorithm; the
  *    two-label rule is the documented approximation, exact for
  *    .com/.org/.net/.io-class hosts);
  *  - tld = the last label; path_depth = count of non-empty '/'
  *    segments after the host and before '?'/'#'; has_query = a '?'
  *    with at least one character of query before any '#'.
  *
  * Malformed input never throws: missing parts parse to ""/0/false. */
object UrlText {

  def computeUrlParts(url: UTF8String): InternalRow = {
    val s = url.toString
    val n = s.length
    val schemeEnd = s.indexOf("://")
    val scheme = if (schemeEnd < 0) "" else s.substring(0, schemeEnd).toLowerCase
    val authStart = if (schemeEnd < 0) 0 else schemeEnd + 3
    var i = authStart
    while (i < n && s.charAt(i) != '/' && s.charAt(i) != '?' && s.charAt(i) != '#') i += 1
    var hostPart = s.substring(authStart, i)
    val at = hostPart.lastIndexOf('@')
    if (at >= 0) hostPart = hostPart.substring(at + 1)
    var port = 0
    val colon = hostPart.lastIndexOf(':')
    if (colon >= 0 && colon + 1 < hostPart.length &&
        hostPart.substring(colon + 1).forall(_.isDigit)) {
      port = try hostPart.substring(colon + 1).toInt catch { case _: Exception => 0 }
      hostPart = hostPart.substring(0, colon)
    }
    val host = hostPart.toLowerCase
    val labels = host.split('.')
    val domain =
      if (labels.length >= 2) labels(labels.length - 2) + "." + labels(labels.length - 1)
      else host
    val tld = if (labels.nonEmpty) labels(labels.length - 1) else ""
    // path: from i to the first '?' or '#', NORMALIZED as it walks —
    // duplicate slashes collapse, the trailing slash drops — so
    // /a//b/ and /a/b canonicalize identically for URL-level dedup
    val path = new java.lang.StringBuilder(16)
    var depth = 0
    var segLen = 0
    var j = i
    var inPath = true
    while (j < n && inPath) {
      val c = s.charAt(j)
      if (c == '?' || c == '#') inPath = false
      else {
        if (c == '/') { if (segLen > 0) depth += 1; segLen = 0 }
        else {
          if (segLen == 0) path.append('/')
          path.append(c)
          segLen += 1
        }
        j += 1
      }
    }
    if (segLen > 0) depth += 1
    // query: a '?' before any '#', with ≥1 char before the '#'/end
    val hash = s.indexOf('#', i)
    val q = s.indexOf('?', i)
    val hasQuery = q >= 0 && (hash < 0 || q < hash) &&
      (if (hash < 0) n - q - 1 > 0 else hash - q - 1 > 0)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(scheme),
      UTF8String.fromString(host),
      UTF8String.fromString(domain),
      UTF8String.fromString(tld),
      UTF8String.fromString(path.toString),
      port,
      depth,
      hasQuery))
  }
}

/** `url_parts(url)` → struct(scheme, host, domain, tld, path: string,
  * port, path_depth: int, has_query: boolean). */
case class UrlParts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("scheme", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("domain", StringType, nullable = false),
    StructField("tld", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("port", IntegerType, nullable = false),
    StructField("path_depth", IntegerType, nullable = false),
    StructField("has_query", BooleanType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"url_parts requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    UrlText.computeUrlParts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UrlText.computeUrlParts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
