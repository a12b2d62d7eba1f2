package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass kernels for the per-row text hot paths of the
  * curation family (quality gate, language-ID, fingerprint normalization,
  * token counting). The declarative forms are correct but expensive at
  * corpus scale: `TextOps.normalized` is two full regexp_replace passes
  * plus a trim (three intermediate strings per document), and
  * `withQualityFeatures`/`withLangId` tokenize with a regex split and
  * then run interpreted higher-order functions (filter/transform/
  * aggregate are CodegenFallback) over the word array — at the 100×
  * corpus these five queries were the top of the board (q99 37.7 s,
  * q64 31.3 s, q217 26.0 s, q31 24.3 s, q45 10.9 s at sf10-zipf).
  *
  * Each kernel is ONE scan over the document bytes with zero
  * intermediate allocation on the (overwhelmingly common) pure-ASCII
  * path, and an exact slow path that reproduces the Column-algebra
  * semantics for non-ASCII input:
  *
  *  - lower()       ≡ UTF8String.toLowerCase: ASCII fast path, else
  *                    String.toLowerCase() under the JVM DEFAULT locale —
  *                    deliberately NOT Locale.ROOT, because that is what
  *                    UTF8String's slow path does, so kernel and built-in
  *                    stay byte-identical even under tr/az/lt defaults
  *                    (r12 ADVICE); build.sbt additionally pins en-US.
  *                    (probed: U+0130 → [69, 307] on both).
  *  - trim()        removes U+0020 ONLY (probed: \t\n\f\r\x0B survive).
  *  - split(x,'\s+')≡ Java String.split(re, -1): leading empty token if
  *                    the string starts with a separator, trailing empty
  *                    tokens kept, ""  → [""]. Java \s = [ \t\n\x0B\f\r]
  *                    (ASCII-only without UNICODE_CHARACTER_CLASS).
  *  - length()      counts code points.
  *
  * The equivalence of kernel vs Column algebra is property-tested in
  * TextKernelSpec over adversarial strings (whitespace runs, non-ASCII,
  * casing edge cases); the 15+ affected oracle rows pin it end-to-end.
  */
object TextKernel {

  private final val SpaceByte = ' '.toByte

  /** Java regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]. */
  @inline private def isWs(b: Int): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  @inline private def isAlnum(b: Int): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  @inline private def toLower(b: Int): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b

  private def isAscii(bytes: Array[Byte]): Boolean = {
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }

  // ---------------------------------------------------------------------
  // normalize: trim(regexp_replace(regexp_replace(lower(text),
  //            "[^a-z0-9 ]", ""), " +", " "))
  // Single pass: emit lowered [a-z0-9]; a space is PENDING until the next
  // kept alphanumeric (collapses runs, drops leading/trailing — exactly
  // strip-then-collapse-then-trim, because stripped characters vanish
  // without becoming separators).
  // ---------------------------------------------------------------------

  def normalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    if (isAscii(bytes)) {
      val n = bytes.length
      val out = new Array[Byte](n)
      var k = 0
      var pending = false
      var i = 0
      while (i < n) {
        val c = toLower(bytes(i))
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
          if (pending && k > 0) { out(k) = SpaceByte; k += 1 }
          pending = false
          out(k) = c.toByte
          k += 1
        } else if (c == ' ') {
          pending = true
        }
        i += 1
      }
      UTF8String.fromBytes(out, 0, k)
    } else {
      // Exact slow path: the same pass over the default-locale lowered
      // string (what UTF8String.toLowerCase does for non-ASCII). Only
      // ASCII [a-z0-9 ] can survive, so UTF-16 unit iteration is safe.
      val lowered = s.toString.toLowerCase()
      val sb = new java.lang.StringBuilder(lowered.length)
      var pending = false
      var i = 0
      while (i < lowered.length) {
        val c = lowered.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
          if (pending && sb.length > 0) sb.append(' ')
          pending = false
          sb.append(c)
        } else if (c == ' ') {
          pending = true
        }
        i += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }

  // ---------------------------------------------------------------------
  // features: every count the quality/lang-ID gates need, one scan.
  //   n_chars  = length(text)                       [code points]
  //   words    = split(lower(trim(text)), "\s+")    [Java split, -1]
  //   n_words  = size(words)
  //   n_punct  = length(regexp_replace(text, "[A-Za-z0-9\s]", ""))
  //   n_stop   = |{w ∈ words : w ∈ {the,a,of,and,to,in,is}}|  (with mult.)
  //   n_en     = |{w ∈ words : w ∈ {the,and,a,of}}|
  //   sum_word_len = Σ length(w)
  //   has_cjk  = text rlike [\x{4e00}-\x{9fff}]
  // ---------------------------------------------------------------------

  val FeaturesType: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_en", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("has_cjk", BooleanType, nullable = false)))

  /** Stop list {the,a,of,and,to,in,is}; en markers {the,and,a,of} ⊂ stop. */
  private def classifyAscii(bytes: Array[Byte], start: Int, len: Int): Int = {
    // returns bit0 = stopword, bit1 = en marker
    len match {
      case 1 =>
        if (toLower(bytes(start)) == 'a') 3 else 0
      case 2 =>
        val c0 = toLower(bytes(start)); val c1 = toLower(bytes(start + 1))
        if (c0 == 'o' && c1 == 'f') 3
        else if ((c0 == 't' && c1 == 'o') || (c0 == 'i' && (c1 == 'n' || c1 == 's'))) 1
        else 0
      case 3 =>
        val c0 = toLower(bytes(start)); val c1 = toLower(bytes(start + 1))
        val c2 = toLower(bytes(start + 2))
        if ((c0 == 't' && c1 == 'h' && c2 == 'e') ||
          (c0 == 'a' && c1 == 'n' && c2 == 'd')) 3
        else 0
      case _ => 0
    }
  }

  private def classifyStr(w: String): Int = w match {
    case "the" | "a" | "of" | "and" => 3
    case "to" | "in" | "is" => 1
    case _ => 0
  }

  def features(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    if (isAscii(bytes)) featuresAscii(bytes) else featuresSlow(s.toString)
  }

  private def featuresAscii(bytes: Array[Byte]): InternalRow = {
    val n = bytes.length
    var nPunct = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (!isAlnum(b) && !isWs(b)) nPunct += 1
      i += 1
    }
    // trim() strips U+0020 only
    var i0 = 0
    while (i0 < n && bytes(i0) == SpaceByte) i0 += 1
    var i1 = n - 1
    while (i1 >= i0 && bytes(i1) == SpaceByte) i1 -= 1
    var nWords = 1L
    var nStop = 0L
    var nEn = 0L
    var sumLen = 0L
    if (i0 <= i1) {
      i = i0
      while (i <= i1) {
        if (isWs(bytes(i))) {
          nWords += 1 // one separator run = one more token (Java split, -1)
          while (i <= i1 && isWs(bytes(i))) i += 1
        } else {
          val start = i
          while (i <= i1 && !isWs(bytes(i))) i += 1
          val len = i - start
          sumLen += len
          val cls = classifyAscii(bytes, start, len)
          if ((cls & 1) != 0) nStop += 1
          if ((cls & 2) != 0) nEn += 1
        }
      }
    }
    new GenericInternalRow(Array[Any](n.toLong, nWords, nPunct, nStop, nEn, sumLen, false))
  }

  private def featuresSlow(str: String): InternalRow = {
    val nChars = str.codePointCount(0, str.length).toLong
    var nPunct = 0L
    var hasCjk = false
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val asciiKeep = cp < 0x80 && (isAlnum(cp) || isWs(cp))
      if (!asciiKeep) nPunct += 1
      if (cp >= 0x4E00 && cp <= 0x9FFF) hasCjk = true
      i += Character.charCount(cp)
    }
    // trim spaces only, then ROOT-locale lower, then exact Java split
    var a = 0
    while (a < str.length && str.charAt(a) == ' ') a += 1
    var b = str.length
    while (b > a && str.charAt(b - 1) == ' ') b -= 1
    val lowered = str.substring(a, b).toLowerCase()
    val tokens = lowered.split("\\s+", -1)
    var nStop = 0L
    var nEn = 0L
    var sumLen = 0L
    var t = 0
    while (t < tokens.length) {
      val w = tokens(t)
      sumLen += w.codePointCount(0, w.length)
      val cls = classifyStr(w)
      if ((cls & 1) != 0) nStop += 1
      if ((cls & 2) != 0) nEn += 1
      t += 1
    }
    new GenericInternalRow(Array[Any](
      nChars, tokens.length.toLong, nPunct, nStop, nEn, sumLen, hasCjk))
  }

  // ---------------------------------------------------------------------
  // shingleHashes: xxhash64 images of the word 3-gram shingles, one pass.
  //   ≡ transform(shingles3(split(lower(trim(text)), "\s+")),
  //               s -> xxhash64(s))
  // i.e. element i (0-based) is xxhash64(concat_ws(' ', ws[i], ws[i+1],
  // ws[i+2])) with Spark's seed 42 over the UTF-8 bytes — bit-identical
  // to hashing the materialized shingle string (pinned in
  // TextKernelSpec), with no string/array/lambda materialization: the
  // declarative form runs the interpreted ArrayTransform HOF and builds
  // every shingle string just to hash it. Empty tokens (Java split's
  // leading/trailing empties) participate exactly as concat_ws renders
  // them (separators still emitted).
  // ---------------------------------------------------------------------

  private val scratchTL: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](1024))

  private def scratch(n: Int): Array[Byte] = {
    var b = scratchTL.get()
    if (b.length < n) { b = new Array[Byte](Integer.highestOneBit(n) * 2); scratchTL.set(b) }
    b
  }

  private final val Xxh64Seed = 42L

  def shingleHashes(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    if (isAscii(bytes)) shingleHashesAscii(bytes)
    else shingleHashesSlow(s.toString)
  }

  private def shingleHashesAscii(bytes: Array[Byte]): GenericArrayData = {
    val n = bytes.length
    var i0 = 0
    while (i0 < n && bytes(i0) == SpaceByte) i0 += 1
    var i1 = n - 1
    while (i1 >= i0 && bytes(i1) == SpaceByte) i1 -= 1
    // token boundaries (Java split -1 semantics, incl. empty end tokens)
    var nTok = 1
    var i = i0
    while (i <= i1) { if (isWs(bytes(i))) nTok += 1; while (i <= i1 && isWs(bytes(i))) i += 1; if (i <= i1 && !isWs(bytes(i))) { while (i <= i1 && !isWs(bytes(i))) i += 1 } }
    if (i0 > i1) nTok = 1 // "" → [""]
    if (nTok < 3) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTok)
    val lens = new Array[Int](nTok)
    var t = 0
    i = i0
    var tokStart = i0
    while (i <= i1) {
      if (isWs(bytes(i))) {
        starts(t) = tokStart; lens(t) = i - tokStart; t += 1
        while (i <= i1 && isWs(bytes(i))) i += 1
        tokStart = i
      } else i += 1
    }
    starts(t) = tokStart; lens(t) = i1 + 1 - tokStart; t += 1
    val out = new Array[Long](nTok - 2)
    var j = 0
    while (j < nTok - 2) {
      val need = lens(j) + lens(j + 1) + lens(j + 2) + 2
      val buf = scratch(need)
      var k = 0
      var w = j
      while (w <= j + 2) {
        if (w > j) { buf(k) = SpaceByte; k += 1 }
        var p = starts(w)
        val e = starts(w) + lens(w)
        while (p < e) { buf(k) = toLower(bytes(p)).toByte; k += 1; p += 1 }
        w += 1
      }
      out(j) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, k, Xxh64Seed)
      j += 1
    }
    new GenericArrayData(out)
  }

  private def shingleHashesSlow(str: String): GenericArrayData = {
    var a = 0
    while (a < str.length && str.charAt(a) == ' ') a += 1
    var b = str.length
    while (b > a && str.charAt(b - 1) == ' ') b -= 1
    val tokens = str.substring(a, b).toLowerCase().split("\\s+", -1)
    if (tokens.length < 3) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](tokens.length - 2)
    var j = 0
    while (j < tokens.length - 2) {
      val sh = UTF8String.fromString(tokens(j) + " " + tokens(j + 1) + " " + tokens(j + 2))
      out(j) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        sh.getBytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        sh.numBytes(), Xxh64Seed)
      j += 1
    }
    new GenericArrayData(out)
  }

  // ---------------------------------------------------------------------
  // bpeTokenCount: regexp_count(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
  // = maximal ASCII-letter runs + maximal ASCII-digit runs + every other
  // non-(ASCII-ws) code point individually (non-ASCII is never part of a
  // run and never \s without UNICODE_CHARACTER_CLASS).
  // ---------------------------------------------------------------------

  def bpeTokenCount(s: UTF8String): Long = {
    val bytes = s.getBytes
    if (isAscii(bytes)) {
      val n = bytes.length
      var count = 0L
      var i = 0
      while (i < n) {
        val b = bytes(i)
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
          count += 1
          while (i < n && ((bytes(i) >= 'a' && bytes(i) <= 'z') ||
            (bytes(i) >= 'A' && bytes(i) <= 'Z'))) i += 1
        } else if (b >= '0' && b <= '9') {
          count += 1
          while (i < n && bytes(i) >= '0' && bytes(i) <= '9') i += 1
        } else {
          if (!isWs(b)) count += 1
          i += 1
        }
      }
      count
    } else {
      val str = s.toString
      var count = 0L
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) {
          count += 1
          while (i < str.length && {
            val c = str.charAt(i); (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
          }) i += 1
        } else if (cp >= '0' && cp <= '9') {
          count += 1
          while (i < str.length && { val c = str.charAt(i); c >= '0' && c <= '9' }) i += 1
        } else {
          if (!(cp < 0x80 && isWs(cp))) count += 1
          i += Character.charCount(cp)
        }
      }
      count
    }
  }

  // ---------------------------------------------------------------------
  // md5Hash32: ('0x' || substr(md5(x), 1, 8))::BIGINT — the cross-engine
  // 32-bit hash anchor. The declarative form (conv(substring(md5(x),1,8),
  // 16,10)) hex-encodes the full 16-byte digest to a 32-char string,
  // substrings it, and re-parses hex — per evaluation. The first 8 hex
  // chars ARE the first 4 digest bytes big-endian, so the native reads
  // them straight off the digest: one ThreadLocal MessageDigest, zero
  // string traffic. Values are bit-identical (TextKernelSpec).
  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // charClassSig: 32-bin code-point class histogram packed into 4 longs
  // (8 bits/bin, clamped at 255) — the count-filter signature for the
  // edit-distance join (q137). Bins: a-z → 0..25, A-Z → 26, 0-9 → 27,
  // space → 28, other-ASCII → 29, non-ASCII → 30 (code-point grain, NOT
  // bytes: one edit touches one code point). k edits change the histogram
  // by ≤ 2k in L1 (substitution ±1 in two bins; insert/delete ±1 in one),
  // so L1(sig_a, sig_b) > 2k ⇒ levenshtein(a,b) > k — a LOSSLESS
  // pre-filter. Clamping only UNDERestimates L1 (both sides saturate),
  // which keeps the bound valid; merged bins (A-Z, other) likewise only
  // loosen it. One byte scan; continuation bytes (0b10xxxxxx) are skipped
  // so multi-byte code points count once.
  // ---------------------------------------------------------------------

  def charClassSig(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val counts = new Array[Int](32)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      if ((b & 0xC0) != 0x80) { // not a continuation byte: one code point
        val bin =
          if (b >= 'a' && b <= 'z') b - 'a'
          else if (b >= 'A' && b <= 'Z') 26
          else if (b >= '0' && b <= '9') 27
          else if (b == ' ') 28
          else if (b < 0x80) 29
          else 30
        if (counts(bin) < 255) counts(bin) += 1
      }
      i += 1
    }
    val packed = new Array[Long](4)
    var w = 0
    while (w < 4) {
      var acc = 0L
      var j = 0
      while (j < 8) {
        acc |= (counts(w * 8 + j).toLong & 0xFFL) << (j * 8)
        j += 1
      }
      packed(w) = acc
      w += 1
    }
    new GenericArrayData(packed)
  }

  /** Byte-lane L1 between two [[charClassSig]] signatures. One static
    * call per pair (not a 32-term expression tree: the tree version
    * inflated the join-stage codegen past Janino's comfort and the whole
    * pair stage fell back to interpreted evaluation — measured 8× slower
    * at sf0.1 than no filter at all).
    */
  def sigL1(a: org.apache.spark.sql.catalyst.util.ArrayData,
            b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    var l1 = 0L
    var w = 0
    while (w < 4) {
      val x = a.getLong(w)
      val y = b.getLong(w)
      var j = 0
      while (j < 64) {
        l1 += math.abs(((x >>> j) & 0xFFL) - ((y >>> j) & 0xFFL))
        j += 8
      }
      w += 1
    }
    l1
  }

  // ---------------------------------------------------------------------
  // piiRedact: the q91 battery — counts of email / IPv4 / phone matches
  // on the ORIGINAL text plus the sequentially-redacted string
  // (email → <EMAIL>, then IPv4 → <IP> on the email-redacted text, then
  // phone → <PHONE>), exactly:
  //
  //   n_emails = regexp_count(text, EmailRe)
  //   n_ips    = regexp_count(text, Ipv4Re)      [original text!]
  //   n_phones = regexp_count(text, PhoneRe)     [original text!]
  //   redacted = regexp_replace(regexp_replace(regexp_replace(
  //                text, EmailRe,'<EMAIL>'), Ipv4Re,'<IP>'), PhoneRe,'<PHONE>')
  //
  // where EmailRe = [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}
  //       Ipv4Re  = \b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b
  //       PhoneRe = \b\d{3}-\d{3}-\d{4}\b
  //
  // All three patterns are pure-ASCII classes and Java's \b (no
  // UNICODE_CHARACTER_CLASS) is \w = [A-Za-z0-9_] ASCII, so BYTE-grain
  // matching is exact: UTF-8 continuation bytes are ≥ 0x80, outside every
  // class and non-word — identical to how the regex engine sees the
  // corresponding code points. Replacement stays SEQUENTIAL (three
  // builder passes) because it is observable: in "a@b.com1.2.3.4" the
  // IPv4 \b only exists AFTER <EMAIL> is substituted ('>' is non-word,
  // 'm' is not), so a clever single pass would diverge from the regex
  // composition. Match semantics mirrored from the engine:
  //  - email: leftmost attempt succeeds iff the maximal local-char run
  //    from p is followed by '@'; domain backtracks from the right to the
  //    LAST '.' with ≥1 domain char before it and ≥2 letters after; match
  //    ends at the end of that letter run. Failed attempts inside one
  //    local run all fail identically, so the scan skips to the run end.
  //  - ipv4: \d{1,3} backtracking against a following '.' succeeds iff
  //    the digit RUN is 1..3 long (the dot only ever follows the full
  //    run), so: four 1-3 digit runs joined by single dots, word
  //    boundaries outside.
  //  - find() resumes at the previous match end (appendReplacement).
  // Property-pinned against the regexp_* composition in TextKernelSpec.
  // ---------------------------------------------------------------------

  val PiiType: StructType = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_ips", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false),
    StructField("redacted", StringType, nullable = false)))

  // Java quirk, found by the property pin: \b is UNICODE-aware even
  // without UNICODE_CHARACTER_CLASS (Pattern.Bound checks '_' ||
  // Character.isLetterOrDigit(cp) — so '中' is a word char for \b while
  // \w stays ASCII). Boundary checks must therefore decode the adjacent
  // CODE POINT when it is non-ASCII; "1.2.3.4" glued to CJK does NOT
  // match Ipv4Re in Java (no boundary), and the kernel must agree.
  @inline private def isWordAscii(b: Int): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'

  /** Code point of the UTF-8 sequence STARTING at q (q must be a lead
    * byte; match edges always are).
    */
  private def cpAt(t: Array[Byte], q: Int): Int = {
    val b0 = t(q) & 0xFF
    if (b0 < 0x80) b0
    else if (b0 < 0xE0 && q + 1 < t.length)
      ((b0 & 0x1F) << 6) | (t(q + 1) & 0x3F)
    else if (b0 < 0xF0 && q + 2 < t.length)
      ((b0 & 0x0F) << 12) | ((t(q + 1) & 0x3F) << 6) | (t(q + 2) & 0x3F)
    else if (q + 3 < t.length)
      ((b0 & 0x07) << 18) | ((t(q + 1) & 0x3F) << 12) |
        ((t(q + 2) & 0x3F) << 6) | (t(q + 3) & 0x3F)
    else 0xFFFD
  }

  /** Is the code point ENDING at position p (i.e. immediately before p)
    * a Java-\b word char?
    */
  private def isWordBefore(t: Array[Byte], p: Int): Boolean = {
    if (p == 0) return false
    val b = t(p - 1) & 0xFF
    if (b < 0x80) return isWordAscii(b)
    var s = p - 1
    while (s > 0 && (t(s) & 0xC0) == 0x80) s -= 1
    val cp = cpAt(t, s)
    cp == '_' || Character.isLetterOrDigit(cp)
  }

  /** Is the code point STARTING at position q a Java-\b word char? */
  private def isWordAt(t: Array[Byte], q: Int): Boolean = {
    if (q >= t.length) return false
    val b = t(q) & 0xFF
    if (b < 0x80) return isWordAscii(b)
    val cp = cpAt(t, q)
    cp == '_' || Character.isLetterOrDigit(cp)
  }
  @inline private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  @inline private def isLetter(b: Int): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  @inline private def isLocalChar(b: Int): Boolean =
    isLetter(b) || isDigit(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  @inline private def isDomainChar(b: Int): Boolean =
    isLetter(b) || isDigit(b) || b == '.' || b == '-'

  /** Next email match at/after `from`: packs (start, end) as a long, or
    * -1. See the semantics note above.
    */
  private def findEmail(t: Array[Byte], from: Int): Long = {
    val n = t.length
    var p = from
    while (p < n) {
      if (isLocalChar(t(p) & 0xFF)) {
        var e = p
        while (e < n && isLocalChar(t(e) & 0xFF)) e += 1
        if (e < n && t(e) == '@') {
          var r = e + 1
          while (r < n && isDomainChar(t(r) & 0xFF)) r += 1
          // backtrack: the last '.' at d ≥ e+2 with ≥2 letters after
          var d = r - 1
          var matchEnd = -1
          while (d >= e + 2 && matchEnd < 0) {
            if (t(d) == '.') {
              var le = d + 1
              while (le < n && isLetter(t(le) & 0xFF)) le += 1
              if (le - (d + 1) >= 2) matchEnd = le
            }
            d -= 1
          }
          if (matchEnd > 0) return (p.toLong << 32) | matchEnd.toLong
          p = e + 1 // every start inside [p, e] fails the same way
        } else {
          p = e + 1 // local run not followed by '@'
        }
      } else p += 1
    }
    -1L
  }

  /** Next IPv4 match at/after `from` (see semantics note), or -1. */
  private def findIpv4(t: Array[Byte], from: Int): Long = {
    val n = t.length
    var p = from
    while (p < n) {
      if (isDigit(t(p) & 0xFF) && !isWordBefore(t, p)) {
        // four 1-3 digit runs joined by single dots; \b after the last
        var ok = true
        var q = p
        var g = 0
        while (g < 4 && ok) {
          val d0 = q
          while (q < n && isDigit(t(q) & 0xFF)) q += 1
          val runLen = q - d0
          if (runLen < 1 || runLen > 3) ok = false
          else if (g < 3) {
            if (q < n && t(q) == '.') q += 1 else ok = false
          }
          g += 1
        }
        if (ok && !isWordAt(t, q)) return (p.toLong << 32) | q.toLong
      }
      p += 1
    }
    -1L
  }

  /** Next phone match at/after `from` (\b\d{3}-\d{3}-\d{4}\b), or -1. */
  private def findPhone(t: Array[Byte], from: Int): Long = {
    val n = t.length
    var p = from
    while (p + 12 <= n) {
      if (isDigit(t(p) & 0xFF) && !isWordBefore(t, p) &&
        isDigit(t(p + 1) & 0xFF) && isDigit(t(p + 2) & 0xFF) && t(p + 3) == '-' &&
        isDigit(t(p + 4) & 0xFF) && isDigit(t(p + 5) & 0xFF) && isDigit(t(p + 6) & 0xFF) &&
        t(p + 7) == '-' &&
        isDigit(t(p + 8) & 0xFF) && isDigit(t(p + 9) & 0xFF) &&
        isDigit(t(p + 10) & 0xFF) && isDigit(t(p + 11) & 0xFF) &&
        !isWordAt(t, p + 12))
        return (p.toLong << 32) | (p + 12).toLong
      p += 1
    }
    -1L
  }

  /** One find/replace pass; also returns the match count. */
  private def replaceAll(t: Array[Byte], find: (Array[Byte], Int) => Long,
                         token: Array[Byte]): (Array[Byte], Long) = {
    var m = find(t, 0)
    if (m < 0) return (t, 0L) // common case: no allocation at all
    val out = new java.io.ByteArrayOutputStream(t.length + 16)
    var pos = 0
    var count = 0L
    while (m >= 0) {
      val s = (m >>> 32).toInt
      val e = (m & 0xFFFFFFFFL).toInt
      out.write(t, pos, s - pos)
      out.write(token, 0, token.length)
      pos = e
      count += 1
      m = if (e >= t.length) -1L else find(t, e)
    }
    out.write(t, pos, t.length - pos)
    (out.toByteArray, count)
  }

  private def countAll(t: Array[Byte], find: (Array[Byte], Int) => Long): Long = {
    var c = 0L
    var m = find(t, 0)
    while (m >= 0) {
      c += 1
      val e = (m & 0xFFFFFFFFL).toInt
      m = if (e >= t.length) -1L else find(t, e)
    }
    c
  }

  private val EmailToken = "<EMAIL>".getBytes("UTF-8")
  private val IpToken = "<IP>".getBytes("UTF-8")
  private val PhoneToken = "<PHONE>".getBytes("UTF-8")

  def piiRedact(s: UTF8String): InternalRow = {
    val t = s.getBytes
    // counts are over the ORIGINAL text (regexp_count semantics) …
    val nIps = countAll(t, findIpv4)
    val nPhones = countAll(t, findPhone)
    // … while redaction is sequential (regexp_replace composition)
    val (t1, nEmails) = replaceAll(t, findEmail, EmailToken)
    val (t2, _) = replaceAll(t1, findIpv4, IpToken)
    val (t3, _) = replaceAll(t2, findPhone, PhoneToken)
    new GenericInternalRow(Array[Any](nEmails, nIps, nPhones,
      UTF8String.fromBytes(t3)))
  }

  private val md5TL: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def md5Hash32(s: UTF8String): Long = {
    val md = md5TL.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }
}

private[functions] trait TextKernelUnary extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }
}

/** trim∘collapse∘strip∘lower fingerprint normalization, one pass. */
case class NormalizeTextExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_text"
  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
  override def nullSafeEval(a: Any): Any =
    TextKernel.normalize(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.normalize($c)")
}

/** All quality/lang-ID counts as one struct, one pass. */
case class TextFeaturesExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = TextKernel.FeaturesType
  override def prettyName: String = "graft_text_features"
  override protected def withNewChildInternal(newChild: Expression): TextFeaturesExpr =
    copy(child = newChild)
  override def nullSafeEval(a: Any): Any =
    TextKernel.features(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.features($c)")
}

/** xxhash64 images of word 3-gram shingles, one pass (no string/array
  * materialization — see TextKernel.shingleHashes).
  */
case class ShingleHashesExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
  override def nullSafeEval(a: Any): Any =
    TextKernel.shingleHashes(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.shingleHashes($c)")
}

/** BPE-ish pre-tokenization count, one pass. */
case class BpeTokenCountExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountExpr =
    copy(child = newChild)
  override def nullSafeEval(a: Any): Any =
    TextKernel.bpeTokenCount(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.bpeTokenCount($c)")
}

/** 32-bin packed char-class histogram (see TextKernel.charClassSig). */
case class CharClassSigExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_class_sig"
  override protected def withNewChildInternal(newChild: Expression): CharClassSigExpr =
    copy(child = newChild)
  override def nullSafeEval(a: Any): Any =
    TextKernel.charClassSig(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.charClassSig($c)")
}

/** L1 distance between two packed char-class signatures (see
  * TextKernel.sigL1) — the count-filter predicate of the edit-distance
  * join, evaluated 10⁸+ times per sf10 run, so it must stay ONE static
  * call inside whole-stage codegen.
  */
case class SigL1Expr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sig_l1"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> signatures, got $other")
    }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigL1Expr =
    copy(left = newLeft, right = newRight)
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernel.sigL1(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernel.sigL1($a, $b)")
}

/** PII counts + sequentially-redacted text, byte-grain matchers (see
  * TextKernel.piiRedact — replaces six regex passes per document).
  */
case class PiiRedactExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = TextKernel.PiiType
  override def prettyName: String = "graft_pii_redact"
  override protected def withNewChildInternal(newChild: Expression): PiiRedactExpr =
    copy(child = newChild)
  override def nullSafeEval(a: Any): Any =
    TextKernel.piiRedact(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.piiRedact($c)")
}

/** 32-bit md5 prefix hash, digest-direct (see TextKernel.md5Hash32). */
case class Md5Hash32Expr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_hash32"
  override protected def withNewChildInternal(newChild: Expression): Md5Hash32Expr =
    copy(child = newChild)
  override def nullSafeEval(a: Any): Any =
    TextKernel.md5Hash32(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.md5Hash32($c)")
}
