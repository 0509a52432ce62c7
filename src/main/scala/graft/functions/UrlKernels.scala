package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass byte-scan kernels for the ClickHouse URL accessor family —
  * the r19 optimization of [[UrlFunctions]]. Each accessor used to be a
  * stack of 2–6 java.util.regex executions per row (q97 ran ~25 regex
  * passes per URL); each kernel here reproduces its exact composed-regex
  * semantics in a single scan over the UTF-8 bytes with no intermediate
  * strings (except the one result). `UrlKernelsSpec` pins every mode
  * bit-identical to the regex composition (kept as
  * [[UrlFunctions.ref]]) on a branch-covering corpus plus adversarial
  * shapes.
  *
  * Faithfulness notes (the regex warts are part of the contract — the
  * DuckDB oracles mirror them token-for-token):
  *   - `queryString` finds the FIRST `?` anywhere — including inside a
  *     fragment ("a#b?c" reads query "c"); kernels reproduce this.
  *   - Patterns using `.` or `$` (fragment, the `$`-anchored port/label
  *     strips, cutQueryStringAndFragment, cutFragment) have Java-regex
  *     line-terminator semantics (`.` excludes terminators, `$` also
  *     matches before a FINAL terminator). Inputs containing any of the
  *     five Java line terminators take a [[fallback]] through
  *     java.util.regex with the original patterns — bit-exact by
  *     construction, and never on the hot path for real URLs.
  *   - All structural characters are ASCII, so byte scanning is safe in
  *     UTF-8 (continuation bytes are ≥ 0x80 and never equal an ASCII
  *     byte).
  */
object UrlKernels {

  // accessor modes — plan-time constants baked into the generated call
  final val NETLOC = 0
  final val DOMAIN = 1
  final val DOMAIN_NO_WWW = 2
  final val CUT_WWW = 3
  final val TLD = 4
  final val FSD = 5
  final val CUT_TO_FSD = 6
  final val PATH = 7
  final val PATH_FULL = 8
  final val QUERY = 9
  final val FRAGMENT = 10
  final val CUT_QF = 11
  final val CUT_Q = 12
  final val CUT_F = 13
  final val PROTOCOL = 14
  final val SCHEME_PREFIX = 15

  private val EMPTY = UTF8String.EMPTY_UTF8

  @inline private def b(s: UTF8String, i: Int): Byte =
    Platform.getByte(s.getBaseObject, s.getBaseOffset + i)

  private def slice(s: UTF8String, from: Int, until: Int): UTF8String = {
    if (until <= from) return EMPTY
    val out = new Array[Byte](until - from)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from,
      out, Platform.BYTE_ARRAY_OFFSET, until - from)
    UTF8String.fromBytes(out)
  }

  /** Java line terminators (`.` / `$` semantics): \n \r U+0085 U+2028
    * U+2029 — as UTF-8 byte patterns.
    */
  private def hasLineTerm(s: UTF8String): Boolean = {
    val len = s.numBytes
    var i = 0
    while (i < len) {
      val c = b(s, i)
      if (c == 0x0A || c == 0x0D) return true
      if (c == 0xC2.toByte && i + 1 < len && b(s, i + 1) == 0x85.toByte)
        return true
      if (c == 0xE2.toByte && i + 2 < len && b(s, i + 1) == 0x80.toByte &&
        (b(s, i + 2) == 0xA8.toByte || b(s, i + 2) == 0xA9.toByte))
        return true
      i += 1
    }
    false
  }

  @inline private def isAlpha(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  /** `[a-zA-Z0-9+.-]` — the scheme tail class. */
  @inline private def isSchemeChar(c: Byte): Boolean =
    isAlpha(c) || isDigit(c) || c == '+' || c == '.' || c == '-'
  /** `[a-zA-Z0-9-]` — the host label class. */
  @inline private def isLabelChar(c: Byte): Boolean =
    isAlpha(c) || isDigit(c) || c == '-'

  /** End of `scheme://` (byte index just past the second slash), or 0
    * when the optional scheme is absent. Deterministic: the class
    * excludes ':' and '/', so the greedy run has no backtracking.
    */
  private def schemeEnd(s: UTF8String): Int = {
    val len = s.numBytes
    if (len == 0 || !isAlpha(b(s, 0))) return 0
    var i = 1
    while (i < len && isSchemeChar(b(s, i))) i += 1
    if (i + 2 < len && b(s, i) == ':' && b(s, i + 1) == '/' && b(s, i + 2) == '/')
      i + 3
    else if (i + 2 == len && b(s, i) == ':' && b(s, i + 1) == '/') 0 // ":/" only
    else 0
  }

  /** First index ≥ from of '/', '?' or '#' (end of `[^/?#]*`). */
  private def authEnd(s: UTF8String, from: Int): Int = {
    val len = s.numBytes
    var i = from
    while (i < len && { val c = b(s, i); c != '/' && c != '?' && c != '#' }) i += 1
    i
  }

  /** Host span within [a, b): strip `^[^@]*@` (through the FIRST '@')
    * then `:[0-9]+$`. Returns packed (start << 32) | end.
    */
  private def hostSpan(s: UTF8String, a0: Int, b0: Int): Long = {
    var a = a0
    var e = b0
    var i = a
    while (i < e && b(s, i) != '@') i += 1
    if (i < e) a = i + 1 // '@' found: strip userinfo
    // ":[0-9]+$" — ≥1 trailing digits preceded by ':'
    var k = e
    while (k - 1 >= a && isDigit(b(s, k - 1))) k -= 1
    if (k < e && k - 1 >= a && b(s, k - 1) == ':') e = k - 1
    (a.toLong << 32) | (e.toLong & 0xFFFFFFFFL)
  }

  /** `^[0-9.]+$` over the span. */
  private def isNumericHost(s: UTF8String, a: Int, e: Int): Boolean = {
    if (e <= a) return false
    var i = a
    while (i < e) {
      val c = b(s, i)
      if (!isDigit(c) && c != '.') return false
      i += 1
    }
    true
  }

  /** Multi-part-suffix match at the END of host span [a, e): returns the
    * start index of the GROUP run (`([a-zA-Z0-9-]+)` before
    * `.(co|com|org|net|gov|edu|ac).[a-zA-Z]{2}$`), the index just past
    * the group as runEnd via the packed long, or -1 when no match.
    * Packed (runStart << 32) | runEnd.
    */
  private def multiSuffix(s: UTF8String, a: Int, e: Int): Long = {
    // "...<run>.<kw>.<cc>$" with cc two letters
    if (e - a < 7) return -1L // minimal: x.co.uk has 7 chars
    if (!isAlpha(b(s, e - 1)) || !isAlpha(b(s, e - 2))) return -1L
    if (e - 3 < a || b(s, e - 3) != '.') return -1L
    val kwEnd = e - 3
    // keyword candidates: 2-char (co, ac) or 3-char (com, org, net, gov, edu)
    var kwStart = -1
    if (kwEnd - 2 >= a + 2 && b(s, kwEnd - 3) == '.' && isKw2(s, kwEnd - 2))
      kwStart = kwEnd - 2
    if (kwStart < 0 && kwEnd - 3 >= a + 2 && b(s, kwEnd - 4) == '.' &&
      isKw3(s, kwEnd - 3))
      kwStart = kwEnd - 3
    if (kwStart < 0) return -1L
    val runEnd = kwStart - 1 // index of the '.' before kw
    var runStart = runEnd
    while (runStart - 1 >= a && isLabelChar(b(s, runStart - 1))) runStart -= 1
    if (runStart == runEnd) -1L
    else (runStart.toLong << 32) | (runEnd.toLong & 0xFFFFFFFFL)
  }

  @inline private def isKw2(s: UTF8String, i: Int): Boolean = {
    val c0 = b(s, i); val c1 = b(s, i + 1)
    (c0 == 'c' && c1 == 'o') || (c0 == 'a' && c1 == 'c')
  }
  @inline private def isKw3(s: UTF8String, i: Int): Boolean = {
    val c0 = b(s, i); val c1 = b(s, i + 1); val c2 = b(s, i + 2)
    (c0 == 'c' && c1 == 'o' && c2 == 'm') ||
    (c0 == 'o' && c1 == 'r' && c2 == 'g') ||
    (c0 == 'n' && c1 == 'e' && c2 == 't') ||
    (c0 == 'g' && c1 == 'o' && c2 == 'v') ||
    (c0 == 'e' && c1 == 'd' && c2 == 'u')
  }

  /** Last-label span: `\.([a-zA-Z0-9-]+)$` group over [a, e), packed
    * (labelStart << 32) | e, or -1 when no match (no dot / empty label /
    * trailing non-label char).
    */
  private def lastLabel(s: UTF8String, a: Int, e: Int): Long = {
    var k = e
    while (k - 1 >= a && isLabelChar(b(s, k - 1))) k -= 1
    if (k == e) return -1L // empty run (trailing char not in class)
    if (k - 1 >= a && b(s, k - 1) == '.') (k.toLong << 32) | (e.toLong & 0xFFFFFFFFL)
    else -1L
  }

  /** Second-last-label span: `([a-zA-Z0-9-]+)\.[a-zA-Z0-9-]+$` group,
    * packed (runStart << 32) | runEnd, or -1.
    */
  private def secondLastLabel(s: UTF8String, a: Int, e: Int): Long = {
    val ll = lastLabel(s, a, e)
    if (ll < 0) return -1L
    val labelStart = (ll >>> 32).toInt
    val runEnd = labelStart - 1 // the '.' index
    var runStart = runEnd
    while (runStart - 1 >= a && isLabelChar(b(s, runStart - 1))) runStart -= 1
    if (runStart == runEnd) -1L
    else (runStart.toLong << 32) | (runEnd.toLong & 0xFFFFFFFFL)
  }

  /** The single public entry: accessor `mode` over `url`. */
  def extract(s: UTF8String, mode: Int): UTF8String = {
    if (hasLineTerm(s)) return fallback(s, mode)
    val len = s.numBytes
    val se = schemeEnd(s)
    mode match {
      case NETLOC => slice(s, se, authEnd(s, se))
      case DOMAIN =>
        val ae = authEnd(s, se)
        val hs = hostSpan(s, se, ae)
        slice(s, (hs >>> 32).toInt, hs.toInt)
      case DOMAIN_NO_WWW =>
        val ae = authEnd(s, se)
        val hs = hostSpan(s, se, ae)
        var a = (hs >>> 32).toInt
        val e = hs.toInt
        if (e - a >= 4 && b(s, a) == 'w' && b(s, a + 1) == 'w' &&
          b(s, a + 2) == 'w' && b(s, a + 3) == '.') a += 4
        slice(s, a, e)
      case CUT_WWW =>
        // "^((?:scheme://)?(?:[^/?#@]*@)?)www\." → "$1": try with
        // userinfo, then without (regex backtracking order)
        var cut = -1
        var i = se
        while (i < len && { val c = b(s, i)
          c != '/' && c != '?' && c != '#' && c != '@' }) i += 1
        if (i < len && b(s, i) == '@' && startsWww(s, i + 1)) cut = i + 1
        if (cut < 0 && startsWww(s, se)) cut = se
        // regex backtracking's last resort: the OPTIONAL scheme group
        // unmatched — only reachable when the scheme itself starts
        // "www." (e.g. "www.x://y"); a no-scheme userinfo match is
        // impossible then ('@' cannot occur before the scheme's "//")
        if (cut < 0 && se > 0 && startsWww(s, 0)) cut = 0
        if (cut < 0) s
        else {
          val out = new Array[Byte](len - 4)
          Platform.copyMemory(s.getBaseObject, s.getBaseOffset,
            out, Platform.BYTE_ARRAY_OFFSET, cut)
          Platform.copyMemory(s.getBaseObject, s.getBaseOffset + cut + 4,
            out, Platform.BYTE_ARRAY_OFFSET + cut, len - cut - 4)
          UTF8String.fromBytes(out)
        }
      case TLD =>
        val ae = authEnd(s, se)
        val hs = hostSpan(s, se, ae)
        val a = (hs >>> 32).toInt; val e = hs.toInt
        if (isNumericHost(s, a, e)) EMPTY
        else {
          val ll = lastLabel(s, a, e)
          if (ll < 0) EMPTY else slice(s, (ll >>> 32).toInt, ll.toInt)
        }
      case FSD =>
        val ae = authEnd(s, se)
        val hs = hostSpan(s, se, ae)
        val a = (hs >>> 32).toInt; val e = hs.toInt
        if (isNumericHost(s, a, e)) EMPTY
        else {
          val m = multiSuffix(s, a, e)
          if (m >= 0) slice(s, (m >>> 32).toInt, m.toInt)
          else {
            val p = secondLastLabel(s, a, e)
            if (p >= 0) slice(s, (p >>> 32).toInt, p.toInt)
            else slice(s, a, e)
          }
        }
      case CUT_TO_FSD =>
        val ae = authEnd(s, se)
        val hs = hostSpan(s, se, ae)
        val a = (hs >>> 32).toInt; val e = hs.toInt
        if (isNumericHost(s, a, e)) EMPTY
        else {
          val m = multiSuffix(s, a, e)
          if (m >= 0) slice(s, (m >>> 32).toInt, e) // run + suffix to end
          else {
            val p = secondLastLabel(s, a, e)
            if (p >= 0) slice(s, (p >>> 32).toInt, e) // last two labels
            else EMPTY
          }
        }
      case PATH =>
        val ae = authEnd(s, se)
        var i = ae
        while (i < len && { val c = b(s, i); c != '?' && c != '#' }) i += 1
        if (i == ae) UTF8String.fromString("/") else slice(s, ae, i)
      case PATH_FULL =>
        val ae = authEnd(s, se)
        var i = ae
        while (i < len && b(s, i) != '#') i += 1
        if (i == ae) UTF8String.fromString("/") else slice(s, ae, i)
      case QUERY =>
        var q = 0
        while (q < len && b(s, q) != '?') q += 1
        if (q == len) EMPTY
        else {
          var i = q + 1
          while (i < len && b(s, i) != '#') i += 1
          slice(s, q + 1, i)
        }
      case FRAGMENT =>
        var f = 0
        while (f < len && b(s, f) != '#') f += 1
        if (f == len) EMPTY else slice(s, f + 1, len)
      case CUT_QF =>
        var i = 0
        while (i < len && { val c = b(s, i); c != '?' && c != '#' }) i += 1
        if (i == len) s else slice(s, 0, i)
      case CUT_Q =>
        // regexp_replace(url, "\\?[^#]*", "") — removes EVERY ?-span
        // (until '#' or end); fragment kept
        var n = 0
        var i = 0
        while (i < len) {
          if (b(s, i) == '?') { i += 1; while (i < len && b(s, i) != '#') i += 1 }
          else { n += 1; i += 1 }
        }
        if (n == len) s
        else {
          val out = new Array[Byte](n)
          var o = 0; i = 0
          while (i < len) {
            if (b(s, i) == '?') { i += 1; while (i < len && b(s, i) != '#') i += 1 }
            else { out(o) = b(s, i); o += 1; i += 1 }
          }
          UTF8String.fromBytes(out)
        }
      case CUT_F =>
        var f = 0
        while (f < len && b(s, f) != '#') f += 1
        if (f == len) s else slice(s, 0, f)
      case PROTOCOL =>
        if (se == 0) EMPTY else slice(s, 0, se - 3)
      case SCHEME_PREFIX =>
        slice(s, 0, authEnd(s, se))
      case _ =>
        throw new IllegalArgumentException(s"unknown url accessor mode $mode")
    }
  }

  @inline private def startsWww(s: UTF8String, i: Int): Boolean =
    i + 4 <= s.numBytes && b(s, i) == 'w' && b(s, i + 1) == 'w' &&
      b(s, i + 2) == 'w' && b(s, i + 3) == '.'

  /** `extractURLParameter(url, name)`: value of the first `name=` pair in
    * the query string — `(?:^|&)name=([^&]*)` over [[QUERY]]'s result.
    * `nameBytes` is the plan-time-validated `[A-Za-z0-9_]+` name.
    */
  def extractParam(s: UTF8String, nameBytes: Array[Byte]): UTF8String = {
    if (hasLineTerm(s)) return fallbackParam(s, nameBytes)
    val len = s.numBytes
    var q = 0
    while (q < len && b(s, q) != '?') q += 1
    if (q == len) return EMPTY
    var qe = q + 1
    while (qe < len && b(s, qe) != '#') qe += 1
    // candidates: q+1 and after each '&'
    var p = q + 1
    val nl = nameBytes.length
    while (p <= qe - nl - 1) {
      var ok = true
      var j = 0
      while (ok && j < nl) { if (b(s, p + j) != nameBytes(j)) ok = false; j += 1 }
      if (ok && b(s, p + nl) == '=') {
        var v = p + nl + 1
        while (v < qe && b(s, v) != '&') v += 1
        return slice(s, p + nl + 1, v)
      }
      // advance to just past the next '&'
      var k = p
      while (k < qe && b(s, k) != '&') k += 1
      if (k >= qe) return EMPTY
      p = k + 1
    }
    EMPTY
  }

  /** `TextAnalysis.canonicalizeUrl`'s full normalization as ONE pass —
    * the r19 kernel behind t28/t29 (and `graft_canonicalize_url`):
    * fragment stripped, scheme/host lowercased, default :80/:443 port
    * dropped, trailing path slashes collapsed ('' path → '/'), tracking
    * params removed, surviving query params sorted (UTF8String binary
    * order — `array_sort`'s StringType ordering), rejoined. Bit-identical
    * to the r15 regex composition (kept as
    * `TextAnalysis.canonicalizeUrlRef`, spec-pinned); line-terminator
    * inputs take the exact-regex [[fallbackCanonicalize]].
    */
  def canonicalize(raw: UTF8String): UTF8String = {
    val s = raw.trim() // composed form: trim(url) — spaces only
    if (hasLineTerm(s)) return fallbackCanonicalize(s)
    val len0 = s.numBytes
    // noFrag: up to the first '#'
    var len = 0
    while (len < len0 && b(s, len) != '#') len += 1
    val se = schemeEndBounded(s, len)
    // scheme, ASCII-lowercased (the regex guarantees ASCII)
    val schemeLen = if (se == 0) 0 else se - 3
    // host span: [se, first '/' or '?')
    var he = se
    while (he < len && { val c = b(s, he); c != '/' && c != '?' }) he += 1
    val hostU = slice(s, se, he)
    val host = hostU.toLowerCase
    // ":(80|443)$" — literal suffixes only
    val hb = host.numBytes
    val hostEnd =
      if (hb >= 3 && b(host, hb - 3) == ':' && b(host, hb - 2) == '8' &&
        b(host, hb - 1) == '0') hb - 3
      else if (hb >= 4 && b(host, hb - 4) == ':' && b(host, hb - 3) == '4' &&
        b(host, hb - 2) == '4' && b(host, hb - 1) == '3') hb - 4
      else hb
    // raw path: [he, first '?'), trailing '/'-run stripped
    var qpos = he
    while (qpos < len && b(s, qpos) != '?') qpos += 1
    var pe = qpos
    while (pe > he && b(s, pe - 1) == '/') pe -= 1
    val pathEmpty = pe == he
    // query params: split on '&', drop empties + tracking, sort
    val params = new java.util.ArrayList[Array[Byte]]()
    if (qpos < len) {
      var p = qpos + 1
      while (p <= len) {
        var q = p
        while (q < len && b(s, q) != '&') q += 1
        if (q > p) {
          val pb = new Array[Byte](q - p)
          Platform.copyMemory(s.getBaseObject, s.getBaseOffset + p,
            pb, Platform.BYTE_ARRAY_OFFSET, q - p)
          if (!isTrackingParam(pb)) params.add(pb)
        }
        p = q + 1
      }
    }
    params.sort { (a: Array[Byte], bb: Array[Byte]) =>
      // UTF8String.compareTo: unsigned byte-wise, then by length
      var i = 0
      val m = math.min(a.length, bb.length)
      var r = 0
      while (r == 0 && i < m) {
        r = (a(i) & 0xFF) - (bb(i) & 0xFF)
        i += 1
      }
      if (r != 0) r else a.length - bb.length
    }
    // assemble: scheme + "://" + host + path + ("?" + q)?
    var qBytes = 0
    var i = 0
    while (i < params.size) { qBytes += params.get(i).length + 1; i += 1 }
    // qBytes counts a leading '?' then '&'-separators: size+ when non-empty
    val pathLen = if (pathEmpty) 1 else pe - he
    val outLen = schemeLen + 3 + hostEnd + pathLen +
      (if (params.isEmpty) 0 else qBytes)
    val out = new Array[Byte](outLen)
    var o = 0
    i = 0
    while (i < schemeLen) { // ASCII lowercase
      val c = b(s, i)
      out(o) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      o += 1; i += 1
    }
    out(o) = ':'; out(o + 1) = '/'; out(o + 2) = '/'; o += 3
    Platform.copyMemory(host.getBaseObject, host.getBaseOffset,
      out, Platform.BYTE_ARRAY_OFFSET + o, hostEnd)
    o += hostEnd
    if (pathEmpty) { out(o) = '/'; o += 1 }
    else {
      Platform.copyMemory(s.getBaseObject, s.getBaseOffset + he,
        out, Platform.BYTE_ARRAY_OFFSET + o, pe - he)
      o += pe - he
    }
    i = 0
    while (i < params.size) {
      out(o) = if (i == 0) '?' else '&'
      o += 1
      val pb = params.get(i)
      System.arraycopy(pb, 0, out, o, pb.length)
      o += pb.length
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** [[schemeEnd]] against an explicit byte bound (the '#'-truncated
    * view) instead of numBytes.
    */
  private def schemeEndBounded(s: UTF8String, len: Int): Int = {
    if (len == 0 || !isAlpha(b(s, 0))) return 0
    var i = 1
    while (i < len && isSchemeChar(b(s, i))) i += 1
    if (i + 2 < len && b(s, i) == ':' && b(s, i + 1) == '/' && b(s, i + 2) == '/')
      i + 3
    else 0
  }

  /** `^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)=` as a prefix test. */
  private def isTrackingParam(p: Array[Byte]): Boolean = {
    def lit(w: String): Boolean = {
      if (p.length < w.length + 1) return false
      var i = 0
      while (i < w.length) { if (p(i) != w.charAt(i).toByte) return false; i += 1 }
      p(w.length) == '='
    }
    if (p.length > 4 && p(0) == 'u' && p(1) == 't' && p(2) == 'm' && p(3) == '_') {
      var i = 4
      while (i < p.length && {
        val c = p(i); (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') }) i += 1
      i > 4 && i < p.length && p(i) == '='
    } else lit("fbclid") || lit("gclid") || lit("msclkid") || lit("ref")
  }

  /** The canonicalization expression behind
    * `TextAnalysis.canonicalizeUrl` / `graft_canonicalize_url`.
    */
  case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "graft_canonicalize_url"

    override def nullSafeEval(input: Any): Any =
      canonicalize(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.UrlKernels.canonicalize($s);")

    override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl =
      copy(child = newChild)
  }

  // ---- exact-regex fallback (inputs with Java line terminators) --------

  private val SchemeRe = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?"
  import java.util.regex.Pattern
  private lazy val pNetloc = Pattern.compile(SchemeRe + "([^/?#]*)")
  private lazy val pUser = Pattern.compile("^[^@]*@")
  private lazy val pPort = Pattern.compile(":[0-9]+$")
  private lazy val pWwwHost = Pattern.compile("^www\\.")
  private lazy val pCutWww =
    Pattern.compile("^((?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?)www\\.")
  private lazy val pNumHost = Pattern.compile("^[0-9.]+$")
  private lazy val pTld = Pattern.compile("\\.([a-zA-Z0-9-]+)$")
  private lazy val pFsdMulti =
    Pattern.compile("([a-zA-Z0-9-]+)\\.(?:co|com|org|net|gov|edu|ac)\\.[a-zA-Z]{2}$")
  private lazy val pFsdPlain = Pattern.compile("([a-zA-Z0-9-]+)\\.[a-zA-Z0-9-]+$")
  private lazy val pCutMulti =
    Pattern.compile("([a-zA-Z0-9-]+\\.(?:co|com|org|net|gov|edu|ac)\\.[a-zA-Z]{2})$")
  private lazy val pCutPlain = Pattern.compile("([a-zA-Z0-9-]+\\.[a-zA-Z0-9-]+)$")
  private lazy val pPath = Pattern.compile(SchemeRe + "[^/?#]*([^?#]*)")
  private lazy val pPathFull = Pattern.compile(SchemeRe + "[^/?#]*([^#]*)")
  private lazy val pQuery = Pattern.compile("\\?([^#]*)")
  private lazy val pFrag = Pattern.compile("#(.*)$")
  private lazy val pCutQF = Pattern.compile("[?#].*$")
  private lazy val pCutQ = Pattern.compile("\\?[^#]*")
  private lazy val pCutF = Pattern.compile("#.*$")
  private lazy val pProto = Pattern.compile("^([a-zA-Z][a-zA-Z0-9+.-]*)://")
  private lazy val pPrefix =
    Pattern.compile("^((?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*)")

  private def ext(p: Pattern, in: String): String = {
    val m = p.matcher(in)
    if (m.find()) { val g = m.group(1); if (g == null) "" else g } else ""
  }

  private def fallbackDomain(in: String): String =
    pPort.matcher(pUser.matcher(ext(pNetloc, in)).replaceAll(""))
      .replaceAll("")

  private def fallback(s: UTF8String, mode: Int): UTF8String = {
    val in = s.toString
    val out: String = mode match {
      case NETLOC => ext(pNetloc, in)
      case DOMAIN => fallbackDomain(in)
      case DOMAIN_NO_WWW =>
        pWwwHost.matcher(fallbackDomain(in)).replaceAll("")
      case CUT_WWW => pCutWww.matcher(in).replaceAll("$1")
      case TLD =>
        val h = fallbackDomain(in)
        if (pNumHost.matcher(h).find()) "" else ext(pTld, h)
      case FSD =>
        val h = fallbackDomain(in)
        if (pNumHost.matcher(h).find()) ""
        else {
          val multi = ext(pFsdMulti, h)
          if (multi != "") multi
          else { val plain = ext(pFsdPlain, h); if (plain != "") plain else h }
        }
      case CUT_TO_FSD =>
        val h = fallbackDomain(in)
        if (pNumHost.matcher(h).find()) ""
        else {
          val multi = ext(pCutMulti, h)
          if (multi != "") multi else ext(pCutPlain, h)
        }
      case PATH => val p = ext(pPath, in); if (p == "") "/" else p
      case PATH_FULL => val p = ext(pPathFull, in); if (p == "") "/" else p
      case QUERY => ext(pQuery, in)
      case FRAGMENT => ext(pFrag, in)
      case CUT_QF => pCutQF.matcher(in).replaceAll("")
      case CUT_Q => pCutQ.matcher(in).replaceAll("")
      case CUT_F => pCutF.matcher(in).replaceAll("")
      case PROTOCOL => ext(pProto, in)
      case SCHEME_PREFIX => ext(pPrefix, in)
      case _ => throw new IllegalArgumentException(s"unknown mode $mode")
    }
    UTF8String.fromString(out)
  }

  private lazy val pSchemeCanon = Pattern.compile("^([a-zA-Z][a-zA-Z0-9+.-]*)://")
  private lazy val pSchemeStrip = Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.-]*://")
  private lazy val pHostCanon = Pattern.compile("^([^/?]*)")
  private lazy val pHostStrip = Pattern.compile("^[^/?]*")
  private lazy val pDefPort = Pattern.compile(":(80|443)$")
  private lazy val pRawPath = Pattern.compile("^([^?]*)")
  private lazy val pTrailSlash = Pattern.compile("/+$")
  private lazy val pQueryAll = Pattern.compile("\\?(.*)$")
  private lazy val pTracking =
    Pattern.compile("^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)=")

  /** Exact-regex replication of the composed canonicalizeUrl for inputs
    * with Java line terminators (`.`/`$` warts) — `in` is already
    * trimmed.
    */
  private def fallbackCanonicalize(s: UTF8String): UTF8String = {
    val in = s.toString
    val noFrag = pCutF.matcher(in).replaceAll("")
    val scheme = ext(pSchemeCanon, noFrag).toLowerCase(java.util.Locale.ROOT)
    val rest = pSchemeStrip.matcher(noFrag).replaceAll("")
    val host = pDefPort.matcher(
      UTF8String.fromString(ext(pHostCanon, rest)).toLowerCase.toString)
      .replaceAll("")
    val pathQ = pHostStrip.matcher(rest).replaceAll("")
    val rawPath = pTrailSlash.matcher(ext(pRawPath, pathQ)).replaceAll("")
    val path = if (rawPath.isEmpty) "/" else rawPath
    val query = ext(pQueryAll, pathQ)
    val params = query.split("&", -1).toSeq
      .filter(p => p.nonEmpty && !pTracking.matcher(p).find())
      .map(UTF8String.fromString)
      .sorted(Ordering.comparatorToOrdering(
        java.util.Comparator.naturalOrder[UTF8String]()))
    val q = params.map(_.toString).mkString("&")
    UTF8String.fromString(
      scheme + "://" + host + path + (if (q.isEmpty) "" else "?" + q))
  }

  private def fallbackParam(s: UTF8String, nameBytes: Array[Byte]): UTF8String = {
    val qs = ext(pQuery, s.toString)
    val name = new String(nameBytes, "UTF-8")
    val p = Pattern.compile("(?:^|&)" + name + "=([^&]*)")
    UTF8String.fromString(ext(p, qs))
  }

  /** The accessor expression: `mode` is a plan-time constant, the call
    * codegens to one static invocation. Output is never null for a
    * non-null input (regexp_extract/replace semantics).
    */
  case class UrlExtract(child: Expression, mode: Int) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def prettyName: String = s"url_extract_$mode"

    override def nullSafeEval(input: Any): Any =
      extract(input.asInstanceOf[UTF8String], mode)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.UrlKernels.extract($s, $mode);")

    override protected def withNewChildInternal(newChild: Expression): UrlExtract =
      copy(child = newChild)
  }

  /** `extractURLParameter` with a plan-time literal name. */
  case class UrlExtractParam(child: Expression, name: String)
      extends UnaryExpression {
    require(name.matches("[A-Za-z0-9_]+"),
      s"parameter name must be [A-Za-z0-9_]+, got '$name'")
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "url_extract_param"

    @transient private lazy val nameBytes: Array[Byte] = name.getBytes("UTF-8")

    override def nullSafeEval(input: Any): Any =
      extractParam(input.asInstanceOf[UTF8String], nameBytes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val nb = ctx.addReferenceObj("urlParamName", nameBytes, "byte[]")
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.UrlKernels.extractParam($s, $nb);")
    }

    override protected def withNewChildInternal(newChild: Expression): UrlExtractParam =
      copy(child = newChild)
  }
}
