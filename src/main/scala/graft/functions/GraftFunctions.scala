package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.functions._

/** Registration + Column-level helpers for graft's function surface
  * (reference scalar kernels, SURVEY.md §2.H). */
object GraftFunctions {

  /** Extract a required int-literal argument of a registered function
    * — one uniform error (NULL literal included) for every call site. */
  private def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
        if v != null => v.toString.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a non-null literal int, got $other")
  }

  /** Graft's Catalyst functions, name → builder: the SQL surface that
    * [[graft.sql.GraftExtensions]] injects into every session it
    * builds, and that [[register]] installs on one built without it. */
  val builders: Seq[(String, FunctionBuilder)] = Seq(
    ("inc_prefix", e => SuccessorString(e.head)),
    ("chunked_md5", e => ChunkedMd5(e(0), e(1)).toAggregateExpression()),
    ("rolling_hash", e => RollingHash(e.head)),
    ("ldot", e => LongArrayDot(e(0), e(1))),
    ("shingle_hashes",
      e => ShingleHashes(e(0), intLit(e(1), "shingle_hashes", "w"))),
    ("sorted_intersect_count", e => SortedIntersectCount(e(0), e(1))),
    ("simhash60", e => SimHash60(e.head)),
    ("nearest_cell", e => NearestCell(e(0), e(1))),
    ("pq_codes", e => PqCodes(e(0), e(1), intLit(e(2), "pq_codes", "m"))),
    ("pq_luts", e => PqLuts(e(0), e(1), intLit(e(2), "pq_luts", "m"))),
    ("adc_sum", e => AdcSum(e(0), e(1))),
    ("minhash_sig", e => MinhashSig(e(0), intLit(e(1), "minhash_sig", "k"))),
    ("char_grams", e => CharGrams(e(0), intLit(e(1), "char_grams", "minLen"),
      intLit(e(2), "char_grams", "maxLen"))),
    ("subword_tokens", { exprs =>
      // Accept ANY foldable array<string> vocab (a Literal, but also
      // e.g. array('ab','cd') from SQL, which analyzes as a foldable
      // CreateArray) by evaluating it when the call is resolved.
      val vocab = exprs(1) match {
        case e if e.foldable && (e.dataType match {
              case org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.StringType, _) => true
              case _ => false
            }) =>
          e.eval() match {
            case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
              arr.toObjectArray(org.apache.spark.sql.types.StringType)
                .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                  .toString).toSeq
            case _ => throw new IllegalArgumentException(
              "subword_tokens: vocab must not be null")
          }
        case other => throw new IllegalArgumentException(
          s"subword_tokens: vocab must be a foldable array<string>, got $other")
      }
      SubwordTokens(exprs(0), vocab)
    }),
    ("cdc_bounds", e => CdcBounds(e(0), intLit(e(1), "cdc_bounds", "w"),
      intLit(e(2), "cdc_bounds", "divisor"))),
    ("mmr_select", e => MmrSelect(e(0), intLit(e(1), "mmr_select", "k"))),
    ("kmv_mins", e => KmvSketch(e(0), intLit(e(1), "kmv_mins", "k"))
      .toAggregateExpression()),
    ("bounded_global_key", _ => BoundedGlobalKey()))

  /** Install [[builders]] on a session built without
    * [[graft.sql.GraftExtensions]]. Returns at once when the surface is
    * already there (every extension-built session), so a repeated call
    * never emits Spark's "replaced a previously registered function"
    * WARN. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(builders.last._1)))
      builders.foreach { case (name, b) =>
        reg.createOrReplaceTempFunction(name, b, "built-in")
      }
  }

  /** The constant-but-NOT-foldable declared-bounded window partition
    * key (see [[BoundedGlobalKey]]; used via
    * [[graft.operators.Rank.boundedGlobal]]). */
  def boundedGlobalKey(): Column = call_function("bounded_global_key")

  /** KMV cardinality sketch: the k smallest distinct values of a hash
    * column, sorted ascending (see [[KmvSketch]]). */
  def kmvMins(h: Column, k: Int): Column =
    call_function("kmv_mins", h, lit(k))

  /** Content-defined chunk boundary positions (see [[CdcBounds]]). */
  def cdcBounds(text: Column, w: Int, divisor: Int): Column =
    call_function("cdc_bounds", text, lit(w), lit(divisor))

  /** MMR diversification over a bounded candidate pool (see
    * [[MmrSelect]]). */
  def mmrSelect(cands: Column, k: Int): Column =
    call_function("mmr_select", cands, lit(k))

  /** Greedy longest-match subword tokenization of a word array against
    * a fixed vocabulary, embedded as a plan literal (see
    * [[SubwordTokens]]). */
  def subwordTokens(words: Column, vocab: Seq[String]): Column =
    call_function("subword_tokens", words, typedLit(vocab))

  /** One-pass 60-bit SimHash of a token array (see [[SimHash60]]). */
  def simhash60(tokens: Column): Column = call_function("simhash60", tokens)

  /** Sorted distinct w-gram shingle hashes (see [[ShingleHashes]]). */
  def shingleHashes(tokens: Column, w: Int): Column =
    call_function("shingle_hashes", tokens, lit(w))

  /** |a ∩ b| of sorted long arrays (see [[SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)

  /** Exact int64 array dot product (codegen'd; see [[LongArrayDot]]). */
  def ldot(a: Column, b: Column): Column = call_function("ldot", a, b)

  /** Nearest-centroid cid over a broadcast centroid struct array in one
    * allocation-free loop (see [[NearestCell]]). */
  def nearestCell(qv: Column, cents: Column): Column =
    call_function("nearest_cell", qv, cents)

  /** Product-quantization code array over a broadcast cid-sorted
    * codebook in one native loop (see [[PqCodes]]). */
  def pqCodes(v: Column, cb: Column, m: Int): Column =
    call_function("pq_codes", v, cb, lit(m))

  /** Per-subspace ADC lookup tables over a broadcast cid-sorted
    * codebook (see [[PqLuts]]). */
  def pqLuts(v: Column, cb: Column, m: Int): Column =
    call_function("pq_luts", v, cb, lit(m))

  /** Asymmetric-distance code-vs-LUT sum (see [[AdcSum]]). */
  def adcSum(codes: Column, luts: Column): Column =
    call_function("adc_sum", codes, luts)

  /** k-wide MinHash signature of a shingle-hash array (see
    * [[MinhashSig]]). */
  def minhashSig(hs: Column, k: Int): Column =
    call_function("minhash_sig", hs, lit(k))

  /** Character n-grams of a word, lengths in [minLen, maxLen] (see
    * [[CharGrams]]). */
  def charGrams(w: Column, minLen: Int, maxLen: Int): Column =
    call_function("char_grams", w, lit(minLen), lit(maxLen))

  /** Order-sensitive chunked MD5 aggregate as a Column (small-object
    * path; see [[ChunkedMd5]]). */
  def chunkedMd5(offset: Column, payload: Column): Column =
    call_function("chunked_md5", offset, payload)

  /** `inc_prefix` as a Column (see [[SuccessorString]]). */
  def incPrefix(c: Column): Column = call_function("inc_prefix", c)

  /** Regex-escape a user-supplied string for key-pattern building
    * (reference: util.clj:109-121 `string->pattern`). Escapes Java/RE2
    * metacharacters one-by-one (NOT `Pattern.quote`'s \Q…\E, which RE2 in
    * the DuckDB oracle does not support). */
  def quoteRegex(s: String): String =
    s.flatMap { c =>
      if ("\\.[]{}()*+-?^$|".indexOf(c) >= 0) s"\\$c" else c.toString
    }

  /** B1 pattern — direct-children keys: `^<prefix>[^<delim>]*$`
    * (meta.clj:199-208). Only meaningful for single-character
    * delimiters (the char class treats a longer delimiter as a set of
    * characters); [[graft.operators.Listing]] classifies with substring
    * ops instead and agrees with this pattern on single-char
    * delimiters. */
  def keyPattern(prefix: String, delim: String): String =
    s"^${quoteRegex(prefix)}[^${quoteRegex(delim)}]*$$"

  /** B2 pattern — first-level common prefix: `^(<prefix>[^<delim>]*<delim>).*$`
    * (meta.clj:210-222). */
  def prefixPattern(prefix: String, delim: String): String =
    s"^(${quoteRegex(prefix)}[^${quoteRegex(delim)}]*${quoteRegex(delim)}).*$$"

  private val Hex = "0123456789abcdef"

  /** Lowercase hex of raw bytes. */
  def hex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach { b =>
      sb.append(Hex.charAt((b >> 4) & 0xf)).append(Hex.charAt(b & 0xf))
    }
    sb.toString
  }

  /** HMAC-SHA256 → hex (sig v4 signing chain, reference sig4.clj:28-46). */
  def hmacSha256(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data)
  }

  /** HMAC-SHA1 → base64 (sig v2, reference sig.clj:40-45). */
  def hmacSha1Base64(key: String, data: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA1")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      key.getBytes("UTF-8"), "HmacSHA1"))
    java.util.Base64.getEncoder.encodeToString(
      mac.doFinal(data.getBytes("UTF-8")))
  }

  def sha256Hex(data: Array[Byte]): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(data))

  def md5Hex(data: Array[Byte]): String =
    hex(java.security.MessageDigest.getInstance("MD5").digest(data))

  /** Constant-time comparison for signature verification
    * (reference sig.clj:73 via `constance`). */
  def constantTimeEq(a: String, b: String): Boolean = {
    val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
    if (ab.length != bb.length) false
    else {
      var acc = 0
      var i = 0
      while (i < ab.length) { acc |= ab(i) ^ bb(i); i += 1 }
      acc == 0
    }
  }

  /** sig-v4 percent-encode: RFC 3986 unreserved kept, optionally `/` kept
    * for URI paths (reference sig4.clj:76-94). */
  def awsUriEncode(s: String, keepSlash: Boolean): String = {
    val sb = new StringBuilder
    s.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' ||
          c == '~' || (keepSlash && c == '/')) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** "128k"/"2G"-style size literal → bytes (reference util.clj:43-63). */
  def toBytes(s: String): Long = {
    val m = Pattern.compile("^(\\d+)\\s*([kKmMgGtT]?)[bB]?$").matcher(s.trim)
    require(m.matches(), s"invalid size literal: $s")
    val n = m.group(1).toLong
    m.group(2).toLowerCase match {
      case ""  => n
      case "k" => n << 10
      case "m" => n << 20
      case "g" => n << 30
      case "t" => n << 40
    }
  }

  /** `${filename}` interpolation in POST-form keys (util.clj:123-126). */
  def interpol(template: String, vars: Map[String, String]): String =
    vars.foldLeft(template) { case (acc, (k, v)) =>
      acc.replace("${" + k + "}", v)
    }
}
