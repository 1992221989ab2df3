package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot loops Spark's built-in
  * higher-order functions evaluate interpretively (SURVEY §2b "reserved"
  * row): pairwise quantized dot products, MinHash signatures, SimHash.
  * Each is semantically identical to a composed-built-ins formulation
  * (locked by GraftFunctionsSpec) but runs as one tight JVM loop per row
  * instead of an interpreted lambda tree per element.
  */

/** Exact dot product of two ARRAY<BIGINT> vectors. Codegen'd — stays
  * inside whole-stage codegen in pairwise-join hot paths. NULL when the
  * lengths differ or any element is null, matching the
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)`
  * spec (zip_with pads the shorter side with null; null poisons the sum).
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
          long $s = 0L;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $s += $a.getLong($i) * $b.getLong($i);
          }
          if (!${ev.isNull}) { ${ev.value} = $s; }
        }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** PQ asymmetric-distance lookup sum: `flat` is a space-major flat table
  * (spaces × k entries — for ADC, entry (s, c) holds the query's dot with
  * sub-centroid c of subspace s), `codes` one code per space; result is
  * Σ_s flat[s·k + codes[s]] — the 4-lookup pair score that replaces
  * re-dotting a 64-dim reconstruction (k = flat.length / codes.length).
  * NULL on ragged input or an out-of-range code. Integer adds commute, so
  * the sum equals `quantized_dot(query, reconstruction)` bit-for-bit —
  * the oracle mirrors it with the reconstruction dot.
  * Semantics spec-locked to the aggregate-lambda twin in
  * GraftFunctionsSpec. */
case class PqAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val flat = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val ns = codes.numElements()
    if (ns == 0 || flat.numElements() % ns != 0) return null
    val k = flat.numElements() / ns
    var s = 0L
    var i = 0
    while (i < ns) {
      if (codes.isNullAt(i)) return null
      val c = codes.getLong(i)
      if (c < 0 || c >= k) return null
      val j = i * k + c.toInt
      if (flat.isNullAt(j)) return null
      s += flat.getLong(j)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val ns = ctx.freshName("ns")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      s"""
        int $ns = $b.numElements();
        if ($ns == 0 || $a.numElements() % $ns != 0) { ${ev.isNull} = true; } else {
          int $k = $a.numElements() / $ns;
          long $s = 0L;
          for (int $i = 0; $i < $ns; $i++) {
            if ($b.isNullAt($i)) { ${ev.isNull} = true; break; }
            long $c = $b.getLong($i);
            if ($c < 0 || $c >= $k) { ${ev.isNull} = true; break; }
            int $j = $i * $k + (int) $c;
            if ($a.isNullAt($j)) { ${ev.isNull} = true; break; }
            $s += $a.getLong($j);
          }
          if (!${ev.isNull}) { ${ev.value} = $s; }
        }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Md5Pool {
  private val tl = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  def digest(bytes: Array[Byte]): Array[Byte] = {
    val md = tl.get(); md.reset(); md.digest(bytes)
  }
  /** md5(prefix ++ body) without materializing the concatenation — the
    * per-(hash, gram) allocation in the MinHash inner loop (r13, guide
    * §1.2 step 2 "per-task work"): UTF-8 of a string concat IS the
    * concat of the UTF-8 encodings, so two update calls hash the
    * identical bytes the old `(prefix + gram).getBytes` form did. */
  def digest2(prefix: Array[Byte], body: Array[Byte]): Array[Byte] = {
    val md = tl.get(); md.reset(); md.update(prefix); md.digest(body)
  }
}

/** MinHash signature of an ARRAY<STRING> shingle set: element j is
  * min over shingles of md5(j || '|' || shingle) as lowercase hex.
  * Byte-wise unsigned comparison == hex-string comparison (hex encoding
  * is order-preserving), so mins are tracked on raw digests and hex-
  * encoded once at the end. Semantically identical to
  * Dedup.minhashSigExpr; ~20x faster (no interpreted lambda per hash). */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes >= 1, s"minhash_sig: numHashes must be >= 1, got $numHashes")
  override def dataType: DataType = ArrayType(StringType)

  override def nullSafeEval(v: Any): Any = {
    val mins = MinHashCore.rawSig(v.asInstanceOf[ArrayData], numHashes)
    new GenericArrayData(mins.map(m =>
      if (m == null) null else UTF8String.fromBytes(WordGramMd5.hex(m))))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shared raw-digest MinHash fold (r13, guide §1.2 step 2): the inner
  * loop of MinHashSig AND MinHashBands. Two allocation disciplines over
  * the r12 form, output-identical (GraftFunctionsSpec lambda-twin lock):
  * each gram's UTF-8 bytes are fetched ONCE from the UTF8String (raw
  * bytes — no decode-to-String + re-encode per (hash, gram)), and the
  * `"j|"` prefixes are hashed via a second digest update instead of a
  * per-call string concat. Mins compare on raw 16-byte digests
  * (byte-unsigned order == hex-string order). */
object MinHashCore {
  /** prefixes("j|") for j < 64 — covers every shipped numHashes (32). */
  private val Prefixes: Array[Array[Byte]] =
    Array.tabulate(64)(j => (j.toString + "|").getBytes("UTF-8"))

  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  def rawSig(grams: ArrayData, numHashes: Int): Array[Array[Byte]] = {
    val prefixes =
      if (numHashes <= Prefixes.length) Prefixes
      else Array.tabulate(numHashes)(j => (j.toString + "|").getBytes("UTF-8"))
    val n = grams.numElements()
    val mins = new Array[Array[Byte]](numHashes)
    var g = 0
    while (g < n) {
      val gramBytes = grams.getUTF8String(g).getBytes
      var j = 0
      while (j < numHashes) {
        val d = Md5Pool.digest2(prefixes(j), gramBytes)
        if (mins(j) == null || less(d, mins(j))) mins(j) = d
        j += 1
      }
      g += 1
    }
    mins
  }
}

/** Distinct word n-gram shingles from an ARRAY<STRING> token list, in
  * first-occurrence order — one pass, one hash set; the equivalent
  * `array_distinct(transform(sequence...))` lambda chain evaluates
  * interpretively at ~100ms per 450-token document and gets duplicated
  * across plan subtrees. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"word_shingles: n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType)

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    // r13: decode each token's UTF-8 bytes ONCE, then build each shingle
    // by byte copy — the StringBuilder form decoded every token n times
    // and re-encoded every shingle (§1.2 step 2). Byte-level concat with
    // ASCII ' ' equals the string concat exactly; UTF8String equality is
    // byte equality, so the distinct set is unchanged. Assumes valid
    // UTF-8 input (every Spark-produced string is): the old
    // toString round trip would have sanitized malformed bytes to
    // U+FFFD, which byte-level concat does not.
    val words = new Array[Array[Byte]](math.max(m, 0))
    var w = 0
    while (w < m) { words(w) = toks.getUTF8String(w).getBytes; w += 1 }
    var i = 0
    while (i <= m - n) {
      var len = n - 1
      var k = 0
      while (k < n) { len += words(i + k).length; k += 1 }
      val out = new Array[Byte](len)
      var pos = 0
      k = 0
      while (k < n) {
        if (k > 0) { out(pos) = ' '; pos += 1 }
        val wb = words(i + k)
        System.arraycopy(wb, 0, out, pos, wb.length)
        pos += wb.length
        k += 1
      }
      seen.add(UTF8String.fromBytes(out))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken) over a
  * bound token array: rolling-hash every `k`-token gram (space-joined —
  * EXACTLY [[RollingHash.hash]] of the joined string, which the DuckDB
  * oracle mirrors char-by-char), slide a window of `w` consecutive gram
  * hashes, keep the minimum per window with ties to the RIGHTMOST
  * position, and return the distinct selections packed as
  * `pos·packBase + h`. One tight loop per row — with the lambda-composed
  * formulation (transform → aggregate over named_structs per window)
  * q141 measured 15.65 s at sf0.1; with this expression the same query
  * is 1.5 s end-to-end. GraftFunctionsSpec locks the two equal. Fewer
  * than `k` tokens → empty array; `m < w` grams → one window over what
  * exists. */
case class WinnowSelect(child: Expression, k: Int, w: Int, packBase: Long)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1 && w >= 1 && packBase >= 1,
    s"winnow_select: k, w and packBase must be >= 1, got $k, $w, $packBase")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    // r13: the rolling hash factors over concatenation —
    // h(A||B) = (h(A)·31^{cp(B)} + h(B)) mod M — so each token is decoded
    // and hashed ONCE (th/tp below), and every gram hash composes in O(k)
    // modular ops instead of re-walking k token strings per position
    // (§1.2 step 2). Bit-identical to RollingHash.hash of the joined
    // string: same fold, same order, same mod.
    val M = RollingHash.Mod
    val th = new Array[Long](n) // per-token rolling hash
    val tp = new Array[Long](n) // 31^{codepoints(token)} mod M
    var t = 0
    while (t < n) {
      val s = toks.getUTF8String(t).toString
      var hh = 0L
      var pw = 1L
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        hh = (hh * 31L + cp) % M
        pw = (pw * 31L) % M
        ci += Character.charCount(cp)
      }
      th(t) = hh; tp(t) = pw
      t += 1
    }
    val h = new Array[Long](m)
    var i = 0
    while (i < m) {
      var hh = th(i)
      var j = 1
      while (j < k) {
        hh = (((hh * 31L + 32L) % M) * tp(i + j) + th(i + j)) % M
        j += 1
      }
      h(i) = hh
      i += 1
    }
    val seen = new java.util.LinkedHashSet[Long]()
    val nWin = math.max(m - w + 1, 1)
    var j0 = 0
    while (j0 < nWin) {
      val end = math.min(j0 + w, m)
      var best = j0
      var p = j0 + 1
      while (p < end) {
        // strict < keeps the earlier min; <= moves ties RIGHT
        if (h(p) <= h(best)) best = p
        p += 1
      }
      seen.add((best + 1).toLong * packBase + h(best)) // pos is 1-based
      j0 += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var q = 0
    while (it.hasNext) { out(q) = it.next(); q += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH band keys straight from the shingle set: computes the MinHash
  * signature internally (same algorithm as MinHashSig) and returns
  * md5(band || ':' || hex(sig[b*rows]) .. hex(sig[b*rows+rows-1])) per
  * band. One expression evaluation per row — referencing a separate sig
  * column from a band-key projection lets CollapseProject duplicate the
  * whole signature computation once per band slot (32x). */
case class MinHashBands(child: Expression, numHashes: Int, rows: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes >= 1 && rows >= 1 && rows <= numHashes,
    s"minhash_bands: need 1 <= rows <= numHashes, got numHashes $numHashes, rows $rows")
  override def dataType: DataType = ArrayType(StringType)

  override def nullSafeEval(v: Any): Any = {
    // r13: one shared raw-digest fold (no per-row expression allocation,
    // no hex→String→bytes round trip per band slot); band key bytes are
    // "b:" ++ hex(sig[slot])... — identical to the old string build
    // because hex and ':' are ASCII.
    val mins = MinHashCore.rawSig(v.asInstanceOf[ArrayData], numHashes)
    val hexes = new Array[Array[Byte]](numHashes)
    var i = 0
    while (i < numHashes) {
      if (mins(i) != null) hexes(i) = WordGramMd5.hex(mins(i))
      i += 1
    }
    val bands = numHashes / rows
    val out = new Array[UTF8String](bands)
    val md = MinHashBands.digest.get() // its own, held across hex() calls
    var b = 0
    while (b < bands) {
      md.reset()
      md.update((b.toString + ":").getBytes("UTF-8"))
      var r = 0
      var anyNull = false
      while (r < rows) {
        val h = hexes(b * rows + r)
        if (h == null) anyNull = true else md.update(h)
        r += 1
      }
      out(b) =
        if (anyNull) null
        else UTF8String.fromBytes(WordGramMd5.hex(md.digest()))
      b += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashBands {
  /** The band-key digest, private to MinHashBands: it folds many fragments
    * per band, so it must not be Md5Pool's shared one, which any helper
    * called between the fragments could reset. One per thread, no per-row
    * getInstance. */
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
}

/** 32-bit SimHash over an ARRAY<STRING> token list as a '0'/'1' string:
  * bit b is set iff the sum over tokens of ±1 — the sign of bit (b%4) of
  * hex digit (b/4) of md5(token) — is >= 0. Identical to
  * Dedup.simhashExprs; one md5 + one pass per token. */
case class SimHash32(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val sums = new Array[Int](32)
    var i = 0
    while (i < toks.numElements()) {
      // r13: raw UTF-8 bytes straight off the UTF8String — the old
      // toString.getBytes decoded and re-encoded every token (§1.2 step 2)
      val d = Md5Pool.digest(toks.getUTF8String(i).getBytes)
      var b = 0
      while (b < 32) {
        val hexIdx = b / 4
        val byte = d(hexIdx / 2) & 0xff
        val nibble = if (hexIdx % 2 == 0) byte >> 4 else byte & 0xf
        sums(b) += (if (((nibble >> (b % 4)) & 1) == 1) 1 else -1)
        b += 1
      }
      i += 1
    }
    val out = new Array[Char](32)
    var b = 0
    while (b < 32) { out(b) = if (sums(b) >= 0) '1' else '0'; b += 1 }
    UTF8String.fromString(new String(out))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Polynomial rolling hash over a string's CODEPOINTS:
  * fold h -> (h * 31 + cp) % 1e9+7, h0 = 0. One O(n) pass — the
  * composed-built-ins twin (`aggregate(transform(sequence(1,
  * length(text)), i -> ascii(substr(text, i, 1))), ...)`) re-seeks the
  * i-th char boundary on every lambda element, which is O(n²) per
  * document (measured: 20x on the bench corpus). `ascii` = first
  * codepoint in both Spark and DuckDB, so codepoint iteration mirrors
  * both the twin and the oracle exactly. Codegen'd. */
/** Per-position word-gram md5 fps: for a token array of m words,
  * returns the m−n+1 hex md5 strings of the space-joined n-grams — the
  * EXACT values `transform(sequence(..), i -> md5(concat_ws(' ',
  * slice(toks, i, n))))` produces (so DuckDB oracles computing md5 over
  * the same grams see IDENTICAL fps, no collision asymmetry), built in
  * one pass with a reused digest and table-lookup hex instead of the
  * interpreted HOF lambda's per-position slice + concat allocations
  * (higher-order functions never enter whole-stage codegen; q277
  * measured 41.8 s → 17.9 s at 100x, 2.3x). */
case class WordGramMd5(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"word_gram_md5: n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType)

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val cnt = m - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) { words(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](cnt)
    var p = 0
    while (p < cnt) {
      md.reset()
      var k = 0
      while (k < n) {
        if (k > 0) md.update(' '.toByte)
        md.update(words(p + k))
        k += 1
      }
      out(p) = UTF8String.fromBytes(WordGramMd5.hex(md.digest()))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** TRUE iff any space-delimited word n-gram of the TEXT hits the
  * base64-serialized Bloom filter (Spark `bloom_filter_agg` bytes) under
  * the same xxhash64(seed 42) the filter was built with — the
  * allocation-disciplined form of
  * `exists(transform(sequence(1, size(toks)-n+1),
  *    i -> xxhash64(concat_ws(' ', slice(toks, i, n)))),
  *  h -> might_contain(bf, h))`
  * (r11 — VERDICT ask 5: that interpreted HOF ran in the per-turn
  * admission hot path; SCALE.md lesson 2 measured the shape at 2.3-4.2x
  * over a fused expression). Three wins over the lambda chain: (1) the
  * n-gram of tokens split on ' ' IS a byte SPAN of the original string
  * (split + concat_ws(' ') round-trips every window, including empty
  * tokens from doubled spaces), so each gram hashes in place — zero
  * slice/concat allocations, zero copies; (2) the filter deserializes
  * ONCE per operator instead of per probe; (3) the first hit
  * SHORT-CIRCUITS. Hash parity with the HOF form is exact (same bytes,
  * same seed, same filter), so the no-false-negative admission contract
  * is unchanged — GraftFunctionsSpec locks equality on both paths. */
case class AnyWordGramInBloom(child: Expression, n: Int, bloomB64: String)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"any_word_gram_in_bloom: n must be >= 1, got $n")
  override def dataType: DataType = BooleanType

  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(bloomB64)))

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    // token start offsets: 0 and every byte after a 0x20 (the space
    // byte never occurs inside a multi-byte UTF-8 sequence)
    var m = 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' '.toByte) m += 1
      i += 1
    }
    if (m < n) return false
    val starts = new Array[Int](m + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' '.toByte) {
        starts(t) = i + 1; t += 1
      }
      i += 1
    }
    starts(m) = len + 1 // virtual separator past the end
    var p = 0
    while (p <= m - n) {
      val gs = starts(p)
      val glen = starts(p + n) - 1 - gs
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + gs, glen, 42L)
      if (bloom.mightContainLong(h)) return true
      p += 1
    }
    false
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordGramMd5 {
  private val HexDigits = "0123456789abcdef".getBytes
  /** Lowercase-hex a digest without per-byte format allocations (a
    * `"%02x".format` per byte measured 3.8x SLOWER than the lambda it
    * was meant to replace). */
  def hex(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HexDigits(d(i) & 0xF)
      i += 1
    }
    out
  }
}

case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    RollingHash.hash(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c.toString())")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RollingHash {
  val Mod = 1000000007L
  /** Static so generated code and interpreted eval share one body. */
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** Intersection size of two SORTED ARRAY<STRING> sets (distinct,
  * ascending): a single merge pass, codegen'd. Equals
  * size(array_intersect(a, b)) on distinct arrays at a fraction of the
  * cost — the verify stage of the dedup joins. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // r14: real codegen (was CodegenFallback despite the doc's claim) — the
  // verify stage calls this once per candidate pair, so the per-row
  // fallback eval() boxing sat on the dedup families' hottest path.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedIntersectCount {
  /** Static so generated code and interpreted eval share one body. */
  def count(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** Hamming distance between two equal-length strings (byte-wise — exact
  * for the ASCII '0'/'1' fingerprints it serves); NULL on length
  * mismatch. One pass vs a 32-term interpreted lambda chain on the
  * candidate-pair hot path. */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    HammingDistance.dist(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  // r14: real codegen (was CodegenFallback) — evaluated once per
  // band-joined candidate pair in the simhash families. dist returns a
  // boxed java.lang.Long (null on length mismatch); nullSafeCodeGen
  // unwraps it.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      s"""
        java.lang.Long $d = graft.functions.HammingDistance.dist($a, $b);
        if ($d == null) { ${ev.isNull} = true; } else { ${ev.value} = $d.longValue(); }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object HammingDistance {
  /** Static so generated code and interpreted eval share one body; null
    * (boxed) on length mismatch. Compares UTF8String bytes in place —
    * no getBytes copy. */
  def dist(a: UTF8String, b: UTF8String): java.lang.Long = {
    val n = a.numBytes()
    if (n != b.numBytes()) return null
    var i = 0; var d = 0L
    while (i < n) { if (a.getByte(i) != b.getByte(i)) d += 1; i += 1 }
    java.lang.Long.valueOf(d)
  }
}

/** Seeded ±1 random-hyperplane coefficients — the single source of truth
  * for both the fused [[HyperplaneKeys]] expression and the literal
  * arrays baked into oracle SQL / the composed spec formulation. */
object Hyperplanes {
  def planes(seed: Int, tables: Int, bits: Int, dim: Int): IndexedSeq[IndexedSeq[IndexedSeq[Int]]] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(tables, bits, dim)(if (rng.nextBoolean()) 1 else -1)
  }
  /** Row-major (table, bit, dim) flattening for tight eval loops. */
  def flat(seed: Int, tables: Int, bits: Int, dim: Int): Array[Int] =
    planes(seed, tables, bits, dim).flatten.flatten.toArray
}

/** All tables x bits random-hyperplane sign bits of one ARRAY<BIGINT>
  * vector in a SINGLE pass, returned as the table keys "t:bits". The
  * composed formulation (one quantized_dot per plane against a literal
  * array — see Similarity.lshKeysExpr, the spec-locked semantic twin)
  * traverses the vector tables*bits times and carries that many boxed
  * literal arrays through codegen; this fuses everything into one loop
  * with the coefficient matrix resident as a flat int array.
  *
  * Malformed-vector parity with the composed twin: a NULL vector, a
  * wrong-length vector, or any null element makes every composed
  * quantized_dot NULL, whose `CASE WHEN NULL >= 0` bit is '0' — so the
  * composed form emits all-zero-bit keys. The fused form reproduces
  * exactly that (NOT a null result — `eval` is overridden to bypass
  * UnaryExpression null propagation), keeping the two formulations and
  * the oracle bucket-identical on any input. */
case class HyperplaneKeys(child: Expression, seed: Int, tables: Int, bits: Int, dim: Int)
    extends UnaryExpression with CodegenFallback {
  require(tables >= 1 && bits >= 1 && dim >= 1,
    s"lsh_keys: tables, bits and dim must be >= 1, got $tables, $bits, $dim")
  override def dataType: DataType = ArrayType(StringType)
  override def nullable: Boolean = false

  @transient private lazy val flat: Array[Int] = Hyperplanes.flat(seed, tables, bits, dim)

  private def keys(sums: Array[Long]): GenericArrayData = {
    val out = new Array[UTF8String](tables)
    var tb = 0
    while (tb < tables) {
      val sb = new java.lang.StringBuilder(bits + 4)
      sb.append(tb).append(':')
      var b = 0
      while (b < bits) {
        sb.append(if (sums != null && sums(tb * bits + b) >= 0) '1' else '0')
        b += 1
      }
      out(tb) = UTF8String.fromString(sb.toString)
      tb += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) keys(null) else nullSafeEval(v) // NULL vector buckets too
  }

  override def nullSafeEval(v: Any): Any = {
    val qv = v.asInstanceOf[ArrayData]
    if (qv.numElements() != dim) return keys(null) // all-'0' bits, see scaladoc
    var i = 0
    while (i < dim) { if (qv.isNullAt(i)) return keys(null); i += 1 }
    val k = tables * bits
    val sums = new Array[Long](k)
    i = 0
    while (i < dim) {
      val x = qv.getLong(i)
      var t = 0
      while (t < k) { sums(t) += (if (flat(t * dim + i) > 0) x else -x); t += 1 }
      i += 1
    }
    keys(sums)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `size(split(text, ' '))` without materializing the token array —
  * the suite's universal token counter (27 call sites across 9 ops
  * modules), rewritten to this by [[graft.plans.TokenCountRule]] (r13,
  * guide §1.2 step 2). Exactly `1 + count of 0x20 bytes`: Spark's
  * `split` on the literal single-space regex with the default limit −1
  * keeps every empty token (leading, interior, trailing), so the array
  * length is always spaces + 1; the space byte never occurs inside a
  * multi-byte UTF-8 sequence, so the byte scan needs no decoding.
  * Codegen'd; INT like `size`. */
case class SpaceTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any =
    SpaceTokenCount.count(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SpaceTokenCount.count($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SpaceTokenCount {
  /** Static so generated code and interpreted eval share one body. */
  def count(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    var m = 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' '.toByte) m += 1
      i += 1
    }
    m
  }
}

/** `CAST(conv(substr(md5(x), 1, nHex), 16, 10) AS BIGINT)` — the suite's
  * universal uniform-hash draw (KMV sketches, classifier feature buckets,
  * fold assignment) — computed straight off the digest bytes. The chain
  * form pays, per row: a 32-char hex ENCODING of the digest, a substring
  * copy, `conv`'s string-to-unsigned radix parse, a decimal-string
  * re-render, and a string→long cast parse. The first nHex hex chars of
  * the digest ARE its top nHex nibbles, so the value is one shift-or fold
  * over ⌈nHex/2⌉ bytes — no intermediate string exists. For nHex ≤ 15 the
  * value is < 2^60, always non-negative, so the unsigned read, the decimal
  * render and the cast parse are all exact in every eval mode; equality
  * with the chain is locked in GraftFunctionsSpec and the rewrite itself
  * in Md5PrefixRuleSpec. */
case class Md5PrefixLong(child: Expression, nHex: Int)
    extends UnaryExpression {
  require(nHex >= 1 && nHex <= 15, s"md5_prefix_long: nHex must be in [1, 15], got $nHex")
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType | _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_prefix_long expects STRING or BINARY input, got $other")
    }

  // a STRING child hashes its UTF-8 bytes — exactly what the analyzer's
  // implicit string→binary cast feeds Spark's own Md5; the optimizer-rule
  // route hands over Md5's already-binary child unchanged
  override def nullSafeEval(v: Any): Any = v match {
    case b: Array[Byte] => Md5PrefixLong.compute(b, nHex)
    case s: UTF8String  => Md5PrefixLong.compute(s, nHex)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5PrefixLong.compute($c, $nHex)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Md5PrefixLong {
  /** STRING overload: hash the raw UTF-8 bytes without a copy when the
    * UTF8String is array-backed with exact bounds; else one copy. */
  def compute(s: UTF8String, nHex: Int): Long = compute(s.getBytes, nHex)

  /** Static so generated code and interpreted eval share one body. */
  def compute(bytes: Array[Byte], nHex: Int): Long = {
    val d = Md5Pool.digest(bytes)
    var acc = 0L
    var i = 0
    while (i < nHex) {
      val b = d(i >> 1) & 0xff
      val nibble = if ((i & 1) == 0) b >> 4 else b & 0xf
      acc = (acc << 4) | nibble
      i += 1
    }
    acc
  }
}

/** The custom expressions: typed constructors for Scala callers, and
  * name -> builder for SQL. Operators build each expression as a typed
  * `Column` through the constructors, so nothing has to be registered
  * before they run. The builders are the single inventory behind BOTH
  * SQL registration routes (session-scoped [[GraftFunctions.register]]
  * and the `spark.sql.extensions`-injected [[graft.GraftExtensions]]). */
object GraftFunctions {
  def quantizedDot(a: Column, b: Column): Column =
    column(QuantizedDot(expression(a), expression(b)))
  def pqAdcSum(flat: Column, codes: Column): Column =
    column(PqAdcSum(expression(flat), expression(codes)))
  def minhashSig(grams: Column, numHashes: Int): Column =
    column(MinHashSig(expression(grams), numHashes))
  def minhashBands(grams: Column, numHashes: Int, rows: Int): Column =
    column(MinHashBands(expression(grams), numHashes, rows))
  def simHash32(toks: Column): Column = column(SimHash32(expression(toks)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
  def hammingStr(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))
  def wordShingles(toks: Column, n: Int): Column = column(WordShingles(expression(toks), n))
  def wordGramMd5(toks: Column, n: Int): Column = column(WordGramMd5(expression(toks), n))
  def anyWordGramInBloom(text: Column, n: Int, bloomB64: String): Column =
    column(AnyWordGramInBloom(expression(text), n, bloomB64))
  def winnowSelect(toks: Column, k: Int, w: Int, packBase: Long): Column =
    column(WinnowSelect(expression(toks), k, w, packBase))
  def lshKeys(qv: Column, seed: Int, tables: Int, bits: Int, dim: Int): Column =
    column(HyperplaneKeys(expression(qv), seed, tables, bits, dim))
  def rollingHash(s: Column): Column = column(RollingHash(expression(s)))
  /** Spark's own bloom aggregate (kept out of its public registry). */
  def bloomFilterAgg(x: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(x), Literal(expectedItems), Literal(numBits))
      .toAggregateExpression())
  def mightContain(bloom: Column, x: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(x)))

  /** A SQL call's integer argument, checked while the call is analyzed:
    * anything but an INT literal fails there, naming the function. */
  private def intArg(fn: String, es: Seq[Expression], i: Int): Int = es(i) match {
    case Literal(v: Int, IntegerType) => v
    case e => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be an INT literal, got $e")
  }

  private def longArg(fn: String, es: Seq[Expression], i: Int): Long = es(i) match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case e => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be an integer literal, got $e")
  }

  private def stringArg(fn: String, es: Seq[Expression], i: Int): String = es(i) match {
    case Literal(v: UTF8String, _: StringType) => v.toString
    case e => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be a STRING literal, got $e")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "quantized_dot" -> (es => QuantizedDot(es.head, es(1))),
    "minhash_sig" -> (es => MinHashSig(es.head, intArg("minhash_sig", es, 1))),
    "simhash32" -> (es => SimHash32(es.head)),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es.head, es(1))),
    "word_shingles" -> (es => WordShingles(es.head, intArg("word_shingles", es, 1))),
    "word_gram_md5" -> (es => WordGramMd5(es.head, intArg("word_gram_md5", es, 1))),
    "any_word_gram_in_bloom" -> (es => AnyWordGramInBloom(es.head,
      intArg("any_word_gram_in_bloom", es, 1), stringArg("any_word_gram_in_bloom", es, 2))),
    "hamming_str" -> (es => HammingDistance(es.head, es(1))),
    "minhash_bands" -> (es => MinHashBands(es.head,
      intArg("minhash_bands", es, 1), intArg("minhash_bands", es, 2))),
    "lsh_keys" -> (es => HyperplaneKeys(es.head, intArg("lsh_keys", es, 1),
      intArg("lsh_keys", es, 2), intArg("lsh_keys", es, 3), intArg("lsh_keys", es, 4))),
    "pq_adc_sum" -> (es => PqAdcSum(es.head, es(1))),
    "rolling_hash" -> (es => RollingHash(es.head)),
    "space_token_count" -> (es => SpaceTokenCount(es.head)),
    "md5_prefix_long" -> (es => Md5PrefixLong(es.head, intArg("md5_prefix_long", es, 1))),
    "winnow_select" -> (es => WinnowSelect(es.head, intArg("winnow_select", es, 1),
      intArg("winnow_select", es, 2), longArg("winnow_select", es, 3))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // own runtime-filter injection but keeps both out of the public
    // FunctionRegistry; registering them here lets SQL build a filter
    // with a plain aggregate and probe it (the bare AggregateFunction is
    // wrapped into an AggregateExpression by the analyzer, same as
    // built-in aggregates).
    "bloom_filter_agg" -> (es => new BloomFilterAggregate(es.head, es(1), es(2))),
    "might_contain" -> (es => BloomFilterMightContain(es.head, es(1))))

  /** Makes the builder names resolve in `spark.sql` on a session built
    * without [[graft.GraftExtensions]]; idempotent. Names the registry
    * already holds (an earlier call, or the extensions) are left as they
    * are. Scala callers need neither: the typed constructors above build
    * the same expressions as `Column`s. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
