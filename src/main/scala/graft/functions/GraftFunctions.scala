package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Cosine similarity between two `Array[Float]` embedding columns, as a
  * native Catalyst expression with whole-stage codegen (`doGenCode`).
  *
  * Chosen over a Scala UDF (ser/de per row, opaque to the optimizer) and
  * over `aggregate`/`zip_with` higher-order functions (CodegenFallback —
  * they break the WholeStageCodegen span and allocate intermediate
  * arrays). This expression reads the two float arrays in place and folds
  * dot/norms in doubles, in index order — so the result is bit-identical
  * to any engine that folds sequentially in doubles (the DuckDB oracles
  * replicate exactly this: `dot / (sqrt(na) * sqrt(nb))`, 0.0 when a norm
  * is zero).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  // array<float> or array<double> per side, independently: the fold is
  // in doubles either way, so a double-typed side (e.g. the fixed-point
  // bigint sums AnnStream.refitSignal casts down — a float cast would
  // truncate the mantissa past ~2^24 and wobble the 4th decimal right
  // at the refit threshold) loses nothing.
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two array<float|double> columns, got ${l.sql} and ${r.sql}")
  }

  // null-safe: KernelPropertySpec drives nullSafeEval directly on a
  // childless instance (float path)
  private def isDouble(e: Expression): Boolean = e != null && (e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (isDouble(left), isDouble(right))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      def get(arr: String, dbl: Boolean) =
        if (dbl) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = ${get(a, isDouble(left))};
         |  final double $yi = ${get(b, isDouble(right))};
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |""".stripMargin
    })
}

/** Static kernels for the text-dedup expressions. Called from both
  * interpreted `eval` and generated code (the codegen for each expression
  * is ONE static call — no boxing, no per-element lambda dispatch, which
  * is why these beat the equivalent `transform`/`aggregate` higher-order
  * functions by ~2 orders of magnitude: HOFs are CodegenFallback and pay
  * interpreted-closure overhead per element).
  *
  * Hashing is FNV-1a 64 over UTF-8 bytes — deterministic across JVMs and
  * engine versions (no dependence on Spark-internal hash impls). */
object TextKernels {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * FnvPrime; i += 1 }
    h
  }

  /** FNV-1a 64 of a string's UTF-8 bytes — the engine-portable scalar
    * hash (DuckDB replays it with the HUGEINT `list_reduce` used by the
    * MinHash oracles; for ASCII keys `ord` per char == the UTF-8 byte). */
  def fnv64Str(s: UTF8String): Long = fnv64(s.getBytes)

  /** splitmix64 — derives the per-permutation multipliers/addends. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Is `c` a codepoint of a space-free CJK letter class? Covered:
    * CJK Unified Ideographs + Extension A, Hiragana/Katakana + katakana
    * phonetic extensions + HALFWIDTH katakana, Hangul syllables — all
    * BMP, so a Char test suffices. EXPLICITLY EXCLUDED (documented scope, not an
    * oversight): supplementary-plane ideographs (Ext B+, U+20000+ —
    * surrogate pairs; rare outside dictionaries), Hangul Jamo
    * (composed syllables cover modern ko text), CJK Compatibility
    * blocks. MUST stay in lockstep with `TextAnalysis.cjkClassSql`
    * (the DuckDB mirror) — change both or neither. */
  @inline private def isCjk(c: Char): Boolean =
    // one lower-bound compare rejects every ASCII/Latin char before the
    // per-block checks — this scan runs once per char of EVERY tokenized
    // string (the shingle/minhash/simhash hot path)
    c >= 0x3040 && (
      (c <= 0x30ff) ||                // Hiragana + Katakana
      (c >= 0x4e00 && c <= 0x9fff) || // CJK Unified Ideographs
      (c >= 0xac00 && c <= 0xd7af) || // Hangul syllables
      (c >= 0x3400 && c <= 0x4dbf) || // CJK Ideographs Extension A
      (c >= 0x31f0 && c <= 0x31ff) || // Katakana phonetic extensions
      (c >= 0xff66 && c <= 0xff9d))   // Halfwidth katakana

  /** Codepoint-class segmentation fallback for space-free scripts:
    * insert a space around every CJK letter ([[isCjk]]'s classes) —
    * exactly `regexp_replace(text, '(<cjkClassSql>)', ' \1 ', 'g')`
    * (the DuckDB-mirrorable form; `TextAnalysis.cjkClassSql` is the
    * one regex source both engines share) — so zh/ja/ko text tokenizes
    * one character per token instead of one "word" per line. IDENTITY
    * on text with no CJK codepoints (the whole sf* testdata,
    * spec-asserted in TextAnalysisSpec — which is why pre-CJK oracle
    * mirrors that elide this pre-pass stay exact on that data); the
    * has-CJK scan keeps the common ASCII path allocation-free. */
  def segmentCjk(s: String): String = {
    var i = 0
    var has = false
    while (i < s.length && !has) { if (isCjk(s.charAt(i))) has = true; i += 1 }
    if (!has) return s
    val sb = new java.lang.StringBuilder(s.length * 3)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isCjk(c)) { sb.append(' ').append(c).append(' ') } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Hamming distance between two 64-bit fingerprints (e.g. SimHash). */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** L2 norm of a float-array embedding: sqrt of the index-order double
    * fold of squares — the same fold discipline as [[CosineSimilarity]],
    * so DuckDB's `sqrt(list_sum(list_transform(v, x -> x*x)))` reproduces
    * it bit-for-bit. */
  def vecNorm(x: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  /** Component-agreement count of two bigint signatures over the shorter
    * length — the MinHash Jaccard estimator's numerator (est J =
    * agree/perms). */
  def sigAgree(x: ArrayData, y: ArrayData): Int = {
    val n = math.min(x.numElements(), y.numElements())
    var agree = 0
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) agree += 1; i += 1 }
    agree
  }

  /** Normalized word tokens: CJK segmentation ([[segmentCjk]]), then
    * lowercase, trim, split on whitespace runs — exactly
    * `split(lower(trim(regexp_replace(segmented,'\s+',' '))), ' ')`. */
  def tokenize(text: UTF8String): Array[String] = {
    val t = segmentCjk(text.toString).toLowerCase(java.util.Locale.ROOT).trim
    if (t.isEmpty) Array.empty else t.split("\\s+")
  }

  /** Distinct word 3-gram shingles of the normalized text. */
  def shingles3(text: UTF8String): ArrayData = {
    val toks = tokenize(text)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i <= toks.length - 3) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Distinct word k-gram shingles of the normalized text — the
    * parameterized form of [[shingles3]] for long-run detection (k ≈ 8+
    * catches verbatim substring duplication rather than topical
    * similarity). */
  def shinglesK(text: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(text)
    if (k <= 0 || toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS local
    * fingerprinting scheme): md5 each word k-gram (positional, with
    * multiplicity), then keep the DISTINCT minima of every w-wide
    * sliding window of consecutive gram hashes. Guarantees: any shared
    * run of ≥ k+w−1 tokens between two documents shares at least one
    * fingerprint, and fingerprint density is ~2/(w+1) — position-robust
    * substring-dup detection at a fraction of d_span_dedup's span
    * volume. Min is over the lowercase hex STRING (a total order both
    * engines share); docs with fewer than k+w−1 tokens (no full
    * window) emit nothing, by definition. */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = tokenize(text)
    val nGrams = toks.length - k + 1
    if (k <= 0 || w <= 0 || nGrams < w) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    val hashes = new Array[String](nGrams)
    var i = 0
    while (i < nGrams) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      val dig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new java.lang.StringBuilder(32)
      var b = 0
      while (b < dig.length) {
        val v = dig(b) & 0xff
        if (v < 16) hex.append('0')
        hex.append(java.lang.Integer.toHexString(v))
        b += 1
      }
      hashes(i) = hex.toString
      md.reset()
      i += 1
    }
    val seen = new java.util.LinkedHashSet[String](nGrams)
    var j0 = 0
    while (j0 <= nGrams - w) {
      var min = hashes(j0)
      var t = j0 + 1
      while (t < j0 + w) { if (hashes(t).compareTo(min) < 0) min = hashes(t); t += 1 }
      seen.add(min)
      j0 += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(out)
  }

  /** All adjacent character pairs inside each word of the normalized
    * text, WITH multiplicity ("a+b" per occurrence) — the corpus
    * statistic one BPE merge step maximizes (Sennrich et al. 2016:
    * merge the most frequent adjacent symbol pair; pairs never span a
    * word boundary). Char = Unicode CODEPOINT, matching DuckDB's
    * codepoint substr — a supplementary char is one symbol, never a
    * surrogate pair split in half; the '+' separator keeps
    * "ab"+"c" ≠ "a"+"bc". */
  def bpePairs(text: UTF8String): ArrayData = {
    val toks = tokenize(text)
    var n = 0
    var i = 0
    while (i < toks.length) {
      val cps = toks(i).codePointCount(0, toks(i).length)
      if (cps >= 2) n += cps - 1
      i += 1
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    val sb = new java.lang.StringBuilder(5)
    var m = 0
    i = 0
    while (i < toks.length) {
      val w = toks(i)
      var j = 0
      while (j < w.length) {
        val cp1 = w.codePointAt(j)
        val next = j + Character.charCount(cp1)
        if (next < w.length) {
          sb.setLength(0)
          sb.appendCodePoint(cp1).append('+').appendCodePoint(w.codePointAt(next))
          out(m) = UTF8String.fromString(sb.toString)
          m += 1
        }
        j = next
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Canonical text cleanup — the C4/RefinedWeb-style normalization
    * every web-corpus pipeline runs before hashing/dedup/tokenizing:
    * Unicode NFC (so "é" composed and "e"+combining-accent hash alike),
    * C0/DEL control stripping (keeping \t \n \r, which the collapse
    * then folds), whitespace-run collapse, trim. Each step is defined
    * by the Unicode standard or an ASCII regex both engines implement
    * identically (Java \s's extra \x0B case is dead — \x0B is stripped
    * as a control first), so the DuckDB mirror
    * (nfc_normalize + the same two regexes + trim) is byte-identical. */
  def normalizeText(text: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(text.toString, java.text.Normalizer.Form.NFC)
    val cleaned = nfc
      .replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
      .replaceAll("\\s+", " ")
      .trim
    UTF8String.fromString(cleaned)
  }

  /** One symbol per Unicode CODEPOINT of a word — the round-0 BPE
    * segmentation (matches DuckDB's codepoint substr: a supplementary
    * char is one symbol, never a split surrogate pair). */
  def charSyms(word: UTF8String): ArrayData = {
    val w = word.toString
    val n = w.codePointCount(0, w.length)
    val out = new Array[Any](n)
    var j = 0
    var m = 0
    while (j < w.length) {
      val cp = w.codePointAt(j)
      val next = j + Character.charCount(cp)
      out(m) = UTF8String.fromString(w.substring(j, next))
      m += 1
      j = next
    }
    new GenericArrayData(out)
  }

  /** One BPE merge application: replace adjacent (a, b) symbol pairs by
    * their concatenation, GREEDY LEFTMOST non-overlapping (the Sennrich
    * et al. 2016 convention) — a left fold where a freshly merged
    * symbol never re-matches within the same round (|a·b| > |a|, so the
    * merged token cannot equal the pair's left element). */
  def bpeMerge(syms: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = syms.numElements()
    if (n < 2) return syms
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      val s = syms.getUTF8String(i)
      if (i + 1 < n && s.equals(a) && syms.getUTF8String(i + 1).equals(b)) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(s)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** 128-permutation MinHash signature of a shingle array: one FNV-1a
    * base hash per shingle, then 128 universal-hash permutations
    * `a_p * base + b_p` (odd multipliers), min per permutation. */
  def minhash128(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(128)(Long.MaxValue)
    val as = minhashA
    val bs = minhashB
    var i = 0
    while (i < n) {
      val base = fnv64(shingles.getUTF8String(i).getBytes)
      var p = 0
      while (p < 128) {
        val v = as(p) * base + bs(p)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private val minhashA: Array[Long] = Array.tabulate(128)(p => splitmix64(2L * p + 1L) | 1L)
  private val minhashB: Array[Long] = Array.tabulate(128)(p => splitmix64(1000L + p))

  /** Random-hyperplane LSH bucket id: bit p of the result is the sign of
    * dot(embedding, planes[p]). `planes` is a small literal
    * array<array<double>> shipped with the plan. */
  def hyperplaneSig(embedding: ArrayData, planes: ArrayData): Long = {
    val nPlanes = planes.numElements()
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      val plane = planes.getArray(p)
      val dim = math.min(plane.numElements(), embedding.numElements())
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += embedding.getFloat(j).toDouble * plane.getDouble(j); j += 1 }
      if (dot > 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Index of the nearest centroid (squared L2) — the IVF assignment
    * kernel. `centroids` is a small literal array<array<double>>. */
  def nearestCentroid(embedding: ArrayData, centroids: ArrayData): Int = {
    val k = centroids.numElements()
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < k) {
      val cent = centroids.getArray(c)
      val dim = math.min(cent.numElements(), embedding.numElements())
      var d2 = 0.0
      var j = 0
      while (j < dim) {
        val diff = embedding.getFloat(j).toDouble - cent.getDouble(j)
        d2 += diff * diff
        j += 1
      }
      if (d2 < bestDist) { bestDist = d2; best = c }
      c += 1
    }
    best
  }

  /** Squared-L2 to the nearest and second-nearest centroid — `[d2_1st,
    * d2_2nd]` in one pass (strict-< tracking, so ties resolve exactly
    * like [[nearestCentroid]]'s first-argmin and the oracle's
    * `(d2 ASC, c ASC)` rank). The pair behind simplified-silhouette
    * clustering quality: a = √d2_1st (own centroid — assignment IS the
    * argmin), b = √d2_2nd (best other cluster). */
  def nearestTwoDist2(embedding: ArrayData, centroids: ArrayData): ArrayData = {
    val k = centroids.numElements()
    var best = Double.MaxValue
    var second = Double.MaxValue
    var c = 0
    while (c < k) {
      val cent = centroids.getArray(c)
      val dim = math.min(cent.numElements(), embedding.numElements())
      var d2 = 0.0
      var j = 0
      while (j < dim) {
        val diff = embedding.getFloat(j).toDouble - cent.getDouble(j)
        d2 += diff * diff
        j += 1
      }
      if (d2 < best) { second = best; best = d2 }
      else if (d2 < second) { second = d2 }
      c += 1
    }
    new GenericArrayData(Array[Any](best, second))
  }

  /** Per-literal compiled stopword index, keyed by the literal's
    * ArrayData identity: a foldable list literal is materialized once
    * per task, so compiling it once per (task, literal) amortizes to
    * nothing. The compiled form is ONE word → list-indices map (not a
    * hash set per list): a token pays a single hash probe regardless
    * of how many lists exist. Words on several lists (fr/es "que",
    * pt/nl "de") carry all their indices. Bounded: cleared if it ever
    * exceeds 64 distinct literals (it holds a handful in practice). */
  private val stopwordCache = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[ArrayData, (java.util.HashMap[String, Array[Int]], Int)]())

  /** One-pass token profile against N literal word lists: returns
    * `[nTokens, hits(list 0), …, hits(list N-1)]` where nTokens counts
    * the (non-empty) normalized word tokens and hits(l) counts tokens
    * that appear in list l (with multiplicity) — exactly
    * `size(filter(toks, t -> t IN (list)))` for each list, but in ONE
    * tokenization pass per row instead of one interpreted HOF per
    * list, and ONE hash probe per token instead of one per list. */
  def stopwordProfile(text: UTF8String, lists: ArrayData): ArrayData = {
    var compiled = stopwordCache.get(lists)
    if (compiled == null) {
      val n = lists.numElements()
      val idx = new java.util.HashMap[String, Array[Int]](n * 16)
      var l = 0
      while (l < n) {
        val list = lists.getArray(l)
        var j = 0
        while (j < list.numElements()) {
          val w = list.getUTF8String(j).toString
          val prev = idx.get(w)
          if (prev == null) idx.put(w, Array(l))
          else if (prev(prev.length - 1) != l) { // distinct-per-list hit
            val ext = java.util.Arrays.copyOf(prev, prev.length + 1)
            ext(prev.length) = l
            idx.put(w, ext)
          }
          j += 1
        }
        l += 1
      }
      compiled = (idx, n)
      if (stopwordCache.size() > 64) stopwordCache.clear()
      stopwordCache.put(lists, compiled)
    }
    val (index, nLists) = compiled
    val toks = tokenize(text)
    val counts = new Array[Int](nLists)
    var i = 0
    while (i < toks.length) {
      val ls = index.get(toks(i))
      if (ls != null) {
        var k = 0
        while (k < ls.length) { counts(ls(k)) += 1; k += 1 }
      }
      i += 1
    }
    val out = new Array[Any](nLists + 1)
    out(0) = toks.length
    var l = 0
    while (l < counts.length) { out(l + 1) = counts(l); l += 1 }
    new GenericArrayData(out)
  }

  /** Indices of the `m` nearest centroids (squared L2), nearest first —
    * the multi-assignment (canopy) variant of [[nearestCentroid]] used
    * for similarity blocking. `m` is small (2–4); selection is an
    * insertion pass per centroid. */
  def nearestCentroids(embedding: ArrayData, centroids: ArrayData, m: Int): ArrayData = {
    val k = centroids.numElements()
    val take = math.min(m, k)
    val bestIdx = new Array[Int](take)
    val bestDist = Array.fill(take)(Double.MaxValue)
    var c = 0
    while (c < k) {
      val cent = centroids.getArray(c)
      val dim = math.min(cent.numElements(), embedding.numElements())
      var d2 = 0.0
      var j = 0
      while (j < dim) {
        val diff = embedding.getFloat(j).toDouble - cent.getDouble(j)
        d2 += diff * diff
        j += 1
      }
      // insert (c, d2) into the sorted top-m (ties keep the lower index)
      var pos = take
      while (pos > 0 && bestDist(pos - 1) > d2) pos -= 1
      if (pos < take) {
        var q = take - 1
        while (q > pos) { bestIdx(q) = bestIdx(q - 1); bestDist(q) = bestDist(q - 1); q -= 1 }
        bestIdx(pos) = c
        bestDist(pos) = d2
      }
      c += 1
    }
    val out = new Array[Any](take)
    var i = 0
    while (i < take) { out(i) = bestIdx(i); i += 1 }
    new GenericArrayData(out)
  }

  /** One-pass word-3-gram repetition profile of normalized text:
    * `[total, distinct, maxFreq]` over trigrams WITH multiplicity —
    * the raw counts behind C4/Gopher-style repetition filters
    * (duplicate-trigram fraction, most-common-trigram fraction).
    * `[0, 0, 0]` for texts with fewer than 3 tokens. */
  def repetitionProfile(text: UTF8String): ArrayData = {
    val toks = tokenize(text)
    val out = new Array[Any](3)
    if (toks.length < 3) {
      out(0) = 0; out(1) = 0; out(2) = 0
      return new GenericArrayData(out)
    }
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var maxFreq = 0
    var i = 0
    while (i <= toks.length - 3) {
      val g = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
      val c = counts.merge(g, 1, Integer.sum)
      if (c > maxFreq) maxFreq = c
      i += 1
    }
    out(0) = toks.length - 2
    out(1) = counts.size()
    out(2) = maxFreq
    new GenericArrayData(out)
  }

  /** Product-quantization encoder: for each of the m codebooks (over
    * contiguous dim/m-wide subspaces), the index of the nearest
    * sub-centroid (squared L2). `books` is the literal
    * array<array<array<double>>> codebook tensor [m][k][dim/m]. One pass,
    * no slice allocation — reads the embedding in place. */
  def pqEncode(embedding: ArrayData, books: ArrayData): ArrayData = {
    val m = books.numElements()
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val book = books.getArray(j)
      val k = book.numElements()
      val sub = if (k == 0) 0 else book.getArray(0).numElements()
      val off = j * sub
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < k) {
        val cent = book.getArray(c)
        var d2 = 0.0
        var i = 0
        while (i < sub) {
          val diff = embedding.getFloat(off + i).toDouble - cent.getDouble(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestDist) { bestDist = d2; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-subspace squared quantization error of the NEAREST codeword —
    * `[min_c d²(slice_j, book_j[c])]` for each of the m subspaces, the
    * same argmin sweep as [[pqEncode]] but reporting the distance
    * VALUE (what PQ loses), not the code. One pass, no fan-out. */
  def pqErrors(embedding: ArrayData, books: ArrayData): ArrayData = {
    val m = books.numElements()
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val book = books.getArray(j)
      val k = book.numElements()
      val sub = if (k == 0) 0 else book.getArray(0).numElements()
      val off = j * sub
      var bestDist = Double.MaxValue
      var c = 0
      while (c < k) {
        val cent = book.getArray(c)
        var d2 = 0.0
        var i = 0
        while (i < sub) {
          val diff = embedding.getFloat(off + i).toDouble - cent.getDouble(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestDist) { bestDist = d2 }
        c += 1
      }
      out(j) = if (k == 0) 0.0 else bestDist
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric-distance (ADC) approximate cosine from PQ codes: with
    * per-(subspace, code) lookup tables `dotLut[j*k + c] = dot(q_j,
    * centroid_jc) / |q|` and `norm2Lut[j*k + c] = |centroid_jc|²`,
    * cos ≈ Σ dotLut / sqrt(Σ norm2Lut). m table lookups per row —
    * never touches the original vector. */
  def pqAdcCosine(codes: ArrayData, dotLut: ArrayData, norm2Lut: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val k = dotLut.numElements() / m
    var s1 = 0.0
    var s2 = 0.0
    var j = 0
    while (j < m) {
      val idx = j * k + codes.getInt(j)
      s1 += dotLut.getDouble(idx)
      s2 += norm2Lut.getDouble(idx)
      j += 1
    }
    if (s2 <= 0.0) 0.0 else s1 / math.sqrt(s2)
  }

  /** Residual of an embedding against its assigned coarse centroid:
    * out[i] = emb[i] − centroids[cluster][i], as float — the encode-side
    * kernel of IVF-PQ (PQ codebooks quantize residuals, which are
    * far more compressible than raw vectors). One pass, no boxing. */
  def vecResidual(embedding: ArrayData, centroids: ArrayData, cluster: Int): ArrayData = {
    val c = centroids.getArray(cluster)
    val n = embedding.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = (embedding.getFloat(i).toDouble - c.getDouble(i)).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass type/token profile of normalized text: `[nTokens,
    * nDistinct]` — the counts behind type-token-ratio (lexical
    * diversity) quality filters. One tokenize + hash-set pass per row. */
  def ttrProfile(text: UTF8String): ArrayData = {
    val toks = tokenize(text)
    val seen = new java.util.HashSet[String](toks.length * 2)
    var i = 0
    while (i < toks.length) { seen.add(toks(i)); i += 1 }
    new GenericArrayData(Array[Any](toks.length, seen.size))
  }

  /** 64-bit SimHash of a token array: each token's FNV-1a hash votes ±1
    * on every bit; the fingerprint takes the sign of each tally. */
  def simhash64(tokens: ArrayData): Long = {
    val tally = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = fnv64(tokens.getUTF8String(i).getBytes)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) tally(j) += 1 else tally(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (tally(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  /** 64-bit blockhash perceptual fingerprint of a binary payload
    * (blockhash.io's method over the byte stream: the real image form
    * runs the identical thresholding over decoded luminance — this IS
    * that algorithm, applied at the byte seam where the stubbed decode
    * hands off; see Multimodal.phashNearDup).
    *
    * The payload is cut into 64 contiguous blocks (byte j belongs to
    * block j·64/n — integer division, total and deterministic for any
    * n > 0); bit b is set iff block b's mean byte value exceeds the
    * global mean, decided INTEGER-exactly by cross-multiplying
    * (sum_b·n > total·len_b), so the oracle reproduces every bit with
    * no float thresholds. Locality: editing a few bytes perturbs only
    * the touched blocks' sums (plus marginal blocks whose mean sits at
    * the global mean), so near-identical payloads land within a small
    * hamming distance — the property the banded near-dup join exploits.
    * Exact for payloads ≤ ~180 MB (255·n² must fit a signed 64-bit;
    * chunk larger media upstream). Empty payload → 0L (callers filter
    * n > 0 so the all-empty class never forms a dup blob). */
  def phash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var total = 0L
    var j = 0
    while (j < n) { total += (bytes(j) & 0xff); j += 1 }
    val sums = new Array[Long](64)
    val lens = new Array[Long](64)
    j = 0
    while (j < n) {
      val b = ((j.toLong * 64L) / n).toInt
      sums(b) += (bytes(j) & 0xff)
      lens(b) += 1
      j += 1
    }
    var h = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) * n > total * lens(b)) h |= (1L << b)
      b += 1
    }
    h
  }
}

/** One row of the kernel table ([[GraftFunctions.Kernels]]): the SQL
  * function `name`, the [[TextKernels]] static `method` it calls, the
  * declared input types (a child matches when its type equals the
  * declared one up to `containsNull`) and the output type. */
private[graft] case class Kernel(name: String, method: String, inputs: Seq[DataType],
                                 dataType: DataType) {
  def expression(args: Seq[Expression]): Expression = args match {
    case Seq(a) => Kernel1(this, a)
    case Seq(a, b) => Kernel2(this, a, b)
    case Seq(a, b, c) => Kernel3(this, a, b, c)
  }
}

/** A kernel-table row as a Catalyst expression. Generated code is one
  * `graft.functions.TextKernels.<method>(…)` call; interpreted `eval`
  * (constant folding, non-codegen operators) invokes the same static
  * through reflection, looked up from the declared input types, so the
  * two paths cannot run different kernels. Prints, and names its
  * result column, as `<name>(args)`. */
private[graft] sealed trait KernelExpression extends Expression {
  def kernel: Kernel
  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType).corresponds(kernel.inputs)(DataTypeUtils.equalsIgnoreNullability))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} expects (${kernel.inputs.map(_.sql).mkString(", ")}), " +
        s"got ${children.map(_.dataType.sql).mkString(", ")}")

  @transient private lazy val static =
    KernelExpression.Statics.getMethod(kernel.method, kernel.inputs.map(CodeGenerator.javaClass): _*)

  protected def call(args: Any*): Any =
    try static.invoke(null, args.asInstanceOf[Seq[AnyRef]]: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }

  protected def callCode(args: String*): String =
    s"${KernelExpression.Statics.getName}.${kernel.method}(${args.mkString(", ")})"
}

private[graft] object KernelExpression {
  /** The class holding [[TextKernels]]' static forwarders — what
    * generated code names. */
  private val Statics: Class[_] = Class.forName(TextKernels.getClass.getName.stripSuffix("$"))
}

private[graft] case class Kernel1(kernel: Kernel, child: Expression) extends UnaryExpression with KernelExpression {
  override def nullSafeEval(a: Any): Any = call(a)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => callCode(a))
  override protected def withNewChildInternal(c: Expression): Kernel1 = copy(child = c)
}

private[graft] case class Kernel2(kernel: Kernel, left: Expression, right: Expression)
    extends BinaryExpression with KernelExpression {
  override def nullSafeEval(a: Any, b: Any): Any = call(a, b)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => callCode(a, b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Kernel2 =
    copy(left = l, right = r)
}

private[graft] case class Kernel3(kernel: Kernel, first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with KernelExpression {
  override def nullSafeEval(a: Any, b: Any, c: Any): Any = call(a, b, c)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => callCode(a, b, c))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Kernel3 =
    copy(first = a, second = b, third = c)
}

/** Element-wise fixed-point sum of an `array<float>` column — of the
  * elements (`graft_vecsum`) or of their squares (`graft_vecsum_sq`).
  * The plain sum is the one-pass vector aggregate behind the IVF
  * k-means fit (each Lloyd iteration aggregates per-cluster vector sums
  * in a single map-side-combined pass, instead of `posexplode`-ing every
  * vector into dim rows); with the squares it gives exact per-dimension
  * variance ranks (n·Σx²·S − (Σx)² in integer arithmetic), which is what
  * the permutation-OPQ dimension allocation sorts on.
  *
  * Accumulates `round(term * 1e9)` in longs, so the sum is EXACT and
  * order-independent (long addition commutes) — the fitted centroids are
  * bit-identical across partitionings and runs, which the repo's
  * determinism policy requires of every model fit, and SQL replays it
  * with the same floor+carry rounding as the vecsum oracles. Output is
  * the scaled sum vector `array<bigint>`; divide by
  * `VectorSumFixed.Scale * n` for the mean. Long range: 9.2e18 / 1e9
  * leaves ~9e9 of summed magnitude per dimension before overflow — far
  * beyond any per-cluster fit batch (fit on a bounded sample at corpus
  * scale). */
case class VectorSumFixed(child: Expression,
                          squares: Boolean,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = if (squares) "graft_vecsum_sq" else "graft_vecsum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects (ARRAY<FLOAT>), got ${t.sql}")
  }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val b = if (buffer.length < n) java.util.Arrays.copyOf(buffer, n) else buffer
    var i = 0
    while (i < n) {
      val x = arr.getFloat(i).toDouble
      b(i) += math.round((if (squares) x * x else x) * VectorSumFixed.Scale)
      i += 1
    }
    b
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    val (big, small) = if (b1.length >= b2.length) (b1, b2) else (b2, b1)
    var i = 0
    while (i < small.length) { big(i) += small(i); i += 1 }
    big
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer.clone())

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumFixed =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumFixed =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorSumFixed =
    copy(child = newChild)
}

object VectorSumFixed {
  /** Fixed-point scale: 1e-9 resolution per element. */
  val Scale: Long = 1000000000L
}

/** Bounded top-k neighbor heap aggregate: keeps the k best
  * (score desc, id asc) pairs per group, TRUNCATED MAP-SIDE — the
  * shuffle ships ≤ k entries per (group, map partition) instead of the
  * full candidate fan-out, which is what makes a k-NN-graph build's
  * final aggregation shuffle O(n·k) rather than O(Σ bucket²) (the
  * row_number-window form it replaces sorts and shuffles every
  * candidate row). Ordering on (rounded) doubles with an id tie-break
  * is exact, so the result is identical to the window form. Output:
  * `array<struct<nbr_id bigint, cos_sim double>>` in rank order. */
case class TopKPairsAgg(first: Expression, second: Expression, third: Expression,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.ArrayList[Array[Long]]]
    with org.apache.spark.sql.catalyst.trees.TernaryLike[Expression] {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("nbr_id", LongType, nullable = false),
      StructField("cos_sim", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, DoubleType, IntegerType) if third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_topk_pairs expects (bigint, double, int literal k), got ${a.sql}, ${b.sql}, ${c.sql}")
    }

  private lazy val k: Int = third.eval().asInstanceOf[Int]

  // buffer entries are [id, doubleToLongBits(score)]; kept sorted by
  // (score desc, id asc), capped at k — insert/merge are O(k), k tiny
  private def better(idA: Long, sA: Double, idB: Long, sB: Double): Boolean =
    sA > sB || (sA == sB && idA < idB)

  private def insert(buf: java.util.ArrayList[Array[Long]], id: Long, s: Double): Unit = {
    var i = 0
    while (i < buf.size() &&
      better(buf.get(i)(0), java.lang.Double.longBitsToDouble(buf.get(i)(1)), id, s)) i += 1
    if (i < k) {
      buf.add(i, Array(id, java.lang.Double.doubleToLongBits(s)))
      if (buf.size() > k) buf.remove(k)
    }
  }

  override def createAggregationBuffer(): java.util.ArrayList[Array[Long]] =
    new java.util.ArrayList[Array[Long]](k + 1)

  override def update(buf: java.util.ArrayList[Array[Long]], input: InternalRow)
      : java.util.ArrayList[Array[Long]] = {
    val idv = first.eval(input)
    val sv = second.eval(input)
    if (idv != null && sv != null)
      insert(buf, idv.asInstanceOf[Long], sv.asInstanceOf[Double])
    buf
  }

  override def merge(b1: java.util.ArrayList[Array[Long]],
                     b2: java.util.ArrayList[Array[Long]]): java.util.ArrayList[Array[Long]] = {
    var i = 0
    while (i < b2.size()) {
      val e = b2.get(i)
      insert(b1, e(0), java.lang.Double.longBitsToDouble(e(1)))
      i += 1
    }
    b1
  }

  override def eval(buf: java.util.ArrayList[Array[Long]]): Any = {
    val out = new Array[Any](buf.size())
    var i = 0
    while (i < buf.size()) {
      val e = buf.get(i)
      out(i) = InternalRow(e(0), java.lang.Double.longBitsToDouble(e(1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.ArrayList[Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size() * 16)
    var i = 0
    while (i < buf.size()) { bb.putLong(buf.get(i)(0)); bb.putLong(buf.get(i)(1)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.ArrayList[Array[Long]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new java.util.ArrayList[Array[Long]](bytes.length / 16 + 1)
    var i = 0
    while (i < bytes.length / 16) { out.add(Array(bb.getLong(), bb.getLong())); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKPairsAgg =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Registration (via `SparkSessionExtensions`, wired in `GraftSession`)
  * plus Column-API wrappers. Any session built through
  * `GraftSession.builder` has every `graft_*` function registered here
  * ([[GraftFunctions.Kernels]] plus the six expressions `register`
  * lists beside it are the authoritative list) available both in SQL
  * and through these wrappers. */
object GraftFunctions {

  /** The kernel table: every scalar `graft_*` function that is one
    * [[TextKernels]] call. */
  private[graft] val Kernels: Seq[Kernel] = {
    def out(t: DataType) = ArrayType(t, containsNull = false)
    val text = StringType
    val int = IntegerType
    val strs = ArrayType(StringType)
    val emb = ArrayType(FloatType)
    val mat = ArrayType(ArrayType(DoubleType)) // literal planes / centroids
    val books = ArrayType(mat)                  // literal PQ codebooks [m][k][dim/m]
    Seq(
      Kernel("graft_hamming64", "hamming64", Seq(LongType, LongType), IntegerType),
      Kernel("graft_vec_norm", "vecNorm", Seq(emb), DoubleType),
      Kernel("graft_sig_agree", "sigAgree", Seq(ArrayType(LongType), ArrayType(LongType)), IntegerType),
      Kernel("graft_phash64", "phash64", Seq(BinaryType), LongType),
      Kernel("graft_fnv64", "fnv64Str", Seq(text), LongType),
      Kernel("graft_normalize_text", "normalizeText", Seq(text), StringType),
      Kernel("graft_shingles", "shingles3", Seq(text), out(StringType)),
      Kernel("graft_shingles_k", "shinglesK", Seq(text, int), out(StringType)),
      Kernel("graft_winnow", "winnow", Seq(text, int, int), out(StringType)),
      Kernel("graft_bpe_pairs", "bpePairs", Seq(text), out(StringType)),
      Kernel("graft_char_syms", "charSyms", Seq(text), out(StringType)),
      Kernel("graft_bpe_merge", "bpeMerge", Seq(strs, text, text), out(StringType)),
      Kernel("graft_repetition_profile", "repetitionProfile", Seq(text), out(IntegerType)),
      Kernel("graft_ttr_profile", "ttrProfile", Seq(text), out(IntegerType)),
      Kernel("graft_stopword_profile", "stopwordProfile", Seq(text, ArrayType(strs)), out(IntegerType)),
      Kernel("graft_minhash", "minhash128", Seq(strs), out(LongType)),
      Kernel("graft_simhash", "simhash64", Seq(strs), LongType),
      Kernel("graft_hyperplane_sig", "hyperplaneSig", Seq(emb, mat), LongType),
      Kernel("graft_nearest_centroid", "nearestCentroid", Seq(emb, mat), IntegerType),
      Kernel("graft_nearest_centroids", "nearestCentroids", Seq(emb, mat, int), out(IntegerType)),
      Kernel("graft_centroid_dist2s", "nearestTwoDist2", Seq(emb, mat), out(DoubleType)),
      Kernel("graft_vec_residual", "vecResidual", Seq(emb, mat, int), out(FloatType)),
      Kernel("graft_pq_encode", "pqEncode", Seq(emb, books), out(IntegerType)),
      Kernel("graft_pq_errors", "pqErrors", Seq(emb, books), out(DoubleType)),
      Kernel("graft_pq_adc_cosine", "pqAdcCosine",
        Seq(ArrayType(IntegerType), ArrayType(DoubleType), ArrayType(DoubleType)), DoubleType))
  }

  def register(ext: SparkSessionExtensions): Unit = {
    val others = Seq[(String, Class[_], Int, Seq[Expression] => Expression)](
      ("graft_cosine", classOf[CosineSimilarity], 2, c => CosineSimilarity(c(0), c(1))),
      ("graft_vecsum", classOf[VectorSumFixed], 1, c => VectorSumFixed(c(0), squares = false)),
      ("graft_vecsum_sq", classOf[VectorSumFixed], 1, c => VectorSumFixed(c(0), squares = true)),
      ("graft_topk_pairs", classOf[TopKPairsAgg], 3, c => TopKPairsAgg(c(0), c(1), c(2))),
      // Spark's own Bloom sketch expressions (public Catalyst classes,
      // used internally for runtime row-level filtering) surfaced as
      // graft functions: build with an aggregate over xxhash64(value),
      // probe scan-side against the serialized filter literal.
      ("graft_bloom_agg", classOf[BloomFilterAggregate], 3,
        c => new BloomFilterAggregate(c(0), c(1), c(2))),
      ("graft_might_contain", classOf[BloomFilterMightContain], 2,
        c => BloomFilterMightContain(c(0), c(1))))
    val kernels = Kernels.map(k => (k.name, classOf[KernelExpression], k.inputs.length, k.expression _))
    for ((name, cls, arity, build) <- kernels ++ others)
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) =>
          if (children.length == arity) build(children)
          else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> children.length.toString, "docroot" -> org.apache.spark.SPARK_DOC_ROOT))))
  }

  /** Cosine similarity of two Array[Float] columns → double. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** FNV-1a 64 of a string column → signed long (engine-portable hash). */
  def fnv64(s: Column): Column = call_function("graft_fnv64", s)

  /** `[d2_nearest, d2_second]` squared-L2 pair vs a centroid matrix. */
  def centroidDist2s(embedding: Column, centroids: Column): Column =
    call_function("graft_centroid_dist2s", embedding, centroids)

  /** Per-subspace PQ quantization error vs a literal codebook tensor. */
  def pqErrors(embedding: Column, books: Column): Column =
    call_function("graft_pq_errors", embedding, books)

  /** Hamming distance of two int64 fingerprint columns → int. */
  def hamming64(a: Column, b: Column): Column = call_function("graft_hamming64", a, b)

  /** Distinct word 3-gram shingles of a text column → array<string>. */
  def shingles(text: Column): Column = call_function("graft_shingles", text)

  /** Adjacent char pairs per word, with multiplicity (BPE merge stats). */
  def bpePairs(text: Column): Column = call_function("graft_bpe_pairs", text)

  /** NFC + control-strip + whitespace-collapse canonical cleanup. */
  def normalizeText(text: Column): Column = call_function("graft_normalize_text", text)

  /** One symbol per codepoint of a word (round-0 BPE segmentation). */
  def charSyms(word: Column): Column = call_function("graft_char_syms", word)

  /** Greedy leftmost merge of adjacent (a, b) symbols → concatenation. */
  def bpeMerge(syms: Column, a: Column, b: Column): Column =
    call_function("graft_bpe_merge", syms, a, b)

  /** Winnowing fingerprints of the k-gram stream, window w → array<string>. */
  def winnow(text: Column, k: Column, w: Column): Column =
    call_function("graft_winnow", text, k, w)

  /** Equal-component count of two bigint signature arrays. */
  def sigAgree(a: Column, b: Column): Column = call_function("graft_sig_agree", a, b)

  /** L2 norm of a float-array embedding column → double. */
  def vecNorm(a: Column): Column = call_function("graft_vec_norm", a)

  /** 128-perm MinHash signature of a shingle-array column → array<bigint>. */
  def minhash(shingles: Column): Column = call_function("graft_minhash", shingles)

  /** 64-bit SimHash of a token-array column → bigint. */
  def simhash(tokens: Column): Column = call_function("graft_simhash", tokens)

  /** Hyperplane LSH bucket of an embedding vs a literal plane matrix → bigint. */
  def hyperplaneSig(embedding: Column, planes: Column): Column =
    call_function("graft_hyperplane_sig", embedding, planes)

  /** Nearest-centroid index of an embedding vs a literal centroid matrix → int. */
  def nearestCentroid(embedding: Column, centroids: Column): Column =
    call_function("graft_nearest_centroid", embedding, centroids)

  /** Indices of the m nearest centroids of an embedding vs a literal
    * centroid matrix → array<int>, nearest first. */
  def nearestCentroids(embedding: Column, centroids: Column, m: Column): Column =
    call_function("graft_nearest_centroids", embedding, centroids, m)

  /** One-pass token/stopword profile of a text column vs a literal list of
    * word lists → array<int> `[n_tokens, hits_0, …]`. */
  def stopwordProfile(text: Column, lists: Column): Column =
    call_function("graft_stopword_profile", text, lists)

  /** Fixed-point element-wise sum aggregate of an array<float> column →
    * array<bigint> (scaled by [[VectorSumFixed.Scale]]). */
  def vecSum(embedding: Column): Column = call_function("graft_vecsum", embedding)

  /** Fixed-point element-wise sum of SQUARES aggregate of an
    * array<float> column → array<bigint> (scaled by
    * [[VectorSumFixed.Scale]]) — the second moment for exact
    * per-dimension variance ranking. */
  def vecSumSq(embedding: Column): Column = call_function("graft_vecsum_sq", embedding)

  /** Bounded top-k (score desc, id asc) neighbor heap aggregate —
    * map-side-truncated; → array<struct<nbr_id, cos_sim>> rank-ordered. */
  def topkPairs(nbrId: Column, score: Column, k: Column): Column =
    call_function("graft_topk_pairs", nbrId, score, k)

  /** PQ-encode an embedding vs a literal codebook tensor → array<int>. */
  def pqEncode(embedding: Column, books: Column): Column =
    call_function("graft_pq_encode", embedding, books)

  /** ADC approximate cosine of a PQ-code column vs literal LUTs → double. */
  def pqAdcCosine(codes: Column, dotLut: Column, norm2Lut: Column): Column =
    call_function("graft_pq_adc_cosine", codes, dotLut, norm2Lut)

  /** Coarse-centroid residual of an embedding → array<float>. */
  def vecResidual(embedding: Column, centroids: Column, cluster: Column): Column =
    call_function("graft_vec_residual", embedding, centroids, cluster)

  /** Type/token profile of a text column → array<int>
    * `[n_tokens, n_distinct]`. */
  def ttrProfile(text: Column): Column = call_function("graft_ttr_profile", text)

  /** Word-3-gram repetition profile of a text column → array<int>
    * `[total, distinct, max_freq]`. */
  def repetitionProfile(text: Column): Column =
    call_function("graft_repetition_profile", text)

  /** Distinct word k-gram shingles of a text column → array<string>. */
  def shinglesK(text: Column, k: Column): Column =
    call_function("graft_shingles_k", text, k)

  /** 64-bit blockhash perceptual fingerprint of a binary column → bigint. */
  def phash64(bytes: Column): Column = call_function("graft_phash64", bytes)

  /** Bloom-filter aggregate over a pre-hashed (xxhash64) long column →
    * serialized sketch binary. */
  def bloomAgg(hashed: Column, estimatedItems: Column, numBits: Column): Column =
    call_function("graft_bloom_agg", hashed, estimatedItems, numBits)

  /** Scan-side Bloom probe: might the sketch contain this xxhash64? */
  def mightContain(bloom: Column, hashed: Column): Column =
    call_function("graft_might_contain", bloom, hashed)
}
