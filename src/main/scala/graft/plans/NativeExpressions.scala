package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector hot path (SURVEY.md §7.2's
  * "custom work only where it pays"): a fused dot product that walks the two
  * `ArrayData` buffers in a tight loop inside whole-stage codegen.
  *
  * The declarative twin `aggregate(zip_with(a, b, _*_), 0, _+_)` is
  * semantically identical but materializes the element-wise product array
  * and evaluates two lambdas per element; on a 100 TB ANN scan the fused
  * loop removes one array allocation + 2n lambda dispatches per pair.
  * [[RewriteDotProduct]] turns the declarative form into this one, so query
  * authors keep writing the portable shape.
  */
abstract class ArrayDotBase extends BinaryExpression {
  protected def elemType: DataType

  /** Length mismatch OR a NULL element yields NULL — mirrors the declarative
    * aggregate(zip_with(...)) form, where zip_with pads the shorter array
    * with NULLs, Multiply maps a NULL operand to a NULL product, and the Add
    * fold carries any NULL through to a NULL total. */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l, _), ArrayType(r, _)) if l == elemType && r == elemType =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<${elemType.simpleString}> arguments, " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
}

/** Static loops behind the sketch expressions ([[SimHashSig]],
  * [[MinHashSig]]) — one pass over the shingle-id array computing every
  * lane, instead of k interpreted higher-order-function folds (Spark's
  * array lambdas are CodegenFallback; k passes of interpreted lambda
  * dispatch dominated the sketch queries). */
object SketchUtil {
  /** sig bit j = sign of sum over wids of +-1(((a(j)*w+b(j)) mod p) odd). */
  def simhash(wids: ArrayData, a: Array[Long], b: Array[Long], p: Long): Long = {
    val nbits = a.length
    val sums = new Array[Int](nbits)
    val n = wids.numElements()
    var i = 0
    while (i < n) {
      val w = wids.getLong(i)
      var j = 0
      while (j < nbits) {
        if (((a(j) * w + b(j)) % p) % 2 == 1) sums(j) += 1 else sums(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < nbits) { if (sums(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  /** Java-regex `\s`: exactly the whitespace set [[graft.functions.Exprs
    * .normText]] collapses. `Character.isWhitespace` would differ: it also
    * takes the separators 0x1C-0x1F. */
  @inline def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  /** The words of a document, the native twin of [[graft.functions.Exprs
    * .words]]: the maximal runs of non-[[isWs]] chars, in order. A blank
    * text has no words here where `words` yields one empty word; every
    * pass below emits nothing below 3 words, so the two agree. */
  def words(s: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    var i = 0
    while (i < s.length) {
      while (i < s.length && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < s.length && !isWs(s.charAt(i))) i += 1
      if (i > start) out.add(s.substring(start, i))
    }
    out
  }

  /** Polynomial hash of each word: sum over the first `coef.length`
    * codepoints (padded with '@') of coef(i)*cp(i), plus 31*charlen, mod
    * p. Exactly mirrors the declarative rpad/substring/ascii pipeline (and
    * its DuckDB twin), `Dedup.wordHash`. */
  def wordHashes(words: java.util.ArrayList[String], coef: Array[Long], p: Long): Array[Long] = {
    val width = coef.length
    val hs = new Array[Long](words.size())
    var w = 0
    while (w < hs.length) {
      val cps = words.get(w).codePoints().toArray
      var h = 0L
      var i = 0
      while (i < width) {
        h += coef(i) * (if (i < cps.length) cps(i) else '@'.toInt)
        i += 1
      }
      hs(w) = (h + 31L * cps.length) % p
      w += 1
    }
    hs
  }

  /** Id of the 3-gram starting at word `j`: (h0 + k2*h1 + k3*h2) mod p. */
  @inline def gram(hs: Array[Long], j: Int, k2: Long, k3: Long, p: Long): Long =
    (hs(j) + k2 * hs(j + 1) + k3 * hs(j + 2)) % p

  /** Distinct 3-gram shingle ids of a document in ONE pass: [[words]],
    * [[wordHashes]], [[gram]], distinct preserving first occurrence.
    * Semantics identical to the staged declarative pipeline
    * (Dedup.docWidArrays) and its DuckDB list CTE twin — this exists because
    * the declarative form runs on the interpreted expression evaluator
    * (higher-order functions are CodegenFallback), whose shared eval call
    * sites the JIT intermittently deopt-blacklists, leaving scans 100x+
    * slower in the bytecode interpreter. */
  def wordShingleIds(text: UTF8String, coef: Array[Long], k2: Long, k3: Long,
                     p: Long): ArrayData = {
    if (text == null) return null
    val ws = words(text.toString)
    val n = ws.size()
    if (n < 3) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = wordHashes(ws, coef, p)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j + 2 < n) {
      seen.add(java.lang.Long.valueOf(gram(hs, j, k2, k3, p)))
      j += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Distinct 3-gram word shingle STRINGS in one pass — the native twin of
    * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
    * slice(words(text), i+1, 3))))` (Dedup.shinglesOf). Shingle text is
    * the three [[words]] joined by single spaces (exactly what concat_ws
    * over the normText-split words yields); first-occurrence order like
    * array_distinct. The declarative form evaluates three interpreted
    * lambda/array passes PER DOCUMENT (transform + slice allocations +
    * array_distinct's pairwise walk) — one shingle pass over the sf0.1
    * corpus measured 3.0 s vs ~0.05 s for this loop (round 18). */
  def wordShingleStrings(text: UTF8String): ArrayData = {
    if (text == null) return null
    val ws = words(text.toString)
    val n = ws.size()
    if (n < 3)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j + 2 < n) {
      sb.setLength(0)
      sb.append(ws.get(j)).append(' ')
        .append(ws.get(j + 1)).append(' ')
        .append(ws.get(j + 2))
      seen.add(sb.toString)
      j += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** POSITIONAL 3-gram shingle ids in ONE pass — [[wordShingleIds]] without
    * the distinct: element j (0-based) is the shingle id of the gram
    * starting at word j+1 (1-based), so a consumer can map a duplicated id
    * back to the word positions it covers (the exact-substring scrub). */
  def wordShinglePos(text: UTF8String, coef: Array[Long], k2: Long, k3: Long,
                     p: Long): ArrayData = {
    if (text == null) return null
    val ws = words(text.toString)
    val n = ws.size()
    if (n < 3) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = wordHashes(ws, coef, p)
    val out = new Array[Long](n - 2)
    var j = 0
    while (j + 2 < n) {
      out(j) = gram(hs, j, k2, k3, p)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Winnowing fingerprint selection (MOSS) in ONE fused pass: [[words]],
    * [[wordHashes]], 3-word [[gram]] ids encoded as
    * v = h*m - gramPos (order-isomorphic to (h asc, pos desc) — rightmost
    * tie-break for free), sliding 4-gram window minimum with
    * consecutive-duplicate suppression. Same-value selections are always
    * consecutive (v is position-unique and the windows containing a
    * position form an interval), so the last-emitted check IS the per-doc
    * distinct. Semantics identical to TextAnalysis.taWinnow's declarative
    * chain and its DuckDB windowed-frame twin; this exists because the
    * staged higher-order form gets re-inlined into optimizer-inferred
    * predicates (InferFiltersFromConstraints), where the interpreted
    * evaluator re-derives the whole gram chain per row — the fused loop is
    * O(words) with zero allocation beyond the output. */
  def winnowSelect(text: UTF8String, coef: Array[Long], k2: Long, k3: Long,
                   p: Long, m: Long): ArrayData = {
    if (text == null) return null
    val ws = words(text.toString)
    val n = ws.size()
    // < 6 words -> < 4 grams -> no full window -> empty fingerprint
    if (n < 6) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = wordHashes(ws, coef, p)
    val ng = n - 2
    val g = new Array[Long](ng)
    var j = 0
    while (j < ng) {
      g(j) = gram(hs, j, k2, k3, p) * m - j
      j += 1
    }
    val out = new Array[Long](ng - 3)
    var o = 0
    var haveLast = false
    var last = 0L
    j = 3
    while (j < ng) {
      var mv = g(j)
      if (g(j - 1) < mv) mv = g(j - 1)
      if (g(j - 2) < mv) mv = g(j - 2)
      if (g(j - 3) < mv) mv = g(j - 3)
      if (!haveLast || mv != last) {
        out(o) = mv; o += 1
        haveLast = true; last = mv
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, o))
  }

  /** min over wids of (a(j)*w+b(j)) mod p, per lane j; null for empty input
    * (mirrors array_min/list_min over an empty list). */
  def minhash(wids: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val n = wids.numElements()
    if (n == 0) return null
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val w = wids.getLong(i)
      var j = 0
      while (j < k) {
        val v = (a(j) * w + b(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Base for the one-pass sketch expressions over `array<bigint>` shingle
  * ids, parameterized by seed tables.
  *
  * Input is restricted to `containsNull = false` arrays (what
  * [[WordShingleIds]] produces): the tight loops index elements with
  * `getLong` and a silently-skipped null would diverge from the declarative
  * lambda twins, so nullable-element arrays are rejected at analysis time. */
abstract class SketchBase extends UnaryExpression {
  def seedsA: Seq[Long]
  def seedsB: Seq[Long]
  def modulus: Long

  protected lazy val aArr: Array[Long] = seedsA.toArray
  protected lazy val bArr: Array[Long] = seedsB.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> with non-nullable elements " +
        s"(the graft_word_shingles output shape), got ${t.simpleString}")
  }
}

/** `graft_simhash(wids)`: n-bit SimHash signature in one array pass. */
case class SimHashSig(child: Expression, seedsA: Seq[Long], seedsB: Seq[Long],
                      modulus: Long) extends SketchBase {
  require(seedsA.length == seedsB.length && seedsA.length <= 64)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(v: Any): Any =
    SketchUtil.simhash(v.asInstanceOf[ArrayData], aArr, bArr, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("simhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("simhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchUtil.simhash($c, $aRef, $bRef, ${modulus}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_minhash(wids)`: k-lane MinHash signature in one array pass; null
  * on an empty shingle set (as array_min of an empty array). */
case class MinHashSig(child: Expression, seedsA: Seq[Long], seedsB: Seq[Long],
                      modulus: Long) extends SketchBase {
  require(seedsA.length == seedsB.length)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(v: Any): Any =
    SketchUtil.minhash(v.asInstanceOf[ArrayData], aArr, bArr, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val res = ctx.freshName("res")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.plans.SketchUtil.minhash($c, $aRef, $bRef, ${modulus}L);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The input check of the native expressions over one string column. */
trait StringInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${t.simpleString}")
  }
}

/** `graft_word_shingles(text)`: distinct 3-gram word-hash shingle ids in a
  * single codegen'd pass (see [[SketchUtil.wordShingleIds]]). */
case class WordShingleIds(child: Expression, coef: Seq[Long], k2: Long, k3: Long,
                          modulus: Long) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  private lazy val coefArr: Array[Long] = coef.toArray

  override protected def nullSafeEval(v: Any): Any =
    SketchUtil.wordShingleIds(v.asInstanceOf[UTF8String], coefArr, k2, k3, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("shingleCoef", coefArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchUtil.wordShingleIds($c, $cRef, ${k2}L, ${k3}L, ${modulus}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_word_shingle_pos(text)`: POSITIONAL (non-distinct) 3-gram shingle
  * ids in a single codegen'd pass (see [[SketchUtil.wordShinglePos]]) —
  * the span-addressable form the exact-substring scrub consumes. */
case class WordShinglePos(child: Expression, coef: Seq[Long], k2: Long, k3: Long,
                          modulus: Long) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_shingle_pos"

  private lazy val coefArr: Array[Long] = coef.toArray

  override protected def nullSafeEval(v: Any): Any =
    SketchUtil.wordShinglePos(v.asInstanceOf[UTF8String], coefArr, k2, k3, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("shinglePosCoef", coefArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchUtil.wordShinglePos($c, $cRef, ${k2}L, ${k3}L, ${modulus}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_word_shingle_strings(text)`: distinct 3-gram word shingle STRINGS
  * in a single codegen'd pass (see [[SketchUtil.wordShingleStrings]]) —
  * the native twin of Dedup.shinglesOf for consumers that need the actual
  * shingle text (dd_ngram_jaccard's set sizes over string shingles). */
case class WordShingleStrings(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingle_strings"

  override protected def nullSafeEval(v: Any): Any =
    SketchUtil.wordShingleStrings(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchUtil.wordShingleStrings($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_winnow(text)`: winnowing fingerprint selection values in a
  * single codegen'd pass (see [[SketchUtil.winnowSelect]]). */
case class WinnowSelect(child: Expression, coef: Seq[Long], k2: Long, k3: Long,
                        modulus: Long, posCap: Long) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  private lazy val coefArr: Array[Long] = coef.toArray

  override protected def nullSafeEval(v: Any): Any =
    SketchUtil.winnowSelect(v.asInstanceOf[UTF8String], coefArr, k2, k3,
      modulus, posCap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("winnowCoef", coefArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchUtil.winnowSelect($c, $cRef, " +
        s"${k2}L, ${k3}L, ${modulus}L, ${posCap}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_bloom_contains(wid)`: membership probe of a BROADCAST
  * `org.apache.spark.util.sketch.BloomFilter` over a bigint column, inside
  * whole-stage codegen. The decontamination dictionary tier past
  * broadcast-join size (TextAnalysis.decontamBloom): a 100M-id exact
  * dictionary is gigabytes as a broadcast hash relation but ~100 MB as a
  * 1%-fpp bloom, and the probe is a per-row hash — no join, no shuffle —
  * so non-matching rows (the overwhelming majority of corpus shingles)
  * die in the scan stage. Executors fetch the filter once via the
  * broadcast handle; only the handle rides the serialized expression. */
case class BloomMightContainLong(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
  extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects bigint, got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    bloom.value.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBcast", bloom,
      "org.apache.spark.broadcast.Broadcast")
    val bf = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
      "bloomFilter",
      v => s"$v = (org.apache.spark.util.sketch.BloomFilter) $ref.value();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $bf.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass scanner behind [[JsonLongField]]. Kept as a plain static
  * method so both the interpreted path and the generated Java call one
  * implementation. */
object JsonFieldUtil {
  /** Extract the integer value of a top-level `"key": <int>` field from a
    * flat JSON object, without allocating a parser. Returns null when the
    * key is absent or its value is not an integer literal. Quoted integer
    * values (`"k": "12"`, including CAST-style surrounding whitespace and a
    * leading '+' sign, e.g. `" 12 "` or `"+12"`) are accepted —
    * get_json_object + CAST, which this replaces in the scan hot path, trims
    * and also yields 12 for them. Values that
    * overflow a signed 64-bit long (including Long.MinValue, whose magnitude
    * can't be accumulated positively) return null instead of wrapping.
    *
    * Built for fixed-shape machine-written payloads (the events.props
    * case): per-row general-purpose JSON parsers proved pathologically
    * unstable in hot scans (intermittent 30x stalls inside per-row parser
    * construction), and a known-shape field probe is also the right scan
    * cost at 100 TB. For genuinely nested/unknown JSON use from_json. */
  def extract(json: UTF8String, key: UTF8String): java.lang.Long = {
    if (json == null || key == null) return null
    val s = json.toString
    val needle = "\"" + key.toString + "\""
    var from = 0
    while (from >= 0) {
      val i = s.indexOf(needle, from)
      if (i < 0) return null
      var j = i + needle.length
      while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
      if (j < s.length && s.charAt(j) == ':') {
        j += 1
        while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
        var quoted = false
        if (j < s.length && s.charAt(j) == '"') {
          quoted = true; j += 1
          // CAST trims whitespace inside the quotes: "  12 " -> 12
          while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
        }
        var neg = false
        if (j < s.length && s.charAt(j) == '-') { neg = true; j += 1 }
        else if (quoted && j < s.length && s.charAt(j) == '+') j += 1 // CAST accepts '+'
        var v = 0L
        var any = false
        while (j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
          val d = s.charAt(j) - '0'
          if (v > (Long.MaxValue - d) / 10) return null // would overflow
          v = v * 10 + d; any = true; j += 1
        }
        if (!any) return null
        if (quoted) {
          // the quoted value must be the integer up to trailing whitespace
          while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
          if (j < s.length && s.charAt(j) == '"')
            return java.lang.Long.valueOf(if (neg) -v else v)
          return null
        }
        // an integer literal ends the value; a '.' or exponent means non-int
        if (j >= s.length ||
            (s.charAt(j) != '.' && s.charAt(j) != 'e' && s.charAt(j) != 'E')) {
          return java.lang.Long.valueOf(if (neg) -v else v)
        }
        return null
      }
      from = i + 1
    }
    null
  }
}

/** Scanner behind [[HtmlClassElements]]: every element carrying a `class`
  * attribute, as its outer-HTML substring, in document order — the engine's
  * stand-in for the reference's `soup.find_all(True, class_=True)`
  * (step3_attempt1.py:240-275 `_collect_cards` walks these as candidate
  * cards). A flat regex cannot produce this — a non-greedy `<div.*?</div>`
  * truncates any card containing a nested `div` (the common
  * card-with-image-wrapper markup) and swallows nested classed elements
  * inside an outer match — so this is a proper tag-balance scan:
  * comments/doctype skipped, `script`/`style` bodies treated as raw text,
  * void and self-closed tags close immediately, a close tag pops through
  * unclosed children (lxml-style recovery, children end where the close tag
  * begins), and elements still open at EOF extend to end of input. One
  * codegen'd pass per page; the 100 TB portco scan cost is this walk, not a
  * per-row DOM build. */
object HtmlUtil {
  private val VoidTags: java.util.Set[String] = java.util.Set.of(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  private final class Open(val name: String, val start: Int, val cls: String)

  /** Value of the first `class` attribute in the tag text
    * `s[tagStart..tagEnd)`, or null when the tag has none. Matching requires
    * whitespace before `class` (any case), so `data-class=` never matches,
    * and the VALUE is read quote-style-agnostically — double-quoted,
    * single-quoted, or unquoted (up to the next whitespace) — like
    * BeautifulSoup's `el.get("class")`, which the reference reads
    * (step3_attempt1.py:250). A downstream regex that only accepted
    * `class="…"` silently dropped single-quoted/unquoted cards (ADVICE r5). */
  private def classAttrValue(s: String, tagStart: Int, tagEnd: Int): String = {
    var k = tagStart + 1
    var quote: Char = 0
    while (k < tagEnd) {
      val c = s.charAt(k)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if ((c == 'c' || c == 'C') && Character.isWhitespace(s.charAt(k - 1)) &&
          k + 5 <= tagEnd && s.regionMatches(true, k + 1, "lass", 0, 4)) {
        var j = k + 5
        while (j < tagEnd && Character.isWhitespace(s.charAt(j))) j += 1
        if (j < tagEnd && s.charAt(j) == '=') {
          j += 1
          while (j < tagEnd && Character.isWhitespace(s.charAt(j))) j += 1
          if (j >= tagEnd) return ""
          val q = s.charAt(j)
          if (q == '"' || q == '\'') {
            var e = j + 1
            while (e < tagEnd && s.charAt(e) != q) e += 1
            return s.substring(j + 1, e) // unclosed quote: to end of tag
          }
          // Unquoted value: stop at whitespace or a quote char — the
          // regex twins' [^\s>"']+ token (Exprs/PortCoPipeline), which is
          // also HTML5's attribute-value-unquoted state. Deliberately NOT
          // stopping at '/': the tokenizer keeps it in the value
          // (`<div class=foo/>` is "foo/"), and the one contract that
          // matters here is byte-for-byte agreement with the declarative
          // twins on the same markup (ADVICE r6 asked for the quote stops;
          // its '/'-stop suggestion would have DIVERGED from both).
          var e = j
          while (e < tagEnd && !Character.isWhitespace(s.charAt(e)) &&
              s.charAt(e) != '"' && s.charAt(e) != '\'') e += 1
          return s.substring(j, e)
        }
      }
      k += 1
    }
    null
  }

  /** Start of the real close tag of a raw-text element (`</name` followed by
    * '>', '/', whitespace, or EOF), case-insensitive, scanning forward from
    * `from`; -1 if absent. regionMatches keeps this allocation-free — the
    * previous `s.toLowerCase.indexOf` copied the ENTIRE document per
    * script/style element (O(bytes x scripts) on the 100 TB scan path) and
    * accepted `</scriptfoo>` as a closer (ADVICE r5). */
  private def findRawClose(s: String, from: Int, name: String): Int = {
    val n = s.length
    val len = name.length
    var j = from
    while (j + 2 + len <= n) {
      if (s.charAt(j) == '<' && s.charAt(j + 1) == '/' &&
          s.regionMatches(true, j + 2, name, 0, len)) {
        val after = j + 2 + len
        // a '</name' truncated at EOF is NOT a close tag (the documented
        // contract: scripts left unclosed at EOF yield nothing, matching
        // the regex twin's literal-close requirement)
        if (after < n) {
          val c = s.charAt(after)
          if (c == '>' || c == '/' || Character.isWhitespace(c)) return j
        }
      }
      j += 1
    }
    -1
  }

  /** End index (exclusive) of a tag that starts at `i` — the first '>'
    * outside quoted attribute values; -1 when the tag never closes. */
  private def tagEnd(s: String, i: Int): Int = {
    var j = i
    var quote: Char = 0
    while (j < s.length) {
      val c = s.charAt(j)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return j + 1
      j += 1
    }
    -1
  }

  private final class Span(val start: Int, val end: Int, val cls: String)

  /** True when `ld+json` occurs (case-insensitively) in `s[from..to)` —
    * the opening-tag test the reference's `<script[^>]*ld\+json[^>]*>`
    * regex performs, without lowercasing the page. */
  private def containsLdJson(s: String, from: Int, to: Int): Boolean = {
    var j = from
    while (j + 7 <= to) {
      if (s.regionMatches(true, j, "ld+json", 0, 7)) return true
      j += 1
    }
    false
  }

  def classElements(html: UTF8String): ArrayData = {
    if (html == null) return null
    val s = html.toString
    elementArray(s, walk(s, null))
  }

  /** ONE walk of the page producing BOTH portco inputs:
    * `struct(els: array<struct<el,cls>>, scripts: array<string>)` — the
    * classed-element structs and the ld+json script bodies. This is the
    * whole-pipeline scan fusion: [[classElements]] plus a separate
    * full-page regex pass for scripts walks every byte twice; at 100 TB of
    * HTML the page walk IS the pipeline cost, so the fused scan halves it.
    * Script-body semantics mirror the declarative
    * `regexp_extract_all(html, '(?si)<script[^>]*ld\\+json[^>]*>(.*?)</script>', 1)`
    * twin (spec-matched on canonical markup): body runs from the opening
    * tag's '>' to the first real close tag, scripts left unclosed at EOF
    * yield nothing.
    *
    * Known divergences from the regex twin, all cases where the regex
    * misreads HTML and this scanner is the parser-correct reading:
    *  - a quoted '>' inside the opening tag (`<script data-x="a>b"
    *    type=...ld+json...>`): the regex's `[^>]*` stops at the quoted '>'
    *    and misses the script; the scanner tracks quotes and collects it;
    *  - a self-closed `<script .../>`: the regex can swallow the FOLLOWING
    *    plain script's body; the scanner emits nothing for a bodyless tag;
    *  - a close tag with trailing junk (`</script foo>`) is accepted here
    *    (lxml-style) but not by the literal-`</script>` regex. */
  def pageScan(html: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (html == null) return null
    val s = html.toString
    val scripts = new java.util.ArrayList[String]()
    val spans = walk(s, scripts)
    val scriptArr = new Array[Any](scripts.size())
    var k = 0
    while (k < scripts.size()) {
      scriptArr(k) = UTF8String.fromString(scripts.get(k)); k += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      elementArray(s, spans),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(scriptArr))
  }

  private def elementArray(s: String, spans: java.util.ArrayList[Span]): ArrayData = {
    val out = new Array[Any](spans.size())
    var k = 0
    while (k < spans.size()) {
      val sp = spans.get(k)
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(s.substring(sp.start, sp.end)),
        UTF8String.fromString(sp.cls))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Tag-balance walk (see object scaladoc). Emits every class-attributed
    * element span; when `scripts` is non-null, also collects the body of
    * every closed ld+json script in document order. */
  private def walk(s: String,
                   scripts: java.util.ArrayList[String]): java.util.ArrayList[Span] = {
    val n = s.length
    val stack = new java.util.ArrayList[Open]()
    val spans = new java.util.ArrayList[Span]()

    def popTo(name: String, childrenEnd: Int, selfEnd: Int): Unit = {
      var at = -1
      var k = stack.size() - 1
      while (k >= 0 && at < 0) { if (stack.get(k).name == name) at = k; k -= 1 }
      if (at < 0) return // stray close tag: ignore
      while (stack.size() > at) {
        val o = stack.remove(stack.size() - 1)
        val end = if (stack.size() == at) selfEnd else childrenEnd
        if (o.cls != null) spans.add(new Span(o.start, end, o.cls))
      }
    }

    var i = 0
    while (i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0) i = n
      else if (s.startsWith("<!--", lt)) {
        val e = s.indexOf("-->", lt + 4); i = if (e < 0) n else e + 3
      } else if (lt + 1 < n && (s.charAt(lt + 1) == '!' || s.charAt(lt + 1) == '?')) {
        val e = s.indexOf('>', lt); i = if (e < 0) n else e + 1
      } else if (lt + 1 < n && s.charAt(lt + 1) == '/') {
        var j = lt + 2
        while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
        val name = s.substring(lt + 2, j).toLowerCase(java.util.Locale.ROOT)
        val e = s.indexOf('>', j)
        val end = if (e < 0) n else e + 1
        if (name.nonEmpty) popTo(name, lt, end)
        i = end
      } else {
        var j = lt + 1
        while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
        if (j == lt + 1) i = lt + 1 // bare '<': text, not a tag
        else {
          val name = s.substring(lt + 1, j).toLowerCase(java.util.Locale.ROOT)
          val e = tagEnd(s, j)
          val end = if (e < 0) n else e
          val cls = if (e >= 0) classAttrValue(s, lt, e - 1) else null
          val selfClosed = e >= 2 && s.charAt(e - 2) == '/'
          if (name == "script" || name == "style") {
            // raw-text element: body may contain '<' that is not markup
            val close = findRawClose(s, end, name)
            val closeEnd = if (close < 0) -1 else s.indexOf('>', close)
            val bodyEnd =
              if (close < 0 || closeEnd < 0) n else closeEnd + 1
            if (cls != null) spans.add(new Span(lt, if (selfClosed) end else bodyEnd, cls))
            // fused ld+json collection: body of a FULLY-CLOSED script
            // (close tag completes with '>') whose opening tag mentions
            // ld+json — a close tag truncated at EOF emits nothing, like
            // the regex twin
            if (scripts != null && name == "script" && !selfClosed &&
                close >= 0 && closeEnd >= 0 && e >= 0 && containsLdJson(s, lt, end))
              scripts.add(s.substring(end, close))
            i = if (selfClosed) end else bodyEnd
          } else if (selfClosed || VoidTags.contains(name)) {
            if (cls != null) spans.add(new Span(lt, end, cls))
            i = end
          } else {
            stack.add(new Open(name, lt, cls))
            i = end
          }
        }
      }
    }
    // auto-close whatever is still open at EOF
    while (!stack.isEmpty) {
      val o = stack.remove(stack.size() - 1)
      if (o.cls != null) spans.add(new Span(o.start, n, o.cls))
    }
    spans.sort((a: Span, b: Span) => Integer.compare(a.start, b.start))
    spans
  }
}

/** `graft_html_class_elements(html)`: every class-attributed element as
  * `struct<el: outer-HTML, cls: raw class attribute value>`, document order
  * (see [[HtmlUtil.classElements]]). The class value comes from the
  * scanner's own quote-tracking attribute walk, not a downstream regex, so
  * single-quoted and unquoted `class` attributes carry their value too. */
case class HtmlClassElements(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("el", StringType, nullable = false),
      StructField("cls", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_html_class_elements"

  override protected def nullSafeEval(v: Any): Any =
    HtmlUtil.classElements(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HtmlUtil.classElements($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_html_page_scan(html)`: ONE walk of the page producing BOTH portco
  * pipeline inputs — `struct(els: array<struct<el,cls>>, scripts:
  * array<string>)` (see [[HtmlUtil.pageScan]]). The fused form of
  * [[HtmlClassElements]] + the ld+json `regexp_extract_all` twin: at 100 TB
  * of HTML the per-byte page walk is the pipeline's dominant cost, and the
  * unfused pair pays it twice. */
case class HtmlPageScan(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = StructType(Seq(
    StructField("els", ArrayType(
      StructType(Seq(
        StructField("el", StringType, nullable = false),
        StructField("cls", StringType, nullable = false))),
      containsNull = false), nullable = false),
    StructField("scripts", ArrayType(StringType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "graft_html_page_scan"

  override protected def nullSafeEval(v: Any): Any =
    HtmlUtil.pageScan(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HtmlUtil.pageScan($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_json_key_long(json, needle)` scanner: the value of the FIRST
  * top-level key whose name case-insensitively CONTAINS `needle` AND whose
  * value is an integer literal, as a long. X17 dynamic-key lookup
  * (reference founded_year.py:72-74 scans `"found" in key.lower()` over
  * EVERY key; a matching key with a non-integer value therefore must not end
  * the scan here. The reassignment loop only differs from first-match on
  * payloads with several integer-valued matching keys, where the reference
  * itself is dict-order-dependent).
  *
  * Declarative twin (spec-matched): `Exprs.foundedValue(from_json(props,
  * map<string,int>), "(?i)<needle>")`. On valid flat integer objects the two
  * are identical; on payloads from_json rejects wholesale (a non-integer
  * value under ANY key) the twin nulls the row while this probe still
  * returns a well-formed matching field — null only when NO matching key
  * carries an integer literal. Exists for the same reason as
  * [[JsonLongField]]: from_json is CodegenFallback and allocates a parser
  * per row — the interpreted-eval deopt-stall family — while this is a
  * single codegen'd byte scan. */
object JsonKeyUtil {
  def extract(json: UTF8String, needle: UTF8String): java.lang.Long = {
    if (json == null || needle == null) return null
    val s = json.toString
    val nd = needle.toString.toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    var i = 0
    while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
    if (i >= n || s.charAt(i) != '{') return null
    i += 1
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n || s.charAt(i) == '}') return null
      if (s.charAt(i) != '"') return null
      i += 1
      val kb = new java.lang.StringBuilder()
      while (i < n && s.charAt(i) != '"') {
        if (s.charAt(i) == '\\' && i + 1 < n) { kb.append(s.charAt(i + 1)); i += 2 }
        else { kb.append(s.charAt(i)); i += 1 }
      }
      if (i >= n) return null
      i += 1
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n || s.charAt(i) != ':') return null
      i += 1
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n) return null
      if (kb.toString.toLowerCase(java.util.Locale.ROOT).contains(nd)) {
        // Matching key whose value is an unquoted integer literal: done.
        // Any other value shape (string, float, object, overflow) falls
        // through to the generic skip so LATER matching keys still get a
        // chance — the reference's founded_year.py:72-74 loop visits every
        // key, so {"founders":"Jane","founded":1990} must yield 1990, not
        // null (ADVICE r5). Remaining divergence is ordering only: several
        // integer-valued matches resolve first-match here vs last-match in
        // the reference's reassignment loop (where the reference itself is
        // dict-order-dependent).
        var j = i
        var neg = false
        if (s.charAt(j) == '-') { neg = true; j += 1 }
        var v = 0L
        var any = false
        var overflow = false
        while (j < n && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
          val d = s.charAt(j) - '0'
          if (v > (Long.MaxValue - d) / 10) overflow = true else v = v * 10 + d
          any = true; j += 1
        }
        val intEnds = j >= n ||
          (s.charAt(j) != '.' && s.charAt(j) != 'e' && s.charAt(j) != 'E')
        if (any && !overflow && intEnds)
          return java.lang.Long.valueOf(if (neg) -v else v)
      }
      // skip this value: string, object/array (balanced, string-aware), or scalar
      s.charAt(i) match {
        case '"' =>
          i += 1
          while (i < n && s.charAt(i) != '"') {
            if (s.charAt(i) == '\\') i += 1
            i += 1
          }
          i += 1
        case '{' | '[' =>
          var depth = 0
          var inStr = false
          var done = false
          while (i < n && !done) {
            val ch = s.charAt(i)
            if (inStr) {
              if (ch == '\\') i += 1
              else if (ch == '"') inStr = false
            } else {
              if (ch == '"') inStr = true
              else if (ch == '{' || ch == '[') depth += 1
              else if (ch == '}' || ch == ']') { depth -= 1; if (depth == 0) done = true }
            }
            i += 1
          }
        case _ =>
          while (i < n && s.charAt(i) != ',' && s.charAt(i) != '}') i += 1
      }
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < n && s.charAt(i) == ',') i += 1
      else return null // '}' closes the object: no matching key
    }
    null
  }
}

/** `graft_json_key_long(json, needle)`: first-matching-key integer lookup
  * as a codegen'd byte scan (see [[JsonKeyUtil.extract]]). */
case class JsonKeyLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_json_key_long"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, string), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JsonKeyUtil.extract(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |java.lang.Long $res = graft.plans.JsonKeyUtil.extract($a, $b);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_json_long(json, key)`: integer field extraction from flat JSON
  * payloads as a codegen'd byte scan — no per-row parser allocation. */
case class JsonLongField(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_json_long"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, string), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JsonFieldUtil.extract(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |java.lang.Long $res = graft.plans.JsonFieldUtil.extract($a, $b);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact dot product of two `array<bigint>` vectors (quantized embeddings):
  * `graft_dot_q(a, b) = sum_i a[i]*b[i]` over the common prefix. */
case class DotProductQ(left: Expression, right: Expression) extends ArrayDotBase {
  override protected def elemType: DataType = LongType
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_q"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var acc = 0L
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Double-accumulated dot product of two `array<float>` embedding vectors
  * (sequential fold order — same result as the declarative double path). */
case class DotProductF(left: Expression, right: Expression) extends ArrayDotBase {
  override protected def elemType: DataType = FloatType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static tokenize+count pass behind [[WordCounts]]. One byte walk over the
  * document, splitting on [[SketchUtil.isWs]] runs: the contract is
  * byte-identity with [[graft.functions.Exprs.words]]. The walk stays on
  * the UTF-8 bytes, with no `UTF8String.toString` decode, and is exact:
  * every `\s` char is ASCII, and multibyte UTF-8 never contains an ASCII
  * byte. A hash count per distinct token, and the document length folded
  * into every element. Replaces the former explode -> groupBy(doc_id, word)
  * pipeline whose wide shuffle carried every token occurrence of the corpus
  * (TextAnalysis.taTermWeight) — here the per-document counting happens
  * inside the scan row and only distinct (word, tf) pairs leave it. */
object WordCountUtil {
  import SketchUtil.isWs

  /** `array<struct<w,tf,dl>>` of one document; tf = in-doc occurrences,
    * dl = total token count. Matches `Exprs.words` semantics exactly,
    * including the empty/blank document yielding ONE empty-string token
    * (split of "" is [""]). */
  def wordCounts(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var dl = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        val w = UTF8String.fromBytes(bytes, start, i - start)
        val c = counts.get(w)
        if (c == null) counts.put(w, Array(1L)) else c(0) += 1L
        dl += 1L
      }
    }
    if (counts.isEmpty) { // blank document: one empty token, as split("") -> [""]
      counts.put(UTF8String.EMPTY_UTF8, Array(1L))
      dl = 1L
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0), dl))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `graft_word_counts(text)`: per-document distinct (token, tf) pairs with
  * the document length dl folded into each element — the scan-stage form of
  * tokenize + count(*) GROUP BY (doc, word) + sum(tf) OVER (doc). */
case class WordCounts(child: Expression) extends UnaryExpression with StringInput {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w", StringType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("dl", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_word_counts"

  override protected def nullSafeEval(v: Any): Any =
    WordCountUtil.wordCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.WordCountUtil.wordCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static two-pointer loop behind [[ScrubWords]] — one forward pass over
  * the word array and the SORTED covered-position array. */
object ScrubUtil {
  /** Words at 1-based positions present in `cps` (sorted ascending) are
    * dropped; survivors are joined with a single space. Null words are
    * skipped, matching `concat_ws`'s null handling in the declarative
    * twin. O(n_words + n_covered) per row. */
  def scrub(ws: ArrayData, cps: ArrayData): UTF8String = {
    val n = ws.numElements()
    val m = cps.numElements()
    val parts = new java.util.ArrayList[UTF8String](math.max(0, n - m))
    var i = 0
    var j = 0
    while (i < n) {
      val pos = i + 1
      while (j < m && cps.getInt(j) < pos) j += 1
      if (!(j < m && cps.getInt(j) == pos) && !ws.isNullAt(i))
        parts.add(ws.getUTF8String(i))
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      parts.toArray(new Array[UTF8String](parts.size())): _*)
  }
}

/** `graft_scrub_words(ws, sorted_cps)`: scrubbed-text reassembly — drop
  * every word whose 1-based position appears in the sorted covered-position
  * array, join survivors with ' '. The two-pointer O(n + m) replacement for
  * `concat_ws(' ', filter(ws, (w, i) -> NOT array_contains(cps, i + 1)))`,
  * whose per-word membership probe is O(n × m) per DOCUMENT — a 10k-word
  * fully-duplicated document (exactly what a re-upload-heavy corpus
  * produces) pays ~10^8 comparisons in one task under the declarative form
  * (VERDICT r15 watch item). The right operand MUST be sorted ascending
  * (callers wrap `array_sort`; collect_set order is unspecified). */
case class ScrubWords(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_scrub_words"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, array<int>), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ScrubUtil.scrub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.ScrubUtil.scrub($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static loop behind [[NearestCells]] — one fused pass over the packed
  * centroid matrix per row, replacing kc separate literal-dot expressions. */
object CellArgminUtil {
  /** Book POSITIONS of the `n` nearest centroids of `v` under exact-long
    * squared L2, ordered by (distance, book position) ascending. Distances
    * are compared in the vv-free reduced form `cici − 2·v·ci`: the |v|²
    * term is a per-row constant shift, so every comparison (and every tie)
    * is identical to the full |v|² + |c|² − 2·v·c the declarative
    * [[graft.operators.Similarity]] centDists chain evaluates — and the
    * reduced form cannot overflow where the full one didn't. Tie-break =
    * first position (array_position-of-array_min semantics); with
    * id-sorted books (lloydBook sorts, the store serializer preserves
    * order) this equals the lowest cell id, matching the oracle's
    * ORDER BY d2, cell. */
  def nearest(v: ArrayData, flat: Array[Long], cici: Array[Long],
              dim: Int, n: Int): Array[Int] = {
    if (v.numElements() != dim) return null
    // a null element must yield NULL, matching the declarative centDists
    // chain (ADVICE r16: ArrayData.getLong reads a null slot as 0, which
    // would silently assign the row a concrete cell the oracle NULLs)
    var z = 0
    while (z < dim) { if (v.isNullAt(z)) return null; z += 1 }
    val k = cici.length
    val scores = new Array[Long](k)
    var i = 0
    while (i < k) {
      var dot = 0L
      var j = 0
      val off = i * dim
      while (j < dim) { dot += flat(off + j) * v.getLong(j); j += 1 }
      scores(i) = cici(i) - 2L * dot
      i += 1
    }
    val m = math.min(n, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var t = 0
    while (t < m) {
      var best = -1
      var bestScore = Long.MaxValue
      var c = 0
      while (c < k) {
        if (!taken(c) && (best < 0 || scores(c) < bestScore)) {
          best = c; bestScore = scores(c)
        }
        c += 1
      }
      taken(best) = true
      out(t) = best
      t += 1
    }
    out
  }
}

/** `graft_nearest_cells(q)`: the `n` nearest trained centroids of a
  * quantized vector as an array of cell IDS, ordered by (exact-long L2,
  * book position). The fused replacement for the literal-centroid-table
  * assignment projection (`array(centDists…)` + array_position-of-min):
  * that form builds kc separate dot expressions, so at the routed
  * kc = √n operating point (512 cells at a 200k-vector store) the
  * projection outgrows whole-stage codegen and falls back to interpreted
  * per-element lambda dispatch — measured 67 s of pure assignment over a
  * 200k-row encode at kc = 512, and the dominant term of the sf10 retrain
  * event. One expression, one tight loop, any kc. */
case class NearestCells(child: Expression, ids: Seq[Int], flat: Seq[Long],
                        cici: Seq[Long], dim: Int, n: Int)
  extends UnaryExpression {
  require(ids.nonEmpty && flat.length == ids.length * dim &&
    cici.length == ids.length && n >= 1)

  private lazy val idArr: Array[Int] = ids.toArray
  private lazy val flatArr: Array[Long] = flat.toArray
  private lazy val ciciArr: Array[Long] = cici.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> (a quantized vector), got ${t.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val pos = CellArgminUtil.nearest(
      v.asInstanceOf[ArrayData], flatArr, ciciArr, dim, n)
    if (pos == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      pos.map(idArr))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("cellFlat", flatArr, "long[]")
    val cRef = ctx.addReferenceObj("cellCici", ciciArr, "long[]")
    val iRef = ctx.addReferenceObj("cellIds", idArr, "int[]")
    nullSafeCodeGen(ctx, ev, c => {
      val pos = ctx.freshName("pos")
      val mapped = ctx.freshName("mapped")
      val t = ctx.freshName("t")
      s"""
         |int[] $pos = graft.plans.CellArgminUtil.nearest($c, $fRef, $cRef, $dim, $n);
         |if ($pos == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $mapped = new int[$pos.length];
         |  for (int $t = 0; $t < $pos.length; $t++) { $mapped[$t] = $iRef[$pos[$t]]; }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mapped);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
