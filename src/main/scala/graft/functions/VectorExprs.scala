package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the similarity/dedup hot paths.
  *
  * Rationale (SURVEY §4's "custom work only where built-ins are weak"):
  * higher-order functions (`zip_with`/`aggregate`/`transform`) are evaluated
  * INTERPRETED — one closure dispatch per array element plus intermediate
  * array materialization. On a 64-dim dot product over hundreds of
  * thousands of candidate pairs, or 16 minhash passes over shingle arrays,
  * that interpretive overhead dominates. These expressions run the same
  * arithmetic as one tight JIT'd loop per row:
  *
  *  - [[DotProductFloat]] — full whole-stage-codegen (`doGenCode` emits the
  *    loop straight into the generated consume path);
  *  - [[WordShingles]] / [[WordShingleHashes]] / [[MinHashSig]] — `eval`
  *    with a per-row tight loop (the output is an array, the loop is the
  *    whole cost; codegen would only remove a single virtual call per ROW,
  *    so eval is enough).
  *
  * Determinism: DotProductFloat accumulates float→double products
  * sequentially — bit-identical to the `zip_with`+`aggregate` fold it
  * replaces and to the DuckDB oracle's double fold. The hash expressions
  * use XXH64 (the engine of Spark's own xxhash64) — deterministic across
  * runs/partitionings; they back oracle-less keys only.
  */
object VectorExprs {
  /** Sequential-double dot product of two float vectors. */
  def dotf(a: Column, b: Column): Column =
    GraftShim.column(DotProductFloat(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** Distinct n-word shingles of a token array, first occurrence first —
    * bit-identical to the interpreted chain
    * `array_distinct(transform(sequence(1, size(tk) - (n - 1)),
    * i => concat_ws(" ", slice(tk, i, n))))` on arrays of ≥ n tokens;
    * fewer than n tokens yield an empty array. */
  def wordShingles(tokens: Column, n: Int): Column =
    GraftShim.column(WordShingles(GraftShim.expression(tokens), n))

  /** Distinct XXH64 hashes of n-word shingles of a token array. */
  def shingleHashes(tokens: Column, n: Int): Column =
    GraftShim.column(WordShingleHashes(
      GraftShim.expression(tokens), n))

  /** k-minhash signature of a hashed-shingle array. */
  def minhashSig(hashes: Column, k: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(hashes), k))

  /** |a ∩ b| of two SORTED long arrays (one merge pass, no intermediate
    * array — array_intersect materializes the intersection when only its
    * size is needed). */
  def sortedInterSize(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectionSize(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** 64-bit SimHash of a token array in ONE pass (vs a 64×-pass nested
    * HOF fold: one scan of the array per output bit). */
  def simhash64(tokens: Column): Column =
    GraftShim.column(SimHash64(GraftShim.expression(tokens)))

  /** Σ weight over the key-intersection of two (key, weight) struct
    * arrays SORTED by key — the IDF re-score's per-pair intersection
    * weight as one merge pass over per-doc arrays, replacing the
    * explode × equi-join × re-aggregate pipeline (r16: the exploded
    * pair×token exchange was the dominant cost of
    * llm_dedup_jaccard_idf). Join-semantics-exact: equal-key RUNS
    * contribute len(a-run)·len(b-run)·weight, exactly what the
    * (doc, key) equi-join + per-row weight join summed. */
  def sortedInterWeight(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectionWeight(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** FOUR 16-bit md5-SimHash band values of a token array in ONE pass
    * (vs the (doc, bit) lattice: 64 exploded rows per token + two
    * shuffled aggregations). Bit-identical to the lattice spelling —
    * see [[Md5SimhashBands]]. */
  def md5SimhashBands(tokens: Column): Column =
    GraftShim.column(Md5SimhashBands(GraftShim.expression(tokens)))

  /** k md5 minhash digests of a shingle array in ONE pass (vs k
    * interpreted array_min(transform(md5)) chains). Bit-identical to
    * `array_min(transform(sh, s => md5(concat(lit(s"$i:"), s))))`
    * per i — the engine-portable signature the DuckDB oracle reproduces. */
  def minhashMd5(shingles: Column, k: Int): Column =
    GraftShim.column(MinHashMd5Sigs(GraftShim.expression(shingles), k))

  /** k Kirsch–Mitzenmacher minhashes of a shingle array in ONE pass:
    * ONE md5 per shingle, h_i = h1 + i·h2 over the digest's two leading
    * 32-bit halves — ~1/k of [[minhashMd5]]'s digest work. Bit-identical
    * to the HOF spelling
    * `transform(seq(0,k-1), i => array_min(transform(sh, s =>
    * conv(substr(md5(s),1,8),16,10) + i*conv(substr(md5(s),9,8),16,10))))`
    * and to the DuckDB twin's BIGINT arithmetic (values < 2³⁶ — no
    * overflow anywhere). */
  def minhashKM(shingles: Column, k: Int): Column =
    GraftShim.column(MinHashKMSigs(GraftShim.expression(shingles), k))
}

case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> inputs")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_float"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The n-word window loop of [[WordShingles]] and [[WordShingleHashes]]:
  * each window of n consecutive tokens, joined exactly as
  * `concat_ws(" ", slice(tk, i, n))` joins it (null tokens skipped), in
  * array order. Fewer than n tokens → no window. */
private object ShingleWindows {
  private val space = UTF8String.fromString(" ")

  /** Number of windows of `toks`. */
  def count(toks: ArrayData, n: Int): Int =
    math.max(toks.numElements() - n + 1, 0)

  def foreach(toks: ArrayData, n: Int)(f: UTF8String => Unit): Unit = {
    val parts = new Array[UTF8String](n)
    val count = this.count(toks, n)
    var i = 0
    while (i < count) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      f(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
  }
}

/** The input check of the token-array kernels: one `array<string>`
  * child, refused at analysis otherwise. */
trait StringArrayInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> input")
    }
}

/** Distinct n-word shingles ("w1 w2 … wn") of a token array in
  * first-occurrence order — one row-level loop replacing the
  * sequence→transform→slice→concat_ws→array_distinct chain, whose
  * `transform` is CodegenFallback (an interpreted lambda walk per
  * shingle). Strings are compared by their UTF-8 bytes, as
  * array_distinct compares them. */
case class WordShingles(child: Expression, n: Int)
    extends StringArrayInput
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val seen = new java.util.LinkedHashSet[UTF8String](
      2 * ShingleWindows.count(toks, n))
    ShingleWindows.foreach(toks, n)(seen.add(_))
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Distinct XXH64 hashes of all n-word shingles ("w1 w2 … wn") of a token
  * array — one row-level loop replacing a sequence→transform→element_at→
  * concat_ws→xxhash64→array_distinct interpreted chain. */
case class WordShingleHashes(child: Expression, n: Int)
    extends StringArrayInput
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val seen = new java.util.LinkedHashSet[java.lang.Long](
      2 * ShingleWindows.count(toks, n))
    ShingleWindows.foreach(toks, n) { sh =>
      seen.add(XXH64.hashUnsafeBytes(
        sh.getBaseObject, sh.getBaseOffset, sh.numBytes, 42L))
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Intersection size of two sorted long arrays by a single merge pass.
  * Callers must pre-sort (array_sort) — done once per document, not once
  * per candidate pair. */
case class SortedIntersectionSize(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> inputs")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersection_size"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection WEIGHT of two (key, weight) struct arrays sorted by
  * key, by a single merge pass. Callers pre-sort once per document
  * (sort_array over the collect_list), not once per candidate pair.
  * Weights for a shared key are equal on both sides by construction
  * (they join from one global weight table); the a-side value is used.
  * Equal-key runs multiply (la·lb·w) so the result is bit-identical to
  * the explode + equi-join + sum spelling even if a caller's hash
  * space has within-doc collisions. */
case class SortedIntersectionWeight(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fs), _) =>
      fs.length == 2 && fs.forall(_.dataType == LongType)
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<struct<bigint,bigint>> inputs " +
        "sorted by the first field")
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersection_weight"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var s = 0L
    while (i < nx && j < ny) {
      val xr = x.getStruct(i, 2); val yr = y.getStruct(j, 2)
      val xk = xr.getLong(0); val yk = yr.getLong(0)
      if (xk == yk) {
        val w = xr.getLong(1)
        var la = 1L; i += 1
        while (i < nx && x.getStruct(i, 2).getLong(0) == xk) { la += 1; i += 1 }
        var lb = 1L; j += 1
        while (j < ny && y.getStruct(j, 2).getLong(0) == yk) { lb += 1; j += 1 }
        s += la * lb * w
      }
      else if (xk < yk) i += 1
      else j += 1
    }
    s
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash over a token array: counter[b] += ±1 by bit b of
  * XXH64(token); sig bit b = sign(counter[b]). One loop over tokens
  * updating 64 counters — the nested-HOF formulation rescans the token
  * array once per bit. Bit order matches the HOF fold it replaced
  * (bit 0 of the hash lands in the MSB). */
case class SimHash64(child: Expression)
    extends StringArrayInput
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < m) {
      val t = toks.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(
        t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      var b = 0
      while (b < 64) {
        counters(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      sig = (sig << 1) | (if (counters(b) > 0) 1L else 0L)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** k minhashes of a long array in ONE pass (vs k interpreted
  * transform+array_min passes): sig(j) = min_h XXH64(h, seed=j). */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k >= 1)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<bigint> input")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val m = hs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val mixed = XXH64.hashLong(h, j)
        if (mixed < sig(j)) sig(j) = mixed
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** All k md5 minhash digests of a shingle array in ONE traversal —
  * replaces k interpreted array_min(transform(sh, s ⇒ md5("i:" ‖ s)))
  * chains (k array scans, a fresh digest and UTF8String concat per call).
  * Semantics are BIT-IDENTICAL to that chain: per i the minimum
  * lowercase-hex digest of the UTF-8 bytes of "i:" + shingle, min taken
  * in binary string order; null shingle elements are skipped exactly as
  * array_min skips the null md5(concat(null)) would produce; an empty or
  * all-null array yields k nulls like array_min(empty). The DuckDB oracle
  * reproduces the same digests, so md5-minhash keys stay hash-checked.
  *
  * Lowercase hex sorts like the digest's unsigned bytes (each byte is two
  * nibble digits, '0'–'9' < 'a'–'f' in ASCII), so the k running minima
  * are kept as raw digests in one 16·k byte array, compared unsigned,
  * and only the k winners are hex-encoded. One MessageDigest, one
  * digest buffer and one shingle byte buffer per row, reused across its
  * k·m digests: the per-digest work allocates nothing, and all state is
  * local to the row's evaluation (no mutable field is shared between the
  * tasks that evaluate one expression). */
case class MinHashMd5Sigs(child: Expression, k: Int)
    extends StringArrayInput
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_md5_sigs"

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(i => s"$i:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override protected def nullSafeEval(input: Any): Any = {
    val sh = input.asInstanceOf[ArrayData]
    val m = sh.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val dg = new Array[Byte](16)
    val mins = new Array[Byte](16 * k)
    var buf = new Array[Byte](64)
    var seen = false
    var i = 0
    while (i < m) {
      if (!sh.isNullAt(i)) {
        val s = sh.getUTF8String(i)
        val len = s.numBytes
        if (len > buf.length) buf = new Array[Byte](math.max(len, 2 * buf.length))
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
        var j = 0
        while (j < k) {
          md.update(prefixes(j))
          md.update(buf, 0, len)
          val o = 16 * j
          if (!seen) md.digest(mins, o, 16)
          else {
            md.digest(dg, 0, 16)
            var b = 0
            while (b < 16 && dg(b) == mins(o + b)) b += 1
            if (b < 16 && (dg(b) & 0xff) < (mins(o + b) & 0xff))
              System.arraycopy(dg, 0, mins, o, 16)
          }
          j += 1
        }
        seen = true
      }
      i += 1
    }
    val out = new Array[Any](k)
    if (seen) {
      var j = 0
      while (j < k) {
        val hex = new Array[Byte](32)
        var b = 0
        while (b < 16) {
          val v = mins(16 * j + b)
          hex(2 * b) = MinHashMd5Sigs.hexDigits((v >> 4) & 0xf)
          hex(2 * b + 1) = MinHashMd5Sigs.hexDigits(v & 0xf)
          b += 1
        }
        out(j) = UTF8String.fromBytes(hex)
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object MinHashMd5Sigs {
  private val hexDigits: Array[Byte] =
    "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
}

/** md5-SimHash band signature of a (distinct) token array in ONE
  * row-level pass — the expression form of the (doc, bit) lattice
  * spelling in [[graft.api.TextDedup.simhashMd5Bands]] (r16): per
  * token ONE md5; bit b of the digest's leading 8 bytes read
  * big-endian (≡ the two conv(substring(hex)) 32-bit parses) votes ±1
  * into balance b; band k packs sign bits (balance > 0; exact-zero
  * ties → 0) as Σ 2^(15−b%16) over b ∈ [16k, 16k+16). BIT-IDENTICAL
  * to the lattice: integer votes are addition-order-free, a NULL token
  * element votes −1 on every bit (the lattice's `when(bit === 1, 1)
  * .otherwise(-1)` on a null hash takes the otherwise branch), and an
  * EMPTY array returns NULL so the caller can drop the row exactly as
  * `explode` dropped it (a doc with no token rows never reached the
  * lattice's groupBy). The DuckDB twins mirror the same md5
  * arithmetic, so every consumer key stays hash-checked. */
case class Md5SimhashBands(child: Expression)
    extends StringArrayInput
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_simhash_bands"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m == 0) return null // explode-of-empty parity: row dropped upstream
    val md = java.security.MessageDigest.getInstance("MD5")
    val bal = new Array[Int](64)
    var i = 0
    while (i < m) {
      if (toks.isNullAt(i)) {
        // null hash → the lattice's otherwise(-1) branch on every bit
        var b = 0
        while (b < 64) { bal(b) -= 1; b += 1 }
      } else {
        md.reset()
        md.update(toks.getUTF8String(i).getBytes)
        val dg = md.digest()
        var hv = 0L
        var k = 0
        while (k < 8) { hv = (hv << 8) | (dg(k) & 0xffL); k += 1 }
        var b = 0
        while (b < 64) {
          bal(b) += (if (((hv >>> (63 - b)) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](4)
    var k = 0
    while (k < 4) {
      var v = 0
      var b = 16 * k
      while (b < 16 * (k + 1)) {
        if (bal(b) > 0) v |= 1 << (15 - b % 16)
        b += 1
      }
      out(k) = v
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** One-pass Kirsch–Mitzenmacher k-minhash ("Less Hashing, Same
  * Performance: Building a Better Bloom Filter", Kirsch & Mitzenmacher,
  * ESA 2006 — public): per shingle ONE md5 digest, h1/h2 = its two
  * leading 32-bit halves read big-endian (exactly
  * `conv(substring(hex, 1, 8), 16, 10)` / `(hex, 9, 8)`), and the k
  * hash functions are h_i = h1 + i·h2. All values < 2³⁶, so the 64-bit
  * arithmetic is exact and portable to engines with strict BIGINT
  * overflow (DuckDB). Returns the k minima over the array (nulls
  * skipped; all-null/empty input → k nulls, matching the
  * array_min-over-empty HOF semantics). */
case class MinHashKMSigs(child: Expression, k: Int)
    extends StringArrayInput
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_km_sigs"

  override protected def nullSafeEval(input: Any): Any = {
    val sh = input.asInstanceOf[ArrayData]
    val m = sh.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = new Array[Long](k)
    var seen = false
    var i = 0
    while (i < m) {
      if (!sh.isNullAt(i)) {
        md.reset()
        md.update(sh.getUTF8String(i).getBytes)
        val dg = md.digest()
        val h1 = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
          ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
        val h2 = ((dg(4) & 0xffL) << 24) | ((dg(5) & 0xffL) << 16) |
          ((dg(6) & 0xffL) << 8) | (dg(7) & 0xffL)
        var j = 0
        var h = h1
        if (!seen) {
          while (j < k) { mins(j) = h; h += h2; j += 1 }
          seen = true
        } else {
          while (j < k) { if (h < mins(j)) mins(j) = h; h += h2; j += 1 }
        }
      }
      i += 1
    }
    if (!seen) new GenericArrayData(new Array[Any](k))
    else new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}
