package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Word n-gram shingle hashes computed in ONE codegen loop, without
  * ever materializing shingle strings.
  *
  * Semantics: identical to `charHash(concat_ws(" ", w[i..i+n-1]))` for
  * every window i — the polynomial hash factors over concatenation:
  *   H(s1 ⧺ " " ⧺ s2) = (H(s1) · 31^(len(s2)+1) + H(" " ⧺ s2)) mod P
  * so per token we precompute (H(t), H(" "⧺t), 31^(len(t)+1) mod P) and
  * fold windows of n tokens. All intermediates stay below P² < 2^63.
  *
  * Why: the compositional form via `transform(sequence(...),
  * concat_ws(element_at(...)))` + per-shingle `aggregate` charHash is
  * interpreted per element (HOFs are CodegenFallback) and dominated the
  * dedup benchmarks (~6s of a 12s query at sf0.1); this expression is a
  * tight generated loop over the token array. The HOF form remains in
  * graft.functions.Text as the executable spec; tests pin equality.
  */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val P = 1000000007L

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val h = new Array[Long](m)   // charHash(t)
    val hsp = new Array[Long](m) // charHash(" " ⧺ t)
    val pw = new Array[Long](m)  // 31^(len(t)+1) mod P
    var k = 0
    while (k < m) {
      val s = toks.getUTF8String(k).toString
      var acc = 0L
      var pow = 1L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        acc = (acc * 31L + cp) % P
        pow = (pow * 31L) % P
      }
      h(k) = acc
      hsp(k) = (32L * pow + acc) % P
      pw(k) = (pow * 31L) % P
      k += 1
    }
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var cur = h(i)
      var j = i + 1
      while (j < i + n) {
        cur = (cur * pw(j) + hsp(j)) % P
        j += 1
      }
      out(i) = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val m = ctx.freshName("m")
      val h = ctx.freshName("h")
      val hsp = ctx.freshName("hsp")
      val pw = ctx.freshName("pw")
      val out = ctx.freshName("out")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val pow = ctx.freshName("pow")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val cur = ctx.freshName("cur")
      val j = ctx.freshName("j")
      s"""
         |final int $m = $toks.numElements();
         |if ($m < $n) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  final long[] $h = new long[$m];
         |  final long[] $hsp = new long[$m];
         |  final long[] $pw = new long[$m];
         |  for (int $k = 0; $k < $m; $k++) {
         |    final String $s = $toks.getUTF8String($k).toString();
         |    long $acc = 0L; long $pow = 1L;
         |    for (int $i = 0; $i < $s.length(); ) {
         |      final int $cp = $s.codePointAt($i);
         |      $i += Character.charCount($cp);
         |      $acc = ($acc * 31L + $cp) % ${P}L;
         |      $pow = ($pow * 31L) % ${P}L;
         |    }
         |    $h[$k] = $acc;
         |    $hsp[$k] = (32L * $pow + $acc) % ${P}L;
         |    $pw[$k] = ($pow * 31L) % ${P}L;
         |  }
         |  final long[] $out = new long[$m - $n + 1];
         |  for (int $i = 0; $i <= $m - $n; $i++) {
         |    long $cur = $h[$i];
         |    for (int $j = $i + 1; $j < $i + $n; $j++) {
         |      $cur = ($cur * $pw[$j] + $hsp[$j]) % ${P}L;
         |    }
         |    $out[$i] = $cur;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

/** MinHash signature of one shingle-hash set in one codegen loop:
  * element j is `min over h of ((2j+3)·h + 7j+1) mod P`, the
  * [[graft.functions.Hashing.permHash]] family, for j < `numHashes`.
  * Null for an empty set (the grouped form emits no signature row for
  * a doc without shingles). Hashes are in [0, P), so every product
  * stays below 2^63.
  *
  * Why: a doc's signature needs only its own hashes, so it is a per-row
  * projection — the grouped `min(permHash(h, j))` form explodes one row
  * per shingle and shuffles them by doc. The HOF twin
  * `array_min(transform(hs, h -> permHash(h, j)))` is interpreted per
  * element, once per j. Both eval paths call [[MinHashKernel.signature]]. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs =>
      s"""
         |${ev.value} = graft.functions.expressions.MinHashKernel.signature($hs, $numHashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashKernel {
  private val P = graft.functions.Hashing.P

  /** Shared eval body for [[MinHashSignature]] (called from generated
    * code too — keep the signature Java-friendly). */
  def signature(hs: ArrayData, numHashes: Int): ArrayData = {
    val m = hs.numElements()
    if (m == 0) return null
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val h = hs.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = ((2L * j + 3L) * h + 7L * j + 1L) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** EXACT distinct word-n-gram count in one codegen loop — the kernel
  * behind the repetition (duplicated-gram) quality signal.
  *
  * Distinctness is over the gram STRINGS (tokens joined by one space),
  * held in a hash set of `UTF8String` windows — exact string equality,
  * never a hash-only count, so the result matches the compositional
  * `array_distinct(transform(...))` form and the DuckDB
  * `list_distinct` oracle bit-for-bit even on adversarial token sets.
  *
  * Why: the HOF chain materializes every gram twice (once in
  * `transform`, again inside `array_distinct`'s interpreted comparisons)
  * and was the slowest linear scan on the bench; here each gram is
  * built once and probed once. (Generated Java uses raw collection
  * types — janino compiles no generics.)
  */
case class NgramDistinctCount(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n) return 0L
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i <= m - n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = toks.getUTF8String(i + k); k += 1 }
      set.add(org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    set.size.toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep",
      org.apache.spark.unsafe.types.UTF8String.fromString(" "),
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, toks => {
      val m = ctx.freshName("m")
      val set = ctx.freshName("set")
      val parts = ctx.freshName("parts")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      s"""
         |final int $m = $toks.numElements();
         |if ($m < $n) {
         |  ${ev.value} = 0L;
         |} else {
         |  final java.util.HashSet $set = new java.util.HashSet();
         |  for (int $i = 0; $i <= $m - $n; $i++) {
         |    final org.apache.spark.unsafe.types.UTF8String[] $parts =
         |      new org.apache.spark.unsafe.types.UTF8String[$n];
         |    for (int $k = 0; $k < $n; $k++) {
         |      $parts[$k] = $toks.getUTF8String($i + $k);
         |    }
         |    $set.add(org.apache.spark.unsafe.types.UTF8String.concatWs($sepRef, $parts));
         |  }
         |  ${ev.value} = (long) $set.size();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NgramDistinctCount =
    copy(child = newChild)
}

/** Winnowed sliding-window minima (the fingerprint-selection step of
  * SIGMOD'03 winnowing) over a positional gram-hash array: the minimum
  * of every `w`-long window, deduped in first-occurrence order. O(n)
  * monotonic-deque scan — the HOF twin in graft.functions.Text
  * (`winnowedMins`, array_min-per-slice) is O(n·w) and interpreted;
  * tests pin equality. Fewer than w grams → one whole-array window;
  * empty → empty.
  *
  * Both eval paths call the SAME [[WinnowKernel.winnow]] body (the
  * generated code is a static call), so interpreted and codegen modes
  * cannot drift. */
case class WinnowedMins(child: Expression, w: Int)
    extends UnaryExpression {

  require(w >= 1, s"window size must be >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WinnowKernel.winnow(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g =>
      s"${ev.value} = graft.functions.expressions.WinnowKernel.winnow($g, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowedMins =
    copy(child = newChild)
}

object WinnowKernel {
  /** Shared eval body for [[WinnowedMins]] (called from generated code
    * too — keep the signature Java-friendly). */
  def winnow(grams: ArrayData, w: Int): ArrayData = {
    val m = grams.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Long])
    if (m < w) {
      var mn = Long.MaxValue
      var i = 0
      while (i < m) { val v = grams.getLong(i); if (v < mn) mn = v; i += 1 }
      return new GenericArrayData(Array(mn))
    }
    // monotonic deque of indices with increasing values; popping >= on
    // entry keeps the RIGHTMOST minimum, but equal minima carry equal
    // values so the emitted fingerprint is identical either way
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    var i = 0
    while (i < m) {
      val v = grams.getLong(i)
      while (tail > head && grams.getLong(deque(tail - 1)) >= v) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out.add(grams.getLong(deque(head)))
      i += 1
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }
}

/** Unicode NFC canonicalization of a string column. Composed vs
  * decomposed sequences (é as U+00E9 vs e + U+0301 COMBINING ACUTE)
  * are byte-different but render identically, so byte/digest dedup
  * layers treat them as distinct documents; normalizing to NFC first
  * makes every downstream digest, shingle, and fingerprint see one
  * canonical byte form. NFC (not NFKC): canonical equivalence only —
  * compatibility folding (ligatures, full-width forms) changes
  * rendered text and is a policy decision left to callers; NFC also
  * matches DuckDB's `nfc_normalize`, the oracle twin.
  *
  * Fast path: an all-ASCII input (the common case) is detected with a
  * raw byte scan — no String decode, no allocation — and returned as
  * the SAME UTF8String object; ASCII is closed under NFC, so the scan
  * alone proves normality. Non-ASCII strings pay one decode for
  * `Normalizer.isNormalized` and allocate only if they actually
  * change. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Shared eval body for interpreted + generated paths. */
  def normalize(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val n = s.numBytes
    var i = 0
    while (i < n && s.getByte(i) >= 0) i += 1
    if (i == n) return s // pure ASCII: NFC-normal by construction
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** DEFLATE-compressed byte count of a string's UTF-8 bytes at a fixed
  * compression level — the primitive under the Gopher/RefinedWeb
  * compression-ratio redundancy signal. A codegen'd expression (the
  * NfcNormalize precedent: JDK-only `java.util.zip.Deflater`, no
  * builtin equivalent) so the corpus-scale scan stays inside
  * whole-stage codegen instead of paying the Scala-UDF serde
  * round-trip per row (r13 verdict #4). The ratio arithmetic
  * (divide + round + empty-text null) stays in Catalyst builtins on
  * top of this count.
  *
  * Deterministic: a fixed Deflater level/strategy on fixed bytes
  * produces identical output lengths on any JVM (spec-pinned) — but
  * not reproducible in SQL, so operators built on it are spec-gated,
  * never oracle-hashed (SURVEY §5.3).
  */
case class DeflatedSize(child: Expression, level: Int)
    extends UnaryExpression {

  require(level >= 0 && level <= 9, s"deflate level out of range: $level")

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    DeflatedSize.deflatedSize(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], level)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.DeflatedSize.deflatedSize($c, $level)")

  override protected def withNewChildInternal(newChild: Expression): DeflatedSize =
    copy(child = newChild)
}

object DeflatedSize {
  /** Shared eval body for interpreted + generated paths. One Deflater
    * per call, ended eagerly: Deflater holds native zlib memory that
    * otherwise waits on finalization — at corpus scale that's an
    * off-heap leak, not a nit. */
  def deflatedSize(
      s: org.apache.spark.unsafe.types.UTF8String, level: Int): Int = {
    val raw = s.getBytes
    val d = new java.util.zip.Deflater(level)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}
