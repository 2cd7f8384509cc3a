package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word k-shingles of a string in one pass: non-empty whitespace tokens of
  * the trimmed text, joined in consecutive groups of k by single spaces.
  *
  * Semantically identical to
  * `transform(sequence(1, size(toks)-k+1), i -> concat_ws(' ', slice(toks,i,k)))`
  * over `filter(split(trim(text),"\\s+"), _ != "")` — but that higher-order
  * chain evaluates interpreted per element with O(k) array slices and was
  * the measured bottleneck of every shingle-based dedup operator (~4 s of a
  * 9 s query at sf0.1). This expression is a single scan per document.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      WordShingles.shingle(v.asInstanceOf[UTF8String].toString, k)
        .map(UTF8String.fromString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShingles.shingleArrayData($c.toString(), $k)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WordShingles {

  /** Consecutive k-grams of whitespace tokens (empty below k tokens). */
  def shingle(text: String, k: Int): Array[String] = {
    val toks = tokenize(text)
    if (toks.length < k) return Array.empty
    val out = new Array[String](toks.length - k + 1)
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** Non-empty runs split on exactly the RE2 `\s` set `[\t\n\f\r ]` — the
    * same set the DuckDB oracles use and that `TextAnalysis.tokens` splits
    * on. (Character.isWhitespace would add \x0B and \x1C-\x1F; Java regex
    * `\s` would add \x0B — both diverge from RE2 on control characters.) */
  private def isSep(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  def tokenize(text: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isSep(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isSep(text.charAt(i))) i += 1
      if (i > start) out += text.substring(start, i)
    }
    out.toArray
  }

  // Called from generated code.
  def shingleArrayData(text: String, k: Int): ArrayData =
    new GenericArrayData(shingle(text, k).map(UTF8String.fromString))
}

/** Single-pass per-document text metrics: one scan of the string yields
  * (n_chars, n_punct, n_digits, n_tokens, n_stop, n_distinct) as a struct
  * of BIGINTs — the inputs every quality-gate ratio needs.
  *
  * Replaces the t71 formulation of two full `regexp_replace` passes (punct,
  * digit) + tokenize + array_distinct — four interpreted traversals of every
  * document on the path ALL corpus documents take through the quality gate
  * (measured 4.5× a single-scan engine at sf0.1). Class definitions match
  * the regex forms exactly: punct is Java/RE2 `[[:punct:]]` = the 32 ASCII
  * punctuation chars, digits `[0-9]`, tokens the RE2 `\s` split of
  * [[WordShingles.tokenize]]; chars counts code points like `length()`.
  */
case class TextMetrics(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")
  override def dataType: DataType = TextMetrics.schema
  override def prettyName: String = "text_metrics"

  override def nullSafeEval(v: Any): Any =
    TextMetrics.metrics(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextMetrics.metrics($c.toString())")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextMetrics {

  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_digits", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))

  // the t71 stopword list (TextAnalysis.stopwords)
  private val STOP = java.util.Set.of("the", "and", "of", "to", "a", "in", "is")

  /** ASCII punctuation — exactly Java regex `\p{Punct}` / RE2 `[[:punct:]]`:
    * `!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~`. */
  private def isPunct(c: Char): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

  private def isSep(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  // Called from generated code.
  def metrics(text: String): org.apache.spark.sql.catalyst.InternalRow = {
    var chars = 0L; var punct = 0L; var digits = 0L
    var ntok = 0L; var nstop = 0L
    val seen = new java.util.HashSet[String]()
    val n = text.length
    var i = 0
    var tokStart = -1
    while (i < n) {
      val c = text.charAt(i)
      if (!Character.isLowSurrogate(c)) chars += 1
      if (isPunct(c)) punct += 1
      else if (c >= '0' && c <= '9') digits += 1
      if (isSep(c)) {
        if (tokStart >= 0) {
          val tok = text.substring(tokStart, i)
          ntok += 1
          if (STOP.contains(tok)) nstop += 1
          seen.add(tok)
          tokStart = -1
        }
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    if (tokStart >= 0) {
      val tok = text.substring(tokStart, n)
      ntok += 1
      if (STOP.contains(tok)) nstop += 1
      seen.add(tok)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](chars, punct, digits, ntok, nstop, seen.size.toLong))
  }
}

/** Dot product of two float-array embeddings, accumulated in double
  * left-to-right — the building block that lets cosine similarity reuse
  * precomputed per-vector norms: `dot(a,b) / (norm_a * norm_b)` is
  * bit-identical to [[CosineSim]] (same operations, norms just cached),
  * but does one third of the multiply-adds per pair in a top-k scan. */
case class DotF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact integer dot product of two long-array columns (quantized-embedding
  * kernel: components are pre-scaled to integers, so the product is exact and
  * engine-portable — the oracle computes the same sums in BIGINT). Stays in
  * whole-stage codegen with zero boxing; the `zip_with`+`aggregate`
  * higher-order form is interpreted per element and measured ~8x slower on
  * the same plans. Caller guarantees |x*y*dims| < 2^63 (quantization scale
  * bounds each term). */
case class DotL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var i = 0
    while (i < n) {
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused exact nearest-centroid argmax: the winning `clabel` of the
  * centroid maximizing the quantized cosine to `vq` (sim DESC, clabel ASC
  * on ties — the window/struct-max selection every assignment kernel in
  * [[graft.operators.Similarity]] specifies), over a centroid array column
  * `cents: array<struct<clabel: bigint, cqa: array<bigint>, ncq: bigint>>`.
  *
  * Why an expression and not `array_max(transform(cents, ...))`: Spark's
  * higher-order functions are `CodegenFallback` — every candidate
  * evaluation runs interpreted with a boxed struct allocation, and the
  * index build evaluates n × k candidates (2×10^10 at the ×1000 scale
  * fixture, where the interpreted form measured minutes-to-hours). This
  * loop stays inside whole-stage codegen with zero per-candidate
  * allocation, like [[DotL]]/[[CosineSim]]. Arithmetic is EXACTLY cosQ's:
  * integer dot over min-length, zero-norm ⇒ 0.0, double division by the
  * sqrt product — bit-identical selections, so the DuckDB window oracles
  * still hash-match. Returns null for an EMPTY centroid array (no
  * candidates) and for a vq carrying a null ELEMENT (a poisoned vector —
  * quarantined upstream on every library path — routes to nothing rather
  * than NPE in the primitive hoist); null struct elements and null cqa
  * arrays are skipped defensively. */
case class NearestCentroidL(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def longArr(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val centsOk = third.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        fs(0).dataType == LongType && longArr(fs(1).dataType) &&
          fs(2).dataType == LongType
      case _ => false
    }
    val ok = longArr(first.dataType) &&
      second.dataType == LongType && centsOk
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint> vq, bigint nq, " +
        s"array<struct<bigint, array<bigint>, bigint>> cents), got " +
        s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_l"

  override def nullSafeEval(v: Any, n: Any, c: Any): Any = {
    // hoist the vector to a primitive array ONCE per row: vq often
    // arrives as a GenericArrayData (it is typically produced by the
    // interpreted quantization `transform` in the same projection), and
    // Generic element reads BOX — at k candidates that is k × dims
    // unboxings per row; one toLongArray unboxes dims once. A vq
    // carrying a null ELEMENT (quantize of a poisoned embedding —
    // quarantined upstream on every library path) routes to NOTHING:
    // return null rather than NPE in the hoist.
    val vqa = v.asInstanceOf[ArrayData]
    var vi = 0
    val vqn = vqa.numElements()
    while (vi < vqn) {
      if (vqa.isNullAt(vi)) return null
      vi += 1
    }
    val vq = vqa.toLongArray()
    val nq = n.asInstanceOf[Long]
    val cents = c.asInstanceOf[ArrayData]
    var found = false; var bestSim = 0.0; var bestCl = 0L
    var ci = 0
    val m = cents.numElements()
    while (ci < m) {
      // null struct elements and null cqa arrays skipped defensively (a
      // poisoned centroid frame must degrade, not NPE the task)
      val e = if (cents.isNullAt(ci)) null else cents.getStruct(ci, 3)
      val cqa = if (e == null) null else e.getArray(1)
      if (cqa != null) {
        val cl = e.getLong(0)
        val ncq = e.getLong(2)
        val len = math.min(vq.length, cqa.numElements())
        var dot = 0L; var j = 0
        while (j < len) { dot += vq(j) * cqa.getLong(j); j += 1 }
        val sim =
          if (nq == 0L || ncq == 0L) 0.0
          else dot.toDouble / (math.sqrt(nq.toDouble) * math.sqrt(ncq.toDouble))
        if (!found || sim > bestSim || (sim == bestSim && cl < bestCl)) {
          found = true; bestSim = sim; bestCl = cl
        }
      }
      ci += 1
    }
    if (found) bestCl else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vq, nq, cents) => {
      val m = ctx.freshName("m"); val ci = ctx.freshName("ci")
      val found = ctx.freshName("found"); val bestSim = ctx.freshName("bestSim")
      val bestCl = ctx.freshName("bestCl"); val e = ctx.freshName("e")
      val cl = ctx.freshName("cl"); val cqa = ctx.freshName("cqa")
      val ncq = ctx.freshName("ncq"); val len = ctx.freshName("len")
      val dot = ctx.freshName("dot"); val j = ctx.freshName("j")
      val sim = ctx.freshName("sim"); val vqp = ctx.freshName("vqp")
      val vi = ctx.freshName("vi"); val vqNull = ctx.freshName("vqNull")
      s"""
         |boolean $found = false; double $bestSim = 0.0; long $bestCl = 0L;
         |boolean $vqNull = false;
         |int $vi = $vq.numElements();
         |for (int $j = 0; $j < $vi && !$vqNull; $j++) {
         |  if ($vq.isNullAt($j)) $vqNull = true;
         |}
         |long[] $vqp = $vqNull ? new long[0] : $vq.toLongArray();
         |int $m = $vqNull ? 0 : $cents.numElements();
         |for (int $ci = 0; $ci < $m; $ci++) {
         |  if ($cents.isNullAt($ci)) continue;
         |  org.apache.spark.sql.catalyst.InternalRow $e = $cents.getStruct($ci, 3);
         |  long $cl = $e.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cqa = $e.getArray(1);
         |  if ($cqa == null) continue;
         |  long $ncq = $e.getLong(2);
         |  int $len = java.lang.Math.min($vqp.length, $cqa.numElements());
         |  long $dot = 0L;
         |  for (int $j = 0; $j < $len; $j++) {
         |    $dot += $vqp[$j] * $cqa.getLong($j);
         |  }
         |  double $sim = ($nq == 0L || $ncq == 0L) ? 0.0
         |    : (double) $dot / (java.lang.Math.sqrt((double) $nq)
         |                       * java.lang.Math.sqrt((double) $ncq));
         |  if (!$found || $sim > $bestSim || ($sim == $bestSim && $cl < $bestCl)) {
         |    $found = true; $bestSim = $sim; $bestCl = $cl;
         |  }
         |}
         |if ($found) { ${ev.value} = $bestCl; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

/** Fused PQ code selection: for each subspace entry of a codebook column
  * `book: array<struct<m: int, bm: array<struct<cid: bigint, cq: array<bigint>>>>>`,
  * the `cid` of the sub-centroid minimizing exact squared L2 to the
  * sub-vector `vq[m*sub, m*sub+sub)` (dist ASC, cid ASC on ties — the
  * `array_min(struct(dist, cid))` selection `pqEnc`/`routeAndEncode` in
  * [[graft.operators.Similarity]] specify, over the same
  * cid-sorted-within-m book layout). Returns one winning cid per book
  * element, in book (= m) order — the `codes` array every scale path
  * stores and serves.
  *
  * Why an expression: the interpreted
  * `transform(book, e -> array_min(transform(e.bm, ...)))` form pays a
  * boxed `slice` allocation and struct alloc PER (vector × sub-centroid)
  * candidate — measured as the residual hot spot of the ×1000 ingest
  * batch after the route argmax was fused ([[NearestCentroidL]]). This
  * loop is m × k × sub primitive multiply-adds inside whole-stage
  * codegen; only the m-length output array allocates. The paths that
  * need per-subspace DISTANCES too (s99's reconstruction error) keep the
  * interpreted form — they are inline oracle queries, not scale paths.
  *
  * NULL semantics replicate the interpreted form EXACTLY — a
  * pathological corpus reaches them (dim-4 vectors make the m ≥ 1 PQ
  * slices empty, `vector_sum_l` over those groups yields null `cq`
  * arrays in the trained book, measured by the pathological-corpus
  * spec): `l2q`'s zip_with null-pads on length mismatch and propagates
  * element nulls, so a candidate's distance is NULL when its `cq` is
  * null, the window and `cq` lengths differ, or any element in either
  * window is null. The selection domain is (dist, cid) BOTH nullable,
  * ordered null-first lexicographically (`array_min`'s struct
  * ordering): null-distance candidates beat real ones; a null `m`
  * nulls the slice and with it every candidate's distance (smallest
  * cid wins); a null bm ELEMENT is the (null, null) candidate, which
  * beats everything — that book entry's code is NULL; a null-cid
  * winner likewise emits NULL. Null book elements map to null output
  * elements; an empty `bm` yields a null element (array_min of
  * nothing); a null `bm` field yields a null element (transform over
  * null). A negative `m` (never produced by the library's
  * `sequence(0, m-1)` books) reads as null-distance rather than
  * replicating slice-from-end. */
case class PqCodesL(left: Expression, right: Expression, sub: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def longArr(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val bookOk = right.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 2 =>
        fs(0).dataType == IntegerType && (fs(1).dataType match {
          case ArrayType(StructType(cs), _) if cs.length == 2 =>
            cs(0).dataType == LongType && longArr(cs(1).dataType)
          case _ => false
        })
      case _ => false
    }
    if (longArr(left.dataType) && bookOk && sub > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint> vq, array<struct<int, " +
        s"array<struct<bigint, array<bigint>>>> book, sub > 0), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}, sub=$sub")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "pq_codes_l"

  override def nullSafeEval(v: Any, b: Any): Any = {
    val vqa = v.asInstanceOf[ArrayData]
    val vn = vqa.numElements()
    var vqHasNull = false
    var i = 0
    while (i < vn && !vqHasNull) {
      if (vqa.isNullAt(i)) vqHasNull = true; i += 1
    }
    // hoist to a primitive array ONCE per row on the null-free fast path
    // (k × dims boxed reads otherwise); rows carrying null elements are
    // the quarantined-upstream poison shape — keep them on boxed reads
    val vq: Array[Long] = if (vqHasNull) null else vqa.toLongArray()
    val book = b.asInstanceOf[ArrayData]
    val nb = book.numElements()
    val out = new Array[Any](nb)
    var bi = 0
    while (bi < nb) {
      if (!book.isNullAt(bi)) {
        val e = book.getStruct(bi, 2)
        val mNull = e.isNullAt(0)
        val off = if (mNull) 0 else e.getInt(0) * sub
        val bm = e.getArray(1)
        if (bm != null) {
          val svLen = if (mNull) 0 else math.min(sub, math.max(0, vn - off))
          // a null m nulls the slice, so every candidate's distance is
          // null (the interpreted slice(vq, null, sub) propagation)
          var winNull = mNull || off < 0
          if (vqHasNull && !winNull) {
            var j = 0
            while (j < svLen && !winNull) {
              if (vqa.isNullAt(off + j)) winNull = true; j += 1
            }
          }
          // the selection domain is (dist, cid) BOTH nullable, ordered
          // null-first lexicographically — array_min's struct ordering.
          // A null bm ELEMENT is the (null, null) candidate (transform
          // maps it to struct(null, null)), so it beats everything and
          // the winning code is NULL.
          var found = false
          var bestDNull = false; var bestDist = 0L
          var bestCNull = false; var bestCid = 0L
          var ci = 0
          val nc = bm.numElements()
          while (ci < nc) {
            val c = if (bm.isNullAt(ci)) null else bm.getStruct(ci, 2)
            val cidNull = c == null || c.isNullAt(0)
            val cid = if (cidNull) 0L else c.getLong(0)
            val cq = if (c == null) null else c.getArray(1)
            var dnull =
              c == null || cq == null || winNull ||
                cq.numElements() != svLen
            var dist = 0L
            if (!dnull) {
              var j = 0
              while (j < svLen && !dnull) {
                if (cq.isNullAt(j)) dnull = true
                else {
                  val x = if (vq != null) vq(off + j)
                          else vqa.getLong(off + j)
                  val d = x - cq.getLong(j); dist += d * d
                }
                j += 1
              }
            }
            val better =
              if (!found) true
              else if (dnull != bestDNull) dnull
              else if (!dnull && dist != bestDist) dist < bestDist
              else if (cidNull != bestCNull) cidNull
              else if (!cidNull) cid < bestCid
              else false
            if (better) {
              found = true; bestDNull = dnull; bestDist = dist
              bestCNull = cidNull; bestCid = cid
            }
            ci += 1
          }
          if (found && !bestCNull) out(bi) = bestCid
        }
      }
      bi += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vq, book) => {
      val nb = ctx.freshName("nb"); val bi = ctx.freshName("bi")
      val out = ctx.freshName("out"); val vqp = ctx.freshName("vqp")
      val vn = ctx.freshName("vn"); val vqn = ctx.freshName("vqn")
      val e = ctx.freshName("e"); val off = ctx.freshName("off")
      val bm = ctx.freshName("bm"); val nc = ctx.freshName("nc")
      val ci = ctx.freshName("ci"); val c = ctx.freshName("c")
      val cid = ctx.freshName("cid"); val cq = ctx.freshName("cq")
      val svLen = ctx.freshName("svLen"); val dist = ctx.freshName("dist")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      val x = ctx.freshName("x"); val winNull = ctx.freshName("winNull")
      val dnull = ctx.freshName("dnull"); val better = ctx.freshName("better")
      val found = ctx.freshName("found"); val mNull = ctx.freshName("mNull")
      val cidNull = ctx.freshName("cidNull")
      val bestDNull = ctx.freshName("bestDNull")
      val bestCNull = ctx.freshName("bestCNull")
      val bestDist = ctx.freshName("bestDist")
      val bestCid = ctx.freshName("bestCid")
      s"""
         |int $vn = $vq.numElements();
         |boolean $vqn = false;
         |for (int $j = 0; $j < $vn && !$vqn; $j++) {
         |  if ($vq.isNullAt($j)) $vqn = true;
         |}
         |long[] $vqp = $vqn ? null : $vq.toLongArray();
         |int $nb = $book.numElements();
         |Object[] $out = new Object[$nb];
         |for (int $bi = 0; $bi < $nb; $bi++) {
         |  if ($book.isNullAt($bi)) continue;
         |  org.apache.spark.sql.catalyst.InternalRow $e = $book.getStruct($bi, 2);
         |  boolean $mNull = $e.isNullAt(0);
         |  int $off = $mNull ? 0 : ($e.getInt(0) * $sub);
         |  org.apache.spark.sql.catalyst.util.ArrayData $bm = $e.getArray(1);
         |  if ($bm == null) continue;
         |  int $svLen = $mNull ? 0
         |    : java.lang.Math.min($sub, java.lang.Math.max(0, $vn - $off));
         |  boolean $winNull = $mNull || $off < 0;
         |  if ($vqn && !$winNull) {
         |    for (int $j = 0; $j < $svLen && !$winNull; $j++) {
         |      if ($vq.isNullAt($off + $j)) $winNull = true;
         |    }
         |  }
         |  boolean $found = false;
         |  boolean $bestDNull = false; long $bestDist = 0L;
         |  boolean $bestCNull = false; long $bestCid = 0L;
         |  int $nc = $bm.numElements();
         |  for (int $ci = 0; $ci < $nc; $ci++) {
         |    org.apache.spark.sql.catalyst.InternalRow $c =
         |      $bm.isNullAt($ci) ? null : $bm.getStruct($ci, 2);
         |    boolean $cidNull = $c == null || $c.isNullAt(0);
         |    long $cid = $cidNull ? 0L : $c.getLong(0);
         |    org.apache.spark.sql.catalyst.util.ArrayData $cq =
         |      $c == null ? null : $c.getArray(1);
         |    boolean $dnull = $c == null || $cq == null || $winNull ||
         |      $cq.numElements() != $svLen;
         |    long $dist = 0L;
         |    if (!$dnull) {
         |      for (int $j = 0; $j < $svLen && !$dnull; $j++) {
         |        if ($cq.isNullAt($j)) { $dnull = true; }
         |        else {
         |          long $x = ($vqp != null) ? $vqp[$off + $j]
         |            : $vq.getLong($off + $j);
         |          long $d = $x - $cq.getLong($j);
         |          $dist += $d * $d;
         |        }
         |      }
         |    }
         |    boolean $better;
         |    if (!$found) { $better = true; }
         |    else if ($dnull != $bestDNull) { $better = $dnull; }
         |    else if (!$dnull && $dist != $bestDist) { $better = $dist < $bestDist; }
         |    else if ($cidNull != $bestCNull) { $better = $cidNull; }
         |    else if (!$cidNull) { $better = $cid < $bestCid; }
         |    else { $better = false; }
         |    if ($better) {
         |      $found = true; $bestDNull = $dnull; $bestDist = $dist;
         |      $bestCNull = $cidNull; $bestCid = $cid;
         |    }
         |  }
         |  if ($found && !$bestCNull) { $out[$bi] = java.lang.Long.valueOf($bestCid); }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Single-pass 60-bit SimHash signature of a text column (Charikar 2002):
  * per-bit tallies over the md5-derived 60-bit hashes of the DISTINCT
  * whitespace tokens, bit b set iff tally positive. Bit-identical to the
  * explode → 60-SUM-aggregate relational formulation (the DuckDB oracle
  * keeps that form), but computed map-side in one scan per document — no
  * token explosion, no 60-column aggregate, and it works row-at-a-time so
  * a STREAMING document source gets signatures statelessly. */
case class SimHash60(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(v: Any): Any =
    SimHash60.signature(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHash60.signature($c.toString())")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SimHash60 {

  /** First 60 bits of md5 — identical to the engine-portable
    * `conv(substring(md5(x),1,15),16,10)` / DuckDB
    * `('0x'||substr(md5(x),1,15))::BIGINT` formulation: 15 hex digits =
    * bytes 0..6 plus the high nibble of byte 7. */
  private[functions] def hash60(s: String, md: java.security.MessageDigest): Long = {
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L; var i = 0
    while (i < 7) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
    (h << 4) | ((dig(7) & 0xf0L) >>> 4)
  }

  // Called from generated code.
  def signature(text: String): Long = {
    val toks = WordShingles.tokenize(text)
    val seen = new java.util.HashSet[String]()
    val tallies = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      if (seen.add(toks(i))) {
        val h = hash60(toks(i), md)
        var b = 0
        while (b < 60) {
          tallies(b) += (((h >>> b) & 1L) * 2 - 1).toInt
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L; var b = 0
    while (b < 60) { if (tallies(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
}

/** Random-hyperplane LSH bucket signatures of a quantized embedding
  * (array<long>), computed map-side in one codegen scan — one bucket id per
  * hash table, `numPlanes / bitsPerTable` tables of `bitsPerTable` planes.
  *
  * Hyperplane p's component-j sign is +1 iff the portable 60-bit md5 hash of
  * "p_j" is even (the engine-portable derivation the DuckDB oracle mirrors
  * arithmetically); table t's bucket sets bit (p % bitsPerTable) iff
  * `sum_j(v_j * sign(p, j)) > 0`. Signs depend only on (plane, component),
  * so they're derived once per (numPlanes, dims) and cached statically —
  * the per-row work is `numPlanes` integer dot products, no stored model.
  *
  * This replaces the `posexplode` × planes + double-groupBy relational
  * formulation, which shuffled dims × numPlanes rows per vector (a 16×
  * shuffle amplification of the corpus at 100 TB) to compute what is a
  * per-row value: with the kernel, bucketed ANN candidate generation is
  * scan → equi-join on (table, bucket), zero shuffles before the join.
  */
case class HyperplaneSig(child: Expression, numPlanes: Int, bitsPerTable: Int)
    extends UnaryExpression {

  require(numPlanes > 0 && bitsPerTable > 0 && bitsPerTable <= 63 &&
    numPlanes % bitsPerTable == 0,
    s"numPlanes ($numPlanes) must be a positive multiple of " +
      s"bitsPerTable ($bitsPerTable), bitsPerTable <= 63")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<bigint> input, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sig"

  override def nullSafeEval(v: Any): Any =
    HyperplaneSig.buckets(v.asInstanceOf[ArrayData], numPlanes, bitsPerTable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneSig.buckets($c, $numPlanes, $bitsPerTable)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HyperplaneSig {

  // (numPlanes, dims) -> signs(p)(j) in {-1, +1}; deterministic, so a lost
  // putIfAbsent race just recomputes the same array
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Byte]]]()

  private def signs(numPlanes: Int, dims: Int): Array[Array[Byte]] = {
    val k = (numPlanes, dims)
    val hit = signCache.get(k)
    if (hit != null) return hit
    val md = java.security.MessageDigest.getInstance("MD5")
    val s = Array.tabulate(numPlanes, dims) { (p, j) =>
      if (SimHash60.hash60(s"${p}_$j", md) % 2 == 0) 1.toByte else -1.toByte
    }
    signCache.putIfAbsent(k, s)
    s
  }

  // Called from generated code.
  def buckets(v: ArrayData, numPlanes: Int, bitsPerTable: Int): ArrayData = {
    val dims = v.numElements()
    val sg = signs(numPlanes, dims)
    val out = new Array[Long](numPlanes / bitsPerTable)
    var p = 0
    while (p < numPlanes) {
      val sp = sg(p)
      var dot = 0L; var j = 0
      while (j < dims) { dot += v.getLong(j) * sp(j); j += 1 }
      if (dot > 0) out(p / bitsPerTable) |= 1L << (p % bitsPerTable)
      p += 1
    }
    new GenericArrayData(out)
  }
}
