package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** MinHash signature as ONE native Catalyst expression over a
  * pre-tokenized array: build the doc's DISTINCT k-token shingle set
  * (tokens joined with a single space; a doc shorter than k tokens
  * collapses to one whole-doc shingle, matching
  * [[graft.text.DedupOps.shingleRows]]), then for each of n seeds
  * take the minimum of the packed md5 hash family
  * (`TextOps.seededHash32Packed`: lane `i mod 4` of
  * md5("<i div 4>:<shingle>"), 8 hex chars as an unsigned int) —
  * BIT-IDENTICAL values to the relational formulation, so oracle SQL
  * and banding downstream are untouched. Null for a doc with no
  * tokens (the relational path emits no rows for it — callers filter
  * nulls to preserve that absence).
  *
  * WHY: the relational signature path paid THREE corpus-wide
  * shuffles before any candidate pair existed — the shingle window
  * (partitionBy id), the (id, shingle) distinct, and the groupBy(id)
  * signature fold. The signature is a per-doc pure function of the
  * token stream; this kernel computes it narrowly in the scan
  * projection, so the FIRST exchange of the whole MinHash-LSH chain
  * is the band-key join itself. One md5 per (shingle, 4-seed lane
  * group), reused MessageDigest, no hex-string round-trip — the
  * [[WinnowSelect]]/[[HashedNgramBuckets]] kernel-over-lambda trade
  * (BENCH_NOTES round 11).
  */
object MinhashKernel {

  /** Scalar reference: lane hash of one shingle under seed i (spec
    * contract — must equal TextOps.seededHash32Packed(s, i)). */
  def laneHashScalar(s: String, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(((i / 4).toString + ":" + s).getBytes("UTF-8"))
    val o = 4 * (i % 4)
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
  }

  /** Column API over a token-array column. */
  def signature(tokens: Column, k: Int, n: Int): Column =
    ColumnBridge.column(MinhashSig(
      ColumnBridge.expression(tokens), k, n))

  /** Column API: the doc's DISTINCT shingle strings (insertion
    * order), for callers that need shingles as ROWS (explode this) —
    * same set semantics as [[MinhashSig]]'s internal builder. */
  def distinctShingles(tokens: Column, k: Int): Column =
    ColumnBridge.column(DistinctShingles(
      ColumnBridge.expression(tokens), k))

  /** Column API: positioned full k-token windows (pos, w). */
  def positionedWindows(tokens: Column, k: Int): Column =
    ColumnBridge.column(PositionedWindows(
      ColumnBridge.expression(tokens), k))

  /** Shared shingle-set builder: k-token windows joined with a single
    * space; a doc shorter than k tokens collapses to one whole-doc
    * shingle; tokenless input yields the empty set. LinkedHashSet —
    * deterministic first-occurrence order. */
  private[functions] def shingleSet(toks: Array[String], k: Int)
      : java.util.LinkedHashSet[String] = {
    val shingles = new java.util.LinkedHashSet[String]()
    val nTok = toks.length
    if (nTok == 0) return shingles
    if (nTok < k) shingles.add(toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder
      var s = 0
      while (s <= nTok - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(s + j))
          j += 1
        }
        shingles.add(sb.toString)
        s += 1
      }
    }
    shingles
  }

  /** Full signature evaluation (shared by interpreted eval and the
    * generated code's static invoke — a top-level object method gets
    * a static forwarder, callable from codegen'd Java). Null for a
    * tokenless doc. */
  def evalSig(input: ArrayData, k: Int, n: Int): ArrayData = {
    val toks = toStringArray(input)
    if (toks.length == 0) return null
    val shingles = shingleSet(toks, k)
    val groups = (n + 3) / 4
    val mins = Array.fill(n)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val it = shingles.iterator()
    while (it.hasNext) {
      val sh = it.next()
      val shBytes = sh.getBytes("UTF-8")
      var g = 0
      while (g < groups) {
        md.reset()
        md.update((g.toString + ":").getBytes("UTF-8"))
        val d = md.digest(shBytes)
        var lane = 0
        while (lane < 4) {
          val seed = g * 4 + lane
          if (seed < n) {
            val o = 4 * lane
            val h = ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
              ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
            if (h < mins(seed)) mins(seed) = h
          }
          lane += 1
        }
        g += 1
      }
    }
    new GenericArrayData(mins.map(x => x: Any))
  }

  private[functions] def toStringArray(arr: ArrayData): Array[String] = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      toks(i) = if (u == null) null else u.toString
      i += 1
    }
    toks
  }
}

/** Positioned k-token windows of one doc:
  * array<struct<pos:int,w:string>> with one entry per FULL window
  * (0-based start position; docs shorter than k emit nothing, no
  * whole-doc fallback, and windows are NOT distinct-ed — position
  * identity is the point). The narrow replacement for the
  * `lead`-window construction of span-dedup's window table; hash the
  * `w` string with whatever keying the caller needs (xxhash64 /
  * md5) as a codegen'd column downstream. */
case class PositionedWindows(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  require(k >= 1, s"k=$k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("w", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "positioned_windows"

  override def nullSafeEval(input: Any): Any = {
    val toks = MinhashKernel.toStringArray(input.asInstanceOf[ArrayData])
    val nTok = toks.length
    if (nTok < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nTok - k + 1)
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s <= nTok - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(s + j))
        j += 1
      }
      out(s) = org.apache.spark.sql.catalyst.InternalRow(
        s, org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PositionedWindows = copy(child = newChild)
}

/** Distinct shingle strings of one doc as an array — explode for the
  * relational (id, shingle) table without the window + distinct
  * shuffles the `lead`-based construction paid (a per-doc pure
  * function never needs an exchange). See [[MinhashKernel]]. */
case class DistinctShingles(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  require(k >= 1, s"k=$k")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_shingles"

  override def nullSafeEval(input: Any): Any = {
    val toks = MinhashKernel.toStringArray(input.asInstanceOf[ArrayData])
    val shingles = MinhashKernel.shingleSet(toks, k)
    val out = new Array[Any](shingles.size)
    val it = shingles.iterator()
    var i = 0
    while (it.hasNext) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : DistinctShingles = copy(child = newChild)
}

/** See [[MinhashKernel]]. Output: array<bigint> length n, or null for
  * a tokenless doc.
  *
  * Unlike its CodegenFallback siblings, this kernel implements
  * `doGenCode` — a one-line static invoke of
  * [[MinhashKernel.evalSig]] (a Scala object's static forwarder, so
  * the generated Java calls it directly). The kernel work itself is
  * identical either way (one boxed ArrayData in/out per ROW,
  * amortized over the per-doc md5 loop); what the static invoke buys
  * is the ENCLOSING stage: CodegenFallback forces the whole stage
  * out of WholeStageCodegen, interpreting every surrounding
  * expression (tokenizer regexps, band-key md5/concat_ws), while
  * this keeps the stage fused. Measured at factor 100 (BENCH_NOTES
  * "Round 12: kernel codegen A/B") and adopted as the
  * precedent for hot kernels; the fallback siblings sit in stages
  * whose surrounding work is trivial by comparison. */
case class MinhashSig(child: Expression, k: Int, n: Int)
    extends UnaryExpression {
  require(k >= 1 && n >= 1, s"k=$k n=$n")

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinhashKernel.evalSig(input.asInstanceOf[ArrayData], k, n)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinhashKernel.evalSig($c, $k, $n);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : MinhashSig = copy(child = newChild)
}
