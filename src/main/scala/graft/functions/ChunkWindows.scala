package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Overlapping token windows (RAG/embedding chunking) as ONE native
  * Catalyst expression over a pre-tokenized array: window p covers
  * tokens [p·stride, p·stride + chunk), and windows stop at the
  * FIRST one that reaches the doc end — n ≤ chunk gives one window,
  * else ceil((n−chunk)/stride)+1 of them — so every token is covered
  * and no window is a suffix of its predecessor (emitting while the
  * start is merely inside the doc would duplicate the tail as a
  * contained sub-window on ~(chunk−stride)/stride of docs: duplicate
  * embeddings downstream). The tail is ragged; a tokenless doc
  * emits the empty array (the caller's explode drops it).
  *
  * WHY a kernel and not explode+slice or transform+slice: both
  * relational formulations were measured at factor 100 in
  * the `text` smoke (500k docs, 794k chunks) — explode-then-slice
  * carries the FULL token array through the Generate (one UnsafeRow
  * copy of the whole array per chunk row; 59.3 s / 1,859 task-s),
  * and building the chunks with a `transform` lambda re-enters HOF
  * interpretation land and re-evaluates the staged tokenizer inside
  * the lambda (178.3 s / 5,669 task-s). The kernel assembles every
  * window in one imperative pass per doc over the already-decoded
  * UTF8String tokens, the same preference-order-(b) decision as the
  * round-11 kernel family, and [[KernelCodegen]] keeps the enclosing
  * stage fused. */
object ChunkKernel {

  /** Column API over a token-array column:
    * array<struct<n:int,t:string>> — one entry per window. */
  def windows(tokens: Column, chunk: Int, stride: Int): Column =
    ColumnBridge.column(
      ChunkWindowsExpr(ColumnBridge.expression(tokens), chunk, stride))
}

/** See [[ChunkKernel]]. Null-safe unary over array<string>. */
case class ChunkWindowsExpr(child: Expression, chunk: Int, stride: Int)
    extends UnaryExpression with KernelCodegen {
  require(chunk >= 1, s"chunk=$chunk")
  require(stride >= 1 && stride <= chunk,
    s"stride=$stride must be in [1, chunk]")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("t", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "chunk_windows"

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val nw = if (n <= chunk) 1 else (n - chunk + stride - 1) / stride + 1
    val out = new Array[Any](nw)
    var p = 0
    while (p < nw) {
      val s = p * stride
      val e = math.min(s + chunk, n)
      out(p) = InternalRow(e - s,
        UTF8String.concatWs(sep,
          java.util.Arrays.copyOfRange(toks, s, e): _*))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ChunkWindowsExpr = copy(child = newChild)
}
