package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, TaskMemoryManager}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TaskBridge
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.LongArray
import org.apache.spark.util.collection.unsafe.sort.RadixSort

/** Connected components of an edge list in ONE task: union by minimum
  * id with path halving, so every root is its component's minimum id.
  * The task's arrays come from a `MemoryConsumer` on its
  * `TaskMemoryManager`, so they are accounted like any operator's
  * execution memory (listeners read them as the task's peak), and a
  * graph that outgrows the task's share fails with Spark's named
  * out-of-memory error instead of returning partial labels. Callers
  * size the graph with [[fits]] first. */
private[graft] object UnionFind {

  /** Bytes the task holds per edge: the edge list (2 longs) and the
    * endpoint sort buffer with its radix scratch (4 longs), whose
    * scratch half then holds the parent links. */
  val BytesPerEdge = 48L

  /** One task's guaranteed execution-memory share, from settings Spark
    * already has: the unified pool (heap less Spark's 300 MiB reserve,
    * times `spark.memory.fraction`) over one executor's task slots,
    * halved, because with N tasks running the unified memory manager
    * guarantees each only 1/(2N) of the pool. In local mode the
    * executor is the driver JVM. */
  def taskShare(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val conf = sc.getConf
    val heap = if (sc.isLocal) Runtime.getRuntime.maxMemory
      else conf.getSizeAsBytes("spark.executor.memory", "1g")
    val pool = ((heap - (300L << 20)).max(0L) *
      conf.getDouble("spark.memory.fraction", 0.6)).toLong
    val cores = if (sc.isLocal) sc.defaultParallelism
      else conf.getInt("spark.executor.cores", 1)
    pool / math.max(1, cores / conf.getInt("spark.task.cpus", 1)) / 2
  }

  /** Whether `edges` edges fit a task share of `budget` bytes (and an
    * int-indexed sort buffer of 4 longs per edge). */
  def fits(edges: Long, budget: Long): Boolean =
    edges <= Int.MaxValue / 4 && edges * BytesPerEdge <= budget

  /** `(id, component)` for every endpoint of `edges`, whose integral
    * `src`/`dst` columns hold exactly `n` rows, with both output
    * columns in type `t`. `edges` is read in one task through a narrow
    * `coalesce(1)`: no exchange, aggregate or sort is planned. */
  def apply(edges: DataFrame, n: Long, t: DataType): DataFrame = {
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.coalesce(1)
      .mapPartitions(it => label(it, n))
    TaskBridge.frame(edges.sparkSession, rows, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))
      .select(col("id").cast(t), col("component").cast(t))
  }

  /** The task's accounted arrays; they cannot spill. */
  private final class Arrays(tmm: TaskMemoryManager)
      extends MemoryConsumer(tmm, tmm.getTungstenMemoryMode) {
    private var held = List.empty[LongArray]
    def alloc(size: Long): LongArray = {
      val a = allocateArray(size); held ::= a; a
    }
    def free(): Unit = { held.foreach(freeArray); held = Nil }
    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }

  private def label(it: Iterator[InternalRow], n: Long): Iterator[InternalRow] = {
    if (n == 0) {
      require(!it.hasNext, "UnionFind: more edges than counted")
      return Iterator.empty
    }
    val ctx = TaskContext.get()
    val mem = new Arrays(TaskBridge.memoryManager(ctx))
    ctx.addTaskCompletionListener[Unit](_ => mem.free())
    val m = (2 * n).toInt // endpoint capacity; fits() bounds n
    val edges = mem.alloc(m)
    var e = 0 // endpoints read
    var rows = 0L
    while (it.hasNext) {
      val r = it.next()
      rows += 1
      require(rows <= n, "UnionFind: more edges than counted")
      // a null end joins nothing, so its edge is a self-loop of the
      // other end, as in the rounds; a null-null edge labels nothing
      if (!r.isNullAt(0) || !r.isNullAt(1)) {
        val a = if (r.isNullAt(0)) r.getLong(1) else r.getLong(0)
        edges.set(e, a)
        edges.set(e + 1, if (r.isNullAt(1)) a else r.getLong(1))
        e += 2
      }
    }
    require(rows == n, s"UnionFind: $rows edges read, $n counted")
    // the sorted distinct endpoints: index order is id order, so the
    // minimum-index root is the minimum id
    val ids = mem.alloc(2L * m)
    Platform.copyMemory(edges.getBaseObject, edges.getBaseOffset,
      ids.getBaseObject, ids.getBaseOffset, e * 8L)
    val from = RadixSort.sort(ids, e, 0, 7, false, true)
    var v = 0
    var i = from
    while (i < from + e) {
      val x = ids.get(i)
      if (v == 0 || ids.get(v - 1) != x) { ids.set(v, x); v += 1 }
      i += 1
    }
    // parent links live in the scratch half: index j's at m + j
    def parent(j: Int): Int = ids.get(m + j).toInt
    i = 0
    while (i < v) { ids.set(m + i, i); i += 1 }
    def root(j0: Int): Int = {
      var j = j0
      while (parent(j) != j) {
        val g = parent(parent(j))
        ids.set(m + j, g) // path halving
        j = g
      }
      j
    }
    def index(id: Long): Int = {
      var lo = 0
      var hi = v - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids.get(mid) < id) lo = mid + 1 else hi = mid
      }
      lo
    }
    var k = 0
    while (k < e) {
      val a = root(index(edges.get(k)))
      val b = root(index(edges.get(k + 1)))
      if (a < b) ids.set(m + b, a) else if (b < a) ids.set(m + a, b)
      k += 2
    }
    TaskBridge.reportPeakExecutionMemory(ctx, mem.getUsed)
    val out = new SpecificInternalRow(Seq(LongType, LongType))
    var j = 0
    new Iterator[InternalRow] {
      def hasNext: Boolean = j < v || { mem.free(); false }
      def next(): InternalRow = {
        out.setLong(0, ids.get(j)); out.setLong(1, ids.get(root(j)))
        j += 1
        out
      }
    }
  }
}
