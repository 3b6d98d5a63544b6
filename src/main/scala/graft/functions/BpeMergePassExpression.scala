package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeMapData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** One greedy left-to-right batch-merge pass over a symbol array in a
  * single native loop — the trainer's inner kernel.
  *
  * Identical semantics to `Bpe.applyMergeMapFold` (kept as the spec twin
  * BpeSpec pins element-for-element): walk the symbols; whenever the
  * length-prefixed pair key `len(last) ":" last x` is in the merge map,
  * replace the accumulator's last element with the merged symbol, else
  * append. The composable HOF form rebuilt the accumulator ARRAY per
  * element (`concat(slice(acc, 1, n−1), …)` — quadratic copying per word,
  * paid EVERY driver round of a train), and higher-order lambdas get no
  * codegen.
  *
  * Round 17: the round-16 kernel probed the merge map by LINEAR SCAN and
  * built one `len ":" last x` key string per symbol — O(|map|) probes and
  * two allocations per element. The map is the trainer's per-round
  * broadcast (every row of a partition carries the same bytes), so the
  * kernel now parses it ONCE per distinct map content per thread into a
  * two-level hash index `last → (next → merged)` and probes it with the
  * symbol objects already in hand: O(1) per element, zero per-element
  * allocation. The cache is verified by BYTE COMPARISON of the map region
  * (not instance identity — UnsafeRow buffers can be reused by callers we
  * do not control), so a stale hit is impossible by construction.
  *
  * Duplicate map keys resolve FIRST-match, same as the round-16 linear
  * scan (`putIfAbsent` in key-array order). Maps built through Spark
  * (including the trainer's `map_from_arrays`) carry unique keys, so the
  * fused kernel and the `try_element_at` spec twin agree for every Spark
  * caller; a hand-built MapData with duplicate keys is out of contract
  * (documented here per the round-16 advisor note). */
case class BpeMergePass(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), MapType(StringType, StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, map<string,string>), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bpe_merge_pass"

  override def nullSafeEval(a: Any, m: Any): Any =
    BpeMergePass.compute(a.asInstanceOf[ArrayData], m.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, m) =>
      s"graft.functions.BpeMergePass$$.MODULE$$.compute($a, $m)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object BpeMergePass {

  private type Inner = java.util.HashMap[UTF8String, UTF8String]
  private type Index = java.util.HashMap[UTF8String, Inner]

  /** One thread's cached index: `bytes` is a private copy of the unsafe
    * map region it was parsed from (content check). Never evicted: each
    * pooled thread keeps its last map's index until its next map. */
  private final class Cached(val bytes: Array[Byte], val idx: Index)
  private val tl = new ThreadLocal[Cached]

  /** Parse `numChars(last) ":" last next → merged` entries into the
    * two-level index. Entries that do not parse as a pair key can never
    * match a probe (the probe side builds keys in exactly this format,
    * the length in decimal WITHOUT leading zeros — so "02:ab" is skipped
    * where "2:ab" indexes), so skipping them preserves semantics. All
    * stored strings are CLONED out of the map region — the index
    * outlives any one row buffer. */
  private def build(m: MapData): Index = {
    val keys = m.keyArray()
    val vals = m.valueArray()
    val mn = m.numElements()
    val h = new Index(math.max(4, mn * 2))
    var j = 0
    while (j < mn) {
      if (!keys.isNullAt(j)) {
        val k = keys.getUTF8String(j)
        val nb = k.numBytes()
        // decimal char-count prefix (ASCII ⇒ char index == byte index)
        var i = 0
        var d = 0L
        while (i < nb && d <= Int.MaxValue &&
            k.getByte(i) >= '0' && k.getByte(i) <= '9') {
          d = d * 10L + (k.getByte(i) - '0')
          i += 1
        }
        val canonical = i == 1 || (i > 1 && k.getByte(0) != '0')
        if (canonical && d <= Int.MaxValue && i < nb &&
            k.getByte(i) == ':') {
          val total = k.numChars()
          val lastStart = i + 1
          if (d <= (total - lastStart).toLong) {
            val last = k.substring(lastStart, lastStart + d.toInt)
            val next = k.substring(lastStart + d.toInt, total)
            // a null-valued entry is TRANSPARENT (the linear scan kept
            // scanning past it; the twin's isNotNull appends) — never
            // inserted, so it cannot shadow a later duplicate
            if (!vals.isNullAt(j)) {
              var inner = h.get(last)
              if (inner == null) { inner = new Inner(4); h.put(last, inner) }
              val v = vals.getUTF8String(j).clone()
              // first (non-null) match wins, like the scan this replaces
              if (!inner.containsKey(next)) inner.put(next, v)
            }
          }
        }
      }
      j += 1
    }
    h
  }

  /** The index for `m`, cached per thread and verified by content: an
    * unsafe map region is byte-compared against the cached copy (reused
    * row buffers make instance identity unsound). The trainer broadcasts
    * one map per round, so this builds once per (thread, round). Other
    * MapData kinds are rare on executors and have no cheap content check,
    * so their index is built per call. */
  private def indexFor(m: MapData): Index = m match {
    case um: UnsafeMapData =>
      val size = um.getSizeInBytes
      val c = tl.get()
      if (c != null && c.bytes.length == size &&
          ByteArrayMethods.arrayEquals(um.getBaseObject, um.getBaseOffset,
            c.bytes, Platform.BYTE_ARRAY_OFFSET, size.toLong)) c.idx
      else {
        val copy = new Array[Byte](size)
        Platform.copyMemory(um.getBaseObject, um.getBaseOffset,
          copy, Platform.BYTE_ARRAY_OFFSET, size.toLong)
        val idx = build(um)
        tl.set(new Cached(copy, idx))
        idx
      }
    case g => build(g)
  }

  /** Tight-loop kernel; public so generated code can call it. Appended
    * symbols are CLONED off the (possibly buffer-backed) input array;
    * merged symbols were cloned at index build. A null symbol never
    * merges (the fold's null pair key probes nothing) and is appended
    * as-is. */
  def compute(syms: ArrayData, m: MapData): ArrayData = {
    val idx = indexFor(m)
    val n = syms.numElements()
    val buf = new Array[Any](n)
    var len = 0
    var i = 0
    while (i < n) {
      val x: UTF8String =
        if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      var merged: UTF8String = null
      if (len > 0 && x != null) {
        val l = buf(len - 1).asInstanceOf[UTF8String]
        if (l != null) {
          val inner = idx.get(l)
          if (inner != null) merged = inner.get(x) // values are never null
        }
      }
      if (merged != null) buf(len - 1) = merged
      else { buf(len) = if (x == null) null else x.clone(); len += 1 }
      i += 1
    }
    if (len == n) new GenericArrayData(buf)
    else new GenericArrayData(java.util.Arrays.copyOf(
      buf.asInstanceOf[Array[AnyRef]], len).asInstanceOf[Array[Any]])
  }

  /** Column wrapper. */
  def of(syms: Column, m: Column): Column =
    GraftSqlBridge.column(BpeMergePass(
      GraftSqlBridge.expression(syms), GraftSqlBridge.expression(m)))
}
