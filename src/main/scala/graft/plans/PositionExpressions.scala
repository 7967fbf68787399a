package graft.plans

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Positional-postings kernels for the inverted index's span queries
  * ([[graft.operators.InvertedIndex]]). Per-doc position arrays are
  * SORTED ascending and DISTINCT (one whitespace token per position —
  * the build's posexplode/sort_array contract), which is what makes the
  * two-pointer merges below linear.
  *
  * Round 11 served proximity through a `filter(pa, p -> exists(pb, q ->
  * ...))` HOF pair — O(|pa|·|pb|) per doc. Bounded by per-doc term
  * frequency, so never a scale-killer, but a hot pair of
  * stopword-frequency terms in a long doc paid quadratic work where the
  * sorted arrays admit a linear merge (VERDICT r11 #3). These kernels
  * are the linear replacements; answers are row-identical (spec-pinned)
  * and the hot-pair A/B is recorded in BENCH_SF1.md (round-12 addendum 1).
  */

/** Anchor count for ordered proximity: positions `p` of the first term
  * with an occurrence `q` of the second term in `(p, p + window]`.
  * Since both arrays ascend, the smallest `q > p` is found by a pointer
  * that only ever advances — one pass over both arrays per doc.
  */
case class ProximityAnchors(left: Expression, right: Expression, window: Int)
    extends BinaryExpression {
  require(window >= 1, s"window must be >= 1, got $window")

  override def dataType: DataType = LongType

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val m   = ctx.freshName("m")
      val i   = ctx.freshName("i")
      val j   = ctx.freshName("j")
      val p   = ctx.freshName("p")
      val cnt = ctx.freshName("cnt")
      s"""
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |int $j = 0;
         |long $cnt = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final int $p = $a.getInt($i);
         |  while ($j < $m && $b.getInt($j) <= $p) $j++;
         |  if ($j < $m && $b.getInt($j) - $p <= $window) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val pa = a.asInstanceOf[ArrayData]
    val pb = b.asInstanceOf[ArrayData]
    val n = pa.numElements()
    val m = pb.numElements()
    var j = 0
    var cnt = 0L
    var i = 0
    while (i < n) {
      val p = pa.getInt(i)
      while (j < m && pb.getInt(j) <= p) j += 1
      if (j < m && pb.getInt(j) - p <= window) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ProximityAnchors =
    copy(left = newLeft, right = newRight)
}

/** Anchor count for k-term span-near (Lucene SpanNearQuery shape) over
  * a doc's per-term position arrays, passed in TERM ORDER as one
  * `array<array<int>>`:
  *
  *  - `inOrder = true`: anchors are positions `p1` of the FIRST term
  *    that start a strictly-increasing chain `p1 < p2 < … < pk`
  *    (one position per term, in term order) whose total stretch
  *    satisfies `pk - p1 - (k-1) <= slop` (slop 0 = exact phrase
  *    adjacency). Choosing each `p_i` minimal subject to `> p_{i-1}`
  *    minimizes `pk`, so greedy-chain validity equals existence; the k
  *    pointers only ever advance as `p1` grows — linear in Σ|P_i|.
  *  - `inOrder = false`: anchors are positions `m` (of ANY term) that
  *    are the minimum of some valid assignment — equivalently, every
  *    term has an occurrence in `[m, m + slop + (k-1)]`. Terms must be
  *    DISTINCT in this mode (enforced by the caller): position sets of
  *    distinct tokens are disjoint by construction, so assignment
  *    distinctness is automatic.
  *
  * Missing or empty term arrays yield 0 (the query layer already
  * requires every term matched). Duplicate terms are legal when
  * `inOrder` (the chain's strict increase keeps their positions
  * distinct).
  */
case class SpanNearCount(child: Expression, slop: Int, inOrder: Boolean)
    extends UnaryExpression {
  require(slop >= 0, s"slop must be >= 0, got $slop")

  override def dataType: DataType = LongType

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    // k nested monotone pointers don't inline into readable generated
    // Java; a static call keeps the expression INSIDE codegen (no
    // interpreted fallback, no closure) with one virtual-free call per
    // row — the same pattern as Spark's own StaticInvoke kernels
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.plans.SpanNearCount.count($arr, $slop, $inOrder);")

  override def nullSafeEval(input: Any): Any =
    SpanNearCount.count(input.asInstanceOf[ArrayData], slop, inOrder)

  override protected def withNewChildInternal(newChild: Expression): SpanNearCount =
    copy(child = newChild)
}

object SpanNearCount {

  /** Shared by interpreted eval and generated code. */
  def count(arrays: ArrayData, slop: Int, inOrder: Boolean): Long = {
    val k = arrays.numElements()
    if (k == 0) return 0L
    val pos = new Array[ArrayData](k)
    var t = 0
    while (t < k) {
      if (arrays.isNullAt(t)) return 0L
      pos(t) = arrays.getArray(t)
      if (pos(t).numElements() == 0) return 0L
      t += 1
    }
    if (inOrder) countOrdered(pos, slop) else countUnordered(pos, slop)
  }

  /** p1-anchored greedy chains with monotone per-term pointers. */
  private def countOrdered(pos: Array[ArrayData], slop: Int): Long = {
    val k = pos.length
    val ptr = new Array[Int](k)
    var cnt = 0L
    val p1s = pos(0)
    val n1 = p1s.numElements()
    var i = 0
    while (i < n1) {
      val p1 = p1s.getInt(i)
      var prev = p1
      var t = 1
      var ok = true
      while (ok && t < k) {
        val pt = pos(t)
        val nt = pt.numElements()
        // pointers never rewind: p1 ascends, so each chain's minimum
        // q > prev is at or past the previous chain's choice
        while (ptr(t) < nt && pt.getInt(ptr(t)) <= prev) ptr(t) += 1
        if (ptr(t) >= nt) { ok = false }
        else { prev = pt.getInt(ptr(t)); t += 1 }
      }
      if (!ok) return cnt // later p1 only push chains further right
      if (prev - p1 - (k - 1) <= slop) cnt += 1
      i += 1
      // ptr(t) is a lower bound for the NEXT p1's chain, but the next
      // chain must re-check from its own prev — reset nothing, the
      // while above re-advances as needed (monotone in p1)
    }
    cnt
  }

  /** m-anchored coverage windows: k-way ascending sweep over the union
    * of all positions; per-term pointers advance to the first
    * occurrence >= m and are shared across m's (monotone).
    */
  private def countUnordered(pos: Array[ArrayData], slop: Int): Long = {
    val k = pos.length
    val w = slop + (k - 1)
    val ptr = new Array[Int](k)   // per-term: first element >= current m
    val iter = new Array[Int](k)  // per-term: next candidate m to emit
    var cnt = 0L
    while (true) {
      // next candidate anchor: smallest unvisited position of any term
      var m = Int.MaxValue
      var t = 0
      while (t < k) {
        if (iter(t) < pos(t).numElements()) {
          val v = pos(t).getInt(iter(t))
          if (v < m) m = v
        }
        t += 1
      }
      if (m == Int.MaxValue) return cnt
      // consume every occurrence of this anchor value (position values
      // are unique per doc across distinct terms, but stay defensive)
      t = 0
      while (t < k) {
        if (iter(t) < pos(t).numElements() && pos(t).getInt(iter(t)) == m) iter(t) += 1
        t += 1
      }
      // coverage check: every term needs an occurrence in [m, m+w]
      var ok = true
      t = 0
      while (ok && t < k) {
        val pt = pos(t)
        val nt = pt.numElements()
        while (ptr(t) < nt && pt.getInt(ptr(t)) < m) ptr(t) += 1
        ok = ptr(t) < nt && pt.getInt(ptr(t)) <= m + w
        t += 1
      }
      if (ok) cnt += 1
    }
    cnt
  }

  def proximityAnchors(pa: Column, pb: Column, window: Int): Column =
    GraftShim.column(ProximityAnchors(
      GraftShim.expression(pa), GraftShim.expression(pb), window))

  def spanNear(posArrays: Column, slop: Int, inOrder: Boolean): Column =
    GraftShim.column(SpanNearCount(GraftShim.expression(posArrays), slop, inOrder))
}
