package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass PassJoin dirty-side candidate-key kernel: for a probe string
  * r, every deduped (segment idx, hypothesized clean length, substring)
  * key of the ±τ-window enumeration — `array<struct<i,l,seg>>` exactly
  * like the Column HOF formulation it replaces
  * ([[graft.ops.Linkage.dirtySegKeysHof]]).
  *
  * Why a native expression (r18 verdict item 1): the HOF form builds
  * (2τ+1)·(τ+1) `when/transform/sequence/substr` branches per row —
  * ~75 emitted keys at τ = 2 cost ~0.9 ms/row of interpreted expression
  * machinery (~15 µs/key), the single most expensive per-row expression
  * in the engine; at a billion-row dirty batch that is ~10 CPU-days of
  * pure overhead. This kernel is one tight loop per row inside
  * whole-stage codegen.
  *
  * Bit-fidelity with the HOF form (LinkageSpec pins it):
  *   - positions and lengths are CHARACTER-based (`UTF8String.numChars`
  *     / `substringSQL`-style indexing), matching `length`/`substr`;
  *   - the per-length segment starts come from the same bounds map with
  *     the identical even-split fallback arithmetic;
  *   - enumeration order is delta ∈ [−τ, τ] outer, segment idx inner,
  *     j ascending — and dedup keeps the FIRST occurrence of each
  *     distinct (i, l, seg), exactly `array_distinct(flatten(...))`;
  *   - a window with `lenS < τ+1` or an empty j-range contributes
  *     nothing (the HOF's `otherwise(emptyKeys)`);
  *   - a NULL input yields NULL (the HOF yields an empty array; both
  *     vanish identically under the `explode` this kernel always sits
  *     below).
  */
object SegKeysKernel {
  /** 1-based even segment start — must mirror
    * [[graft.ops.Linkage]]'s Column fallback (`evenStart`). Only called
    * with len ≥ nseg ≥ 1. */
  private def evenStart(len: Int, i: Int, nseg: Int): Int = {
    val rem = len % nseg
    val base = (len - rem) / nseg
    1 + i * base + math.max(0, i - (nseg - rem))
  }

  def eval(s: UTF8String, tau: Int,
      bounds: Map[Int, IndexedSeq[Int]]): ArrayData = {
    val nseg = tau + 1
    val lenR = s.numChars()
    val out = new java.util.ArrayList[AnyRef](4 * nseg * (2 * tau + 1))
    // first-occurrence dedup over (i, lenS, seg) — array_distinct order
    val seen = new java.util.HashSet[(Int, Int, UTF8String)]()
    var delta = -tau
    while (delta <= tau) {
      val lenS = lenR + delta
      if (lenS >= nseg) {
        val starts = bounds.get(lenS).orNull
        def segStart(i: Int): Int =
          if (i == nseg) lenS + 1
          else if (starts != null) starts(i)
          else evenStart(lenS, i, nseg)
        var i = 0
        var pi = segStart(0)
        while (i < nseg) {
          val nextStart = segStart(i + 1)
          val li = nextStart - pi
          val jlo0 = math.max(1, pi - tau)
          val jlo = if (i == nseg - 1) math.max(jlo0, lenR - tau - li + 1)
                    else jlo0
          val jhi = math.min(lenR - li + 1, pi + tau)
          var j = jlo
          while (j <= jhi) {
            val seg = s.substring(j - 1, j - 1 + li)
            if (seen.add((i, lenS, seg)))
              out.add(new GenericInternalRow(Array[Any](i, lenS, seg)))
            j += 1
          }
          pi = nextStart
          i += 1
        }
      }
      delta += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** graft_seg_keys(str, τ, boundsMap): the deduped PassJoin ±τ-window
  * candidate keys of a dirty string — the probe-side explode input of
  * every edit-distance join/probe. τ and the per-length boundary map
  * arrive as literals (per-query constants) and are unpacked driver-side
  * into a codegen reference object, so the plan is constant-size in τ
  * and the map. */
case class SegKeys(child: Expression, tau: Int,
    bounds: Map[Int, IndexedSeq[Int]])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(tau >= 1, s"tau must be >= 1, got $tau")
  // malformed boundary meta fails here, on the driver, not as an
  // IndexOutOfBoundsException inside an executor's kernel loop
  bounds.foreach { case (len, starts) =>
    require(starts.length >= tau + 1,
      s"graft_seg_keys bounds entry for length $len has ${starts.length} " +
        s"segment starts (${starts.mkString(",")}); tau = $tau needs ${tau + 1}")
  }

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("l", IntegerType, nullable = false),
    StructField("seg", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_seg_keys"

  override def nullSafeEval(input: Any): Any =
    SegKeysKernel.eval(input.asInstanceOf[UTF8String], tau, bounds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boundsRef = ctx.addReferenceObj("bounds", bounds,
      "scala.collection.immutable.Map")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SegKeysKernel.eval($c, $tau, " +
        s"(scala.collection.immutable.Map) $boundsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): SegKeys =
    copy(child = newChild)
}
