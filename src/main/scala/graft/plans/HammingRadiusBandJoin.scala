package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType}

/** Band-segment generator for [[HammingRadiusBandJoin]]: the flat
  * ((dTo−dFrom+1)·bands)-element segment array for the δ range
  * [dFrom, dTo] as ONE loop-bodied codegen expression. Element
  * idx = (δ−dFrom)·bands + band holds BIT segment `band` of
  * the (len−δ)-byte prefix — bits [⌊8p·i/bands⌋, ⌊8p·(i+1)/bands⌋),
  * re-packed MSB-first with zero tail padding so equal bit ranges equal
  * as byte arrays. Bit granularity matters: the rewrite's first shape
  * cut BYTE segments, and whenever bands > prefix bytes (any k ≥ 32 on
  * 32-byte PDQ hashes) the pigeonhole over bytes is vacuous — the
  * surplus segments come out EMPTY, empty equi-joins everything, and
  * the "band join" silently degenerates to the all-pairs product it
  * exists to avoid. Bits leave no surplus until bands > 8·prefix
  * (k ≥ 64 on ≤ 8-byte hashes — degenerate-but-correct, the verify
  * still prunes). The first shape also unrolled the array as a
  * `CreateArray` of per-element `Substring` trees — at k = 51 (364
  * elements) that inflates a Generate's whole-stage `doConsume` past
  * janino's 64 KB method cap, and the interpreted fallback re-walks 364
  * expression trees per row; a Java loop is ~20 generated lines at any
  * radius. Null hash ⇒ null array (the non-outer Generate then emits
  * nothing; null never verified anyway). */
case class HammingBandSegments(child: Expression, bands: Int, dFrom: Int, dTo: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_band_segments requires binary input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "hamming_band_segments"

  override protected def nullSafeEval(input: Any): Any =
    HammingBandSegments.segments(input.asInstanceOf[Array[Byte]], bands, dFrom, dTo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.plans.HammingBandSegments.segments($h, $bands, $dFrom, $dTo);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HammingBandSegments {
  /** Bits [from, to) of `h`, re-packed MSB-first into ⌈(to−from)/8⌉
    * zero-tail-padded bytes — the canonical form both join sides
    * compute, so bit-range equality is byte-array equality. */
  def bitSegment(h: Array[Byte], from: Long, to: Long): Array[Byte] = {
    val nBits = (to - from).toInt
    val out = new Array[Byte]((nBits + 7) / 8)
    var j = 0
    while (j < nBits) {
      val t = from + j
      val bit = (h((t >>> 3).toInt) >> (7 - (t & 7).toInt)) & 1
      out(j >>> 3) = (out(j >>> 3) | (bit << (7 - (j & 7)))).toByte
      j += 1
    }
    out
  }

  /** Static kernel shared by eval and generated code: segments for the
    * δ range [dFrom, dTo], element idx = (δ − dFrom)·bands + band. */
  def segments(h: Array[Byte], bands: Int, dFrom: Int, dTo: Int): ArrayData = {
    val out = new Array[Any]((dTo - dFrom + 1) * bands)
    var d = dFrom
    var idx = 0
    while (d <= dTo) {
      val bits = math.max(0, h.length - d).toLong * 8
      var i = 0
      while (i < bands) {
        out(idx) = bitSegment(h, bits * i / bands, bits * (i + 1) / bands)
        idx += 1
        i += 1
      }
      d += 1
    }
    new GenericArrayData(out)
  }
}

/** Claim-once band selector for [[HammingRadiusBandJoin]]: the FIRST
  * index in [0, bands) whose BIT segments of the two hashes' common
  * (min-length) prefix are equal (same ⌊8p·j/bands⌋ bounds as
  * [[HammingBandSegments]]), `bands − 1` if none — one loop instead of
  * the (bands−1)-branch `CaseWhen` of segment-tree pairs the rewrite
  * first used (same 64 KB-cap blow-up as the band array). Null if
  * either hash is null; the verify filter's distance conjunct is
  * already null-rejecting, so the claim comparison's null is absorbed
  * by the surrounding `And`. */
case class FirstEqualBand(left: Expression, right: Expression, bands: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"first_equal_band requires (binary, binary), got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_equal_band"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    FirstEqualBand.firstEqual(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.FirstEqualBand.firstEqual($a, $b, $bands);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FirstEqualBand {
  /** Bits [from, to) of `a` and `b` equal? Compared in place via
    * edge-masked byte XORs — no re-packing, no per-bit loop (this runs
    * once per CANDIDATE row, the join's hot path); bounds match
    * [[HammingBandSegments.bitSegment]]. */
  private[plans] def bitsEqual(a: Array[Byte], b: Array[Byte], from: Long, to: Long): Boolean = {
    if (to <= from) return true
    val x0 = (from >>> 3).toInt
    val x1 = ((to + 7) >>> 3).toInt
    var i = x0
    while (i < x1) {
      var m = 0xff
      if (i == x0) m &= 0xff >>> (from & 7).toInt
      if (i == x1 - 1) {
        val r = (to & 7).toInt
        if (r != 0) m &= 0xff << (8 - r)
      }
      if (((a(i) ^ b(i)) & m) != 0) return false
      i += 1
    }
    true
  }

  /** Static kernel shared by eval and generated code. */
  def firstEqual(a: Array[Byte], b: Array[Byte], bands: Int): Int = {
    val bits = math.min(a.length, b.length).toLong * 8
    var i = 0
    while (i < bands - 1) {
      if (bitsEqual(a, b, bits * i / bands, bits * (i + 1) / bands)) return i
      i += 1
    }
    bands - 1
  }
}

/** Two-level (hierarchical) pigeonhole budget check for one candidate
  * row: is the Hamming sub-distance of the WIDE band containing sub-band
  * `band` within `budget`, over the two hashes' common (min-length)
  * prefix? The hash's prefix is cut into `m` wide bands (wide band i =
  * the union of sub-bands [i·n/m, (i+1)·n/m) — identical bit bounds to
  * [[HammingBandSegments]], since n = m·(n/m)); pigeonhole over wide
  * bands says a pair at distance ≤ k has SOME wide band with
  * sub-distance ≤ ⌊k/m⌋, and within that ≤-⌊k/m⌋-error wide band the
  * n/m = ⌊k/m⌋+1 sub-bands re-pigeonhole to an exact sub-band match.
  * The flat scheme's claim admits every random single-band collision
  * into the O(hash-width) distance verify (~(k+1)/2^(8w/(k+1)) of ALL
  * pairs at PDQ radii — its scaladoc called the pruning "absent");
  * this check is the restored pruning: an early-exited ~(w/m)-bit
  * popcount that kills a random candidate with probability
  * 1 − P[Binom(8w/m, ½) ≤ ⌊k/m⌋] (k=51, w=32: 1 − ~2e-7) BEFORE the
  * claim scan and full verify run. Null if any child is null
  * (absorbed by the verify filter's null-rejecting conjunction). */
case class HammingWideBandWithin(first: Expression, second: Expression, third: Expression,
    bands: Int, m: Int, budget: Int) extends TernaryExpression with Predicate {
  require(m >= 1 && bands % m == 0, s"m=$m must divide bands=$bands")

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == BinaryType &&
      third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_wide_band_within requires (binary, binary, int), got " +
        s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, ${third.dataType.simpleString})")

  override def prettyName: String = "hamming_wide_band_within"

  override protected def nullSafeEval(a: Any, b: Any, band: Any): Any =
    HierarchicalBands.wideWithin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      band.asInstanceOf[Int], bands, m, budget)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, band) =>
      s"${ev.value} = graft.plans.HierarchicalBands.wideWithin($a, $b, $band, $bands, $m, $budget);")

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Claim-once selector for the two-level scheme: the FIRST sub-band
  * index g whose segment bits are equal AND whose wide band's
  * sub-distance is within `budget`; −1 if none (a non-qualifying pair —
  * the claim then fails without ever running the full-width distance).
  * Wide bands over budget are skipped wholesale, so the scan costs m
  * early-exited wide popcounts for a random candidate instead of a
  * full segment walk. */
case class FirstQualifyingBand(left: Expression, right: Expression,
    bands: Int, m: Int, budget: Int) extends BinaryExpression {
  require(m >= 1 && bands % m == 0, s"m=$m must divide bands=$bands")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"first_qualifying_band requires (binary, binary), got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_qualifying_band"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    HierarchicalBands.firstQualifying(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]],
      bands, m, budget)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.HierarchicalBands.firstQualifying($a, $b, $bands, $m, $budget);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HierarchicalBands {
  /** Popcount of `a ^ b` over bit range [from, to) stays ≤ `budget`?
    * Edge-masked byte XORs with early exit one past the budget — the
    * per-candidate hot path. */
  private[plans] def rangeDistWithin(a: Array[Byte], b: Array[Byte],
      from: Long, to: Long, budget: Int): Boolean = {
    if (to <= from) return true
    val x0 = (from >>> 3).toInt
    val x1 = ((to + 7) >>> 3).toInt
    var acc = 0
    var i = x0
    while (i < x1) {
      var m = 0xff
      if (i == x0) m &= 0xff >>> (from & 7).toInt
      if (i == x1 - 1) {
        val r = (to & 7).toInt
        if (r != 0) m &= 0xff << (8 - r)
      }
      acc += java.lang.Integer.bitCount((a(i) ^ b(i)) & m)
      if (acc > budget) return false
      i += 1
    }
    true
  }

  /** Static kernel for [[HammingWideBandWithin]]: wide band of sub-band
    * `band` is i = band/(bands/m), covering prefix bits
    * [bits·i/m, bits·(i+1)/m) — exactly the union of its sub-bands'
    * [[HammingBandSegments]] bounds. */
  def wideWithin(a: Array[Byte], b: Array[Byte], band: Int, bands: Int, m: Int, budget: Int): Boolean = {
    val bits = math.min(a.length, b.length).toLong * 8
    val i = band / (bands / m)
    rangeDistWithin(a, b, bits * i / m, bits * (i + 1) / m, budget)
  }

  /** Static kernel for [[FirstQualifyingBand]]. */
  def firstQualifying(a: Array[Byte], b: Array[Byte], bands: Int, m: Int, budget: Int): Int = {
    val bits = math.min(a.length, b.length).toLong * 8
    val spw = bands / m
    var i = 0
    while (i < m) {
      if (rangeDistWithin(a, b, bits * i / m, bits * (i + 1) / m, budget)) {
        var g = i * spw
        val end = (i + 1) * spw
        while (g < end) {
          if (FirstEqualBand.bitsEqual(a, b, bits * g / bands, bits * (g + 1) / bands)) return g
          g += 1
        }
      }
      i += 1
    }
    -1
  }
}

/** Injected optimizer rule: a bounded-radius Hamming θ-join becomes the
  * pigeonhole band EQUI-join automatically, and a radius-0 test becomes
  * plain equality.
  *
  * k = 0 arm: `hamming_distance(a, b) = 0` IS binary equality — the
  * kernel counts every length-difference byte as 8 bits regardless of
  * content (`HammingDistance.distance`), so distance 0 holds exactly
  * when lengths and bytes agree. Every such test in the plan (`= 0`,
  * `<= 0`, `< 1`, and mirrored) is rewritten to `a = b`, so a distance-0
  * join plans as a hash join instead of a nested loop. Null semantics
  * are preserved three-valued: the distance of a null operand is null,
  * so both `null = 0` and the rewrite `null = b` evaluate null and
  * filter identically.
  *
  * `JOIN ... ON hamming_distance(a, b) <= k` (k in [1, 64]) is the
  * natural way to write a near-duplicate join, and Catalyst alone can
  * only nested-loop it — |L|·|R| distance evaluations. The classic
  * scale plan (the one [[graft.operators.PdqDuplicates]] builds by
  * hand over nibbles) splits each hash into k+1 BIT segments: at
  * distance <= k at most k bits differ, so some segment matches
  * exactly — candidates come from ONE equi-join on the segment key,
  * the original predicate re-verifies them, and a claim-once filter
  * keeps every qualifying pair EXACTLY once (multiplicity identical to
  * the θ-join, duplicate input rows included). Segments are cut at bit
  * granularity ([[HammingBandSegments]]) so k+1 segments stay non-empty
  * up to k+1 = the hash's bit width — byte cuts would leave empty
  * (match-everything) segments whenever k+1 exceeds the BYTE width,
  * e.g. every PDQ-realistic radius on 32-byte hashes.
  *
  * Unequal lengths (the generalization past the old k <= 7 cap): the
  * kernel scores a length delta as 8 bits per missing byte, so at
  * radius k a qualifying pair's lengths differ by at most D = ⌊k/8⌋
  * bytes, and its COMMON PREFIX (the first min-length bytes) carries
  * <= k differing bits. A pair meets at the prefix-trim pair
  * (δ_l, δ_r) = (max(0, len_a − len_b), max(0, len_b − len_a)) — one
  * side's trim is always ZERO — so the rewrite is a LENGTH-PARTITIONED
  * pair of equi-joins: branch 1 bands the left at δ = 0 against the
  * right at δ in 0..D (claims len_a <= len_b pairs), branch 2 the left
  * at δ in 1..D against the right at δ = 0 (the strictly-longer-left
  * rest). Each side of each branch is ONE Generate over a flat
  * δ-range segment array keyed by (p = len − δ, band, segment bits);
  * the p_l = p_r join key makes each branch's length regime automatic
  * and the partition exact, and for fixed-width corpora branch 2
  * produces nothing — candidate volume is the true δ0 set, not
  * (D+1)× it. For k < 8, D = 0 and branch 1 alone is exactly the
  * equal-length rewrite. Radii above 64 stay θ: the fan-out outgrows
  * what the banded shape saves (and [[graft.operators.PdqDuplicates]]
  * remains the tuned path for fixed-width corpora).
  *
  * Honest pruning envelope: a band pair collides by CHANCE with
  * probability ~2^−(8·width/(k+1)), so the EQUI-JOIN key prunes hard
  * when k ≪ bit-width (k=2 over 64-bit hashes: 21-bit bands, ~2^−21)
  * and stops pruning as k+1 approaches the bit width (k=51 over
  * 256-bit PDQ hashes: ~5-bit bands, ~1/30 — band-key candidates ≈
  * N²·(k+1)/2^(8w/(k+1)), the same order as all-pairs). The TWO-LEVEL
  * claim ([[HammingWideBandWithin]] / [[FirstQualifyingBand]], active
  * whenever 4, 3 or 2 divides k+1) restores post-key pruning exactly
  * there: a random candidate must additionally place ≤ ⌊k/m⌋ of its
  * differing bits inside the collided band's 1/m-width wide band
  * (k=51, m=4: ≤ 12 of expected 32 on a 64-bit quarter, P ≈ 2e-7),
  * checked by an early-exited ~w/m-bit popcount BEFORE the claim scan
  * or the O(w) distance verify run — candidate admission to the
  * full-width verify drops by >10³ (spec-pinned) and per-candidate
  * cost to one short popcount. For corpora that DO fit a broadcast,
  * [[graft.operators.PdqDuplicates]]'s stats-gated naive kernel remains
  * the faster path at PDQ-realistic radii.
  *
  * Exactly-once claim: within a branch a pair's (δ_l, δ_r) is unique
  * (p_l = p_r pins δ_r given the lengths), but it may collide at
  * several BANDS of that prefix, so the verify filter keeps band =
  * the FIRST index whose segments of the common prefix are equal —
  * computable from the original columns, which the Generate keeps in
  * scope.
  *
  * Exactness notes:
  *  - Segments may still be empty when 8p < n (hashes shorter than
  *    ~k/8 bytes, even p = 0 for an empty binary vs a <= D-byte one);
  *    empty segments match trivially, which only ADDS candidates the
  *    verify removes.
  *  - Null hashes: their band array is null, so the non-outer Generate
  *    emits no rows for them — and the θ-join's `null <= k` filter
  *    drops them identically; the claim's least(len, len) is null-safe
  *    the same way.
  *
  * Fires once per join: the rewritten plan keeps the distance conjunct
  * in a Filter ABOVE an equi-join, which this rule does not match, so
  * the injected batch reaches its fixed point after one application.
  *
  * Wired by [[GraftExtensions]] via `injectOptimizerRule`; sessions
  * without the extension compute the same result on the nested-loop
  * plan — the rule is pure plan improvement, never semantics.
  */
object HammingRadiusBandJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** Largest rewritten radius. PDQ-realistic dedup radii (32..51 at
    * similarity 0.8–0.875 over 256-bit hashes) sit inside it. */
  private val MaxRadius = 64

  private def radiusOf(e: Expression): Option[(Expression, Expression, Int)] = e match {
    case LessThanOrEqual(HammingDistance(a, b), Literal(k: Int, IntegerType))
      if k >= 1 && k <= MaxRadius => Some((a, b, k))
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), HammingDistance(a, b))
      if k >= 1 && k <= MaxRadius => Some((a, b, k))
    case LessThan(HammingDistance(a, b), Literal(k: Int, IntegerType))
      if k >= 2 && k <= MaxRadius + 1 => Some((a, b, k - 1))
    case _ => None
  }

  /** Idempotence guard: injected rules run INSIDE the operator-
    * optimization fixed point, so PushPredicateThroughJoin folds the
    * verify filter straight back into the band join's condition — the
    * distance conjunct reappears in a Join and, unguarded, the rule
    * would re-explode once per iteration until the iteration cap
    * (observed as ~100 nested Generates and a task-deserialization
    * stack overflow). A join whose children already carry the reserved
    * band columns is our own rewrite — leave it alone. */
  private def alreadyRewritten(p: LogicalPlan): Boolean =
    p.children.exists(_.output.exists(_.name.startsWith("__hrb_")))

  /** The k = 0 arm, over every expression of the plan. */
  private def zeroAsEquality(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case EqualTo(HammingDistance(a, b), Literal(0, IntegerType)) => EqualTo(a, b)
    case EqualTo(Literal(0, IntegerType), HammingDistance(a, b)) => EqualTo(a, b)
    case LessThanOrEqual(HammingDistance(a, b), Literal(0, IntegerType)) => EqualTo(a, b)
    case GreaterThanOrEqual(Literal(0, IntegerType), HammingDistance(a, b)) => EqualTo(a, b)
    case LessThan(HammingDistance(a, b), Literal(1, IntegerType)) => EqualTo(a, b)
    case GreaterThan(Literal(1, IntegerType), HammingDistance(a, b)) => EqualTo(a, b)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = zeroAsEquality(plan).transform {
    case j @ Join(left, right, Inner, Some(cond), _) if !alreadyRewritten(j) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hit = conjuncts.iterator.flatMap { c =>
        radiusOf(c).flatMap { case (x, y, k) =>
          val oriented =
            if (x.references.subsetOf(left.outputSet) && y.references.subsetOf(right.outputSet))
              Some((x, y))
            else if (y.references.subsetOf(left.outputSet) && x.references.subsetOf(right.outputSet))
              Some((y, x))
            else None // mixed-side operands: leave the join alone
          oriented.collect {
            case (a, b) if a.dataType == BinaryType && b.dataType == BinaryType &&
              a.deterministic && b.deterministic => (a, b, k)
          }
        }
      }.take(1).toSeq.headOption
      hit match {
        case None => j
        case Some((a, b, k)) =>
          val n = k + 1
          val dMax = k / 8
          // two-level refinement (see HammingWideBandWithin): m wide
          // bands when m divides n; largest of 4/3/2 keeps the wide
          // popcount cheap while the budget ⌊k/m⌋ = n/m − 1 stays
          // exactly re-pigeonholeable by the n/m sub-bands. m = 1
          // (n prime > 3) falls back to the flat claim.
          val mWide = Seq(4, 3, 2).find(n % _ == 0).getOrElse(1)
          val wideBudget = k / mWide
          // one Generate per side PER BRANCH: flat segment array for a
          // δ range, idx = (δ−dFrom)·n + band, built by ONE loop-bodied
          // codegen expression (constant-size method at any radius)
          def gen(side: LogicalPlan, h: Expression, tag: String, dFrom: Int, dTo: Int) = {
            val pos = AttributeReference(s"__hrb_pos_$tag", IntegerType, nullable = false)()
            val v = AttributeReference(s"__hrb_val_$tag", BinaryType, nullable = true)()
            val arr = HammingBandSegments(h, n, dFrom, dTo)
            (Generate(PosExplode(arr), Nil, outer = false, None, Seq(pos, v), side), pos, v)
          }
          // side-local key parts: assumed prefix length and band index
          def keyed(h: Expression, pos: Expression, dFrom: Int) = {
            val idx = Cast(pos, LongType)
            val p = Subtract(Subtract(Length(h), Literal(dFrom)),
              Cast(IntegralDivide(idx, Literal(n.toLong)), IntegerType))
            val band = Cast(Pmod(idx, Literal(n.toLong)), IntegerType)
            (p, band)
          }
          val firstEqual = FirstEqualBand(a, b, n)
          // Generate reports its CHILD's size, so JoinSelection would
          // happily broadcast a side that is really fan-out× bigger
          // (observed: a 9M-band-row broadcast at 25k input rows).
          // Correct per side from plan stats: a side whose exploded
          // size clears the broadcast threshold is marked
          // NO_BROADCAST_HASH; a genuinely small side (the classify-
          // against-tiny-probe-set shape) stays broadcastable.
          def noBroadcastIfFat(side: LogicalPlan, fan: Int): Option[HintInfo] = {
            val exploded = side.stats.sizeInBytes * fan
            if (conf.autoBroadcastJoinThreshold >= 0 &&
              exploded > BigInt(conf.autoBroadcastJoinThreshold))
              Some(HintInfo(strategy = Some(NO_BROADCAST_HASH)))
            else None
          }
          // one branch of the length-partitioned join: left emits δ in
          // [dlF, dlT], right δ in [drF, drT]
          def branch(dlF: Int, dlT: Int, drF: Int, drT: Int): LogicalPlan = {
            val (gl, posL, valL) = gen(left, a, "l", dlF, dlT)
            val (gr, posR, valR) = gen(right, b, "r", drF, drT)
            val (pL, bandL) = keyed(a, posL, dlF)
            val (pR, bandR) = keyed(b, posR, drF)
            val bandJoin = Join(gl, gr, Inner,
              Some(And(EqualTo(pL, pR), And(EqualTo(bandL, bandR), EqualTo(valL, valR)))),
              JoinHint(noBroadcastIfFat(left, (dlT - dlF + 1) * n),
                noBroadcastIfFat(right, (drT - drF + 1) * n)))
            // claim each qualifying pair once. Flat (m = 1): the FIRST
            // equal band of the common prefix — but a random single-band
            // collision passes that claim and pays the full-width
            // distance verify. Two-level (m > 1): the cheap early-exited
            // wide-band budget popcount runs FIRST and kills ~all random
            // candidates; the claim then keys on the first band that is
            // equal AND inside a within-budget wide band (−1 for
            // non-qualifying pairs, so neither the claim scan's tail nor
            // the full distance ever run for them).
            val claim =
              if (mWide == 1) And(EqualTo(bandL, firstEqual), cond)
              else And(HammingWideBandWithin(a, b, bandL, n, mWide, wideBudget),
                And(EqualTo(bandL, FirstQualifyingBand(a, b, n, mWide, wideBudget)), cond))
            Project(left.output ++ right.output, Filter(claim, bandJoin))
          }
          // Length partition: a qualifying pair meets at its common
          // prefix p = min(len_a, len_b), i.e. at δ_l = max(0,
          // len_a − len_b) and δ_r = max(0, len_b − len_a) — one of the
          // two is ZERO. Branch 1 (δ_l = 0, δ_r in 0..D) claims pairs
          // with len_a <= len_b; branch 2 (δ_l in 1..D, δ_r = 0) the
          // strictly-longer-left rest — the p_l = p_r join key makes
          // each branch's length regime AUTOMATIC (no explicit length
          // conjunct), the partition exact, and, for the common
          // fixed-width corpus, branch 2 empty: candidate volume drops
          // from (D+1)× the δ0 set to exactly the δ0 set.
          val b1 = branch(0, 0, 0, dMax)
          if (dMax == 0) b1 else Union(b1, branch(1, dMax, 0, 0))
      }
  }
}
