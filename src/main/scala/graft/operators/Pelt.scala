package graft.operators

import scala.collection.mutable.ArrayBuffer

/** PELT change-point detection (Killick et al. 2012, "Optimal detection of
  * changepoints with a linear computational cost", JASA 107(500)) with an L2
  * segment cost — a pure-Scala reimplementation of the semantics the
  * reference gets from `ruptures.Pelt(model="l2", min_size, jump)`
  * (`STEP 5 - CPD/05_cpd_orchestrator_polars.py:282-289,362-390`; archived
  * in-database variant
  * `_archive_slow_udf_pipeline/05_detect_change_points_bulk_udf.sql`).
  *
  * Mirrors the library's observable behavior:
  *  - candidate breakpoints are `min_size, min_size+jump, …, n` (the last
  *    evaluation point is always n);
  *  - admissible starts are 0 and computed breakpoints ≥ min_size;
  *  - ties resolve to the earliest admissible start;
  *  - pruning keeps start s when F(s) + cost(s, t) ≤ F(t) (uncomputed
  *    candidates below min_size are discarded, as the library's
  *    KeyError-skip + zip truncation does);
  *  - returned breakpoints are segment ends in increasing order, always
  *    ending with n (callers following the reference drop that last one).
  *
  * L2 cost of segment [a, b): `sum((y - mean)^2)`, computed from prefix
  * sums in O(1) per evaluation — the whole detection is O(n·|admissible|)
  * with PELT's pruning keeping |admissible| small in practice.
  *
  * This runs *inside* a `flatMapGroups` kernel, one group per device-date
  * partition — at cluster scale each task handles a bounded post-downsample
  * signal (≤ 17,280 buckets per day at 5 s), so the quadratic worst case is
  * capped regardless of raw data volume.
  */
object Pelt {

  /** Detect change points in `signal`.
    * @return segment end indices, increasing, last element == signal.length
    *         (empty input → empty result)
    */
  def detect(signal: Array[Double], penalty: Double, minSize: Int,
      jump: Int = 1): Array[Int] =
    detectImpl(signal, penalty, minSize, jump)

  /** Exact optimal-partitioning DP: the true minimizer of
    * sum(costs) + penalty·segments over the SAME evaluation grid and tie
    * rules as [[detect]] (candidates = 0 and grid multiples; earliest
    * admissible start wins ties). PeltSpec pins: exact total cost <=
    * pruned total cost, equality on well-separated steps, and
    * brute-force-optimum attainment.
    *
    * Speed: this is PELT's prune rule made EXACT under min_size by a
    * deferred kill. Killick's argument — if F(s)+C(s,t) > F(t)+β then
    * s is dominated by start t at every later t' — needs t to be an
    * ADMISSIBLE start at t', which min_size denies for t' < t+minSize
    * (the precise hole that makes ruptures mildly suboptimal, PeltSpec's
    * divergence test). So a candidate failing the keep test at t is not
    * dropped; it is marked to die at t+minSize, after which domination
    * via t is airtight (L2 cost is superadditive under splitting:
    * C(s,t') ≥ C(s,t)+C(t,t')). Change-rich signals therefore run at
    * pruned-PELT speed (measured: the features+CPD anchor is within
    * noise of ruptures-parity pruning, vs +27% for the full O(E²)
    * scan); a pathological no-change signal degrades to the same
    * O(E²) the pruned variant does. Inner loop stays primitive arrays
    * with a reciprocal table (FP divide off the critical path). */
  def detectExact(signal: Array[Double], penalty: Double, minSize: Int,
      jump: Int = 1): Array[Int] = {
    val n = signal.length
    if (n < 2 * minSize) return if (n == 0) Array.empty else Array(n)
    val s1 = new Array[Double](n + 1)
    val s2 = new Array[Double](n + 1)
    var i = 0
    while (i < n) {
      s1(i + 1) = s1(i) + signal(i)
      s2(i + 1) = s2(i) + signal(i) * signal(i)
      i += 1
    }
    // evaluation grid identical to detectImpl's: multiples of jump that
    // are >= minSize, then always n
    val evalsBuf = ArrayBuffer.empty[Int]
    var t0 = ((minSize + jump - 1) / jump) * jump
    while (t0 < n) { evalsBuf += t0; t0 += jump }
    evalsBuf += n
    val evals = evalsBuf.toArray
    val bigF = new Array[Double](n + 1)
    val prev = new Array[Int](n + 1)
    val recip = new Array[Double](n + 1)
    var k = 1
    while (k <= n) { recip(k) = 1.0 / k; k += 1 }
    // candidate set in ascending-start order (insertion order — starts
    // become admissible in increasing order), compacted in place as
    // deferred kills mature; killAt = Int.MaxValue while unpruned
    val candS = new Array[Int](evals.length + 1)
    val candKill = new Array[Int](evals.length + 1)
    val candVals = new Array[Double](evals.length + 1)
    var nCand = 0
    var nextStart = 0 // next start to admit: 0, then evals(0), evals(1)…
    var nextIdx = -1  // -1 → the 0 start; else index into evals
    var ti = 0
    while (ti < evals.length) {
      val t = evals(ti)
      val s1t = s1(t)
      val s2t = s2(t)
      val sMax = t - minSize
      // admit every start that crossed the min_size horizon
      while (nextStart <= sMax && nextIdx < ti) {
        candS(nCand) = nextStart; candKill(nCand) = Int.MaxValue
        nCand += 1
        nextIdx += 1
        nextStart = if (nextIdx < evals.length) evals(nextIdx) else n + 1
      }
      var bestS = -1
      var bestV = Double.PositiveInfinity
      var j = 0
      var w = 0 // compaction write head: drop candidates whose kill matured
      while (j < nCand) {
        val kill = candKill(j)
        if (kill <= t) { j += 1 } // dead for this and every later t
        else {
          val s = candS(j)
          val ds = s1t - s1(s)
          val v = bigF(s) + (s2t - s2(s) - ds * ds * recip(t - s)) + penalty
          if (v < bestV) { bestV = v; bestS = s }
          candS(w) = s; candKill(w) = kill; candVals(w) = v
          w += 1; j += 1
        }
      }
      nCand = w
      bigF(t) = bestV
      prev(t) = bestS
      // PELT keep rule with deferred kill: failing candidates stay
      // admissible until t + minSize, then die — this is what upgrades
      // the prune from "ruptures behavior" to exact
      val keepBar = bestV + penalty
      j = 0
      while (j < nCand) {
        if (candVals(j) > keepBar && candKill(j) == Int.MaxValue)
          candKill(j) = t + minSize
        j += 1
      }
      ti += 1
    }
    val out = ArrayBuffer.empty[Int]
    var cur = n
    while (cur > 0) {
      out += cur
      cur = prev(cur)
    }
    out.reverseIterator.toArray
  }

  /** Evaluation-grid size for a given input — the cost driver of the
    * exact DP (O(evals²)). Mirrors the grid construction exactly:
    * multiples of jump in [first, n) plus the final n. The empty-grid
    * branch is explicit — with a negative numerator, Scala's
    * toward-zero integer division would over-count by one (r11 review;
    * PeltSpec pins equality with the enumerated grid). */
  def evalCount(n: Int, minSize: Int, jump: Int): Int = {
    if (n < 2 * minSize) return 1
    val first = ((minSize + jump - 1) / jump) * jump
    if (first >= n) 1 else (n - 1 - first) / jump + 2
  }

  /** Exact-DP is the default below this grid size. With the grace-window
    * prune the exact kernel usually runs at pruned-PELT speed (a 17,280-
    * eval noisy grid measures ~15 ms in PeltSpec); the bound caps the
    * PATHOLOGICAL case — a long signal where nothing prunes — at ~0.5 s
    * of full-O(E²) primitive-array scan. Every post-5 s-downsample device
    * day is inside it (≤ 17,280 buckets), so in the reference pipeline
    * the exact optimum always applies and the ruptures-parity pruning is
    * the large-n fallback only. */
  val ExactSafeEvals: Int = 20000

  /** Default detection entry: the exact DP when the evaluation grid is
    * within [[ExactSafeEvals]] (always true post-downsample), ruptures-
    * parity pruned PELT beyond. Retires the one documented deviation:
    * ruptures' prune rule loses Killick's optimality guarantee under
    * min_size; [[detectExact]]'s grace-window prune restores it at
    * pruned speed (the features+CPD anchor measures within ~2% of the
    * ruptures-parity kernel). */
  def detectAuto(signal: Array[Double], penalty: Double, minSize: Int,
      jump: Int = 1): Array[Int] =
    if (evalCount(signal.length, minSize, jump) <= ExactSafeEvals)
      detectExact(signal, penalty, minSize, jump)
    else detect(signal, penalty, minSize, jump)

  private def detectImpl(signal: Array[Double], penalty: Double, minSize: Int,
      jump: Int): Array[Int] = {
    val n = signal.length
    if (n < 2 * minSize) return if (n == 0) Array.empty else Array(n)

    // prefix sums for O(1) L2 cost
    val s1 = new Array[Double](n + 1)
    val s2 = new Array[Double](n + 1)
    var i = 0
    while (i < n) {
      s1(i + 1) = s1(i) + signal(i)
      s2(i + 1) = s2(i) + signal(i) * signal(i)
      i += 1
    }
    def cost(a: Int, b: Int): Double = {
      val m = b - a
      val ds = s1(b) - s1(a)
      s2(b) - s2(a) - ds * ds / m
    }

    // F(t) = min total (segment costs + penalty per segment) of y[0:t)
    val bigF = new Array[Double](n + 1)
    val prev = new Array[Int](n + 1)
    val computed = new Array[Boolean](n + 1)
    bigF(0) = 0.0
    computed(0) = true

    // evaluation points: the multiples of jump that are >= minSize —
    // ruptures' range(0, n, jump) filtered by >= min_size — and always n
    // last (identical to the old minSize-anchored grid when jump == 1)
    val evals = ArrayBuffer.empty[Int]
    var t = ((minSize + jump - 1) / jump) * jump
    while (t < n) { evals += t; t += jump }
    evals += n

    var admissible = ArrayBuffer.empty[Int]
    var vals = ArrayBuffer.empty[Double] // candidate totals, aligned
    for (bkp <- evals) {
      val newAdm = (bkp - minSize) / jump * jump
      if (newAdm >= 0) admissible += newAdm
      if (vals.length < admissible.length) vals += 0.0
      var bestS = -1
      var bestV = Double.PositiveInfinity
      var j = 0
      while (j < admissible.length) {
        val s = admissible(j)
        if (computed(s) && bkp - s >= minSize) {
          val v = bigF(s) + cost(s, bkp) + penalty
          vals(j) = v
          if (v < bestV) { bestV = v; bestS = s }
        } else vals(j) = Double.PositiveInfinity
        j += 1
      }
      if (bestS >= 0) {
        bigF(bkp) = bestV
        prev(bkp) = bestS
        computed(bkp) = true
        // PELT prune: keep s when F(s) + cost(s, bkp) <= F(bkp)
        // (totals cached from the min scan — computing cost() again here
        // doubled the whole detection on low-change signals). The
        // exact twin (detectExact) applies this same rule with a
        // deferred kill instead of immediate removal.
        val keptA = ArrayBuffer.empty[Int]
        val keptV = ArrayBuffer.empty[Double]
        j = 0
        while (j < admissible.length) {
          if (vals(j) <= bestV + penalty) {
            keptA += admissible(j); keptV += vals(j)
          }
          j += 1
        }
        admissible = keptA
        vals = keptV
      }
    }

    // backtrack from n
    val out = ArrayBuffer.empty[Int]
    var cur = n
    while (cur > 0 && computed(cur)) {
      out += cur
      cur = prev(cur)
    }
    out.reverseIterator.toArray
  }

  /** The orchestrator's convention: drop the trailing n ("end of data is
    * not a change", `05_cpd_orchestrator_polars.py:286-288`). Routes
    * through [[detectAuto]] — exact optimum at the pipeline's grain,
    * pruned parity beyond the safe bound. */
  def detectInterior(signal: Array[Double], penalty: Double, minSize: Int,
      jump: Int = 1): Array[Int] = {
    val bkps = detectAuto(signal, penalty, minSize, jump)
    if (bkps.nonEmpty && bkps.last == signal.length) bkps.dropRight(1)
    else bkps
  }
}
