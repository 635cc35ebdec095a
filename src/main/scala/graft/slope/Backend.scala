package graft.slope

import org.apache.spark.ml.linalg.{Vector, DenseVector, SparseVector}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Data-access layer for the SLOPE solvers.
  *
  * Everything n-dimensional (rows, residuals, linear predictors) stays
  * behind this interface; the solvers above it only ever see p- and
  * m-dimensional state (coefficients, gradients, Gram matrices). That is
  * the key architectural change vs the reference, which holds X in RAM
  * and mutates it (`src/standardize.h:20,37`): here standardization is
  * *folded into the row kernels* — the data is never rewritten, which
  * also keeps sparse rows sparse.
  *
  * Coefficient-row numbering: when `fitIntercept`, row 0 is the
  * intercept (the reference's `cbind(1, x)` ones column, `R/owl.R:444-448`)
  * and rows 1..p are features; otherwise rows 0..p-1 are features.
  * `xCenter`/`xScale` use the same numbering with center 0 / scale 1 for
  * the intercept row.
  *
  * Pass results are sums over rows, so a distributed `treeAggregate`
  * and a local loop produce the same quantities (up to FP reorder).
  * [[RowFoldBackend]] writes every pass once; its two subclasses differ
  * only in how they fold the rows.
  */
trait SlopeBackend {
  def n: Long
  def pRaw: Int // feature count, excluding intercept
  def m: Int // internal targets
  def fitIntercept: Boolean
  final def pInt: Int = pRaw + (if (fitIntercept) 1 else 0)

  /** Per-feature raw means (for centering, length pRaw) plus whether any
    * row uses a sparse representation — detected exactly in the same
    * aggregate (not a sample), since the flag steers the centering
    * default. Row lengths are validated at ingest (`Slope.fit`'s row
    * mapper, `fitLocal`), so every pass can assume well-shaped rows. */
  def featureMeansAndSparsity(): (Array[Double], Boolean)

  /** Scale statistic per feature given centers (0s if no centering):
    * "l1" | "l2" | "sd" | "max" | "none", reference `src/standardize.h`. */
  def scaleStats(center: Array[Double], scale: String): Array[Double]

  /** Per-target label mean and population sd (multinomial lambdaMax
    * needs stddev(y, 1) — reference `src/lambdaMax.h:30-31`). */
  def yMoments(): (Array[Double], Array[Double])

  /** Install standardization vectors (coefficient-row numbering). */
  def setStandardization(xCenter: Array[Double], xScale: Array[Double]): Unit

  /** Fused pass at coefficients `betaActive` (|active| x m, column-major)
    * over standardized active columns: returns
    * (sum primal, sum dual (0 unless needDual), gradient |active| x m).
    */
  def evalActive(active: Array[Int], betaActive: Array[Double], family: Family,
                 needDual: Boolean, needGrad: Boolean): (Double, Double, Array[Double])

  /** Primal-only pass (line-search probes). */
  final def primalActive(active: Array[Int], betaActive: Array[Double],
                         family: Family): Double =
    evalActive(active, betaActive, family, needDual = false, needGrad = false)._1

  /** Fused TWO-POINT pass for the speculative FISTA step: primal at
    * the line-search candidate `candActive` PLUS the full
    * (primal, dual, gradient) at the momentum point `nextActive`, in
    * ONE data scan. Values equal composing [[primalActive]] +
    * [[evalActive]]: each accumulator sums the same per-row terms in
    * the same chunk and merge order.
    * Returns (gCand, gNext, dualNext, gradNext). */
  def evalPairActive(active: Array[Int], candActive: Array[Double],
                     nextActive: Array[Double], family: Family)
    : (Double, Double, Double, Array[Double])

  /** Gram matrix of standardized active columns (|a| x |a|, column-major)
    * and Xs_active^T y (|a| x m). One pass; |a| must be driver-sized. */
  def gramXty(active: Array[Int]): (Array[Double], Array[Double])

  /** Standardized active matrix (row-major n x |a|) + Xs^T y, for the
    * wide-ADMM Woodbury branch (m = 1 only). None when the rows are not
    * driver-resident — the distributed backend keeps the Gram form so
    * the cluster stays out of the ADMM inner loop. */
  def activeMatrixXty(active: Array[Int])
    : Option[(Array[Double], Array[Double])] = None

  /** Xs^T v over all pInt rows, where v_row = rowV(y_row) (length m).
    * Used by lambdaMax (`src/lambdaMax.h`). */
  def xtv(rowV: Array[Double] => Array[Double]): Array[Double]
}

private[slope] object BackendKernels extends Serializable {

  /** Fresh pass accumulator: slots before `maxFrom` are sums (start at
    * 0), slots from `maxFrom` on are maxima (start at -inf). */
  def zeroBuf(len: Int, maxFrom: Int): Array[Double] = {
    val b = new Array[Double](len)
    if (maxFrom < len) java.util.Arrays.fill(b, maxFrom, len, Double.NegativeInfinity)
    b
  }

  /** Merge a partial accumulator into `into` (see [[zeroBuf]]). */
  def mergeBuf(into: Array[Double], from: Array[Double], maxFrom: Int): Array[Double] = {
    var i = 0
    while (i < into.length) {
      if (i < maxFrom) into(i) += from(i)
      else if (from(i) > into(i)) into(i) = from(i)
      i += 1
    }
    into
  }

  /** lp_k = b_k + sum_j w_jk x_j computed over nnz only. */
  def linPred(x: Vector, w: Array[Array[Double]], b: Array[Double],
              out: Array[Double]): Unit = {
    val m = b.length
    var k = 0
    while (k < m) { out(k) = b(k); k += 1 }
    x match {
      case d: DenseVector =>
        val v = d.values
        k = 0
        while (k < m) {
          val wk = w(k)
          var j = 0
          var s = 0.0
          while (j < v.length) { s += wk(j) * v(j); j += 1 }
          out(k) += s
          k += 1
        }
      case s: SparseVector =>
        val idx = s.indices; val v = s.values
        k = 0
        while (k < m) {
          val wk = w(k)
          var t = 0
          var acc = 0.0
          while (t < idx.length) { acc += wk(idx(t)) * v(t); t += 1 }
          out(k) += acc
          k += 1
        }
    }
  }

  /** Effective dense weights/offsets so that
    * lp = W^T x + b  ==  sum_{j active} beta_j * (x_j - c_j)/s_j
    *                     + beta_0 / s_0.
    * Returns (w: m arrays of length pRaw, b: length m).
    *
    * The intercept coordinate carries its own scale s_0 (set to sqrt(n)
    * by the orchestrator): the raw ones-column has squared norm n, which
    * would dominate the Lipschitz constant and make first-order solver
    * pass counts grow with n. Dividing by sqrt(n) is an exact
    * reparameterization (the intercept is unpenalized) that pins its
    * curvature at 1 regardless of data size. */
  def effectiveWeights(active: Array[Int], betaActive: Array[Double],
                       m: Int, pRaw: Int, fitIntercept: Boolean,
                       xCenter: Array[Double], xScale: Array[Double])
    : (Array[Array[Double]], Array[Double]) = {
    val a = active.length
    val w = Array.fill(m)(new Array[Double](pRaw))
    val b = new Array[Double](m)
    var k = 0
    while (k < m) {
      var i = 0
      while (i < a) {
        val row = active(i)
        val beta = betaActive(k * a + i)
        if (fitIntercept && row == 0) b(k) += beta / xScale(0)
        else {
          val j = if (fitIntercept) row - 1 else row
          val wv = beta / xScale(row)
          w(k)(j) = wv
          b(k) -= wv * xCenter(row)
        }
        i += 1
      }
      k += 1
    }
    (w, b)
  }

  /** Raw-feature-index -> active-slot map (-1 = inactive). */
  def slotMap(active: Array[Int], pRaw: Int, fitIntercept: Boolean): Array[Int] = {
    val s = Array.fill(pRaw)(-1)
    var i = 0
    while (i < active.length) {
      val row = active(i)
      if (!(fitIntercept && row == 0)) s(if (fitIntercept) row - 1 else row) = i
      i += 1
    }
    s
  }

  /** Per-row raw accumulation for the Gram pass. Buffer layout:
    * [G_raw(a*a), colSum(a), xty_raw(a*m), ySum(m)]. */
  def gramRowUpdate(x: Vector, y: Array[Double], slots: Array[Int],
                    buf: Array[Double], a: Int, m: Int,
                    tmpSlot: Array[Int], tmpVal: Array[Double]): Unit = {
    val gLen = a * a
    var cnt = 0
    x.foreachActive { (j, v) =>
      val s = slots(j)
      if (s >= 0 && v != 0.0) { tmpSlot(cnt) = s; tmpVal(cnt) = v; cnt += 1 }
    }
    var t1 = 0
    while (t1 < cnt) {
      val s1 = tmpSlot(t1); val v1 = tmpVal(t1)
      buf(gLen + s1) += v1
      var k = 0
      while (k < m) { buf(gLen + a + k * a + s1) += v1 * y(k); k += 1 }
      var t2 = 0
      while (t2 < cnt) { buf(tmpSlot(t2) * a + s1) += v1 * tmpVal(t2); t2 += 1 }
      t1 += 1
    }
    var k = 0
    while (k < m) { buf(gLen + a + a * m + k) += y(k); k += 1 }
  }

  /** Fold the raw Gram-pass buffer into the standardized Gram and
    * Xs^T y (both column-major). */
  def assembleGram(active: Array[Int], res: Array[Double], a: Int, m: Int,
                   n: Long, fitIntercept: Boolean, xCenter: Array[Double],
                   xScale: Array[Double]): (Array[Double], Array[Double]) = {
    val gLen = a * a
    val colSum = java.util.Arrays.copyOfRange(res, gLen, gLen + a)
    val xtyRaw = java.util.Arrays.copyOfRange(res, gLen + a, gLen + a + a * m)
    val ySum = java.util.Arrays.copyOfRange(res, gLen + a + a * m, res.length)
    val nn = n.toDouble
    val gram = new Array[Double](a * a)
    val xty = new Array[Double](a * m)
    var i = 0
    while (i < a) {
      val ri = active(i)
      val iIsInt = fitIntercept && ri == 0
      val ci = xCenter(ri); val si = xScale(ri)
      var j = 0
      while (j < a) {
        val rj = active(j)
        val jIsInt = fitIntercept && rj == 0
        val cj = xCenter(rj); val sj = xScale(rj)
        gram(j * a + i) =
          if (iIsInt && jIsInt) nn / (si * sj)
          else if (iIsInt) (colSum(j) - nn * cj) / (si * sj)
          else if (jIsInt) (colSum(i) - nn * ci) / (si * sj)
          else (res(j * a + i) - ci * colSum(j) - cj * colSum(i) + nn * ci * cj) / (si * sj)
        j += 1
      }
      var k = 0
      while (k < m) {
        xty(k * a + i) =
          if (iIsInt) ySum(k) / si
          else (xtyRaw(k * a + i) - ci * ySum(k)) / si
        k += 1
      }
      i += 1
    }
    (gram, xty)
  }

  /** Fold a raw accumulation (A = sum x_j * pg_k over active feature slots,
    * s0 = sum pg_k) into the standardized-space gradient. */
  def standardizeGrad(active: Array[Int], rawA: Array[Double], s0: Array[Double],
                      m: Int, fitIntercept: Boolean,
                      xCenter: Array[Double], xScale: Array[Double]): Array[Double] = {
    val a = active.length
    val g = new Array[Double](a * m)
    var k = 0
    while (k < m) {
      var i = 0
      while (i < a) {
        val row = active(i)
        g(k * a + i) =
          if (fitIntercept && row == 0) s0(k) / xScale(0)
          else (rawA(k * a + i) - xCenter(row) * s0(k)) / xScale(row)
        i += 1
      }
      k += 1
    }
    g
  }
}

/** Every pass written once. A pass is a per-row update into a flat
  * accumulator plus a driver-side finish; a subclass supplies the row
  * storage and [[fold]] — a local chunk loop or one Spark job — and
  * nothing else. */
abstract class RowFoldBackend extends SlopeBackend {

  /** Per-row update `(accumulator, x, y)`. */
  protected type RowFn = (Array[Double], Vector, Array[Double]) => Unit

  /** Fold every row into a `len`-slot accumulator (see
    * [[BackendKernels.zeroBuf]] for `maxFrom`) and merge the partials.
    * `newRow()` runs once per chunk or partition, so the scratch its
    * row function closes over is private to one sequential scan.
    * `chunked = false` keeps a driver-resident fold to ONE sequential
    * scan: the set-up passes pin their FP summation order that way, so
    * the standardization every fit builds on never moves; the solver
    * passes (eval, pair, Gram) may split into parallel chunks. The row
    * function must not capture the backend: the distributed fold ships
    * it to executors. */
  protected def fold(len: Int, chunked: Boolean, maxFrom: Int = Int.MaxValue)(
      newRow: () => RowFn): Array[Double]

  protected var xCenter: Array[Double] = new Array[Double](pInt)
  protected var xScale: Array[Double] = Array.fill(pInt)(1.0)
  def setStandardization(c: Array[Double], s: Array[Double]): Unit = {
    xCenter = c; xScale = s
  }

  def featureMeansAndSparsity(): (Array[Double], Boolean) = {
    val p = pRaw
    // buffer: [sum(p), rows, sparse rows]
    val res = fold(p + 2, chunked = false) { () => (buf, x, _) =>
      x.foreachActive((j, v) => buf(j) += v)
      buf(p) += 1.0
      if (x.isInstanceOf[SparseVector]) buf(p + 1) += 1.0
    }
    (Array.tabulate(p)(j => res(j) / res(p)), res(p + 1) > 0.0)
  }

  def scaleStats(center: Array[Double], scale: String): Array[Double] = {
    val p = pRaw
    scale match {
      case "none" => Array.fill(p)(1.0)
      case "l1" =>
        // sum |x_j - c_j|: centered l1 needs every slot; with all-zero
        // centers (sparse path) nnz iteration suffices
        val centered = center.exists(_ != 0.0)
        fold(p, chunked = false) { () => (buf, x, _) =>
          if (!centered) x.foreachActive((j, v) => buf(j) += math.abs(v))
          else { var j = 0; while (j < p) { buf(j) += math.abs(x(j) - center(j)); j += 1 } }
        }
      case "l2" | "sd" | "max" =>
        // buffer: [sumsq(p), rows, max(p)] (centered l2/sd derive from moments)
        val mx = p + 1
        val res = fold(2 * p + 1, chunked = false, maxFrom = mx) { () => (buf, x, _) =>
          x match {
            case d: DenseVector =>
              val vs = d.values
              var j = 0
              while (j < p) {
                val v = vs(j); buf(j) += v * v
                if (v > buf(mx + j)) buf(mx + j) = v
                j += 1
              }
            case s: SparseVector =>
              // implicit zeros participate in max
              var j = 0
              while (j < p) { if (0.0 > buf(mx + j)) buf(mx + j) = 0.0; j += 1 }
              s.foreachActive { (j, v) =>
                buf(j) += v * v
                if (v > buf(mx + j)) buf(mx + j) = v
              }
          }
          buf(p) += 1.0
        }
        val cnt = res(p)
        scale match {
          case "l2" =>
            Array.tabulate(p)(j => math.sqrt(math.max(0.0, res(j) - cnt * center(j) * center(j))))
          case "sd" =>
            Array.tabulate(p)(j =>
              math.sqrt(math.max(0.0, res(j) - cnt * center(j) * center(j)) / (cnt - 1.0)))
          case "max" =>
            Array.tabulate(p)(j => res(mx + j) - center(j))
        }
    }
  }

  def yMoments(): (Array[Double], Array[Double]) = {
    val mm = m
    // buffer: [sum(m), sumsq(m), rows]
    val res = fold(2 * mm + 1, chunked = false) { () => (buf, _, y) =>
      var k = 0
      while (k < mm) { buf(k) += y(k); buf(mm + k) += y(k) * y(k); k += 1 }
      buf(2 * mm) += 1.0
    }
    val cnt = res(2 * mm)
    val mean = Array.tabulate(mm)(k => res(k) / cnt)
    val sd = Array.tabulate(mm)(k =>
      math.sqrt(math.max(0.0, res(mm + k) / cnt - mean(k) * mean(k))))
    (mean, sd)
  }

  def evalActive(active: Array[Int], betaActive: Array[Double], family: Family,
                 needDual: Boolean, needGrad: Boolean): (Double, Double, Array[Double]) = {
    val (_, primal, dual, grad) = evalPass(active, null, betaActive, family, needDual, needGrad)
    (primal, dual, grad)
  }

  def evalPairActive(active: Array[Int], candActive: Array[Double],
                     nextActive: Array[Double], family: Family)
    : (Double, Double, Double, Array[Double]) =
    evalPass(active, candActive, nextActive, family, needDual = true, needGrad = true)

  /** The solver pass: primal (+ dual, + gradient) at `next`, and the
    * primal alone at `cand` unless it is null. */
  private def evalPass(active: Array[Int], cand: Array[Double], next: Array[Double],
                       family: Family, needDual: Boolean, needGrad: Boolean)
    : (Double, Double, Double, Array[Double]) = {
    val a = active.length
    val mm = m
    val (wc, bc) =
      if (cand == null) (null, null)
      else BackendKernels.effectiveWeights(active, cand, mm, pRaw, fitIntercept, xCenter, xScale)
    val (w, b) = BackendKernels.effectiveWeights(
      active, next, mm, pRaw, fitIntercept, xCenter, xScale)
    val slots = BackendKernels.slotMap(active, pRaw, fitIntercept)
    // buffer: [primal at cand, primal, dual, s0(m), A(a*m)]
    val res = fold(3 + (if (needGrad) mm + a * mm else 0), chunked = true) { () =>
      // per-chunk scratch: linPred/pseudoGradientRow fully overwrite
      // them (per-row allocations were ~20% of the row kernel at m=1)
      val lp = new Array[Double](mm)
      val pg = new Array[Double](mm)
      (buf, x, y) => {
        if (wc != null) {
          BackendKernels.linPred(x, wc, bc, lp)
          buf(0) += family.primalRow(y, lp)
        }
        BackendKernels.linPred(x, w, b, lp)
        buf(1) += family.primalRow(y, lp)
        if (needDual) buf(2) += family.dualRow(y, lp)
        if (needGrad) {
          family.pseudoGradientRow(y, lp, pg)
          var k = 0
          while (k < mm) { buf(3 + k) += pg(k); k += 1 }
          x.foreachActive { (j, v) =>
            val slot = slots(j)
            if (slot >= 0) {
              var kk = 0
              while (kk < mm) { buf(3 + mm + kk * a + slot) += v * pg(kk); kk += 1 }
            }
          }
        }
      }
    }
    val grad = if (needGrad) {
      val s0 = java.util.Arrays.copyOfRange(res, 3, 3 + mm)
      val rawA = java.util.Arrays.copyOfRange(res, 3 + mm, res.length)
      BackendKernels.standardizeGrad(active, rawA, s0, mm, fitIntercept, xCenter, xScale)
    } else new Array[Double](0)
    (res(0), res(1), res(2), grad)
  }

  def gramXty(active: Array[Int]): (Array[Double], Array[Double]) = {
    val a = active.length
    val mm = m
    val slots = BackendKernels.slotMap(active, pRaw, fitIntercept)
    val res = fold(a * a + a + a * mm + mm, chunked = true) { () =>
      val tmpSlot = new Array[Int](a)
      val tmpVal = new Array[Double](a)
      (buf, x, y) => BackendKernels.gramRowUpdate(x, y, slots, buf, a, mm, tmpSlot, tmpVal)
    }
    BackendKernels.assembleGram(active, res, a, mm, n, fitIntercept, xCenter, xScale)
  }

  def xtv(rowV: Array[Double] => Array[Double]): Array[Double] = {
    val a = pInt
    val mm = m
    val fi = fitIntercept
    // buffer: [raw X^T v (a*m), sum v (m)]
    val res = fold(a * mm + mm, chunked = false) { () => (buf, x, y) =>
      val v = rowV(y)
      var k = 0
      while (k < mm) { buf(a * mm + k) += v(k); k += 1 }
      x.foreachActive { (j, vx) =>
        val slot = if (fi) j + 1 else j
        var kk = 0
        while (kk < mm) { buf(kk * a + slot) += vx * v(kk); kk += 1 }
      }
    }
    val out = new Array[Double](a * mm)
    var k = 0
    while (k < mm) {
      val vSum = res(a * mm + k)
      var r = 0
      while (r < a) {
        out(k * a + r) =
          if (fi && r == 0) vSum / xScale(0)
          else (res(k * a + r) - xCenter(r) * vSum) / xScale(r)
        r += 1
      }
      k += 1
    }
    out
  }
}

/** Distributed backend over an RDD of (features, preprocessed labels).
  * Every pass is ONE Spark job: a shuffle-free map over the partitions
  * plus a `treeAggregate` of the per-partition accumulators, with the
  * coefficient state shipped in the task closure — the MLlib pattern
  * (cf. Spark's `LeastSquaresAggregator`). Designed so a 1000-executor
  * cluster does one map + tree reduction per solver pass.
  */
class DistributedBackend(
    rowsIn: RDD[(Vector, Array[Double])],
    val pRaw: Int,
    val m: Int,
    val fitIntercept: Boolean,
    treeDepth: Int = 2,
    knownN: Long = -1L) extends RowFoldBackend {

  // Size-aware task sizing: every solver pass is ONE job over these
  // rows, so the pass wall time is (rows-per-task x per-row kernel
  // cost) + the per-job floor. Two failure modes, both measured on the
  // bench box (r17 optimization round, guide §2.5):
  //  - too MANY near-empty tasks: a small fit forced down the
  //    distributed path pays ~110 ms/job of launch + collection when
  //    the pass runs 32 near-empty tasks (PERF_DISTRIBUTED.md) —
  //    COALESCE down to the work-derived width (narrow, no shuffle);
  //  - too FEW tasks: a sub-128MB parquet scan arrives as 1-3 splits,
  //    so every one of the path's hundreds of sequential passes ran on
  //    3 of 32 cores (150-380 ms/pass at sf0.1, QueryProfile r17) —
  //    REPARTITION up to the same work-derived width (one shuffle of
  //    the training rows, amortized over every solver pass).
  // The width derives from WORK (feature cells), never from a core
  // constant: ~100k cells/task (the exp/log-heavy non-gaussian row
  // kernels run ~0.25 us/cell, so a task is ~25 ms of compute — a
  // sweep over {3, 8, 16, 32, 64} widths at sf0.1 put the minimum at
  // 16-32, OPTIMIZATION_r17.md), capped by the cluster's
  // defaultParallelism — growing past the core count adds scheduling
  // overhead with no concurrency. At 100-TB scale cells/100k far
  // exceeds both the scan layout and the core count, so the policy
  // only ever coalesces there (the pre-r17 behavior).
  // Inputs with no prior count (knownN < 0) keep their layout: sizing
  // is not worth an extra full pass.
  val rows: RDD[(Vector, Array[Double])] =
    if (knownN < 0) rowsIn
    else {
      val cells = knownN.toDouble * math.max(1, pRaw) * math.max(1, m)
      val target = math.min(
        math.max(8, math.ceil(cells / 1e5).toLong),
        rowsIn.sparkContext.defaultParallelism.toLong).toInt
      val parts = rowsIn.getNumPartitions
      if (target == parts) rowsIn
      else if (target < parts) rowsIn.coalesce(target)
      // growing costs a full shuffle of the training rows — pay it
      // only when it at least DOUBLES the pass parallelism (the
      // 3-split case it exists for), never to fine-tune an already
      // -wide layout (measured at the 10x frame: repartition 30→32
      // shuffled ~1 GB to gain 2 tasks and LOST ~6 s to the shuffle
      // + GC)
      else if (target >= 2 * parts) rowsIn.repartition(target)
      else rowsIn
    }

  rows.persist(StorageLevel.MEMORY_AND_DISK)

  // shallow trees for small fan-in: depth 2 inserts an extra stage per
  // job; with <= 64 tiny partials the driver combine is faster than a
  // scheduled intermediate stage
  private val effDepth =
    if (rows.getNumPartitions <= 64) 1 else treeDepth
  // callers that already counted (Slope.fit does, for the backend
  // decision) pass n in — saves a full scan per fit
  lazy val n: Long = if (knownN >= 0) knownN else rows.count()

  // treeAggregate over the partition accumulators, not treeReduce:
  // treeReduce adds two Option-wrapping RDD layers to every job, measured
  // at ~5 ms more per pass on 4 cores (n = 16,384, p = 20, 4 partitions)
  protected def fold(len: Int, chunked: Boolean, maxFrom: Int)(
      newRow: () => RowFn): Array[Double] = {
    val merge = (a: Array[Double], b: Array[Double]) => BackendKernels.mergeBuf(a, b, maxFrom)
    rows.mapPartitions { it =>
      val buf = BackendKernels.zeroBuf(len, maxFrom)
      val row = newRow()
      it.foreach { case (x, y) => row(buf, x, y) }
      Iterator.single(buf)
    }.treeAggregate(BackendKernels.zeroBuf(len, maxFrom))(merge, merge, effDepth)
  }

  def unpersist(): Unit = rows.unpersist()
}

/** Local backend over collected rows — used when n*p is driver-sized
  * (all reference-scale problems). The same passes with zero job
  * overhead: this is what makes the path loop (up to 100 sigma steps x
  * thousands of FISTA passes) feasible without 10^5 Spark jobs on small
  * data, exactly mirroring the reference's single-node execution.
  */
class LocalBackend(
    val xs: Array[Vector], // raw feature rows
    val ys: Array[Array[Double]],
    val pRaw: Int,
    val m: Int,
    val fitIntercept: Boolean) extends RowFoldBackend {

  val n: Long = xs.length.toLong

  /** Split [0, n) into chunks, fold them in parallel (common ForkJoin
    * pool), merge the per-chunk buffers in chunk order. */
  protected def fold(len: Int, chunked: Boolean, maxFrom: Int)(
      newRow: () => RowFn): Array[Double] = {
    val nRows = xs.length
    // fixed chunk count (not availableProcessors): the per-chunk merge
    // order below is already deterministic, and pinning the chunk count
    // makes the FP summation order identical across hosts — required for
    // the golden-file oracle checks to hash-match
    val nChunks = if (!chunked || nRows < 16384) 1 else 32
    val chunk = (nRows + nChunks - 1) / nChunks
    val bufs = Array.fill(nChunks)(BackendKernels.zeroBuf(len, maxFrom))
    def run(c: Int): Unit = {
      val row = newRow()
      val buf = bufs(c)
      var i = c * chunk
      val end = math.min(nRows, (c + 1) * chunk)
      while (i < end) { row(buf, xs(i), ys(i)); i += 1 }
    }
    if (nChunks == 1) run(0)
    else java.util.stream.IntStream.range(0, nChunks).parallel().forEach(c => run(c))
    bufs.reduceLeft(BackendKernels.mergeBuf(_, _, maxFrom))
  }

  /** Rows are driver-resident: materialize the standardized active
    * matrix directly (standardization folded in, same formulas as the
    * row kernels). */
  override def activeMatrixXty(active: Array[Int])
    : Option[(Array[Double], Array[Double])] = {
    val a = active.length
    val nR = xs.length
    val xmat = new Array[Double](nR * a)
    val xty = new Array[Double](a)
    val off = if (fitIntercept) 1 else 0
    var i = 0
    while (i < nR) {
      val x = xs(i)
      val y = ys(i)(0)
      var s = 0
      while (s < a) {
        val row = active(s)
        val v =
          if (fitIntercept && row == 0) 1.0 / xScale(0)
          else (x(row - off) - xCenter(row)) / xScale(row)
        xmat(i * a + s) = v
        xty(s) += v * y
        s += 1
      }
      i += 1
    }
    Some((xmat, xty))
  }
}
