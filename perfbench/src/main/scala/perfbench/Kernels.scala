package perfbench

import org.apache.spark.sql.catalyst.util.ArrayData

import graft.plans.{KernelRuntime, RollSpecDef, TaylorKernel, TaylorTable}
import graft.ts.TaylorBasis

/** The kernel micro-layer: the flat fold bodies that the frame
  * aggregates call once per output row, timed on seeded synthetic
  * series without Spark: rollmean w7 (multiRollFlat) and trailing
  * Taylor d1 w9 and d2 w14 (taylorFlat over the aggregate's
  * depth-(w+1) frame). Each output row copies its frame into a reused
  * buffer (as the aggregate's update() does) and folds it, so ns/row is
  * the per-row kernel cost the window operator pays.
  */
object Kernels {
  val Rows = 1 << 20
  val SeriesLen = 2500

  private def series(seed: Long): Array[Double] = {
    val r = new java.util.Random(seed)
    Array.fill(Rows)(math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0)
  }

  // Each output row: copy its trailing frame of at most `depth` rows
  // (series of SeriesLen rows) into the reused buffer, fold it, and add
  // the first output to a checksum. One loop per kernel keeps each call
  // site monomorphic, as it is in the aggregate.
  private def frameLen(i: Int, depth: Int): Int = math.min(i % SeriesLen + 1, depth)

  private def first(out: ArrayData): Double =
    if (out != null && !out.isNullAt(0)) out.getDouble(0) else 0.0

  private def sweepRoll(xs: Array[Double], specs: Array[RollSpecDef]): Double = {
    val depth = specs.map(_.depth).max
    val buf = new Array[Double](depth)
    var sum = 0.0
    var i = 0
    while (i < xs.length) {
      val n = frameLen(i, depth)
      System.arraycopy(xs, i - n + 1, buf, 0, n)
      sum += first(KernelRuntime.multiRollFlat(buf, n, 1, 0, specs))
      i += 1
    }
    sum
  }

  private def sweepTaylor(xs: Array[Double], t: TaylorTable): Double = {
    val depth = t.frameLo + 1
    val buf = new Array[Double](depth)
    var sum = 0.0
    var i = 0
    while (i < xs.length) {
      val n = frameLen(i, depth)
      System.arraycopy(xs, i - n + 1, buf, 0, n)
      sum += first(KernelRuntime.taylorFlat(buf, n, t))
      i += 1
    }
    sum
  }

  /** Median ns/row over `reps` sweeps, after one warm sweep. */
  private def time(reps: Int)(run: => Double): Double = {
    var sink = run
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); sink += run; (System.nanoTime() - t0).toDouble / Rows
    }
    if (sink == 42.0) println("") // keeps the JIT from dropping the folds
    Stats.median(ts)
  }

  /** ns/row of rollmean w7, trailing Taylor d1 w9 and d2 w14. */
  def run(seed: Long, reps: Int): Map[String, Double] = {
    val xs = series(seed)
    val roll = Array(RollSpecDef(0, 0, 7, 7, 0, Array.emptyDoubleArray))
    def taylor(w: Int, degree: Int) =
      TaylorKernel.evaluatorFromSpec(TaylorBasis.Spec("value", degree, w, "trailing", None, fillEdges = false))
        .table.copy(frameLo = w, nanNull = true)
    val t9 = taylor(9, 1)
    val t14 = taylor(14, 2)
    Map(
      "plans.multiroll_ns_per_row.w7" -> time(reps)(sweepRoll(xs, roll)),
      "plans.taylor_ns_per_row.w9" -> time(reps)(sweepTaylor(xs, t9)),
      "plans.taylor_ns_per_row.w14" -> time(reps)(sweepTaylor(xs, t14)))
  }
}
