package perfbench

/** Frozen reference copies of the library kernels the weather_nc
  * checker replays: the ConvGRU grid step (`graft.ops.Fold`), the ridge
  * solve and Gram quantization (`graft.ops.Ensemble`) and the normlogit
  * constant (`graft.functions.scalars`). They are copied, not called,
  * so a change to the library's kernels changes the pipeline's output
  * but not the expected output, and the checker reports it.
  */
object Reference {
  // Fold: update-gate weight, input scale, weight of the hidden conv
  val Z = 0.6
  val InScale = 100.0
  val HWeight = 0.5
  /** Ensemble: fixed-point scale of the Gram aggregate. */
  val Scale: Double = (1L << 20).toDouble
  /** scalars: `lM = log((1 - m) / m)` with m = 0.003. */
  val M = 0.003
  val LM: Double = math.log((1.0 - M) / M)

  /** One ConvGRU step over a w x w state grid: a 3x3 conv of the state
    * with weights (2 - |di|)(2 - |dj|) / 16, the input added uniformly,
    * tanh, and the update gate. */
  def convGridStep(h: Array[Double], x: Double, w: Int): Array[Double] =
    convGridStepWith(h, x, w, o => { val e = math.exp(2.0 * o); (e - 1.0) / (e + 1.0) })

  /** [[convGridStep]] with another activation, for the checker's own
    * tests. */
  def convGridStepWith(h: Array[Double], x: Double, w: Int, act: Double => Double): Array[Double] =
    Array.tabulate(w * w) { k =>
      val (i, j) = (k / w, k % w)
      var conv = 0.0
      for (di <- -1 to 1; dj <- -1 to 1) {
        val (ni, nj) = (i + di, j + dj)
        if (ni >= 0 && ni < w && nj >= 0 && nj < w)
          conv += h(ni * w + nj) * ((2 - math.abs(di)) * (2 - math.abs(dj))).toDouble
      }
      Z * h(k) + (1 - Z) * act(x / InScale + HWeight * (conv / 16.0))
    }

  /** Ridge weights: solve (A'A + lam * mean(diag A'A) I) w = A'y by
    * Gaussian elimination with partial pivoting. */
  def ridgeSolve(ata: Array[Array[Double]], aty: Array[Double], lam: Double = 0.1): Array[Double] = {
    val p = aty.length
    val meanDiag = (0 until p).map(i => ata(i)(i)).sum / p
    val m = Array.tabulate(p, p)((i, j) => ata(i)(j) + (if (i == j) lam * meanDiag else 0.0))
    val b = aty.clone()
    for (k <- 0 until p) {
      val piv = (k until p).maxBy(i => math.abs(m(i)(k)))
      if (piv != k) {
        val t = m(k); m(k) = m(piv); m(piv) = t
        val tb = b(k); b(k) = b(piv); b(piv) = tb
      }
      for (i <- k + 1 until p) {
        val f = m(i)(k) / m(k)(k)
        for (j <- k until p) m(i)(j) -= f * m(k)(j)
        b(i) -= f * b(k)
      }
    }
    val x = new Array[Double](p)
    for (i <- p - 1 to 0 by -1)
      x(i) = (b(i) - (i + 1 until p).map(j => m(i)(j) * x(j)).sum) / m(i)(i)
    x
  }
}
