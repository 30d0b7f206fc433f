package perfbench

import graft.core.ImagePlane

/** Seeded hashing: every generated value is a pure function of the seed
  * and its coordinates, so the same seed gives byte-identical inputs on
  * any partitioning, and the checks can regenerate any expected value.
  */
object Rng {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)
  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  /** Uniform in [0, n). */
  def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt
}

/** The reference's train/val/test count rules (build.py) for the
  * (0.8, 0.1, 0.1) ratios the workload uses: a 0.2 remainder split
  * evenly, rounding up, with the small-n special cases.
  */
object SplitLaw {
  def counts(n: Long): (Long, Long, Long) =
    if (n == 1) (1L, 0L, 0L)
    else if (n == 2) (1L, 1L, 0L)
    else if (n * 0.2 < 1) (n - 2, 1L, 1L)
    else {
      val remainder = math.ceil(n * 0.2).toLong
      if (remainder * 0.5 < 1) (n - remainder - 1, remainder, 1L)
      else {
        val test = math.ceil(remainder * 0.5).toLong
        (n - remainder, remainder - test, test)
      }
    }
}

/** The `dataset_build` store: `nExps` experiments of 64x64 FOVs on an
  * 8x8 grid of 7x7-px cells (1-px background gutters).
  *
  * Seeded per FOV:
  *  - which cells are present (the top-left cell of each 32x32 quadrant
  *    always is, so every crop keeps at least one object);
  *  - cell label ids, drawn from only six values, so adjacent cells share
  *    ids and connected components must split them;
  *  - 2x2 specks in some empty cell slots, which small-object removal
  *    (threshold 20 px) must drop;
  *  - pixel intensities.
  * Per-experiment FOV counts shift by a seeded amount within
  * same-tissue pairs, so tissue totals (and the balancer's output size)
  * do not depend on the seed.
  */
final case class StoreLayout(seed: Long, nExps: Int, perExp: Int) {
  import StoreLayout._
  require(nExps % 2 == 0 && (0 until nExps by 2).forall(e => tissue(e) == tissue(e + 1)),
    s"nExps=$nExps must pair experiments within tissues")

  /** Tissue skew 50/30/20 over experiment index. */
  def tissue(e: Int): String =
    if (e < nExps / 2) "tissue_a" else if (e < nExps * 8 / 10) "tissue_b" else "tissue_c"

  val counts: Vector[Int] = (0 until nExps).map { e =>
    val d = Rng.below(Rng.hash(seed, 1, e / 2), perExp / 4 + 1)
    if (e % 2 == 0) perExp + d else perExp - d
  }.toVector
  val offsets: Vector[Int] = counts.scanLeft(0)(_ + _)
  def total: Int = offsets.last
  def experiment(e: Int): String = s"exp$e"
  def expOf(g: Int): Int = offsets.lastIndexWhere(_ <= g)
  def fovName(g: Int): String = f"f$g%05d"
  def fovIndex(name: String): Int = name.drop(1).toInt

  def cellPresent(g: Int, cell: Int): Boolean = {
    val (gr, gc) = (cell / Grid, cell % Grid)
    (gr % 4 == 0 && gc % 4 == 0) || Rng.unit(Rng.hash(seed, 2, g, cell)) < 0.85
  }

  /** Present cells in crop `crop` (row-major 2x2 quadrants). */
  def cellsInCrop(g: Int, crop: Int): Int =
    (0 until Grid * Grid).count { cell =>
      (cell / Grid / 4) * 2 + (cell % Grid) / 4 == crop && cellPresent(g, cell)
    }

  def labels(g: Int): Array[Int] = {
    val out = new Array[Int](Rows * Cols)
    for (cell <- 0 until Grid * Grid) {
      val (r0, c0) = (cell / Grid * CellSize, cell % Grid * CellSize)
      val h = Rng.hash(seed, 3, g, cell)
      val id = 1 + Rng.below(h, 6)
      if (cellPresent(g, cell)) {
        for (r <- r0 until r0 + CellSize - 1; c <- c0 until c0 + CellSize - 1) out(r * Cols + c) = id
      } else if (Rng.unit(Rng.mix(h)) < 0.5) {
        for (r <- r0 + 2 until r0 + 4; c <- c0 + 2 until c0 + 4) out(r * Cols + c) = id
      }
    }
    out
  }

  def pixels(g: Int): Array[Float] =
    Array.tabulate(Rows * Cols)(i => (Rng.hash(seed, 4, g, i) >>> 40).toFloat / (1 << 24))

  def plane(g: Int): ImagePlane =
    ImagePlane(fovName(g), 0, 0, 0, Rows, Cols, Seq("channel1"), pixels(g), labels(g))
}

object StoreLayout {
  val Rows = 64
  val Cols = 64
  val CellSize = 8
  val Grid = 8
  val CellPx = 49
  val CropSize = 32
}
