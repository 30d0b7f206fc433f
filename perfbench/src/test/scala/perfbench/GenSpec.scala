package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The generators: the same seed gives byte-identical inputs, another
  * seed gives different inputs that keep the invariants the checks use.
  */
class GenSpec extends AnyFunSuite {

  /** 4-connected components of `labels` (equal ids), as their areas. */
  private def componentAreas(labels: Array[Int], rows: Int, cols: Int): Seq[Int] = {
    val seen = new Array[Boolean](labels.length)
    (0 until labels.length).iterator.filter(i => labels(i) != 0 && !seen(i)).map { start =>
      var stack = List(start)
      seen(start) = true
      var area = 0
      while (stack.nonEmpty) {
        val i = stack.head; stack = stack.tail; area += 1
        val (r, c) = (i / cols, i % cols)
        for ((dr, dc) <- Seq((-1, 0), (1, 0), (0, -1), (0, 1))) {
          val (nr, nc) = (r + dr, c + dc)
          val j = nr * cols + nc
          if (nr >= 0 && nr < rows && nc >= 0 && nc < cols && !seen(j) && labels(j) == labels(i)) {
            seen(j) = true; stack = j :: stack
          }
        }
      }
      area
    }.toSeq
  }

  private def quadrant(labels: Array[Int], crop: Int): Array[Int] = {
    val (r0, c0) = (crop / 2 * 32, crop % 2 * 32)
    Array.tabulate(32 * 32)(i => labels((r0 + i / 32) * 64 + c0 + i % 32))
  }

  test("dataset_build store: same seed byte-identical, other seed differs") {
    val (a, b, c) = (StoreLayout(3L, 8, 40), StoreLayout(3L, 8, 40), StoreLayout(4L, 8, 40))
    assert(a.counts === b.counts)
    for (g <- 0 until a.total) {
      assert(java.util.Arrays.equals(a.plane(g).labels, b.plane(g).labels))
      assert(java.util.Arrays.equals(a.plane(g).pixels, b.plane(g).pixels))
    }
    assert(a.counts != c.counts || (0 until 50).exists(g =>
      !java.util.Arrays.equals(a.plane(g).labels, c.plane(g).labels)))
    assert((0 until 50).exists(g => !java.util.Arrays.equals(a.plane(g).pixels, c.plane(g).pixels)))
  }

  test("dataset_build store: invariants hold for every seed") {
    for (seed <- 1L to 6L) {
      val l = StoreLayout(seed, 8, 40)
      assert(l.total === 8 * 40)
      // tissue totals do not depend on the seed
      assert((0 until 8).groupBy(l.tissue).view.mapValues(_.map(l.counts).sum).toMap ===
        Map("tissue_a" -> 160, "tissue_b" -> 80, "tissue_c" -> 80))
      for (g <- 0 until l.total by 7; crop <- 0 until 4) {
        val areas = componentAreas(quadrant(l.labels(g), crop), 32, 32)
        val cells = l.cellsInCrop(g, crop)
        assert(cells >= 1)
        assert(areas.count(_ == 49) === cells)
        assert(areas.forall(a => a == 49 || a == 4), s"areas $areas")
      }
      // shared ids: connected components must split cells
      assert((0 until l.total).exists(g => l.labels(g).filter(_ != 0).distinct.length < 16))
    }
  }

  test("the written store reads back identically for the same seed") {
    val spark = LocalSpark.session
    val base = Files.createTempDirectory("perfbench-gen").toFile
    def store(seed: Long, name: String) = {
      val dir = new java.io.File(base, name)
      new DatasetBuild(seed, nExps = 8, perExp = 5).setup(spark, dir)
      spark.read.parquet(s"$dir/planes").collect()
        .map(r => (r.getAs[String]("fov"), r.getAs[String]("experiment"),
          r.getAs[Seq[Float]]("pixels"), r.getAs[Seq[Int]]("labels")))
        .sortBy(_._1).toSeq
    }
    try {
      val (a, b, c) = (store(9L, "a"), store(9L, "b"), store(10L, "c"))
      assert(a === b)
      assert(a != c)
    } finally Workload.deleteTree(base)
  }
}
