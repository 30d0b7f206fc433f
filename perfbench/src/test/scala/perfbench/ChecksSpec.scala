package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every check accepts a correct result and rejects deliberately wrong ones. */
class ChecksSpec extends AnyFunSuite {

  private val layout = StoreLayout(seed = 11L, nExps = 8, perExp = 12)

  /** A correct `build_dataset` result, assembled from the layout alone. */
  private def goodResult(l: StoreLayout): (Seq[CropRow], Seq[(String, Long, Long)]) = {
    val rows = (0 until l.nExps).flatMap { e =>
      val (tr, va, _) = SplitLaw.counts(l.counts(e).toLong)
      (l.offsets(e) until l.offsets(e + 1)).zipWithIndex.flatMap { case (g, i) =>
        val split = if (i < tr) "train" else if (i < tr + va) "val" else "test"
        (0 until 4).map { c =>
          val n = l.cellsInCrop(g, c)
          CropRow(l.experiment(e), l.tissue(e), split, l.fovName(g), c, 32, 32, n, n * 49)
        }
      }
    }
    val (test, trainVal) = rows.partition(_.split == "test")
    val byTissue = trainVal.groupBy(_.tissue).values
    val max = byTissue.map(_.size).max
    val out = byTissue.flatMap(rs => Iterator.continually(rs).flatten.take(max)).toSeq ++ test
    val summary = out.groupBy(_.tissue).toSeq.map { case (t, rs) =>
      (t, rs.map(_.nCells.toLong).sum, rs.size.toLong)
    }
    (out, summary)
  }

  private def rejects(rows: Seq[CropRow], summary: Seq[(String, Long, Long)]): Unit =
    assert(Checks.datasetBuild(layout, rows, summary).nonEmpty)

  test("dataset_build: the correct result passes") {
    val (rows, summary) = goodResult(layout)
    assert(Checks.datasetBuild(layout, rows, summary) === Nil)
  }

  test("dataset_build: each wrong result is rejected") {
    val (rows, summary) = goodResult(layout)
    val testAt = rows.indexWhere(_.split == "test")
    val trainAt = rows.indexWhere(_.split == "train")
    rejects(rows.patch(testAt, Nil, 1), summary) // a test crop lost
    rejects(rows :+ rows(testAt), summary) // a test crop duplicated
    rejects(rows.updated(trainAt, rows(trainAt).copy(split = "test")), summary) // split law
    rejects(rows.updated(0, rows(0).copy(nCells = rows(0).nCells + 1)), summary) // cells
    rejects(rows.updated(0, rows(0).copy(nNonzero = rows(0).nNonzero - 1)), summary) // pixels
    rejects(rows.updated(0, rows(0).copy(nRows = 31)), summary) // crop shape
    rejects(rows.updated(0, rows(0).copy(tissue = "tissue_x")), summary) // lineage
    rejects(rows.patch(trainAt, Nil, 1), summary) // train/val not equalized
    rejects(rows, summary.map { case (t, c, n) => (t, c, n + 1) }) // summary images
    rejects(rows, summary.map { case (t, c, n) => (t, c + 1, n) }) // summary cells
    rejects(rows, summary.drop(1)) // summary lost a tissue
  }

  test("query row counts: a wrong count and a missing oracle count both fail") {
    val oracle = Map("q_a" -> 6L)
    assert(Checks.rowCount("q_a", 6L, oracle) === Nil)
    assert(Checks.rowCount("q_a", 5L, oracle).nonEmpty)
    assert(Checks.rowCount("q_b", 0L, oracle).nonEmpty)
  }
}
