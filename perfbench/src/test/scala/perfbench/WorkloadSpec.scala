package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `dataset_build` passes its checks on the engine's real output,
  * for several seeds, at a small size.
  */
class WorkloadSpec extends AnyFunSuite {
  private def run(w: Workload): Seq[Op] = {
    val base = Files.createTempDirectory("perfbench-wl").toFile
    try {
      w.setup(LocalSpark.session, new java.io.File(base, "inputs"))
      w.pass(LocalSpark.session, NoSpans, 1, base, Long.MaxValue)
    } finally Workload.deleteTree(base)
  }

  for (seed <- Seq(1L, 2L)) {
    test(s"dataset_build passes its checks, seed $seed") {
      val ops = run(new DatasetBuild(seed, nExps = 8, perExp = 12))
      assert(ops.flatMap(_.errors) === Nil)
    }
  }
}
