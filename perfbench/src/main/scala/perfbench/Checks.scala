package perfbench

/** One output crop of `build_dataset`, reduced executor-side. */
final case class CropRow(experiment: String, tissue: String, split: String, fov: String,
                         crop: Int, nRows: Int, nCols: Int, nCells: Int, nNonzero: Int)

/** Output checks. Every expected value comes from the seeded generator
  * (or the committed oracle row counts), never from the engine under
  * test. Each check returns the violations it found; empty means pass.
  */
object Checks {
  private val MaxReported = 5

  private def report(errs: Iterable[String]): Seq[String] = {
    val all = errs.toSeq
    if (all.size <= MaxReported) all
    else all.take(MaxReported) :+ s"... and ${all.size - MaxReported} more"
  }

  /** `build_dataset` output against the store layout: split law, crop
    * shape and count, cells and pixels per crop, equalized train/val
    * tissues, untouched test rows, and the tissue summary.
    */
  def datasetBuild(l: StoreLayout, rows: Seq[CropRow],
                   summary: Seq[(String, Long, Long)]): Seq[String] = {
    import StoreLayout._
    val errs = Seq.newBuilder[String]
    val laws = (0 until l.nExps).map(e => SplitLaw.counts(l.counts(e).toLong))
    val tissues = (0 until l.nExps).map(l.tissue).distinct

    errs ++= rows.iterator.flatMap { r =>
      val g = if (r.fov.matches("f\\d+")) l.fovIndex(r.fov) else -1
      val e = if (g >= 0 && g < l.total) l.expOf(g) else -1
      if (e < 0) Some(s"unknown fov ${r.fov}")
      else if (r.experiment != l.experiment(e) || r.tissue != l.tissue(e))
        Some(s"${r.fov}: lineage ${r.experiment}/${r.tissue}, want ${l.experiment(e)}/${l.tissue(e)}")
      else if (r.nRows != CropSize || r.nCols != CropSize)
        Some(s"${r.fov}/${r.crop}: crop is ${r.nRows}x${r.nCols}, want ${CropSize}x$CropSize")
      else if (r.crop < 0 || r.crop > 3) Some(s"${r.fov}: crop index ${r.crop}")
      else {
        val want = l.cellsInCrop(g, r.crop)
        if (r.nCells != want || r.nNonzero != want * CellPx)
          Some(s"${r.fov}/${r.crop}: ${r.nCells} cells/${r.nNonzero} px, " +
            s"want $want/${want * CellPx}")
        else None
      }
    }

    // split law, on distinct FOVs (balancing duplicates train/val rows)
    val fovsBySplit = rows.groupBy(r => (r.experiment, r.split)).view
      .mapValues(_.map(_.fov).distinct.size.toLong).toMap
    for (e <- 0 until l.nExps) {
      val x = l.experiment(e)
      val got = (fovsBySplit.getOrElse((x, "train"), 0L), fovsBySplit.getOrElse((x, "val"), 0L),
        fovsBySplit.getOrElse((x, "test"), 0L))
      if (got != laws(e)) errs += s"split law for $x: got $got, want ${laws(e)}"
    }

    // test rows ride through balancing untouched
    val test = rows.filter(_.split == "test")
    val wantTest = 4L * laws.map(_._3).sum
    if (test.size != wantTest) errs += s"test crops ${test.size}, want $wantTest"
    if (test.map(r => (r.fov, r.crop)).distinct.size != test.size) errs += "duplicated test crops"

    // train/val equalized to the largest tissue; every source crop kept
    val trainValBy = (0 until l.nExps).groupBy(l.tissue).view
      .mapValues(es => es.map(e => 4L * (laws(e)._1 + laws(e)._2)).sum).toMap
    val balanced = trainValBy.values.max
    val trainVal = rows.filter(_.split != "test")
    val gotTv = trainVal.groupBy(_.tissue).view.mapValues(_.size.toLong).toMap
    for (t <- tissues if gotTv.getOrElse(t, 0L) != balanced)
      errs += s"train/val crops of $t: ${gotTv.getOrElse(t, 0L)}, want $balanced"
    val wantDistinctTv = trainValBy.values.sum
    val gotDistinctTv = trainVal.map(r => (r.fov, r.crop)).distinct.size
    if (gotDistinctTv != wantDistinctTv)
      errs += s"distinct train/val crops $gotDistinctTv, want $wantDistinctTv"

    // summary: images per tissue from the layout, cells from the crops
    val testBy = (0 until l.nExps).groupBy(l.tissue).view
      .mapValues(es => es.map(e => 4L * laws(e)._3).sum).toMap
    val cellsBy = rows.groupBy(_.tissue).view.mapValues(_.map(_.nCells.toLong).sum).toMap
    if (summary.map(_._1).sorted != tissues.sorted)
      errs += s"summary tissues ${summary.map(_._1).sorted}, want ${tissues.sorted}"
    for ((t, cells, images) <- summary) {
      val wantImages = balanced + testBy.getOrElse(t, 0L)
      if (images != wantImages) errs += s"summary images of $t: $images, want $wantImages"
      if (cells != cellsBy.getOrElse(t, -1L))
        errs += s"summary cells of $t: $cells, crops hold ${cellsBy.getOrElse(t, -1L)}"
    }
    report(errs.result())
  }

  /** A registered query's row count against the committed oracle count. */
  def rowCount(query: String, got: Long, oracle: Map[String, Long]): Seq[String] =
    oracle.get(query) match {
      case None => Seq(s"$query: no committed oracle row count")
      case Some(n) if n != got => Seq(s"$query: $got rows, oracle has $n")
      case _ => Nil
    }
}
