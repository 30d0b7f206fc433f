package perfbench

import graft.core.ImagePlane
import graft.dataset.DatasetBuilder
import graft.ops.{CropOps, LabelClean, Relabel}
import graft.sources.Npz
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** Where spans go: a [[Tracer]] in the traced run, nowhere otherwise. */
trait SpanSink {
  def span[T](name: String)(body: => T): T
}

object NoSpans extends SpanSink {
  def span[T](name: String)(body: => T): T = body
}

/** One timed operation: a whole pipeline, or one registered query. */
final case class Op(name: String, seconds: Double, errors: Seq[String])

trait Workload {
  /** Input size, printed with every run. */
  def inputs: String
  /** Generate or register this workload's inputs under `dir`. */
  def setup(spark: SparkSession, dir: File): Unit
  /** Operations in one pass. */
  def opsPerPass: Int = 1
  /** One closed-loop pass; `pass` numbers passes within the run. A pass
    * of several operations starts none after `deadline` (nanoTime).
    */
  def pass(spark: SparkSession, spans: SpanSink, pass: Int, scratch: File, deadline: Long): Seq[Op]
  /** Per-layer metrics of the traced run: from the spans of its
    * `passes` traced passes, and from layer runs under `newTracer`.
    */
  def layers(spark: SparkSession, traced: Tracer, passes: Double, newTracer: () => Tracer,
             scratch: File): Seq[(String, Double)]
}

object Workload {
  /** Run `body` as one operation; a throw or a failed check is an error. */
  def op(name: String)(body: => Seq[String]): Op = {
    val t0 = System.nanoTime()
    val errors =
      try body
      catch {
        case e: Throwable =>
          Seq(s"$name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(300))
      }
    Op(name, (System.nanoTime() - t0) / 1e9, errors)
  }

  /** Calls per second of `f` on the driver thread, over ~`budgetS`. */
  def rate(budgetS: Double)(f: () => Unit): Double = {
    f()
    var n = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < budgetS) {
      f(); n += 1
      el = (System.nanoTime() - t0) / 1e9
    }
    n / el
  }

  /** Time `steps`, each a longer prefix of one pipeline, `rounds` times
    * in spans. A step's self time and counters are the medians over the
    * rounds, minus those of the previous step.
    */
  def prefixes(t: Tracer, rounds: Int, steps: Seq[(String, () => Any)]): Seq[(String, Double)] = {
    val runs = (1 to rounds).map(_ => steps.map { case (name, f) => t.span(name)(f()); t.spans.last })
    val medians = steps.indices.map { i =>
      Stats.median(runs.map(_(i).seconds)) +:
        runs.map(r => Tracer.spanCounters("", t.counters(r(i))).map(_._2)).transpose.map(Stats.median)
    }
    steps.indices.flatMap { i =>
      val self = medians(i).zip(if (i == 0) medians(i).map(_ => 0.0) else medians(i - 1))
        .map { case (x, prev) => x - prev }
      val name = steps(i)._1
      val keys = s"$name.self_s" +: Tracer.spanCounters(name, Counters.zero).map(_._1)
      keys.zip(self)
    }
  }

  /** The first crop of `p`, through the public crop operator. */
  def cropOf(spark: SparkSession, p: ImagePlane, rows: Int, cols: Int, overlap: Double): ImagePlane =
    CropOps.cropPlanes(ImagePlane.toDataset(spark, Seq(p)),
      CropOps.planCrops(p.nRows, p.nCols, rows, cols, overlap)).collect().minBy(_.crop)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Force every pixel and label of `df` to be decoded. */
  def forceArrays(df: DataFrame): Long =
    df.agg(sum(size(col("pixels"))) + sum(size(col("labels")))).head().getLong(0)
}

/** `dataset_build`: attach metadata, split, tile, CC clean, balance and
  * summarize a seeded multi-experiment store; every output crop is
  * forced and checked.
  */
final class DatasetBuild(seed: Long, nExps: Int = 8, perExp: Int = 150) extends Workload {
  import Workload._
  val layout: StoreLayout = StoreLayout(seed, nExps, perExp)
  private var store: File = _

  def inputs: String =
    s"${layout.total} FOVs of ${StoreLayout.Rows}x${StoreLayout.Cols} px in $nExps experiments"

  def setup(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    store = dir
    val l = layout
    spark.range(l.total).repartition(spark.sparkContext.defaultParallelism)
      .map { g =>
        val p = l.plane(g.toInt)
        (l.experiment(l.expOf(g.toInt)), p.fov, p.stack, p.crop, p.slice, p.nRows, p.nCols,
          p.channels, p.pixels, p.labels)
      }
      .toDF("experiment", "fov", "stack", "crop", "slice", "nRows", "nCols", "channels",
        "pixels", "labels")
      .write.mode("overwrite").parquet(s"$dir/planes")
    (0 until nExps).map(e => (l.experiment(e), l.tissue(e), "platform" + (e % 2)))
      .toDF("experiment", "tissue", "platform")
      .write.mode("overwrite").parquet(s"$dir/metadata")
  }

  private def planes(spark: SparkSession) = spark.read.parquet(s"$store/planes")
  private def metadata(spark: SparkSession) = spark.read.parquet(s"$store/metadata")

  private def build(spark: SparkSession, clean: Boolean, balance: Boolean) =
    DatasetBuilder.buildDataset(spark, planes(spark), metadata(spark),
      outRows = StoreLayout.CropSize, outCols = StoreLayout.CropSize,
      relabelCC = clean, smallObjectThreshold = if (clean) 20 else 0,
      minObjects = if (clean) 1 else 0, balance = balance, seed = seed)

  def pass(spark: SparkSession, spans: SpanSink, pass: Int, scratch: File,
           deadline: Long): Seq[Op] = {
    import spark.implicits._
    Seq(op("dataset_build") {
      val out = spans.span("dataset_build.construct")(build(spark, clean = true, balance = true))
      val rows = spans.span("dataset_build.crops") {
        out.map { tp =>
          val cells = tp.labels.filter(_ != 0)
          CropRow(tp.experiment, tp.tissue, tp.split, tp.fov, tp.crop, tp.nRows, tp.nCols,
            cells.distinct.length, cells.length)
        }.collect().toSeq
      }
      val summary = spans.span("dataset_build.summary") {
        DatasetBuilder.summarize(out, "tissue").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      }
      Checks.datasetBuild(layout, rows, summary)
    })
  }

  def layers(spark: SparkSession, traced: Tracer, passes: Double, newTracer: () => Tracer,
             scratch: File): Seq[(String, Double)] = {
    val t = newTracer()
    val split = () => forceArrays(DatasetBuilder.subset(DatasetBuilder.assignSplits(
      DatasetBuilder.attachMetadata(planes(spark), metadata(spark)), seed), Seq("all"), Seq("all")))
    val spans = try prefixes(t, 5, Seq(
      "sources.scan" -> (() => forceArrays(planes(spark))),
      "dataset.split" -> split,
      "ops.reshape" -> (() => forceArrays(build(spark, clean = false, balance = false).toDF())),
      "ops.clean" -> (() => forceArrays(build(spark, clean = true, balance = false).toDF())),
      "dataset.balance" -> (() => forceArrays(build(spark, clean = true, balance = true).toDF())),
      "dataset.summary" ->
        (() => DatasetBuilder.summarize(build(spark, clean = true, balance = true), "tissue").collect())))
    finally t.remove()
    val c = cropOf(spark, layout.plane(0), StoreLayout.CropSize, StoreLayout.CropSize, 0.0)
    val px = StoreLayout.CropSize * StoreLayout.CropSize / 1e6
    val bytes = Npz.encodePlane(c)
    spans ++ Seq(
      "ops.cc_kernel_mpx_s" ->
        rate(0.25)(() => LabelClean.connectedComponents(c.labels, c.nRows, c.nCols)) * px,
      "ops.relabel_kernel_mpx_s" -> rate(0.25)(() => Relabel.relabelArray(c.labels)) * px,
      "sources.npz_encode_mb_s" -> rate(0.25)(() => Npz.encodePlane(c)) * bytes.length / 1e6,
      "sources.npz_decode_mb_s" -> rate(0.25)(() => Npz.readEntries(bytes)) * bytes.length / 1e6)
  }
}
