package perfbench

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** `query_inventory`: a fixed selection of registered queries over the
  * committed sf0.01 tables, each built then counted, in seed-shuffled
  * order; each row count is checked against the committed oracle count.
  */
final class QueryInventory(seed: Long, dataDir: File, oracle: Map[String, Long])
  extends Workload {
  import Workload._
  import QueryInventory._

  private val byName: Map[String, (String, QueryFn)] =
    registry.flatMap { case (obj, defs) => defs.map { case (q, fn) => q -> (obj, fn) } }.toMap
  private val unknown = Selected.filterNot(byName.contains)
  require(unknown.isEmpty, s"not in the query registry: ${unknown.mkString(", ")}")

  def inputs: String =
    s"${Selected.size} of ${byName.size} registered queries over ${dataDir.getName} " +
      s"(${Tables.map(t => new File(dataDir, s"$t.parquet").length).sum} bytes of parquet)"

  /** Register the inputs: every table is listed and its footer read. */
  def setup(spark: SparkSession, dir: File): Unit =
    Tables.foreach(t => spark.read.parquet(new File(dataDir, s"$t.parquet").getPath).count())

  override def opsPerPass: Int = Selected.size

  def pass(spark: SparkSession, spans: SpanSink, pass: Int, scratch: File,
           deadline: Long): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Selected).iterator
      .takeWhile(_ => System.nanoTime() < deadline).map { q =>
      op(q) {
        spans.span(s"query/$q") {
          val df = spans.span(s"queries.construct/$q")(byName(q)._2(spark, dataDir.getPath))
          val n = spans.span(s"queries.exec/$q")(df.count())
          Checks.rowCount(q, n, oracle)
        }
      }
    }.toSeq

  /** Construct and exec self times and counters, and each registry
    * object's query wall, per pass.
    */
  def layers(spark: SparkSession, traced: Tracer, passes: Double, newTracer: () => Tracer,
             scratch: File): Seq[(String, Double)] = {
    val spans = traced.spans
    def under(layer: String) = spans.filter(_.name.startsWith(layer + "/"))
    def layer(name: String): Seq[(String, Double)] = {
      val c = Counters.sum(under(name).map(traced.counters))
      (s"$name.self_s" -> under(name).map(_.seconds).sum / passes) +:
        Tracer.spanCounters(name, c).map { case (k, v) => k -> v / passes }
    }
    val constructJobs = Counters.sum(under("queries.construct").map(traced.counters))(C.Jobs)
    val walls = under("query").groupBy(s => byName(s.name.stripPrefix("query/"))._1).view
      .mapValues(_.map(_.seconds).sum / passes).toMap
    layer("queries.construct") ++ layer("queries.exec") ++
      Seq("queries.construct_jobs" -> constructJobs.toDouble / passes) ++
      registry.map { case (obj, _) => s"queries.$obj.wall_s" -> walls.getOrElse(obj, 0.0) }
  }
}

object QueryInventory {
  type QueryFn = (SparkSession, String) => DataFrame

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The registry objects `graft.SparkEntry.queries` merges, by name. */
  val registry: Seq[(String, Map[String, QueryFn])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs,
    "TextQueries" -> TextQueries.defs,
    "DedupQueries" -> DedupQueries.defs,
    "SimilarityQueries" -> SimilarityQueries.defs,
    "EventQueries" -> EventQueries.defs,
    "ImageQueries" -> ImageQueries.defs,
    "DatasetQueries" -> DatasetQueries.defs,
    "ScaleQueries" -> ScaleQueries.defs,
    "AdvancedQueries" -> AdvancedQueries.defs,
    "GraphQueries" -> GraphQueries.defs,
    "DqQueries" -> DqQueries.defs,
    "FeatureQueries" -> FeatureQueries.defs,
    "IoQueries" -> IoQueries.defs)

  /** One query of each registry object, chosen from one run of all 284
    * registered queries over sf0.01 on 4 cores (every row count matched
    * the committed oracle count): a typical or cheaper-than-typical one,
    * so every object is timed and a pass stays short enough to be
    * sampled several times in a run.
    */
  val Selected: Seq[String] = Seq(
    "q_layout_zorder", // AdvancedQueries
    "q_ds_balance", // DatasetQueries
    "q_dedup_keep_first", // DedupQueries
    "q_priv_dp_hist", // DqQueries
    "q_eval_lift", // EventQueries
    "q_feat_woe", // FeatureQueries
    "q_graph_degree_dist", // GraphQueries
    "q_img_crop_roundtrip", // ImageQueries
    "q_src_tar_digest", // IoQueries: reads the committed fixtures
    "q16_parts_supplier", // RelationalQueries
    "q_stream_dedup", // ScaleQueries: stream drain at construction
    "q_sim_topk", // SimilarityQueries
    "q_txt_vocab_growth") // TextQueries
}
