package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** One benchmark run of one workload; `perfbench/run.py` builds the
  * classpath and launches this.
  *
  * Closed loop from one driver thread: one pipeline or query at a time
  * on `local[SPARK_GRAFT_CPUS]`, from `GraftSession.builder` with its
  * shipped defaults. The run sets up [[Setups]] times (session start,
  * warm-up job and input generation; `setup_s` is the median of all but
  * the first), makes checked, untimed warm-up passes for [[WarmupS]]
  * seconds, then repeats passes for `--seconds`. With `--trace 1`
  * passes alternate between untraced and traced by a [[Tracer]] (the
  * difference of their walls is the tracing overhead), followed by the
  * layer runs and kernel rates. The last stdout line is
  * `PERFBENCH_RESULT {json}`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, data: File, oracle: File)

  /** Set-ups per run. The first is cold (class loading, the JIT) and is
    * left out: `setup_s` is the median of the others.
    */
  val Setups = 5
  /** Checked, untimed passes over the measured input before measuring.
    * Pass walls keep falling for many passes while the JIT compiles the
    * driver's planning and scheduling paths; on `dataset_build` they
    * still fall about 30% over 20 measured seconds, so medians over many
    * short passes are reported rather than single passes.
    */
  val WarmupS = 10.0

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("work")).getAbsoluteFile, new File(m("data")).getAbsoluteFile,
      new File(m("oracle")).getAbsoluteFile)
  }

  def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val heapPeak = new HeapAfterGc
    if (sys.env.contains("SPARK_GRAFT_EXTRA_CONF"))
      fail("SPARK_GRAFT_EXTRA_CONF is set; the benchmark measures the shipped defaults")
    val fixtures = sys.props.get("graft.fixtures.dir").map(new File(_))
    if (!fixtures.exists(f => f.isAbsolute && f.isDirectory))
      fail(s"-Dgraft.fixtures.dir must name an existing absolute directory, got $fixtures")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(fail("SPARK_GRAFT_CPUS is not set"))
    val wl: Workload = a.workload match {
      case "dataset_build" => new DatasetBuild(a.seed, perExp = 40)
      case "query_inventory" =>
        new QueryInventory(a.seed, new File(a.data, "sf0.01"), readOracle(a.oracle))
      case other => fail(s"unknown workload $other")
    }
    println(s"# inputs: ${wl.inputs}")
    println(s"# cores: $cores, max heap: ${Runtime.getRuntime.maxMemory >> 20} MiB, " +
      s"spark: ${org.apache.spark.SPARK_VERSION}")

    val scratch = new File(a.work, "scratch")
    scratch.mkdirs()

    // set-up, repeated; the last session and inputs are the ones measured
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      if (spark != null) {
        spark.stop()
        Workload.deleteTree(new File(a.work, s"inputs-${i - 1}"))
      }
      val t0 = System.nanoTime()
      spark = graft.core.GraftSession.builder().getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      sessionS += (System.nanoTime() - t0) / 1e9
      spark.range(1000000).selectExpr("sum(id)").collect()
      wl.setup(spark, new File(a.work, s"inputs-$i"))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    println(f"# setup_s per repetition: ${setupS.map(x => f"$x%.3f").mkString(" ")}")

    val ops = mutable.ArrayBuffer.empty[Op] // every operation run, warm-up included
    var passNo = 0
    /** Passes until `seconds` have elapsed, taking turns over `sinks`;
      * the first pass on each sink completes, later ones stop at the
      * deadline. Returns the operations run on each sink.
      */
    def loop(seconds: Double, sinks: Seq[SpanSink]): Seq[Seq[Op]] = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val got = sinks.map(_ => mutable.ArrayBuffer.empty[Op])
      var i = 0
      do {
        val k = i % sinks.size
        passNo += 1
        val pass = () => wl.pass(spark, sinks(k), passNo, scratch,
          if (i < sinks.size) Long.MaxValue else deadline)
        got(k) ++= (sinks(k) match {
          case t: Tracer =>
            t.runId = passNo
            t.install()
            try pass() finally t.remove()
          case _ => pass()
        })
        i += 1
      } while (System.nanoTime() < deadline)
      got.flatten.flatMap(_.errors).foreach(e => System.err.println(s"perfbench: FAILED $e"))
      ops ++= got.flatten
      got.map(_.toSeq)
    }
    /** Each operation's median wall. A run ends part-way through a pass,
      * so some operations have one sample more than others; taking each
      * one's median first keeps which ones they are (it depends on the
      * seed's query order) out of the percentiles.
      */
    def opWalls(run: Seq[Op]): Seq[Double] =
      run.filter(_.errors.isEmpty).groupBy(_.name).values.map(o => Stats.median(o.map(_.seconds))).toSeq
    /** A pass's wall: the sum over operations of each one's median wall. */
    def wall(run: Seq[Op]): Double = opWalls(run).sum

    loop(WarmupS, Seq(NoSpans))

    val metrics: Seq[(String, Double)] =
      if (!a.trace) {
        val Seq(run) = loop(a.seconds, Seq(NoSpans))
        println(s"# operations: ${run.size} measured, ${run.count(_.errors.isEmpty)} passed")
        val walls = opWalls(run)
        Seq(
          "setup_s" -> Stats.median(setupS.toSeq.drop(1)),
          "wall_s" -> walls.sum,
          "op_p50_s" -> Stats.median(walls),
          "op_p95_s" -> Stats.quantile(walls, 0.95))
      } else {
        // traced and untraced passes alternate, so the JIT's warm-up
        // drift does not enter the tracing overhead
        val tracer = new Tracer(spark)
        val tracers = mutable.ArrayBuffer(tracer)
        val Seq(untraced, traced) = loop(a.seconds, Seq(NoSpans, tracer))
        val passes = traced.size.toDouble / wl.opsPerPass
        println(s"# operations: ${untraced.size} untraced, ${traced.size} traced")
        val newTracer = () => { val t = new Tracer(spark).install(); tracers += t; t }
        val layer = wl.layers(spark, tracer, passes, newTracer, scratch)
        val storage = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum / 1e6
        val spansFile = new File(a.work, "spans.json")
        Tracer.writeAll(tracers.toSeq, spansFile)
        val measured =
          Tracer.execMetrics(tracer.total, passes, traced.map(_.seconds).sum, cores) ++
            Tracer.streamMetrics(tracer.streamProgress, passes) ++ layer ++ Seq(
            "core.session_s" -> Stats.median(sessionS.toSeq.drop(1)),
            "core.storage_held_mb" -> storage,
            "core.peak_rss_mb" -> peakRssMb(),
            "core.peak_heap_mb" -> heapPeak.mb,
            "trace.overhead_s" -> (wall(traced) - wall(untraced)))
        val unknown = measured.map(_._1).filterNot(Layers.names.contains)
        require(unknown.isEmpty, s"metrics missing from Layers.names: $unknown")
        val got = measured.toMap
        Layers.names.map(n => n -> got.getOrElse(n, 0.0))
      }

    val all = ops.toSeq
    val failed = all.count(_.errors.nonEmpty)
    writeOps(all, new File(a.work, "ops.json"))
    spark.stop()
    val units = metrics.map { case (k, v) => k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> Layers.unit(k)))) }
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(units)))))
  }

  /** Each query's `oracle_rows` from a committed correctness artifact
    * (`{query: {"oracle_rows": n, ...}}`).
    */
  def readOracle(f: File): Map[String, Long] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(f) match {
      case JObject(entries) => entries.flatMap {
        case (q, rec) => rec \ "oracle_rows" match {
          case JInt(n) => Some(q -> n.toLong)
          case _ => None
        }
      }.toMap
      case _ => fail(s"$f is not a JSON object")
    }
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def writeOps(ops: Seq[Op], f: File): Unit = {
    val w = new java.io.PrintWriter(f)
    try w.println(ops.map(o => Json.obj(Seq("name" -> o.name, "seconds" -> o.seconds,
      "errors" -> Json.Raw(o.errors.map(Json.str).mkString("[", ",", "]")))))
      .mkString("[\n", ",\n", "\n]"))
    finally w.close()
  }
}

/** The most the heap held right after any garbage collection since
  * construction, in MB: closer to what the program keeps than the
  * resident set, which follows how far the collector chose to grow the
  * heap.
  */
final class HeapAfterGc {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private val peak = new java.util.concurrent.atomic.AtomicLong(0)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case gc: javax.management.NotificationEmitter =>
      gc.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }, null, null)
    case _ =>
  }

  def mb: Double = peak.get / 1e6
}
