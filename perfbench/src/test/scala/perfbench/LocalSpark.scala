package perfbench

import org.apache.spark.sql.SparkSession

/** One small local session shared by the specs of the forked test JVM. */
object LocalSpark {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder(master = "local[2]", shufflePartitions = 2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
