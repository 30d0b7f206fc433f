package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The tracer's counters for known jobs are exact, read straight after
  * the action returns.
  */
class TraceSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.session
  private lazy val sc = spark.sparkContext

  private def traced[T](body: Tracer => T): T = {
    val t = new Tracer(spark).install()
    try body(t) finally t.remove()
  }

  test("a narrow job: one job, one task per partition, no shuffle") {
    traced { t =>
      for (_ <- 1 to 20) {
        t.span("narrow")(sc.parallelize(1 to 1000, 7).map(_ * 2).count())
        val c = t.counters(t.spans.last)
        assert((c(C.Jobs), c(C.Tasks), c(C.FailedTasks), c(C.ShuffleWriteBytes)) === (1L, 7L, 0L, 0L))
      }
    }
  }

  test("a shuffle job: map and reduce tasks, combined records, read equals write") {
    traced { t =>
      for (_ <- 1 to 10) {
        t.span("shuffle") {
          sc.parallelize(1 to 1000, 4).map(x => (x % 3, x)).reduceByKey(_ + _, 2).collect()
        }
        val c = t.counters(t.spans.last)
        assert((c(C.Jobs), c(C.Tasks), c(C.ShuffleWriteRecords)) === (1L, 6L, 12L))
        assert(c(C.ShuffleWriteBytes) > 0 && c(C.ShuffleReadBytes) === c(C.ShuffleWriteBytes))
      }
    }
  }

  test("nested spans keep their own jobs; a job from another group counts by time") {
    traced { t =>
      t.span("outer") {
        sc.parallelize(1 to 10, 2).count()
        t.span("inner")(sc.parallelize(1 to 10, 3).count())
        val other = new Thread(() => {
          sc.setJobGroup("elsewhere", "a job under another group", interruptOnCancel = false)
          sc.parallelize(1 to 10, 5).count()
        })
        other.start(); other.join()
      }
      val byName = t.spans.map(s => s.name -> s).toMap
      val (outer, inner) = (t.counters(byName("outer")), t.counters(byName("inner")))
      assert((outer(C.Jobs), outer(C.Tasks)) === (2L, 7L))
      assert((inner(C.Jobs), inner(C.Tasks)) === (1L, 3L))
      assert(byName("inner").parent === Some(byName("outer").id))
      assert(t.total(C.Tasks) === 10L)
    }
  }

  test("exec metrics derive from the counters") {
    val c = Counters.of(C.Jobs -> 2, C.Tasks -> 8, C.RunMs -> 4000)
    val m = Tracer.execMetrics(c, passes = 2, wallS = 2.0, cores = 4).toMap
    assert(m("exec.tasks") === 4.0)
    assert(m("exec.task_run_s") === 2.0)
    assert(m("exec.core_idle_share") === 0.5)
  }
}
