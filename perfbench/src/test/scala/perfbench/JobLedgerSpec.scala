package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}

class JobLedgerSpec extends AnyFunSuite {

  test("tasks follow their stage's job, not whichever job is running") {
    val l = new JobLedger
    l.jobStart(1, "opA", 100, Seq(1, 2))
    l.jobStart(2, "opB", 110, Seq(3))
    // interleaved task ends while both jobs run
    l.taskEnd(1, runMs = 5, cpuNs = 1000, shuffleWriteBytes = 10)
    l.taskEnd(3, runMs = 7, cpuNs = 2000, shuffleWriteBytes = 0)
    l.taskEnd(2, runMs = 4, cpuNs = 500, shuffleWriteBytes = 20)
    l.stageCompleted(3)
    l.jobEnd(2, 130)
    // opA's last task ends after opB's job finished
    l.taskEnd(1, runMs = 6, cpuNs = 1500, shuffleWriteBytes = 10)
    l.stageCompleted(1); l.stageCompleted(2)
    l.jobEnd(1, 150)

    val a = l.forOp("opA"); val b = l.forOp("opB")
    assert((a.jobs, a.stages, a.tasks) == ((1, 2, 3)))
    assert((a.taskRunMs, a.cpuNs, a.shuffleWriteBytes) == ((15L, 3000L, 40L)))
    assert(a.jobIntervals.toSeq == Seq(100L -> 150L))
    assert((b.jobs, b.stages, b.tasks, b.taskRunMs) == ((1, 1, 1, 7L)))
  }

  test("a stage shared by two jobs stays with the job that listed it first") {
    val l = new JobLedger
    l.jobStart(1, "opA", 0, Seq(1))
    l.jobStart(2, "opB", 1, Seq(1, 2)) // stage 1 reused (skipped) by job 2
    l.taskEnd(1, 1, 1, 0); l.taskEnd(2, 1, 1, 0)
    assert(l.forOp("opA").tasks == 1 && l.forOp("opB").tasks == 1)
  }

  test("jobs outside any op are not counted") {
    val l = new JobLedger
    l.jobStart(1, null, 0, Seq(1))
    l.taskEnd(1, 1, 1, 0); l.jobEnd(1, 5)
    assert(l.forOp("null").tasks == 0 && l.jobSpans.isEmpty)
  }

  test("live listener attributes concurrent jobs of two ops by their local property") {
    val spark = SparkSession.builder().master("local[4]").appName("ledger-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    val tracer = new Tracer(spark)
    tracer.attach()
    JobLedgerSpec.started = new CountDownLatch(2)
    def job(op: String, partitions: Int): Thread = new Thread(() => {
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, op)
      spark.sparkContext.parallelize(1 to partitions, partitions).map { i =>
        // each job's first task waits for the other's: the jobs overlap
        if (i == 1) {
          JobLedgerSpec.started.countDown()
          JobLedgerSpec.started.await(10, TimeUnit.SECONDS)
        }
        Thread.sleep(20); i
      }.count()
    })
    val ts = Seq(job("opA", 3), job("opB", 5))
    ts.foreach(_.start()); ts.foreach(_.join())
    tracer.detach()
    val (a, b) = (tracer.ledger.forOp("opA"), tracer.ledger.forOp("opB"))
    assert((a.jobs, a.stages, a.tasks) == ((1, 1, 3)))
    assert((b.jobs, b.stages, b.tasks) == ((1, 1, 5)))
    // the two jobs overlapped in time, so time-window attribution would
    // have mixed them up
    val (ia, ib) = (a.jobIntervals.head, b.jobIntervals.head)
    assert(ia._1 < ib._2 && ib._1 < ia._2)
    spark.stop()
  }
}

object JobLedgerSpec {
  /** Tasks run in the test JVM, so they reach the latch statically. */
  @volatile var started: CountDownLatch = _
}
