package graft

import graft.operators.Par
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

class ParSpec extends SparkSpec {

  test("allOrCancel returns every build's result in order") {
    assert(Par.allOrCancel(spark)(() => 1, () => spark.range(5).count().toInt, () => 3) ==
      Seq(1, 5, 3))
  }

  test("allOrCancel: a failing build cancels a sibling's running job and rethrows the failure") {
    val sc = spark.sparkContext
    val tag = "graft.test.allOrCancel"
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    @volatile var slowJob = -1
    @volatile var succeeded: Option[Boolean] = None
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) == "slow")) {
          slowJob = e.jobId
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == slowJob) {
          succeeded = Some(e.jobResult == JobSucceeded)
          ended.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Par.allOrCancel(spark)(
          () => {
            sc.setLocalProperty(tag, "slow")
            try sc.parallelize(Seq(1), 1).map { x => Thread.sleep(60000L); x }.count()
            finally sc.setLocalProperty(tag, null)
          },
          () => {
            assert(started.await(30, TimeUnit.SECONDS), "the sibling's job never started")
            throw new IllegalStateException("build failed")
          })
      }
      assert(e.getMessage == "build failed", "the first failure, not the sibling's cancellation")
      assert(ended.await(30, TimeUnit.SECONDS), "the sibling's job never ended")
      assert(succeeded.contains(false), "the sibling's job must end cancelled, not completed")
      assert((System.nanoTime() - t0) / 1e9 < 30.0, "the sibling ran to completion")
    } finally sc.removeSparkListener(listener)
  }
}
