package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** The one concurrent-job primitive: failure rule (cancel siblings, settle
  * all, rethrow the original error), nesting, and result order.
  */
class WavesSpec extends SparkTestBase {

  /** Poll `cond` until it holds or `secs` pass (listener delivery is
    * asynchronous).
    */
  private def eventually(secs: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + secs * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  test("a failing job cancels its sibling's Spark job; the wave settles, then rethrows the original error") {
    val sc = spark.sparkContext
    val label = "waves-spec-cancel"
    val siblingStarted = new CountDownLatch(1)
    val starts = new ConcurrentHashMap[Int, String]() // jobId -> description
    val ends = new ConcurrentHashMap[Int, String]() // jobId -> result
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains(label))) {
          starts.put(e.jobId, String.valueOf(e.properties.getProperty("spark.job.description")))
          siblingStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.jobResult.toString)
    }
    sc.addSparkListener(listener)
    val settled = Array.fill(3)(new AtomicBoolean(false))
    val original = new IllegalStateException("the thrower's own failure")
    val t0 = System.nanoTime()
    sc.setJobDescription("waves-spec caller")
    val thrown = try intercept[IllegalStateException] {
      Waves.all(label)(
        // thrower: fails once the sibling's Spark job is running
        try {
          assert(siblingStarted.await(60, TimeUnit.SECONDS))
          throw original
        } finally settled(0).set(true),
        // sibling: a Spark job of ~20 s unless it is cancelled
        try sc.parallelize(1 to 20000, 2).map { x => Thread.sleep(1); x }.count()
        finally settled(1).set(true),
        // a job with no Spark work: the wave must still wait for it
        try Thread.sleep(1500) finally settled(2).set(true))
    } finally {
      sc.setJobDescription(null)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    try {
      assert(thrown eq original)
      assert(settled.forall(_.get), "the wave returned before every job settled")
      assert(secs < 15.0, s"sibling ran to completion ($secs s)")
      assert(eventually(30)(!starts.isEmpty && starts.keySet.stream.allMatch(ends.containsKey(_))))
      assert(starts.size == 1)
      val jobId = starts.keys.nextElement()
      assert(ends.get(jobId).toLowerCase.contains("cancel"), ends.get(jobId))
      // the job ran under the caller's description, not the pool thread's
      assert(starts.get(jobId) == "waves-spec caller")
    } finally sc.removeSparkListener(listener)
  }

  test("a wave opened inside a wave job completes") {
    val jobs = (1 to 8).map { i => () =>
      Waves.all("waves-spec-inner")(spark.range(i).count(), spark.range(10 * i).count())
    }
    val (nested, plain) = Waves.all("waves-spec-outer")(
      Waves.seq("waves-spec-middle")(jobs), spark.range(3).count())
    assert(nested == (1 to 8).map(i => (i.toLong, 10L * i)))
    assert(plain == 3L)
  }

  test("results come back in argument order") {
    assert(Waves.all("waves-spec-order")({ Thread.sleep(200); "a" }, 2) == (("a", 2)))
    assert(Waves.all("waves-spec-order")({ Thread.sleep(200); "a" },
      { Thread.sleep(100); 2 }, 3.0) == (("a", 2, 3.0)))
    assert(Waves.all("waves-spec-order")({ Thread.sleep(300); "a" }, 2,
      { Thread.sleep(100); 3.0 }, spark.range(4).count()) == (("a", 2, 3.0, 4L)))
    val seq = Waves.seq("waves-spec-order")((1 to 6).map { i => () =>
      Thread.sleep((6 - i) * 40L); i
    })
    assert(seq == (1 to 6))
  }
}
