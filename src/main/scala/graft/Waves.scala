package graft

import java.util.concurrent.{Callable, ExecutorService, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession

/** The one way the engine runs independent Spark jobs concurrently: a
  * "wave" submits every job at once so the caller pays about one job
  * latency instead of the sum (store commits, index builds, checkpoint
  * pairs, the BM25 statistics passes).
  *
  * One failure rule for every wave: all jobs start together; when one
  * throws, the siblings' running Spark jobs are cancelled and siblings
  * that have not started yet are skipped; the call returns only after
  * every job has finished, and then rethrows the FIRST error — the
  * original failure, never a sibling's cancellation. Waiting for every
  * sibling is what makes an immediate retry safe: a re-commit of the same
  * round (or a replayed micro-batch) never races a still-running
  * `Overwrite` write on the same paths.
  *
  * Each wave tags its jobs with one unique Spark job tag (set on the
  * worker thread for the duration of the job, next to any tags the
  * calling thread carries, so cancelling an outer wave reaches the jobs of
  * a wave nested inside it). Each job also runs under the calling
  * thread's `spark.job.description`, so UI labels and listener-side
  * attribution follow the caller rather than whatever a pool thread last
  * held; the worker's own properties are restored afterwards.
  *
  * Jobs run on a CACHED pool of daemon threads (`graft-wave-N`) with no
  * size, timeout or configuration. The width of a wave is fixed by its
  * call site (the widest is [[graft.store.FrontierStore.commit]], one job
  * per table), and waves nest: the crawl loop runs the round checkpoint
  * inside a wave, and the checkpoint opens its own. A fixed-size pool
  * could deadlock there — outer jobs holding every thread while they wait
  * for inner jobs that can never be scheduled — so the pool grows on
  * demand and idle threads expire. Pool threads do not inherit the
  * creating thread's thread-locals (Spark's local properties among them),
  * so no stale tag or description leaks from one wave into the next.
  */
object Waves {

  private val threadIds = new AtomicInteger(0)
  private val waveIds = new AtomicLong(0L)

  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(null, r, s"graft-wave-${threadIds.incrementAndGet()}",
      0L, false)
    t.setDaemon(true)
    t
  }

  /** `Waves.all(label)(a, b)` (or 3 or 4 jobs): one wave over by-name
    * jobs of mixed types, results as a tuple in argument order.
    */
  def all(label: String): All = new All(label)

  final class All private[Waves] (label: String) {
    def apply[A, B](a: => A, b: => B): (A, B) = {
      val r = seq[Any](label)(Seq(() => a, () => b))
      (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
    }

    def apply[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
      val r = seq[Any](label)(Seq(() => a, () => b, () => c))
      (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
    }

    def apply[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
      val r = seq[Any](label)(Seq(() => a, () => b, () => c, () => d))
      (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
        r(3).asInstanceOf[D])
    }
  }

  /** Run `jobs` as one wave; results in argument order. */
  def seq[T](label: String)(jobs: Seq[() => T]): Seq[T] = {
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-wave-$label-${waveIds.incrementAndGet()}"
    val description = sc.getLocalProperty("spark.job.description")
    val tags = sc.getJobTags() + tag
    val firstError = new AtomicReference[Throwable]()
    val pending = jobs.map { job =>
      pool.submit(new Callable[Option[T]] {
        def call(): Option[T] =
          if (firstError.get != null) None
          else {
            val ownDescription = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(description)
            sc.addJobTags(tags)
            try Some(job())
            catch {
              case e: Throwable =>
                if (firstError.compareAndSet(null, e))
                  sc.cancelJobsWithTag(tag, s"a sibling job of wave $label failed")
                None
            } finally {
              sc.removeJobTags(tags)
              sc.setJobDescription(ownDescription)
            }
          }
      })
    }
    // call() never throws, so this waits for every job to settle
    val results = pending.map(_.get())
    Option(firstError.get).foreach(e => throw e)
    results.map(_.get)
  }
}
