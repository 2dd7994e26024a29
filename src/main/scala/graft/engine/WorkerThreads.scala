package graft.engine

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** Short-lived daemon worker threads for driver-side fan-out (catalog
  * registration, the learned planner's candidate sweep): a fixed task
  * list, no pool that outlives the call. */
object WorkerThreads {

  /** Run `work(state, i)` for every `i` in `0 until tasks` on
    * `min(threads, tasks)` daemon threads named `<name>-<k>` (k from 1).
    * Each thread evaluates `init` once and passes the result to each of
    * its tasks; threads take indices in ascending order, so put the
    * longest tasks first. Returns once every thread has exited. The
    * first `Throwable` of any thread stops the hand-out and is rethrown
    * here. An interrupted caller stops the hand-out, interrupts the
    * threads, still joins them, and rethrows. */
  def run[S](name: String, threads: Int, tasks: Int)(init: => S)(
      work: (S, Int) => Unit): Unit = {
    val next = new AtomicInteger(0)
    val fatal = new AtomicReference[Throwable]()
    val workers = (1 to math.min(threads, tasks)).map { k =>
      val worker = new Thread(() =>
        try {
          val state = init
          var i = next.getAndIncrement()
          while (i < tasks && fatal.get == null) {
            work(state, i)
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => fatal.compareAndSet(null, e) },
        s"$name-$k")
      worker.setDaemon(true)
      worker.start()
      worker
    }
    try workers.foreach(_.join())
    catch { case e: InterruptedException =>
      // hand out no more tasks, cut the in-flight ones short, and
      // still outlive every worker
      next.set(tasks)
      workers.foreach(_.interrupt())
      workers.foreach(_.join())
      throw e
    }
    Option(fatal.get).foreach(e => throw e)
  }
}
