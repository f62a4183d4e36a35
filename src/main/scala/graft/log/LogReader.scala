package graft.log

import graft.storage.Location

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future}

/** Concurrent log reading on the driver. Replaying a log means opening
  * and parsing many small objects (one per commit, one line per
  * checkpoint row); done one at a time that leaves every core but one
  * idle. Both jobs run here on one shared pool of daemon threads, one per
  * available core, and hand back their results in input order, so callers
  * fold entries exactly as a serial loop would.
  *
  * Failures keep the serial contract: the caller gets the exception of
  * the FIRST failing input, as its task threw it (not wrapped), and tasks
  * not yet started are cancelled. Pool tasks only read and parse; they
  * never submit to or wait on the pool, so concurrent callers cannot
  * deadlock it.
  */
private[graft] object LogReader {

  private val threads = Runtime.getRuntime.availableProcessors

  private lazy val pool: ExecutorService = {
    val seq = new java.util.concurrent.atomic.AtomicInteger()
    Executors.newFixedThreadPool(threads, { (r: Runnable) =>
      val t = new Thread(r, s"graft-log-reader-${seq.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** Parsed entries of the named commit files under `loc`, in the order
    * the names are given.
    */
  def readEntries(loc: Location, names: Seq[String]): Vector[DeltaLogEntry] =
    inOrder(names.map(n => () => DeltaLogEntry.fromNdjson(loc.child(n).readString())))

  /** [[Action.parse]] over every line, in chunks on the pool; the actions
    * come back in line order.
    */
  def parseActions(lines: IndexedSeq[String]): Vector[Action] = {
    // a few chunks per thread evens out uneven line sizes; the floor keeps
    // small inputs to one inline chunk
    val chunk = math.max(256, (lines.size + 4 * threads - 1) / (4 * threads))
    inOrder(lines.grouped(chunk).map(c => () => c.map(Action.parse)).toSeq).flatten
  }

  /** Run the tasks on the pool (inline when there is only one) and
    * collect their results in task order.
    */
  private def inOrder[T](tasks: Seq[() => T]): Vector[T] =
    if (tasks.size <= 1) tasks.map(_()).toVector
    else {
      val futures: Seq[Future[T]] = tasks.map(t => pool.submit(new Callable[T] {
        def call(): T = t()
      }))
      try futures.map { f =>
        try f.get()
        catch { case e: ExecutionException => throw e.getCause }
      }.toVector
      finally futures.foreach(_.cancel(false))
    }
}
