package graft.util

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Runs a fixed list of independent thunks at once — typically each one
  * launches its own Spark job — and returns their results in input order.
  *
  *  - At most `spark.sparkContext.defaultParallelism` thunks run at a time;
  *    they are started in input order, so put the longest one first.
  *  - Each worker thread carries the caller's Spark local properties (job
  *    group, job description, scheduler pool, job tags), so event logs and
  *    listeners attribute every job to the caller's group. The caller's
  *    `spark.sql.execution.id` is dropped: each thunk's query gets its own
  *    SQL execution instead of nesting under one the caller may be inside.
  *  - On failure no further thunk starts; the ones already running finish,
  *    and the first failure is rethrown (later ones attached as suppressed).
  *    Every worker thread has exited by the time this returns or throws.
  */
object Concurrently {

  def apply[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val results = new Array[Any](thunks.size)
    val next = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()
    // local properties are an InheritableThreadLocal: a thread created here
    // starts with its own copy of the caller's
    val workers = (0 until math.min(thunks.size, math.max(1, sc.defaultParallelism)))
      .map { k =>
        val t = new Thread(() => {
          SparkSession.setActiveSession(spark)
          sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
          var i = next.getAndIncrement()
          while (i < thunks.size && failure.get == null) {
            try results(i) = thunks(i)()
            catch { case e: Throwable =>
              if (!failure.compareAndSet(null, e)) failure.get.addSuppressed(e)
            }
            i = next.getAndIncrement()
          }
        }, s"graft-concurrently-$k")
        t.setDaemon(true)
        t
      }
    workers.foreach(_.start())
    var interrupted = false
    workers.foreach { w =>
      while (w.isAlive)
        try w.join()
        catch { case e: InterruptedException =>
          // stop handing out thunks, but still wait for the running ones
          if (!interrupted) failure.compareAndSet(null, e)
          interrupted = true
        }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[T]]
  }
}
