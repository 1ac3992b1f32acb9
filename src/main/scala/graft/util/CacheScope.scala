package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** The one place that decides how long an operator's cache lives.
  *
  *  - [[materialize]] caches a frame's computed rows and cuts its logical
  *    plan (iterative operators and re-referenced results stay cheap to
  *    plan) while keeping the RDD lineage: a lost block is recomputed,
  *    never a failed job.
  *  - [[persist]] is a plain cache for a reused input that keeps its plan.
  *
  * Both register the cache with the calling thread's innermost open
  * [[withScope]], which releases exactly what was registered in it when it
  * closes. Scopes are per thread and inherited by threads started inside
  * them (e.g. [[Concurrently]] workers), so concurrent jobs on one session
  * never release each other's caches. Outside any scope the caller owns the
  * cache: a materialized frame's blocks go when the frame is garbage
  * collected, a persisted one stays until released. [[release]] frees
  * either kind early, once its last reader has run.
  *
  * Releasing early is always safe: a released frame recomputes from its
  * lineage when read again.
  */
object CacheScope {

  private final class Scope {
    private var frees: List[() => Unit] = Nil
    private var open = true
    def add(free: () => Unit): Unit = {
      // a thread that outlives its scope has nothing left to cache for
      val late = synchronized { if (open) frees ::= free; !open }
      if (late) free()
    }
    def close(): Unit = {
      val all = synchronized { open = false; val r = frees; frees = Nil; r }
      all.foreach(_())
    }
  }

  /** the innermost open scope of this thread, null outside any */
  private val current = new InheritableThreadLocal[Scope]

  /** Runs `f` in a new scope, then releases every cache [[materialize]] and
    * [[persist]] registered in it — from this thread or from threads
    * started inside it — and nothing else. Scopes belong to threads, so
    * `spark` is not consulted. */
  def withScope[T](spark: SparkSession)(f: => T): T = {
    val outer = current.get
    val scope = new Scope
    current.set(scope)
    try f
    finally {
      current.set(outer)
      scope.close()
    }
  }

  /** A frame with `df`'s rows whose logical plan is a leaf over their
    * cached RDD (MEMORY_AND_DISK). Lazy: shuffle stages below the last one
    * run now, the rows are cached by the first action that reads them. */
  def materialize(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      qe.executedPlan.execute().map(_.copy())
    }.persist(StorageLevel.MEMORY_AND_DISK)
    register(() => rdd.unpersist(blocking = false))
    Bridge.logicalRdd(rdd, df)
  }

  /** `df` cached at MEMORY_AND_DISK, plan kept. */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    register(() => df.unpersist(blocking = false))
    df
  }

  /** Releases the cache behind `df`, a frame [[materialize]] or [[persist]]
    * returned, before its scope closes. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case materialized: LogicalRDD => materialized.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  private def register(free: () => Unit): Unit =
    Option(current.get).foreach(_.add(free))
}
