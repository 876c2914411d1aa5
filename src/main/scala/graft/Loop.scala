package graft

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.Sessions

/** The iterative operators' shared plumbing, written once:
  *
  *  - [[observed]]: a per-round metric RIDES the action that already
  *    materializes the round (a `Dataset.observe` CollectMetrics node
  *    fires during that job), so a round costs one driver job instead
  *    of the action plus a separate 1-row scan.
  *  - [[Isolated]]: scoped session conf, in a private session clone.
  *  - [[release]]: a checkpointed frame's blocks freed.
  */
private[graft] object Loop {

  /** How long [[observed]] waits for a metric after its action ran.
    * The metric fires during a job that has already COMPLETED, so a
    * listener that has not delivered by then is not coming; the wait
    * only bounds the damage of a Spark-behavior change. */
  val ObserveTimeout: FiniteDuration = 10.seconds

  /** JVM-wide sticky flag: cleared by the first missed wait. After
    * that no frame is observed and every metric is aggregated from the
    * frame its caller names — a listener path that never fires will
    * not start firing later, and paying the wait per round would cost
    * more than the fallback it guards. */
  @volatile private[graft] var rides: Boolean = true

  private val seq = new AtomicLong

  /** Run `action` over `frame` carrying `metrics` (aggregate columns)
    * as an Observation, and return the action's result with the
    * metric row (the columns in the order given). On a miss — or once
    * [[rides]] is cleared — the SAME columns are aggregated over
    * `exact(result)`, which the caller names: the checkpoint when the
    * action made one, else a frame with `frame`'s rows. Exact either
    * way; a miss costs one extra job. */
  def observed[A](frame: DataFrame, metrics: Column*)(action: DataFrame => A)(
      exact: A => DataFrame, timeout: Duration = ObserveTimeout): (A, Row) = {
    val obs =
      if (rides) Some(Observation(s"graft_loop_${seq.incrementAndGet()}"))
      else None
    val result = action(obs.fold(frame)(
      frame.observe(_, metrics.head, metrics.tail: _*)))
    // re-read the flag: a miss inside `action` (a nested call) already
    // decided this wait's outcome
    val fired = obs.filter(_ => rides).flatMap { o =>
      try Some(Await.result(o.future, timeout))
      catch {
        case _: java.util.concurrent.TimeoutException =>
          rides = false
          System.err.println(s"[graft.Loop] Observation ${o.name} did not " +
            s"complete within $timeout; metrics are aggregated from the " +
            "materialized frames from now on")
          None
      }
    }
    // a fired metric may be an empty row: when the observed frame has
    // no rows, adaptive execution can prune the node that collects it
    // (an empty join side), so no value was ever computed
    (result, fired.filter(_.length == metrics.length).getOrElse(
      exact(result).agg(metrics.head, metrics.tail: _*).head()))
  }

  /** Free the blocks of a `localCheckpoint`ed frame. `Dataset.unpersist`
    * drops cache-manager entries only, and a checkpoint is none: its
    * blocks belong to the RDD the frame's plan scans, which stays
    * persisted until unpersisted itself. */
  def release(checkpoint: DataFrame): Unit = checkpoint.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false): Unit
  }

  /** A private session clone (same SparkContext; a copy of `caller`'s
    * runtime conf, temp views, UDFs and QueryExecutionListeners) for
    * the conf one scope needs. Conf set here never reaches `caller`: a
    * query planned there meanwhile, on any thread, keeps the caller's
    * settings, and scopes need no lock or restore. A frame built here
    * keeps this conf, so each one handed back goes through [[out]].
    * Stream starts scope their conf in `graft.streaming.Streams.run`. */
  final class Isolated(caller: SparkSession, kvs: (String, String)*) {
    val session: SparkSession = Sessions.cloneOf(caller)
    set(kvs: _*)

    def set(kvs: (String, String)*): Unit =
      kvs.foreach { case (k, v) => session.conf.set(k, v) }

    /** `df` moved into the clone. */
    def in(df: DataFrame): DataFrame = Sessions.rebind(df, session)

    /** `df` moved back into the caller's session. */
    def out(df: DataFrame): DataFrame = Sessions.rebind(df, caller)
  }
}
