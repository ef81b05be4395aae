package graft

import org.apache.spark.sql.SparkSession

import scala.concurrent.{ExecutionContext, Future}

/** Step tags for the composite lanes: `tag(s, name) { body }` labels
  * every Spark job the body launches with the thread-local property
  * [[Key]], so a listener ([[DevJobs]]) attributes a lane's jobs,
  * stages and task time to its logical steps from the real run — no
  * hand-replayed copy of the dataflow. Nested tags join with `/`; the
  * previous value is restored when the body exits, normally or by an
  * exception. Spark copies thread-local properties into broadcast and
  * subquery jobs, so those carry the tag too. A tag covers every job
  * its body launches, so a persisted relation's cost lands in the step
  * that first materializes it.
  *
  * A dedicated property, never the job group or description: a
  * streaming query sets both on its own thread and `query.stop()`
  * cancels its jobs by group. Setting a tag launches no job.
  *
  * On exit every tag posts a [[Steps.Span]] (full tag, wall time) to
  * the listener bus, so a step that runs no Spark job (a log commit, a
  * driver-side merge) is still seen and timed.
  */
object Steps {
  val Key = "graft.step"

  /** One exit of tag `path` after `wallNs` nanoseconds in its body. */
  final case class Span(path: String, wallNs: Long)
    extends org.apache.spark.scheduler.SparkListenerEvent

  /** Run `body` with `name` appended to the calling thread's tag. */
  def tag[A](s: SparkSession, name: String)(body: => A): A =
    under(s, path(s, name))(body)

  /** [[tag]] for a body that runs on a pooled thread. A reused pool
    * thread carries whatever value it inherited when it was created,
    * so the full tag is resolved HERE, on the calling thread, and set
    * inside the Future.
    */
  def future[A](s: SparkSession, name: String)(body: => A)(
      implicit ec: ExecutionContext): Future[A] = {
    val full = path(s, name)
    Future(under(s, full)(body))
  }

  private def path(s: SparkSession, name: String): String =
    Option(s.sparkContext.getLocalProperty(Key)).fold(name)(o => s"$o/$name")

  private def under[A](s: SparkSession, full: String)(body: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, full)
    val t0 = System.nanoTime()
    try body
    finally {
      sc.setLocalProperty(Key, prev)
      org.apache.spark.sql.graftbridge.postEvent(sc, Span(full, System.nanoTime() - t0))
    }
  }
}
