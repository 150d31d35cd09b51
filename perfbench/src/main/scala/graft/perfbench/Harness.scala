package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What an op sees: the session, the input and scratch directories, the
  * seed, the oracle hashes, and the two timed spans of the op now running.
  * `construct` wraps the library call that builds a plan (the layer the
  * trace calls `operators`, or `core` and `sources` when it only opens a
  * table or a file); `write` wraps the action that runs it. Only the time
  * inside these spans counts as op time.
  */
final class Harness(val spark: SparkSession, val data: String, val work: String,
    val seed: Long, val oracle: Map[String, String], val trace: Option[Trace]) {

  private var constructNs = 0L
  private var writeNs = 0L

  def construct[T](f: => T): T = span(Trace.Construct, f, constructNs += _)
  def write[T](f: => T): T = span(Trace.Write, f, writeNs += _)

  private def span[T](group: String, f: => T, add: Long => Unit): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
    trace.foreach(_.enter(group))
    val t0 = System.nanoTime()
    try f
    finally {
      add(System.nanoTime() - t0)
      trace.foreach(_.drain())
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Starts a new op and hands back the (construct, write) nanoseconds of
    * the previous one. */
  def reset(): (Long, Long) = {
    val r = (constructNs, writeNs)
    constructNs = 0L
    writeNs = 0L
    r
  }

  def path(name: String): String = s"$work/$name"
}
