package perfbench

import scala.collection.mutable

/** Per-layer totals over the traced operations of one run.
  *
  * Each traced operation runs under a span named after the layer the
  * harness called (`sync`, `sync.delete`, `lex.upsert`, ...). Inside it,
  * the store decorator's calls are `store` windows and event-log appends
  * are `events` jobs. An operation's wall time W splits exactly into
  *
  *   store window time + events job time + the called layer's self time,
  *
  * and the self time splits into the called layer's job time and its
  * driver gap (time in which no job of the operation was running). */
final class Layers {
  var ops = 0
  var wallMs = 0L
  var gapMs = 0L        // W minus the union of all the op's job intervals
  var shuffleBytes = 0L
  var untagged = 0
  var jobsTotal = 0
  val selfMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val selfGapMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val calls = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val opShuffle = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def add(tag: String, w: (Long, Long), js: Seq[JobRec],
      storeWindows: Seq[(Long, Long)]): Unit = {
    val wall = w._2 - w._1
    val inOp = js.filter(j => j.start >= w._1 - 1 && j.start <= w._2)
    val iv = (j: JobRec) => Intervals.clip(Seq((j.start, j.end)), w)
    val store = Intervals.clip(storeWindows, w)
    val eventsJobs = inOp.filter(_.isEvents)
    val storeJobs = inOp.filter(j => !j.isEvents && j.span == "store")
    val ownJobs = inOp.filter(j => !j.isEvents && j.span != "store")
    val storeMs = Intervals.length(store)
    val eventsMs = Intervals.minus(eventsJobs.flatMap(iv), store)
    val allJobIv = inOp.flatMap(iv)
    ops += 1
    wallMs += wall
    gapMs += wall - Intervals.length(allJobIv)
    jobsTotal += inOp.size
    untagged += inOp.count(_.span.isEmpty)
    shuffleBytes += inOp.map(_.shuffleBytes).sum
    calls(tag) += 1
    selfMs(tag) += wall - storeMs - eventsMs
    selfGapMs(tag) += wall - Intervals.length(store ++ allJobIv)
    jobs(tag) += ownJobs.size
    opShuffle(tag) += inOp.map(_.shuffleBytes).sum
    if (storeWindows.nonEmpty) {
      calls("store") += storeWindows.size
      selfMs("store") += storeMs
      selfGapMs("store") += storeMs -
        Intervals.length(storeJobs.flatMap(iv).flatMap(x => Intervals.clip(store, x)))
      jobs("store") += storeJobs.size
    }
    if (eventsJobs.nonEmpty) {
      calls("events") += 1
      selfMs("events") += eventsMs
      jobs("events") += eventsJobs.size
    }
  }

  def frac(layers: String*): Double =
    if (wallMs == 0) 0.0 else layers.map(selfMs).sum.toDouble / wallMs

  def gapFrac(layers: String*): Double =
    if (wallMs == 0) 0.0 else layers.map(selfGapMs).sum.toDouble / wallMs

  /** Mean jobs per call of `tag`'s own span (0 when never called). */
  def jobsPerCall(tag: String): Double =
    if (calls(tag) == 0) 0.0 else jobs(tag).toDouble / calls(tag)

  /** Per-layer table for the log: self time = job time + driver gap. */
  def table: String = {
    val rows = selfMs.keys.toSeq.sorted.map { l =>
      f"  $l%-12s calls ${calls(l)}%4d  self ${selfMs(l) / 1000.0}%8.3f s = " +
        f"jobs ${(selfMs(l) - selfGapMs(l)) / 1000.0}%8.3f s + " +
        f"gap ${selfGapMs(l) / 1000.0}%8.3f s  (${jobs(l)}%d jobs)"
    }
    val head = f"traced ops $ops, wall ${wallMs / 1000.0}%.3f s, driver gap " +
      f"${gapMs / 1000.0}%.3f s, jobs $jobsTotal, untagged jobs $untagged"
    (head +: rows).mkString("\n")
  }
}
