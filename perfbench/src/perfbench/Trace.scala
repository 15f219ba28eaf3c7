package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

import graft.embed.Embedder
import graft.store.VectorStoreWriter

/** One Spark job as the listener saw it. `span` is the value of the
  * [[Trace.Key]] local property when the job was submitted; Spark copies
  * local properties into the threads that run broadcast and AQE sub-jobs,
  * so those inherit the span of the call that caused them. */
final case class JobRec(span: String, start: Long, end: Long,
    stageNames: Seq[String], shuffleBytes: Long) {
  /** Event-log appends are attributed by call site: `EventLog` is a final
    * class the harness cannot decorate. */
  def isEvents: Boolean = stageNames.exists(_.contains("Events.scala"))
}

/** Collects job intervals, span tags and shuffle bytes. Events arrive on
  * the listener bus asynchronously; [[Trace.flush]] waits for them. */
final class JobListener extends SparkListener {
  private final case class Open(span: String, start: Long, names: Seq[String],
      stages: Seq[Int])
  private val open = mutable.Map.empty[Int, Open]
  private val stageShuffle = mutable.Map.empty[Int, Long]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  private var markers = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key)))
      .getOrElse("")
    open(e.jobId) = Open(span, e.time, e.stageInfos.map(_.name), e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) stageShuffle(e.stageInfo.stageId) =
      stageShuffle.getOrElse(e.stageInfo.stageId, 0L) + m.shuffleWriteMetrics.bytesWritten
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      if (o.span == Trace.Marker) markers += 1
      else done += JobRec(o.span, o.start, e.time, o.names,
        o.stages.flatMap(stageShuffle.remove).sum)
    }
    notifyAll()
  }

  /** Block until `n` marker jobs have ended, then hand over every job
    * recorded so far. */
  def drainAfterMarkers(n: Int): Seq[JobRec] = synchronized {
    val deadline = System.currentTimeMillis() + 30000
    while (markers < n && System.currentTimeMillis() < deadline) wait(100)
    val out = done.toList
    done.clear()
    out
  }
}

/** Driver-side span bookkeeping for the traced run. */
final class Trace(sc: SparkContext) {
  private val listener = new JobListener
  sc.addSparkListener(listener)
  private var markersSent = 0
  /** Windows of the store decorator's calls, (start ms, end ms). */
  val storeWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  val embedNanos: LongAccumulator = sc.longAccumulator("perfbench.embed.nanos")
  val embedTexts: LongAccumulator = sc.longAccumulator("perfbench.embed.texts")

  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.Key)
    sc.setLocalProperty(Trace.Key, name)
    try body finally sc.setLocalProperty(Trace.Key, prev)
  }

  /** Every job submitted before this call, with the bus drained past it. */
  def flush(): Seq[JobRec] = {
    span(Trace.Marker)(sc.parallelize(Seq(1), 1).count())
    markersSent += 1
    listener.drainAfterMarkers(markersSent)
  }

  def embedder(inner: Embedder): Embedder =
    new TimedEmbedder(inner, embedNanos, embedTexts)

  def store(inner: VectorStoreWriter): VectorStoreWriter =
    new TimedStore(inner, this)
}

object Trace {
  val Key = "perfbench.span"
  val Marker = "perfbench.marker"
}

/** Embedding runs inside tasks, so its busy time and text count travel
  * back in accumulators rather than through a span. */
final class TimedEmbedder(inner: Embedder, nanos: LongAccumulator,
    texts: LongAccumulator) extends Embedder with Serializable {
  def model: String = inner.model
  def dimension: Int = inner.dimension
  def embedBatch(ts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = inner.embedBatch(ts)
    nanos.add(System.nanoTime() - t0)
    texts.add(ts.size.toLong)
    out
  }
}

/** Tags the store's jobs with the `store` span and records each call's
  * wall window. Driver-side only; `SyncEngine` never ships its store into
  * a task. */
final class TimedStore(inner: VectorStoreWriter, @transient trace: Trace)
    extends VectorStoreWriter with Serializable {
  private def timed[T](body: => T): T = {
    val t0 = System.currentTimeMillis()
    try trace.span("store")(body)
    finally trace.storeWindows += ((t0, System.currentTimeMillis()))
  }
  def upsert(payloads: DataFrame): Int = timed(inner.upsert(payloads))
  def deleteByIds(ids: DataFrame): Int = timed(inner.deleteByIds(ids))
  def deleteByProduct(productId: Long, siteId: Int): Int =
    timed(inner.deleteByProduct(productId, siteId))
  def purgeSite(siteId: Int): Int = timed(inner.purgeSite(siteId))
  def read(): DataFrame = inner.read()
  def count(): Long = inner.count()
  def currentVersion: Int = inner.currentVersion
}

/** Interval arithmetic over (start, end) millisecond windows. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[(Long, Long)]): Long = union(xs).map(x => x._2 - x._1).sum

  def clip(xs: Seq[(Long, Long)], w: (Long, Long)): Seq[(Long, Long)] =
    xs.map(x => (math.max(x._1, w._1), math.min(x._2, w._2))).filter(x => x._2 > x._1)

  /** Length of `xs` not covered by `minus`. */
  def minus(xs: Seq[(Long, Long)], minus: Seq[(Long, Long)]): Long = {
    val u = union(xs)
    length(u) - length(u.flatMap(w => clip(minus, w)))
  }
}
