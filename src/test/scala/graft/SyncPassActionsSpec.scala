package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.embed.LocalHashEmbedder
import graft.events.EventLog
import graft.model.Selection
import graft.store.{ParquetVectorStore, VectorStoreWriter}
import graft.sync.SyncEngine

/** How many actions a sync pass issues. A pass reads its plan once: one
  * counts collect, the sync_state write and the event append; nothing else
  * may re-evaluate the delta. These budgets stop a probe (`limit(1).count()`,
  * a second sync_state read, a summary collect) from creeping back in.
  *
  * Counted in SQL executions, not jobs: adaptive execution splits one
  * execution into a number of jobs that varies with the data. */
class SyncPassActionsSpec extends SparkSpec {

  import spark.implicits._

  /** Counts successful and failed SQL executions of this session. Events
    * reach the listener asynchronously, so [[drain]] runs a marker query
    * and waits until the listener has seen it: every execution issued
    * before the marker has then been counted. */
  private final class ExecutionCounter extends QueryExecutionListener {
    private val seen = mutable.ArrayBuffer.empty[String]
    private var markers = 0
    private var markersSent = 0

    private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
      if (qe.analyzed.output.exists(_.name == ExecutionCounter.Marker)) markers += 1
      else seen += funcName
      notifyAll()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)

    /** The executions recorded since the last drain, by action name. */
    def drain(): Seq[String] = {
      spark.range(1).toDF(ExecutionCounter.Marker).collect()
      synchronized {
        markersSent += 1
        val deadline = System.currentTimeMillis() + 30000
        while (markers < markersSent && System.currentTimeMillis() < deadline) wait(100)
        assert(markers >= markersSent, "listener never saw the marker query")
        val out = seen.toList
        seen.clear()
        out
      }
    }
  }

  private object ExecutionCounter { val Marker = "__sync_pass_actions_marker" }

  /** Counts the store's write calls on top of a real store. */
  private final class CountingStore(inner: ParquetVectorStore)
      extends VectorStoreWriter with Serializable {
    var writes = 0
    override def upsert(p: DataFrame): Int = { writes += 1; inner.upsert(p) }
    override def deleteByIds(ids: DataFrame): Int = { writes += 1; inner.deleteByIds(ids) }
    override def deleteByProduct(p: Long, s: Int): Int = {
      writes += 1; inner.deleteByProduct(p, s)
    }
    override def purgeSite(s: Int): Int = { writes += 1; inner.purgeSite(s) }
    override def read(): DataFrame = inner.read()
    override def count(): Long = inner.count()
    override def currentVersion: Int = inner.currentVersion
  }

  private final case class Fixture(store: CountingStore, log: EventLog,
      engine: SyncEngine)

  private def fixture(name: String): Fixture = {
    val dir = Files.createTempDirectory(name)
    val store = new CountingStore(
      new ParquetVectorStore(spark, dir.resolve("store").toString))
    val log = new EventLog(spark, dir.resolve("events").toString)
    val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
      dir.resolve("sync").toString, Selection(chunkSize = 25, chunkOverlap = 0),
      events = Some(log))
    Fixture(store, log, engine)
  }

  private val candidates: DataFrame =
    (1L to 6L).map(i => (i, 1, s"SKU-$i", s"product $i " + "words in a chunk " * 6))
      .toDF("product_id", "site_id", "sku", "text")

  private def actions(summary: DataFrame): Map[String, Long] =
    summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Run `body` with a fresh counter attached; returns its result and the
    * executions it issued. */
  private def counted[T](body: => T): (T, Seq[String]) = {
    val counter = new ExecutionCounter
    spark.listenerManager.register(counter)
    try {
      counter.drain()
      val out = body
      (out, counter.drain())
    } finally spark.listenerManager.unregister(counter)
  }

  test("a no-op re-sync issues at most 3 executions and no store call") {
    val f = fixture("graft-actions-noop")
    assert(actions(f.engine.sync(candidates))("upsert") > 0)
    val (v, writes) = (f.store.currentVersion, f.store.writes)
    // the summary is a local relation: collecting it is the caller's
    // action, not the pass's
    val (summary, execs) = counted(f.engine.sync(candidates))
    assert(actions(summary) == Map("skip_unchanged" -> 6L))
    assert(execs.size <= 3, s"no-op pass ran ${execs.size} executions: $execs")
    assert(f.store.writes == writes, "a no-op pass must not call the store")
    assert(f.store.currentVersion == v)
  }

  test("deleteProduct issues at most 4 executions") {
    val f = fixture("graft-actions-delete")
    f.engine.sync(candidates)
    val (removed, execs) = counted(f.engine.deleteProduct(3L))
    assert(removed > 0)
    assert(execs.size <= 4, s"deleteProduct ran ${execs.size} executions: $execs")
    assert(f.engine.readSyncState().where(col("product_id") === 3L).isEmpty)
  }

  test("an empty candidate frame returns only skip_unchanged -> 0 and commits no store write") {
    val f = fixture("graft-actions-empty")
    f.engine.sync(candidates)
    val v = f.store.currentVersion
    val summary = actions(f.engine.sync(candidates.limit(0)))
    assert(summary == Map("skip_unchanged" -> 0L), summary)
    assert(f.store.currentVersion == v)
  }

  test("a batch whose site_id is all NULL logs a NULL-site sync event") {
    val f = fixture("graft-actions-nullsite")
    val noSite = Seq((1L, Option.empty[Int], "SKU-1", "a product without a site"))
      .toDF("product_id", "site_id", "sku", "text")
    assert(actions(f.engine.sync(noSite)).getOrElse("upsert", 0L) > 0)
    // the JSON log omits NULL fields, so a log holding only NULL-site
    // rows has no site_id column at all: both read as a NULL site
    val events = f.log.read().where(col("action") === "sync")
    assert(events.count() == 1)
    assert(!events.columns.contains("site_id") ||
      events.select("site_id").head().isNullAt(0))
    assert(f.store.count() > 0)
  }
}
