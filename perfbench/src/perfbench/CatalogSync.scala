package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.chunker.Chunker
import graft.embed.LocalHashEmbedder
import graft.events.EventLog
import graft.store.ParquetVectorStore
import graft.sync.SyncEngine

/** One sync target: vector store, event log and sync_state under `root`,
  * with a plain engine and, in a traced run, a decorated one over the same
  * directories. */
final class Target(ctx: Ctx, val root: String) {
  private val spark = ctx.spark
  val store = new ParquetVectorStore(spark, s"$root/store")
  private val events = Some(new EventLog(spark, s"$root/events"))
  val plain = new SyncEngine(spark, new LocalHashEmbedder(), store,
    s"$root/sync_state", Main.Sel, events = events)
  private val traced = ctx.trace.map(t => new SyncEngine(spark,
    t.embedder(new LocalHashEmbedder()), t.store(store), s"$root/sync_state",
    Main.Sel, events = events))
  def engine(tr: Boolean): SyncEngine = if (tr) traced.get else plain
}

/** Full-catalog passes: a cold sync of the whole catalog in set-up, then
  * cycles of one trash (`deleteProduct`, as the lifecycle hook issues it),
  * one no-op re-sync and one re-sync with 1% of the products edited. Each pass
  * composes its candidates with `composeFull` and hands them to `sync`
  * un-materialized, as the CLI's scan loop does. */
final class CatalogSync(ctx: Ctx) {
  private val spark = ctx.spark
  /** 2,000 products: 1% of them (20 edits) lands in about 12 of the store's
    * 16 buckets, so an edit pass rewrites most of the store, as it does in a
    * production-size catalog. */
  private val nParts = 800
  private val nEdits = math.max(1, Fixture.productCount(nParts) / 100)
  private val parts: Array[Part] = Fixture.parts(ctx.rng, nParts)
  private var rev = 0
  private var revDir: String = ""
  private val trashed = mutable.LinkedHashSet.empty[Long]
  // traced-op tallies for the per-layer metrics
  private val tally = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def allProductIds: IndexedSeq[Long] =
    parts.toIndexedSeq.flatMap { p =>
      p.key +: (if (p.key % 2 == 0) (1 to 3).map(i => 1000000L + p.key * 10 + i)
        else Nil)
    }

  /** Write the current `parts` as a new catalog revision. */
  private def newRevision(): String = {
    rev += 1
    revDir = ctx.dataDir.resolve(s"rev-$rev").toString
    Fixture.writeCatalog(spark, revDir, parts.toIndexedSeq)
    revDir
  }

  private def editParent(i: Int): Unit =
    parts(i) = parts(i).copy(ptype = s"${parts(i).ptype} r${rev + 1}")

  private def liveCandidates(): DataFrame = {
    val c = Fixture.candidates(spark, revDir)
    if (trashed.isEmpty) c else c.where(!col("product_id").isin(trashed.toSeq: _*))
  }

  /** Timed `sync` of `cand` (nCand products); `kind` is cold, noop or
    * edit. Returns (seconds, summary). */
  private def syncOp(tg: Target, cand: DataFrame, nCand: Long, kind: String,
      traced: Boolean): Option[(Double, Map[String, Long])] = {
    val tr = traced && ctx.trace.nonEmpty
    if (tr) {
      val n0 = System.nanoTime()
      ctx.trace.get.span("normalize")(
        cand.write.format("noop").mode("overwrite").save())
      tally("normalize.s") += (System.nanoTime() - n0) / 1e9
      tally("normalize.rows") += nCand
      tally("normalize.calls") += 1
    }
    val (sv0, st0) = (tg.store.currentVersion, tg.plain.syncVersion)
    var summary = Map.empty[String, Long]
    val secs = ctx.op("sync", tr) {
      summary = tg.engine(tr).sync(cand).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    if (tr) {
      tally("sync.s") += secs.getOrElse(0.0)
      tally("sync.candidates") += nCand
      tally("sync.skipped") += summary.getOrElse("skip_unchanged", 0L)
      tally("sync.upserted") += summary.getOrElse("upsert", 0L)
      tally(s"$kind.upserted") += summary.getOrElse("upsert", 0L)
      tally(s"$kind.passes") += 1
      tallyWrites(tg, sv0, st0, kind)
    }
    secs.map(_ -> summary)
  }

  /** Timed `deleteProduct`. Returns (seconds, sync_state rows removed). */
  private def deleteOp(tg: Target, pid: Long, traced: Boolean): Option[(Double, Long)] = {
    val tr = traced && ctx.trace.nonEmpty
    val (sv0, st0) = (tg.store.currentVersion, tg.plain.syncVersion)
    var removed = 0L
    val secs = ctx.op("sync.delete", tr) { removed = tg.engine(tr).deleteProduct(pid) }
    if (tr) tallyWrites(tg, sv0, st0, "trash")
    secs.map(_ -> removed)
  }

  /** Store bytes and buckets the op's store commits wrote, under `kind`,
    * and the sync_state bytes of its state commits. */
  private def tallyWrites(tg: Target, sv0: Int, st0: Int, kind: String): Unit = {
    val store = Paths.get(tg.root, "store")
    for (v <- sv0 + 1 to tg.store.currentVersion) {
      val c = store.resolve(s"c$v")
      tally(s"$kind.store.bytes") += Fixture.sizeOf(c)
      if (Files.isDirectory(c)) {
        val s = Files.list(c)
        try tally(s"$kind.store.buckets") += s.filter(_.getFileName.toString.startsWith("bucket=")).count()
        finally s.close()
      }
    }
    for (v <- st0 + 1 to tg.plain.syncVersion)
      tally("state.bytes") += Fixture.sizeOf(Paths.get(tg.root, "sync_state", s"v$v"))
    tally("state.commits") += tg.plain.syncVersion - st0
  }

  /** The correctness gate over the final state:
    *  - a dry run over the final catalog routes every product skip_unchanged;
    *  - the store's ids equal sync_state's vector_ids;
    *  - sampled stored vectors equal LocalHashEmbedder over their chunk text. */
  private def checkFinal(tg: Target): Unit = {
    val cand = liveCandidates().cache()
    val live = cand.count()
    ctx.check(s"dry run routes all $live products skip_unchanged") {
      val acts = tg.plain.sampleDryRun(cand).groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      ctx.log(s"dry run actions: $acts")
      acts == Map("skip_unchanged" -> live)
    }
    val state = tg.plain.readSyncState().cache()
    ctx.check("store ids equal sync_state vector_ids") {
      val ids = tg.store.read().select(col("id"))
      val vids = state.select(col("vector_id").as("id"))
      val (n1, n2) = (ids.count(), vids.count())
      ctx.log(s"store rows $n1, sync_state rows $n2")
      n1 == n2 && ids.distinct().count() == n1 &&
        ids.exceptAll(vids).isEmpty && vids.exceptAll(ids).isEmpty
    }
    ctx.check("sampled store vectors equal LocalHashEmbedder(chunk text)") {
      val sample = state.orderBy(rand(ctx.args.seed)).limit(40)
        .join(cand.select("product_id", "text"), Seq("product_id"))
        .join(tg.store.read().select(col("id").as("vector_id"), col("values")),
          Seq("vector_id"))
        .select("chunk_index", "text", "values").collect()
      val emb = new LocalHashEmbedder()
      sample.length == 40 && sample.forall { r =>
        val chunk = Chunker.chunkText(r.getString(1), Main.Sel.chunkSize,
          Main.Sel.chunkOverlap)(r.getInt(0)).text
        r.getSeq[Float](2).toArray.sameElements(emb.embedOne(chunk))
      }
    }
    state.unpersist(); cand.unpersist()
  }

  /** Per-layer metrics of the traced run. */
  private def putLayers(overheadS: Double): Unit = {
    CatalogSync.putSyncLayers(ctx, tally)
    val tr = ctx.trace.get
    ctx.log(f"embed (inside sync's jobs, on task threads): ${tr.embedTexts.sum}%d texts, " +
      f"${tr.embedNanos.sum / 1e9}%.3f s busy")
    IndexChurn.putIndexLayers(ctx, None, None)
    val texts = Fixture.candidates(spark, ctx.dataDir.resolve("rev-1").toString)
      .select("text").collect().map(_.getString(0)).toSeq
    ctx.putRuntimeLayers(overheadS, texts)
  }

  /** The indexed starting state, then the warm-up on it: the cold sync of
    * the whole catalog, one re-sync with one product edited (its plans are
    * the no-op pass's plus a store write) and one trash. Class loading and
    * code generation then stay out of the timed cycles. */
  private def startingState(tg: Target, products: IndexedSeq[Long]): Unit = {
    syncOp(tg, liveCandidates(), products.size, "cold", ctx.trace.nonEmpty)
      .foreach { case (s, sum) =>
        ctx.verify(s"cold pass upserts every product: $sum",
          sum.getOrElse("skip_unchanged", 0L) == 0 && sum.getOrElse("upsert", 0L) >= products.size)
        ctx.putPerLayer("bulk.items_per_s", products.size / s, "items/s")
        ctx.log(f"cold pass $s%.2f s: $sum")
      }
    editParent(ctx.rng.nextInt(nParts))
    newRevision()
    ctx.check(s"warm-up pass re-syncs the one edited product") {
      val sum = tg.plain.sync(liveCandidates()).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      sum.getOrElse("skip_unchanged", 0L) == products.size - 1
    }
    val pid = products(ctx.rng.nextInt(products.size))
    ctx.check(s"warm-up trash of $pid removes its rows")(tg.plain.deleteProduct(pid) >= 1)
    trashed += pid
  }

  def run(): Unit = {
    val tg = new Target(ctx, ctx.fresh(ctx.stateDir, "sync"))
    val products = allProductIds
    ctx.setup { _ =>
      newRevision()
      Fixture.candidates(spark, revDir).schema
    }(_ => startingState(tg, products))
    val rng = ctx.rng
    val overhead = ctx.timedCycles { traced =>
      val alive = products.filterNot(trashed)
      val pid = alive(rng.nextInt(alive.size))
      val trash = deleteOp(tg, pid, traced).map { case (s, removed) =>
        ctx.verify(s"trash of $pid removes its rows ($removed)", removed >= 1)
        trashed += pid
        s
      }
      val live = products.size - trashed.size
      val noop = syncOp(tg, liveCandidates(), live, "noop", traced).map { case (s, sum) =>
        ctx.verify(s"no-op pass skips all $live: $sum",
          sum.getOrElse("skip_unchanged", 0L) == live && !sum.contains("upsert"))
        s
      }
      Fixture.pick(rng, parts.indices.filterNot(i => trashed(parts(i).key)), nEdits)
        .foreach(editParent)
      newRevision()
      val edit = syncOp(tg, liveCandidates(), live, "edit", traced).map { case (s, sum) =>
        ctx.verify(s"edit pass re-syncs $nEdits of $live: $sum",
          sum.getOrElse("skip_unchanged", 0L) == live - nEdits &&
            sum.getOrElse("upsert", 0L) >= nEdits)
        s
      }
      for (t <- trash; n <- noop; e <- edit) yield Cycle(update = e, read = n, delete = t)
    }
    checkFinal(tg)
    if (ctx.trace.nonEmpty) putLayers(overhead)
  }
}

object CatalogSync {
  /** Sync-pipeline layer metrics from the traced ops' tallies `t`; a
    * workload that never calls these layers reports 0 for each. */
  def putSyncLayers(ctx: Ctx, t: collection.Map[String, Double]): Unit = {
    val l = ctx.layers
    val dim = new LocalHashEmbedder().dimension
    def div(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val tr = ctx.trace.get
    val (embNs, embTexts) = (tr.embedNanos.sum.toDouble, tr.embedTexts.sum.toDouble)
    val syncCalls = l.calls("sync").toDouble
    val mutations = syncCalls + l.calls("sync.delete")
    val g = (k: String) => t.getOrElse(k, 0.0)
    ctx.put("normalize.frac", div(g("normalize.s"), g("sync.s")), "fraction")
    ctx.put("normalize.rows", div(g("normalize.rows"), g("normalize.calls")), "count")
    ctx.put("embed.texts", div(embTexts, syncCalls), "count")
    ctx.put("embed.busy_frac", div(embNs / 1e6, l.wallMs.toDouble * ctx.args.cpus), "fraction")
    ctx.put("embed.useful_ratio", div(g("sync.upserted"), embTexts), "fraction")
    ctx.put("sync.frac", l.frac("sync", "sync.delete"), "fraction")
    ctx.put("sync.gap_frac", l.gapFrac("sync", "sync.delete"), "fraction")
    ctx.put("sync.jobs", l.jobsPerCall("sync"), "count")
    ctx.put("sync.delete_jobs", l.jobsPerCall("sync.delete"), "count")
    ctx.put("sync.shuffle_mb", div(l.opShuffle("sync") / 1e6, syncCalls), "MB")
    ctx.put("sync.skip_ratio", div(g("sync.skipped"), g("sync.candidates")), "fraction")
    ctx.put("sync.state_mb_written", div(g("state.bytes") / 1e6, g("state.commits")), "MB")
    ctx.put("store.frac", l.frac("store"), "fraction")
    ctx.put("store.gap_frac", l.gapFrac("store"), "fraction")
    ctx.put("store.jobs", l.jobsPerCall("store"), "count")
    // the store's bucket rewrite, per 1%-edit pass
    ctx.put("store.mb_written", div(g("edit.store.bytes") / 1e6, g("edit.passes")), "MB")
    ctx.put("store.buckets_rewritten", div(g("edit.store.buckets"), g("edit.passes")), "count")
    ctx.put("store.write_amp", div(g("edit.store.bytes"), g("edit.upserted") * dim * 4), "ratio")
    ctx.put("events.frac", l.frac("events"), "fraction")
    ctx.put("events.jobs", div(l.jobs("events"), mutations), "count")
  }
}

