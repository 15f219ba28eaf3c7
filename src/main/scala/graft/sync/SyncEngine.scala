package graft.sync

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.chunker.Chunker
import graft.embed.Embedder
import graft.fingerprint.Fingerprint
import graft.events.EventLog
import graft.model.Selection
import graft.store.VectorStoreWriter

/** The sync/delta engine — the reference's core "query"
  * (`includes/class-indexer.php:284-479`, SURVEY §2.10) re-expressed as one
  * dataflow over a SET of products, not a per-product loop. One pass
  * materializes its plan once:
  *
  *   sync_state: read once, cached (all targets; this target's = existing)
  *   candidates → normalize → product_sha
  *     → left join existing per product → is_changed         [cached split]
  *       unchanged = same product_sha, no rebuild trigger, no error row,
  *       not forced — decided BEFORE chunk/embed, so unchanged products
  *       never reach the embedder. (The reference embeds first and
  *       compares after, `class-indexer.php:229` vs `:329` — hoisting the
  *       sha comparison is the §4 improvement with identical semantics.)
  *     → changed: chunk (UDF + explode) → chunk_sha → embed
  *       (mapPartitions, batched) → payloads                      [cached]
  *     → full-outer join with existing on (product_id, chunk_index)  [J4]
  *     → route delete / upsert / skip                             [cached]
  *   one counts collect over the cached frames: chunks per action,
  *     skip_unchanged, the batch's site span
  *     → vector-store delete / upsert, each only when its count is > 0
  *     → one merge join: existing left join per-product max(is_changed)
  *       (absent kept, false touched, true replaced by fresh rows)
  *       → sync_state commit
  *     → event row, and the summary as a local relation           [A4]
  *
  * A no-op pass is three SQL executions: the counts collect, the
  * sync_state write and the event append.
  *
  * Scale posture: the wide exchanges are the short-circuit join, the J4
  * full-outer join and the merge join, all equi-joins on
  * `product_id(,chunk_index)` — the natural co-partition key; each side is
  * projected to narrow (key, sha) columns before shuffling so chunk text
  * and vectors never cross the wire. Embedding runs map-side after the
  * split, so cost is proportional to CHANGED data only.
  */
final class SyncEngine(
    spark: SparkSession,
    embedder: Embedder,
    store: VectorStoreWriter,
    syncStateRoot: String,
    sel: Selection = Selection.Default,
    clock: String = "2024-01-01T00:00:00+00:00",
    events: Option[EventLog] = None,
    target: String = "local",
    tuning: graft.model.Tuning = graft.model.Tuning.Default) extends Serializable {

  import spark.implicits._

  // def, not val: Path is not Serializable and the engine is (so its
  // UDF-free helpers can ride task closures without a kryo surprise)
  private def fsRoot = java.nio.file.Paths.get(syncStateRoot)

  val syncSchema: StructType = StructType(Seq(
    StructField("site_id", IntegerType, nullable = false),
    StructField("product_id", LongType, nullable = false),
    StructField("target", StringType, nullable = false),
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("vector_id", StringType),
    StructField("product_sha", StringType),
    StructField("chunk_sha", StringType),
    StructField("model", StringType),
    StructField("dimension", IntegerType),
    StructField("status", StringType),
    StructField("error_code", StringType),
    StructField("error_msg", StringType),
    StructField("last_synced_at", StringType)))

  private def versionFile = fsRoot.resolve("_VERSION")

  def syncVersion: Int =
    if (java.nio.file.Files.exists(versionFile))
      new String(java.nio.file.Files.readAllBytes(versionFile)).trim.toInt
    else 0

  def readSyncState(): DataFrame = {
    val v = syncVersion
    if (v == 0) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], syncSchema)
    // the known schema, not inference: inference costs a footer-read job
    // on every read
    else spark.read.schema(syncSchema).parquet(fsRoot.resolve(s"v$v").toString)
  }

  private def commitSyncState(df: DataFrame): Unit = {
    val next = syncVersion + 1
    // written in syncSchema's types and order, so readSyncState's fixed
    // schema always matches what is on disk
    df.select(syncSchema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode(SaveMode.Overwrite).parquet(fsRoot.resolve(s"v$next").toString)
    java.nio.file.Files.createDirectories(fsRoot)
    // temp + atomic move: a partial write must never leave a corrupt cursor
    val tmp = fsRoot.resolve("_VERSION.tmp")
    java.nio.file.Files.write(tmp, next.toString.getBytes)
    java.nio.file.Files.move(tmp, versionFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Normalized text + product_sha per candidate. `products` needs columns
    * (product_id, site_id, sku, text). */
  def fingerprinted(normalized: DataFrame): DataFrame = {
    // hoist to locals: a UDF capturing `this` would drag the engine (and
    // its non-serializable Path fields) into the task closure
    val (selL, dimL) = (sel, embedder.dimension)
    val shaUdf = udf((text: String) =>
      Fingerprint.shaProduct(Option(text).getOrElse(""), selL, dimL))
    normalized.withColumn("product_sha", shaUdf(col("text")))
  }

  /** Chunks + chunk shas + embeddings + payload columns for a set of
    * (product_id, site_id, sku, text, product_sha) rows. Embedding runs in
    * mapPartitions batched at `tuning.batchUpsertSize` — the reference's
    * payload batch knob (`get_batch_upsert_size`, default 100, clamp
    * 10–500, `class-options.php:453-460`; its embed batch is the same
    * 100, `class-embeddings.php:85`). */
  def buildPayloads(withSha: DataFrame): DataFrame = {
    // Generator path: chunks stream out of a Generate node (no
    // per-document array materialization — the 100 TB shape).
    val chunked = Chunker.explodeChunksGen(
      withSha, col("text"),
      Seq(col("product_id"), col("site_id"), col("sku"), col("product_sha")),
      sel.chunkSize, sel.chunkOverlap)
    val chunkShaUdf = udf((psha: String, idx: Int, t: String) =>
      Fingerprint.shaChunk(psha, idx, t))
    val emb = embedder
    val batchSize = tuning.sanitized.batchUpsertSize
    val withMeta = chunked
      .withColumn("chunk_sha", chunkShaUdf(col("product_sha"), col("chunk_index"), col("chunk_text")))
      .withColumn("id", format_string("site-%d:product-%d:chunk-%d",
        col("site_id"), col("product_id"), col("chunk_index")))
    // map-side batched embedding; only CHANGED products reach this stage
    val schema = StructType(withMeta.schema.fields :+
      StructField("values", ArrayType(FloatType), nullable = false))
    val out = withMeta.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = emb.embedTexts(batch.map(_.getAs[String]("chunk_text")))
        batch.zip(vecs).map { case (r, v) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v.toSeq)
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    out
      .withColumn("url", format_string("https://example.test/product/%d", col("product_id")))
      .withColumn("updated_at", lit(clock))
      .withColumn("fingerprint", concat(lit("sha256:"), col("product_sha")))
      // D4: dedup the fields metadata list (`class-indexer.php:92-98`)
      .withColumn("fields", lit(sel.core.distinct.sorted.toArray))
  }

  /** The DELETE job (reference lifecycle: trash/delete → delete job clears
    * the store's vectors AND this target's sync-state rows,
    * `includes/class-lifecycle.php:39-67` + the delete job's
    * `delete_by_product` + row purge). The sync pass can't do this — a
    * deleted product never appears as a candidate — so deletion is its own
    * entry point, idempotent like every other write (re-running converges
    * on the same empty state). Returns the number of sync-state rows
    * removed. */
  def deleteProduct(productId: Long, siteId: Int = 1): Long = {
    store.deleteByProduct(productId, siteId)
    // Scoped by site_id too: the store delete above filters by
    // (product_id, site_id), so the bookkeeping purge must match — a
    // site-mismatched call would otherwise erase ALL the product's
    // sync_state rows while deleting none of its vectors, leaving them
    // orphaned and the product treated as brand-new (round-11 review).
    val mine = col("product_id") === productId &&
      col("site_id") === siteId && col("target") === target
    // one read of sync_state: the removed rows are counted and the rest
    // written from the same cached snapshot. The removed rows are one
    // product's chunks, so a narrow collect counts them in a single
    // exchange-free job.
    val all = readSyncState().cache()
    val removed =
      try {
        val n = all.where(mine).select("chunk_index").collect().length.toLong
        commitSyncState(all.where(!mine))
        n
      } finally all.unpersist()
    events.foreach { log =>
      import spark.implicits._
      log.append(Seq((clock, siteId, productId, target, "delete", "success", removed))
        .toDF("ts_s", "site_id", "product_id", "target", "action", "outcome", "deleted")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s"))
    }
    removed
  }

  /** The delta plan shared by [[sync]] (which executes it) and
    * [[sampleDryRun]] (which only reports it): the short-circuit split,
    * payload build and per-chunk full-outer routing. `state` (sync_state,
    * all targets; `existing` is this target's share), `joined` (candidates
    * plus `is_changed`), `payloads` and `routed` are cached — every later
    * action of the pass reads them — so call [[DeltaParts.unpersistAll]]
    * when done. */
  private final case class DeltaParts(
      state: DataFrame, existing: DataFrame, joined: DataFrame,
      payloads: DataFrame, routed: DataFrame) {
    def unchanged: DataFrame = joined.where(!col("is_changed"))
    def unpersistAll(): Unit = {
      state.unpersist(); joined.unpersist()
      payloads.unpersist(); routed.unpersist()
    }
  }

  private def deltaParts(normalized: DataFrame, force: Boolean): DeltaParts = {
    val state = readSyncState().cache()
    val existing = state.where(col("target") === target)

    // Rebuild triggers: model/dimension mismatch → treat as changed
    // (`class-indexer.php:320-327`).
    val existingByProduct = existing.groupBy("product_id").agg(
      first("product_sha").as("old_sha"),
      max(when(col("model") =!= embedder.model ||
        col("dimension") =!= embedder.dimension, 1).otherwise(0)).as("rebuild"),
      // T8: errored products never short-circuit — they self-heal on the
      // next pass (reference re-picks them at scan priority 1,
      // `class-scheduler.php:139`)
      max(when(col("status") === "error", 1).otherwise(0)).as("has_error"))

    // Short-circuit (`class-indexer.php:329-360`) hoisted BEFORE embedding:
    // unchanged = same product_sha and no rebuild trigger and not forced.
    val isChanged =
      if (force) lit(true)
      else col("old_sha").isNull || col("old_sha") =!= col("product_sha") ||
        col("rebuild") === 1 || col("has_error") === 1
    val joined = fingerprinted(normalized)
      .join(existingByProduct, Seq("product_id"), "left_outer")
      .withColumn("is_changed", isChanged)
      .cache()
    val changed = joined.where(col("is_changed"))

    val payloads = buildPayloads(
      changed.select("product_id", "site_id", "sku", "text", "product_sha")).cache()

    // J4: full-outer on (product_id, chunk_index), narrow projections only.
    // f_site rides along so the dry run can resolve ids for NEW chunks
    // from the candidate's OWN site (not a hardcoded default).
    val fresh = payloads.select(col("product_id"), col("chunk_index"),
      col("chunk_sha").as("f_sha"), col("site_id").as("f_site"))
    val exist = existing.select(col("product_id"), col("chunk_index"),
      col("chunk_sha").as("e_sha"), col("vector_id"),
      col("status").as("e_status"), col("site_id").as("e_site"))
      .join(changed.select("product_id"), Seq("product_id"), "left_semi")
    val routed = fresh.join(exist, Seq("product_id", "chunk_index"), "full_outer")
      .withColumn("action",
        when(col("f_sha").isNull, "delete")
          // error rows re-upsert even on sha match: the recorded sha
          // describes a write that never landed (`class-indexer.php:438-443`)
          .when(col("e_sha").isNull || col("e_sha") =!= col("f_sha") ||
            col("e_status") === "error" || lit(force), "upsert")
          .otherwise("skip"))
      .cache()
    DeltaParts(state, existing, joined, payloads, routed)
  }

  /** Every count one pass needs, in ONE collect over the cached frames:
    * routed chunks per action, short-circuited products, and the batch's
    * site for the event row — `Some(site)` only when every candidate
    * carries that one non-NULL site (a multi-site, all-NULL or empty batch
    * logs NULL). */
  private def passCounts(parts: DeltaParts): (Map[String, Long], Option[Int]) = {
    val actions = Seq("delete", "skip", "upsert")
    val site = col("site_id").cast("int")
    val perAction = actions.map(a => count(when(col("action") === a, 1)))
    val r = parts.routed.agg(perAction.head, perAction.tail: _*)
      .crossJoin(parts.joined.agg(count(when(!col("is_changed"), 1)),
        min(site), max(site), count(when(site.isNull, 1))))
      .head()
    val counts = (actions :+ "skip_unchanged").zipWithIndex
      .map { case (a, i) => a -> r.getLong(i) }.toMap
    val single = !r.isNullAt(4) && r.getLong(6) == 0 && r.getInt(4) == r.getInt(5)
    (counts, if (single) Some(r.getInt(4)) else None)
  }

  /** SAMPLE dry run — the reference's admin `sample_upsert`/`sample_delete`
    * one-product probes (`admin/pages/class-admin-page-connections.php:
    * 188-304`), generalized: run the FULL chunk→embed→payload→delta path
    * for the given candidates and return the would-be per-chunk action
    * set, with every write stubbed — no store mutation, no sync-state
    * commit, no event row. `force = true` mirrors the reference's sample
    * upsert exactly (it upserts unconditionally, skipping the
    * short-circuit). Returns (product_id, chunk_index, vector_id, action,
    * chunk_sha nullable for deletes). */
  def sampleDryRun(normalized: DataFrame, force: Boolean = false): DataFrame = {
    val parts = deltaParts(normalized, force)
    try {
    // id resolution mirrors execution exactly: existing rows keep their
    // stored vector_id (deletes recompute from e_site, as sync does);
    // NEW chunks take the id buildPayloads would mint from the
    // candidate's own site_id — never a hardcoded default.
    val perChunk = parts.routed
      .select(col("product_id"), col("chunk_index"),
        coalesce(col("vector_id"),
          format_string("site-%d:product-%d:chunk-%d",
            coalesce(col("e_site"), col("f_site")), col("product_id"), col("chunk_index")))
          .as("vector_id"),
        col("action"), col("f_sha").as("chunk_sha"))
    val skippedUnchanged = parts.unchanged
      .select(col("product_id"), lit(-1).as("chunk_index"),
        lit(null).cast("string").as("vector_id"),
        lit("skip_unchanged").as("action"),
        col("product_sha").as("chunk_sha"))
    // snapshot CLUSTER-side before unpersisting the lineage it depends on
    // — a driver collect() here would cap the API at driver memory, and
    // the candidate set can be a whole scan batch (reliable-storage
    // checkpoint under spark.graft.checkpoint=reliable; Stage.snap)
    graft.operators.Stage.snap(
      perChunk.unionByName(skippedUnchanged)
        .orderBy("product_id", "chunk_index"),
      materialize = true)
    // finally (not inline): a failure mid-plan must still unpin the four
    // cached frames, or a scheduler loop that swallows per-tick errors
    // accumulates dead cached plans for the session's lifetime
    } finally parts.unpersistAll()
  }

  /** One full sync pass over `normalized` (product_id, site_id, sku, text).
    * Returns the per-action summary DataFrame (upserted/deleted/skipped). */
  def sync(normalized: DataFrame, force: Boolean = false): DataFrame = {
    val parts = deltaParts(normalized, force)
    try syncImpl(parts) finally parts.unpersistAll()
  }

  private def syncImpl(parts: DeltaParts): DataFrame = {
    val (counts, siteForEvent) = passCounts(parts)
    val routed = parts.routed
    // Zero-remote-call short-circuit (golden case B): unchanged products
    // must produce NO store writes at all (`class-indexer.php:329-360`).
    // Write failure poisons only this run's rows (marked status=error and
    // re-picked next pass), not the job (`class-indexer.php:438-443`).
    val writeError: Option[Throwable] =
      try {
        // Deletes resolve by stored vector_id, fallback recomputed id —
        // `class-indexer.php:390-409`. The fallback id recomputes from the
        // row's OWN site_id (carried through `exist` as e_site) — a
        // hardcoded site-1 would silently delete a nonexistent id for any
        // other site.
        if (counts("delete") > 0)
          store.deleteByIds(routed.where(col("action") === "delete")
            .select(coalesce(col("vector_id"),
              format_string("site-%d:product-%d:chunk-%d",
                col("e_site"), col("product_id"), col("chunk_index")))
              .as("id")))
        if (counts("upsert") > 0)
          store.upsert(parts.payloads
            .join(routed.where(col("action") === "upsert")
              .select("product_id", "chunk_index"),
              Seq("product_id", "chunk_index"), "left_semi")
            .select(col("id"), col("values"), col("site_id"), col("product_id"),
              col("sku"), col("url"), col("updated_at"), col("fingerprint"), col("fields")))
        None
      } catch { case e: Throwable => Some(e) }

    // Merge sync_state: drop rows for changed products, re-insert fresh
    // rows status='synced'; touch_all unchanged products (`:448-464, 350`).
    val statusCol = if (writeError.isEmpty) lit("synced") else lit("error")
    val errCode = if (writeError.isEmpty) lit(null).cast("string")
      else lit("graft_store_error")
    val errMsg = writeError.map(e =>
        lit(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
      .getOrElse(lit(null)).cast("string")
    val freshRows = parts.payloads.select(
      col("site_id"), col("product_id"), lit(target).as("target"),
      col("chunk_index"), col("id").as("vector_id"),
      col("product_sha"), col("chunk_sha"),
      lit(embedder.model).as("model"), lit(embedder.dimension).as("dimension"),
      statusCol.as("status"), errCode.as("error_code"), errMsg.as("error_msg"),
      lit(clock).as("last_synced_at"))
    // The merge rewrites only THIS target's rows — a second adapter's
    // bookkeeping (other `target` values, reference's per-target row model
    // `includes/class-plugin.php:126-127`) passes through untouched.
    val others = parts.state.where(col("target") =!= target)
    val mine = parts.existing
    // One left join to the per-product flag: no flag = not a candidate
    // (kept as is), false = unchanged (touched), true = changed (dropped;
    // its fresh rows replace it). max: a product listed twice is changed
    // if either listing is.
    val flags = parts.joined.groupBy("product_id").agg(max("is_changed").as("changed"))
    val kept = mine.join(flags, Seq("product_id"), "left_outer")
      .where(!coalesce(col("changed"), lit(false)))
      .withColumn("last_synced_at",
        when(col("changed").isNull, col("last_synced_at")).otherwise(lit(clock)))
      .drop("changed")
    // T8 delete-set preservation on write failure: rows routed 'delete'
    // belong to changed products, so the merge above drops them — correct
    // when the delete landed, but after a store failure they are the ONLY
    // record that those chunks' vectors exist. Dropping them would leave
    // the vectors orphaned forever (the self-heal pass re-derives its
    // delete set from sync_state). Keep them as status='error' rows so
    // the next healthy pass routes them 'delete' again (idempotent even
    // if the failed pass's deleteByIds had already landed).
    val failedDeletes =
      if (writeError.isEmpty) mine.limit(0)
      else mine.join(
          routed.where(col("action") === "delete")
            .select("product_id", "chunk_index"),
          Seq("product_id", "chunk_index"), "left_semi")
        .withColumn("status", lit("error"))
        .withColumn("error_code", lit("graft_store_error"))
        .withColumn("error_msg", errMsg)
        .withColumn("last_synced_at", lit(clock))
    commitSyncState(others.unionByName(kept).unionByName(freshRows)
      .unionByName(failedDeletes))

    // K8: append one event row per sync pass (reference logs per action,
    // `includes/class-events.php:18-47`; SURVEY §2.2 K8). The site comes
    // from the batch itself (a hardcoded 1 mislabeled every
    // non-default-site pass); NULL makes an equality filter on site_id
    // exclude the row rather than mis-attribute it.
    events.foreach { log =>
      val outcome = if (writeError.isEmpty) "success" else "error"
      log.append(Seq((clock, siteForEvent, target, "sync", outcome,
          counts("upsert"), counts("delete"),
          counts("skip") + counts("skip_unchanged"),
          writeError.map(e => Option(e.getMessage).getOrElse("").take(200)).orNull))
        .toDF("ts_s", "site_id", "target", "action", "outcome",
          "upserted", "deleted", "skipped", "error_msg")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s"))
    }

    // A4 summary (`class-indexer.php:468-477`): the routed actions that
    // occurred plus skip_unchanged, as a local relation.
    counts.toSeq.filter { case (a, n) => n > 0 || a == "skip_unchanged" }
      .sortBy(_._1).toDF("action", "n")
  }
}
