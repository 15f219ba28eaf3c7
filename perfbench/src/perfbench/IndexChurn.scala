package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.operators.{AnnIndexPq, LexIndex}

/** Generational persisted-index maintenance: a `LexIndex` over documents
  * and an `AnnIndexPq` over vectors, built in set-up, then cycles of
  * upsert (~1%), delete (~0.2%) and search on each index. */
final class IndexChurn(ctx: Ctx) {
  private val spark = ctx.spark
  private val nDocs = 1000
  private val nVecs = 500
  private val Dim = 64
  private val rng = ctx.rng
  private val centers = Fixture.centers(rng, 8, Dim)
  private val docs = mutable.LinkedHashMap.from(Fixture.documents(rng, nDocs))
  private val vecs = mutable.LinkedHashMap.from(
    Fixture.vectors(rng, (0 until nVecs).map(_.toLong), Dim, centers))
  private val deletedVecs = mutable.Set.empty[Long]
  private var nextDoc = nDocs.toLong
  private var nextVec = nVecs.toLong

  private def terms(): Seq[String] = Fixture.pick(rng, Fixture.Vocab, 3)

  def run(): Unit = {
    val (lexRoot, pqRoot) = (ctx.fresh(ctx.stateDir, "lex"), ctx.fresh(ctx.stateDir, "pq"))
    ctx.setup { _ =>
      val (d, v) = (Fixture.docFrame(spark, docs.toSeq), Fixture.vecFrame(spark, vecs.toSeq))
      d.count(); v.count()
      (d, v)
    } { case (d, v) =>
      // the indexed starting state, then one untimed cycle as the warm-up
      val b0 = System.nanoTime()
      LexIndex.build(spark, d, lexRoot)
      AnnIndexPq.build(v, pqRoot)
      val buildS = (System.nanoTime() - b0) / 1e9
      ctx.log(f"index builds $buildS%.2f s")
      ctx.putPerLayer("bulk.items_per_s", (nDocs + nVecs) / buildS, "items/s")
      cycle(lexRoot, pqRoot, traced = false)
    }
    val overhead = ctx.timedCycles(cycle(lexRoot, pqRoot, _))
    checkFinal(lexRoot, pqRoot)
    if (ctx.trace.nonEmpty) {
      CatalogSync.putSyncLayers(ctx, Map.empty)
      IndexChurn.putIndexLayers(ctx, Some(lexRoot), Some(pqRoot))
      ctx.putRuntimeLayers(overhead, docs.values.toSeq)
    }
  }

  /** One cycle on each index: upsert, delete, search. */
  private def cycle(lexRoot: String, pqRoot: String, traced: Boolean): Option[Cycle] = {
    // lexical: update ~1% (a fifth of them new documents), delete ~0.2%
    val nUp = nDocs / 100
    val upd = Fixture.pick(rng, docs.keys.toIndexedSeq, nUp * 4 / 5) ++
      (0 until nUp / 5).map { _ => nextDoc += 1; nextDoc }
    val batch = upd.map(id => id -> Fixture.words(rng, 8 + rng.nextInt(60)))
    val lexUp = ctx.op("lex.upsert", traced) {
      LexIndex.upsert(spark, Fixture.docFrame(spark, batch), lexRoot)
    }
    batch.foreach(docs += _)
    val del = Fixture.pick(rng, docs.keys.toIndexedSeq, nDocs / 500)
    val lexDel = ctx.op("lex.delete", traced) {
      LexIndex.delete(spark, lexRoot, Fixture.idFrame(spark, del, "doc_id"))
    }
    del.foreach(docs -= _)
    val q = terms()
    val lexSearch = ctx.op("lex.search", traced) {
      LexIndex.search(spark, lexRoot, q, k = 10).collect()
    }
    // PQ: the same shape over the vectors
    val nVup = nVecs / 100
    val vUpd = Fixture.pick(rng, vecs.keys.toIndexedSeq, nVup * 4 / 5) ++
      (0 until nVup / 5).map { _ => nextVec += 1; nextVec }
    val vBatch = Fixture.vectors(rng, vUpd, Dim, centers)
    val pqUp = ctx.op("pq.upsert", traced) {
      AnnIndexPq.upsert(spark, pqRoot, Fixture.vecFrame(spark, vBatch))
    }
    vBatch.foreach(vecs += _)
    val vDel = Fixture.pick(rng, vecs.keys.toIndexedSeq, nVecs / 500)
    val pqDel = ctx.op("pq.delete", traced) {
      AnnIndexPq.delete(spark, pqRoot, Fixture.idFrame(spark, vDel, "vec_id"))
    }
    vDel.foreach { id => vecs -= id; deletedVecs += id }
    var hits = Array.empty[Row]
    val queries = Fixture.vectors(rng, Fixture.pick(rng, vecs.keys.toIndexedSeq, 4),
      Dim, centers)
    val pqSearch = ctx.op("pq.search", traced) {
      hits = pqSearchRows(pqRoot, queries)
    }
    ctx.verify("PQ search returns no deleted id",
      hits.nonEmpty && hits.forall(r => !deletedVecs(r.getAs[Long]("cid"))))
    val steps = Seq(lexUp, lexDel, lexSearch, pqUp, pqDel, pqSearch)
    if (steps.exists(_.isEmpty)) None
    else {
      val s = steps.flatten
      ctx.log(f"lex up/del/search ${s(0)}%.3f ${s(1)}%.3f ${s(2)}%.3f," +
        f" pq up/del/search ${s(3)}%.3f ${s(4)}%.3f ${s(5)}%.3f")
      Some(Cycle(update = s(0) + s(3), read = s(2) + s(5), delete = s(1) + s(4)))
    }
  }

  private def pqSearchRows(root: String, queries: Seq[(Long, Array[Float])]): Array[Row] = {
    val s = spark
    import s.implicits._
    AnnIndexPq.search(spark, root, queries.toDF("qid", "qe"), nProbes = 2, k = 5).collect()
  }

  /** The correctness gate: lexical search equals a from-scratch build over
    * the final corpus; PQ search never returns a deleted id. */
  private def checkFinal(lexRoot: String, pqRoot: String): Unit = {
    val ref = ctx.fresh(ctx.args.work.resolve("check"), "lex")
    LexIndex.build(spark, Fixture.docFrame(spark, docs.toSeq), ref)
    val queries = Seq.fill(2)(terms())
    ctx.check(s"LexIndex search equals a rebuild over ${docs.size} live docs") {
      queries.forall { q =>
        val a = LexIndex.search(spark, lexRoot, q, k = 10).collect().toSeq
        val b = LexIndex.search(spark, ref, q, k = 10).collect().toSeq
        if (a != b) ctx.log(s"lex mismatch for $q:\n  $a\n  $b")
        a == b && a.nonEmpty
      }
    }
    ctx.check(s"AnnIndexPq search returns none of ${deletedVecs.size} deleted ids") {
      val qs = Fixture.pick(rng, vecs.keys.toIndexedSeq, 16).map(id => id -> vecs(id))
      val hits = pqSearchRows(pqRoot, qs)
      hits.nonEmpty && hits.forall(r => !deletedVecs(r.getAs[Long]("cid")))
    }
  }
}

object IndexChurn {
  /** Index-layer metrics; a workload without the indexes passes None and
    * reports 0 for each. */
  def putIndexLayers(ctx: Ctx, lexRoot: Option[String], pqRoot: Option[String]): Unit = {
    val l = ctx.layers
    for ((name, root) <- Seq("lex" -> lexRoot, "pq" -> pqRoot)) {
      ctx.put(s"$name.frac", l.frac(s"$name.upsert", s"$name.delete", s"$name.search"),
        "fraction")
      for (op <- Seq("upsert", "delete", "search"))
        ctx.put(s"$name.$op.jobs", l.jobsPerCall(s"$name.$op"), "count")
      val gens = root.map { r =>
        val s = Files.list(Paths.get(r))
        try s.filter(_.getFileName.toString.startsWith("gen-")).count() finally s.close()
      }.getOrElse(0L)
      ctx.put(s"$name.generations", gens.toDouble, "count")
      ctx.put(s"$name.disk_mb", root.map(r => Fixture.sizeOf(Paths.get(r)) / 1e6)
        .getOrElse(0.0), "MB")
    }
  }
}
