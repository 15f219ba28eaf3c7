package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog
import graft.normalize.Normalizer

/** One `part` row: the source of a parent product and, for even keys, three
  * variations (see `Catalog.products`). */
final case class Part(key: Long, name: String, brand: String, ptype: String,
    size: Int, price: Double)

/** Seeded inputs with the shapes of the TPC-H-style tables the catalog reads
  * (`part`, `nation`, `documents`, `embeddings`). Everything is generated on the
  * Spark driver from the workload seed, so the same seed gives the same bytes. */
object Fixture {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "vector", "merge", "spark", "batch", "part", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "data",
    "join", "customer", "index", "shard", "cache", "page", "token", "delta",
    "commit", "graph", "model", "score", "route", "bucket")
  private val Adjectives = IndexedSeq("large", "hot", "blue", "red", "steel",
    "oak", "matte", "bright", "quiet", "heavy", "light", "smooth")
  private val Nouns = IndexedSeq("ring", "bolt", "lamp", "chair", "desk",
    "shelf", "valve", "gear", "panel", "frame", "cable", "hinge")
  private val Types = IndexedSeq("LARGE", "ECONOMY", "SMALL", "STANDARD",
    "PROMO", "MEDIUM")

  def parts(rng: Random, n: Int): Array[Part] = Array.tabulate(n) { i =>
    Part(i.toLong,
      s"${Adjectives(rng.nextInt(Adjectives.size))} ${Nouns(rng.nextInt(Nouns.size))}",
      s"Brand#${1 + rng.nextInt(25)}",
      s"${Types(rng.nextInt(Types.size))} ${words(rng, 4 + rng.nextInt(12))}",
      1 + rng.nextInt(50), 900.0 + rng.nextInt(1000) / 10.0)
  }

  def words(rng: Random, n: Int): String =
    Iterator.fill(n)(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  /** Products per part: one parent, plus three variations for even keys. */
  def productCount(nParts: Int): Int = nParts + 3 * ((nParts + 1) / 2)

  /** Write `part` and `nation` under `dir` — one catalog revision. */
  def writeCatalog(spark: SparkSession, dir: String, ps: Seq[Part]): Unit = {
    import spark.implicits._
    ps.map(p => (p.key, p.name, p.brand, p.ptype, p.size, p.price))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
  }

  /** Sync candidates (product_id, site_id, sku, text) over one catalog
    * revision: the full reference document, composed exactly as the CLI
    * `loop` command composes it, and left un-materialized. */
  def candidates(spark: SparkSession, dir: String): DataFrame = {
    val products = Catalog.products(spark, dir)
    val acfAll = Normalizer.acfRender(Catalog.acfValues(spark, dir))
      .unionByName(Normalizer.acfRenderLookup(
        Catalog.acfLookupValues(spark, dir), Catalog.postTitles(spark, dir),
        Catalog.termDim(spark, dir), Catalog.attachments(spark, dir)))
    Normalizer.composeFull(products, Catalog.productMeta(spark, dir),
        Catalog.productTerms(spark, dir), acfAll)
      .join(products.select("product_id", "site_id", "sku"), Seq("product_id"))
      .select("product_id", "site_id", "sku", "text")
  }

  /** Documents for the lexical index: (doc_id, text). */
  def documents(rng: Random, n: Int): Array[(Long, String)] =
    Array.tabulate(n)(i => (i.toLong, words(rng, 8 + rng.nextInt(60))))

  /** Vectors for the PQ index: `nClusters` Gaussian clusters in `dim`
    * dimensions, so coarse cells are unevenly filled as in real data. */
  def vectors(rng: Random, ids: Seq[Long], dim: Int,
      centers: IndexedSeq[Array[Float]]): Seq[(Long, Array[Float])] =
    ids.map { id =>
      val c = centers(rng.nextInt(centers.size))
      (id, Array.tabulate(dim)(j => c(j) + 0.15f * rng.nextGaussian().toFloat))
    }

  def centers(rng: Random, n: Int, dim: Int): IndexedSeq[Array[Float]] =
    IndexedSeq.fill(n)(Array.fill(dim)(rng.nextGaussian().toFloat))

  def docFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  def vecFrame(spark: SparkSession, vecs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vecs.toDF("vec_id", "embedding")
  }

  def idFrame(spark: SparkSession, ids: Seq[Long], name: String): DataFrame = {
    import spark.implicits._
    ids.toDF(name)
  }

  /** Sample `k` distinct elements. */
  def pick[T](rng: Random, xs: IndexedSeq[T], k: Int): IndexedSeq[T] =
    rng.shuffle(xs).take(k)

  def sizeOf(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
}
