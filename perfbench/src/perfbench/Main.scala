package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.chunker.Chunker
import graft.embed.LocalHashEmbedder
import graft.fingerprint.Fingerprint
import graft.model.Selection

/** Benchmark harness for the sync pipeline and the persisted indexes.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cpus C --work DIR --out FILE
  *
  * Writes one JSON object to FILE: {correct, attempted, failed, metrics}.
  * With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
  * per-layer ones. `perfbench/README.md` defines every metric. */
object Main {
  /** Sync selection as the CLI configures it. */
  val Sel: Selection = Selection(chunkSize = 100, chunkOverlap = 20).sanitized
  /** Same-shape repetitions of the set-up; setup_s takes their median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, work: Path, out: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cpus").toInt, Paths.get(get("work")),
      Paths.get(get("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, a, (System.currentTimeMillis() - jvmStart) / 1000.0)
    val result = try {
      a.workload match {
        case "catalog_sync" => new CatalogSync(ctx).run()
        case "index_churn" => new IndexChurn(ctx).run()
        case w => sys.error(s"unknown workload $w")
      }
      ctx.result()
    } finally spark.stop()
    Files.write(a.out, result.getBytes("UTF-8"))
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    ctx.log("session stopped; GC " + gcs.map(g =>
      f"${g.getName}: ${g.getCollectionCount}%d in ${g.getCollectionTime / 1000.0}%.2f s").mkString(", "))
  }
}

/** Seconds of one timed cycle's update, read and delete operations. */
final case class Cycle(update: Double, read: Double, delete: Double)

/** Run state shared by the workloads: the session, the op log, the
  * correctness tally and the metric sink. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val sessionS: Double) {
  /** Generates every input, and which of them each operation touches. */
  val rng = new Random(args.seed)
  val trace: Option[Trace] =
    if (args.trace) Some(new Trace(spark.sparkContext)) else None
  val layers = new Layers
  var attempted = 0
  var failed = 0
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val stateDir: Path = args.work.resolve("state")
  val dataDir: Path = args.work.resolve("data")
  private var dirSeq = 0
  private val t0 = System.nanoTime()

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** An end-to-end metric: reported by untraced runs only. */
  def putEndToEnd(name: String, v: Double, unit: String): Unit =
    if (trace.isEmpty) put(name, v, unit)

  /** A per-layer metric measured outside the traced ops: traced runs only. */
  def putPerLayer(name: String, v: Double, unit: String): Unit =
    if (trace.nonEmpty) put(name, v, unit)

  /** A fresh directory under `parent` with a readable prefix. */
  def fresh(parent: Path, prefix: String): String = {
    dirSeq += 1
    parent.resolve(s"$prefix-$dirSeq").toString
  }

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      log(s"check '$what' threw: $e"); false }
    if (!pass) { failed += 1; log(s"CHECK FAILED: $what") }
    else log(s"check ok: $what")
  }

  /** Count an attempted operation whose output is wrong as failed. */
  def verify(what: String, ok: Boolean): Unit =
    if (!ok) { failed += 1; log(s"INCORRECT: $what") }

  /** Time one operation. A traced op runs under the span `tag`, and its
    * jobs are attributed once the listener bus has caught up. Returns the
    * wall time in seconds, or None if the op threw (counted as failed). */
  def op(tag: String, traced: Boolean)(body: => Unit): Option[Double] = {
    attempted += 1
    val tr = trace.filter(_ => traced)
    tr.foreach(_.storeWindows.clear())
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val ok = try { tr.fold(body)(_.span(tag)(body)); true } catch {
      case e: Throwable => log(s"op $tag failed: $e"); failed += 1; false
    }
    val secs = (System.nanoTime() - n0) / 1e9
    val w1 = System.currentTimeMillis()
    tr.foreach(t => layers.add(tag, (w0, w1), t.flush(), t.storeWindows.toList))
    if (ok) Some(secs) else None
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The workload's set-up: `rep` [[Main.SetupReps]] times, then `warm`
    * once on the first repetition's result, which the warm-up may consume.
    * setup_s is session start + the median repetition + warm-up. Returns
    * each repetition's result and seconds, in order. */
  def setup[T](rep: Int => T)(warm: T => Unit): Seq[(T, Double)] = {
    val reps = (1 to Main.SetupReps).map { i =>
      val r0 = System.nanoTime()
      val r = rep(i)
      (r, (System.nanoTime() - r0) / 1e9)
    }
    val w0 = System.nanoTime()
    warm(reps.head._1)
    val warmS = (System.nanoTime() - w0) / 1e9
    val med = median(reps.map(_._2))
    log(f"setup: session $sessionS%.2f s, reps " +
      reps.map(r => f"${r._2}%.2f").mkString(", ") + f", warm-up $warmS%.2f s")
    putEndToEnd("setup_s", sessionS + med + warmS, "s")
    reps
  }

  /** Bytes of engine state: files new or changed since the last call. */
  private var seen = Map.empty[Path, (Long, Long)]
  def stateWritten(): Long = {
    val now = mutable.Map.empty[Path, (Long, Long)]
    if (Files.exists(stateDir)) {
      val s = Files.walk(stateDir)
      try s.filter(Files.isRegularFile(_)).forEach { p =>
        now(p) = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      } finally s.close()
    }
    val written = now.collect { case (p, v) if !seen.get(p).contains(v) => v._1 }.sum
    seen = now.toMap
    written
  }

  /** The timed loop every workload shares: run `cycle(traced)` until
    * --seconds have passed and at least two cycles ran. `cycle` returns the
    * seconds of its update, read and delete operations, or None when one of
    * its ops failed, which ends the loop. An untraced run records the
    * end-to-end metrics: the median of each operation kind over the cycles,
    * and the state written per cycle. A traced run alternates
    * traced and untraced cycles and returns trace.overhead_s: per
    * operation, the mean wall time of a whole traced cycle (span flushes and
    * normalize probes included) minus that of an untraced one. */
  def timedCycles(cycle: Boolean => Option[Cycle]): Double = {
    val start = System.nanoTime()
    stateWritten()
    var written = 0L
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    // (traced, whole-cycle wall seconds, operations in the cycle)
    val walls = mutable.ArrayBuffer.empty[(Boolean, Double, Int)]
    var failedCycle = false
    while (!failedCycle &&
        (cycles.size < 2 || (System.nanoTime() - start) / 1e9 < args.seconds)) {
      val traced = trace.nonEmpty && cycles.size % 2 == 0
      val (n0, a0) = (System.nanoTime(), attempted)
      cycle(traced) match {
        case Some(c) =>
          walls += ((traced, (System.nanoTime() - n0) / 1e9, attempted - a0))
          cycles += c
          written += stateWritten()
          log(f"cycle ${cycles.size}: update ${c.update}%.3f s, read ${c.read}%.3f s," +
            f" delete ${c.delete}%.3f s" + (if (traced) " (traced)" else ""))
        case None => failedCycle = true
      }
    }
    if (cycles.nonEmpty) {
      putEndToEnd("update_s_p50", median(cycles.map(_.update).toSeq), "s")
      putEndToEnd("read_s_p50", median(cycles.map(_.read).toSeq), "s")
      putEndToEnd("delete_s_p50", median(cycles.map(_.delete).toSeq), "s")
      putEndToEnd("write_mb_per_cycle", written / 1e6 / cycles.size, "MB")
    }
    val (on, off) = walls.partition(_._1)
    def perOp(ws: Seq[(Boolean, Double, Int)]) = ws.map(_._2).sum / ws.map(_._3).sum
    if (on.isEmpty || off.isEmpty) 0.0 else perOp(on.toSeq) - perOp(off.toSeq)
  }

  /** Kernel throughput of single-threaded calls, in MB of input per s:
    * repeat `f` over `texts` for at least 0.3 s. */
  def kernelMbPerS(texts: Seq[String])(f: String => Unit): Double = {
    val bytes = texts.map(_.getBytes("UTF-8").length.toLong).sum
    var rounds = 0
    val t0 = System.nanoTime()
    while (rounds == 0 || System.nanoTime() - t0 < 300000000L) {
      texts.foreach(f); rounds += 1
    }
    bytes * rounds / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  /** Per-layer metrics every workload reports in a traced run. */
  def putRuntimeLayers(overheadS: Double, texts: Seq[String]): Unit = {
    val l = layers
    put("trace.ops", l.ops, "count")
    put("trace.op_wall_s", if (l.ops == 0) 0 else l.wallMs / 1000.0 / l.ops, "s")
    put("trace.overhead_s", overheadS, "s")
    put("spark.jobs", if (l.ops == 0) 0 else l.jobsTotal.toDouble / l.ops, "count")
    put("spark.driver_gap_s", if (l.ops == 0) 0 else l.gapMs / 1000.0 / l.ops, "s")
    put("spark.untagged_jobs", l.untagged, "count")
    put("spark.shuffle_mb", if (l.ops == 0) 0 else l.shuffleBytes / 1e6 / l.ops, "MB")
    import scala.jdk.CollectionConverters._
    val peak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    put("jvm.peak_heap_mb", peak / 1e6, "MB")
    val emb = new LocalHashEmbedder()
    def chunk(t: String) =
      Chunker.chunkText(t, Main.Sel.chunkSize, Main.Sel.chunkOverlap).map(_.text)
    val chunks = texts.map(t => t -> chunk(t)).toMap
    put("chunker.mb_per_s", kernelMbPerS(texts)(chunk), "MB/s")
    // product sha, then each chunk's sha, as a sync pass computes them
    put("fingerprint.mb_per_s", kernelMbPerS(texts) { t =>
      val p = Fingerprint.shaProduct(t, Main.Sel, emb.dimension)
      chunks(t).zipWithIndex.foreach { case (c, i) => Fingerprint.shaChunk(p, i, c) }
    }, "MB/s")
    put("embed.mb_per_s", kernelMbPerS(chunks.values.flatten.toSeq)(emb.embedOne), "MB/s")
    log("per-layer table:\n" + l.table)
  }

  def result(): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    val correct = failed == 0
    s"""{"correct":$correct,"attempted":${math.max(1, attempted)},"failed":$failed,"metrics":{$ms}}"""
  }
}
