package graft.streambench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolation quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def json(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Heap occupancy after full GCs: the live set the measured batches left
  * behind (in local mode all of Spark runs in this JVM). Two
  * collections half a second apart let Spark's ContextCleaner drop the
  * blocks of checkpoints the first one found unreachable. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
}

/** The per-layer metrics the traced run reports, with units. */
object PerLayer {
  private val layerStats = Seq("wall_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "gap_s" -> "s", "shuffle_bytes" -> "B")
  private val countUnits = Seq(
    "parse.events_in" -> "count", "parse.dead_letters" -> "count",
    "diff.changes" -> "count", "messages.rows" -> "count",
    "version_base.rows_scanned" -> "count",
    "dispatcher.buckets_loaded" -> "count",
    "dispatcher.docs_loaded" -> "count",
    "doc_commit.buckets_rewritten" -> "count",
    "doc_commit.bytes_written" -> "B",
    "doc_commit.useful_ratio" -> "ratio",
    "version_append.rows" -> "count", "materialize.rows" -> "count",
    "batch.jobs" -> "count")
  val units: Seq[(String, String)] =
    (Tracer.ChainLayer +: Tracer.Layers).flatMap(l =>
      layerStats.map { case (s, u) => s"$l.$s" -> u }) ++ countUnits
  val names: Seq[String] = units.map(_._1)
  def unit(k: String): String = units.toMap.apply(k)
}

/** Counts read from the document store's on-disk layout after a traced run
  * (a committed version directory holds one `_bucket=` directory per
  * rewritten bucket). */
object StoreLayout {
  def commitCounts(storeRoot: String, m: Map[String, Double]): Map[String, Double] = {
    val before = m("doc_commit.version_before")
    val after = m("doc_commit.version_after")
    val dir = Paths.get(storeRoot, s"v${after.toLong}")
    val rewritten =
      if (after == before || !Files.isDirectory(dir)) 0
      else Files.list(dir).iterator().asScala
        .count(_.getFileName.toString.startsWith("_bucket="))
    val loaded = m("dispatcher.buckets_loaded")
    Map("doc_commit.buckets_rewritten" -> rewritten.toDouble) ++
      (if (loaded > 0) Map("doc_commit.useful_ratio" -> rewritten / loaded)
       else Map.empty)
  }
}

/** The run's record: everything measured and checked, written as JSON to
  * the record file; its summary is the result line on stdout. */
final class Record {
  private val fields = mutable.LinkedHashMap[String, String]()
  private val checks = mutable.ArrayBuffer[CheckResult]()
  private val failures = mutable.ArrayBuffer[(String, String, String)]()
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private var batchesAttempted = 0

  def put(k: String, rawJson: String): Unit = fields(k) = rawJson

  /** Records the seconds since `from` (a nanoTime) under `k`; returns now. */
  def lap(k: String, from: Long): Long = {
    val now = System.nanoTime()
    put(k, Stats.json((now - from) / 1e9))
    now
  }
  def check(c: CheckResult): Unit = {
    checks += c
    if (!c.ok) System.err.println(s"[streambench] check ${c.name} FAILED: ${c.detail}")
  }
  def failure(where: String, e: Throwable): Unit = {
    failures += ((where, e.getClass.getName, String.valueOf(e.getMessage)))
    System.err.println(s"[streambench] $where failed: $e")
    e.printStackTrace()
  }
  def attempted(batches: Int): Unit = batchesAttempted = batches
  def metric(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)

  def batches(key: String, bs: Seq[Batch], setupBatches: Int): Unit =
    put(key, s"""{"setup_batches":$setupBatches,"measured":""" +
      bs.map(b => s"""{"id":${b.id},"rows":${b.rows},"trigger_s":${b.triggerS},""" +
        s""""add_batch_s":${b.addBatchS},"delivered":${b.delivered}}""")
        .mkString("[", ",", "]") + "}")

  def layerBatches(per: Seq[(Long, Map[String, Double])]): Unit =
    put("layer_batches", per.map { case (id, m) =>
      s"""{"id":$id,""" + m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Stats.str(k)}:${Stats.json(v)}" }
        .mkString(",") + "}" }.mkString("[", ",", "]"))

  /** Writes the record and prints the result line; exits with 1 unless
    * every metric of the mode was measured. */
  def finish(path: String, traced: Boolean): Unit = {
    val failedChecks = checks.count(!_.ok)
    val attempted = math.max(1, batchesAttempted + checks.size)
    val failed = failedChecks + failures.size
    val correct = failed == 0 && checks.nonEmpty
    val want = if (traced) PerLayer.names :+ "generator.late_s"
      else Seq("events_per_s", "freshness_p50_s", "freshness_p99_s",
        "first_batch_s", "setup_s", "live_heap_mb")
    val complete = want.forall(k => metrics.get(k).exists(m => !m._1.isNaN))
    val metricsJson = metrics.map { case (k, (v, u)) =>
      s"""${Stats.str(k)}:{"value":${Stats.json(v)},"unit":${Stats.str(u)}}"""
    }.mkString("{", ",", "}")
    fields("failed_ratio") = Stats.json(failed.toDouble / attempted)
    fields("checks") = checks.map(c =>
      s"""{"name":${Stats.str(c.name)},"ok":${c.ok},"detail":${Stats.str(c.detail)}}""")
      .mkString("[", ",", "]")
    fields("failures") = failures.map { case (w, cls, msg) =>
      s"""{"where":${Stats.str(w)},"class":${Stats.str(cls)},"message":${Stats.str(msg)}}"""
    }.mkString("[", ",", "]")
    val result = s"""{"correct":$correct,"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metricsJson}"""
    fields("result") = result
    metrics.foreach { case (k, (v, u)) =>
      System.err.println(f"[streambench] $k%-32s ${Stats.json(v)}%s $u") }
    checks.foreach(c => System.err.println(
      s"[streambench] check ${c.name}: ${if (c.ok) "ok" else "FAILED"} (${c.detail})"))
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, fields.map { case (k, v) => s"${Stats.str(k)}:$v" }
      .mkString("{\n", ",\n", "\n}\n"))
    println(result)
    if (!complete) sys.exit(1)
  }
}
