package graft.streambench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.Materialize
import graft.jobs.Pipeline
import graft.store.{DocumentStore, VersionedStore}
import graft.streaming.StreamingJobs

/** The traced run's instrumentation, all of it in the benchmark: a
  * SparkListener that records jobs and task metrics, spans the traced batch
  * body opens around each call into a layer, and counts taken at the same
  * boundaries. Spans and events stay in memory until the run ends. */
final class Tracer(sc: org.apache.spark.SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val counts = mutable.Map[Long, mutable.Map[String, Double]]()
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()

  // ---- SparkListener (listener-bus thread) ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val j = Job(e.jobId, prop(BatchKey).map(_.toLong),
      prop(SpanKey).getOrElse(ChainLayer), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.taskMs += m.executorRunTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.outputBytes += m.outputMetrics.bytesWritten
      j.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  // ---- spans (stream-execution thread) ----

  /** Runs `f` as layer `layer` of batch `batch`: jobs it submits carry the
    * span in their local properties, so the listener attributes them. */
  def span[T](batch: Long, layer: String)(f: => T): T = {
    sc.setLocalProperty(BatchKey, batch.toString)
    sc.setLocalProperty(SpanKey, layer)
    val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.nanoTime()
      synchronized {
        spans += Span(batch, layer, ms0, ms0 + (t1 - t0) / 1000000L,
          (t1 - t0) / 1e9)
      }
      sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Clears the batch id, so jobs between batches are attributed to none. */
  def endBatch(): Unit = sc.setLocalProperty(BatchKey, null)

  def count(batch: Long, name: String, v: Double): Unit = synchronized {
    counts.getOrElseUpdate(batch, mutable.Map())(name) = v
  }

  /** Per-batch layer breakdown. `triggerS` is the batch wall from query
    * progress. The `chain` layer is everything in the trigger outside the layer spans:
    * the input checkpoint, the part listing and the trigger/commit log. */
  def breakdown(batch: Long, triggerS: Double): Map[String, Double] =
    synchronized {
      val bs = spans.filter(_.batch == batch)
      val bj = jobs.values.filter(_.batch.contains(batch)).toSeq
      val out = mutable.LinkedHashMap[String, Double]()
      def covered(js: Seq[Job], from: Long, to: Long): Double = {
        // union of job intervals clipped to [from, to], in seconds
        val iv = js.map(j => (math.max(j.startMs, from),
          math.min(if (j.endMs > 0) j.endMs else to, to)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var total = 0L; var curA = -1L; var curB = -1L
        iv.foreach { case (a, b) =>
          if (a > curB) { total += math.max(0L, curB - curA); curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        total += math.max(0L, curB - curA)
        total / 1e3
      }
      var layerWall = 0.0
      Layers.foreach { l =>
        val ls = bs.filter(_.layer == l)
        val lj = bj.filter(_.layer == l)
        val wall = ls.map(_.wallS).sum
        layerWall += wall
        out(s"$l.wall_s") = wall
        out(s"$l.jobs") = lj.size.toDouble
        out(s"$l.task_s") = lj.map(_.taskMs).sum / 1e3
        out(s"$l.gap_s") = math.max(0.0,
          wall - ls.map(s => covered(lj, s.startMs, s.endMs)).sum)
        out(s"$l.shuffle_bytes") = lj.map(_.shuffleBytes).sum.toDouble
      }
      val cj = bj.filter(_.layer == ChainLayer)
      val chainWall = triggerS - layerWall
      out("chain.wall_s") = chainWall
      out("chain.jobs") = cj.size.toDouble
      out("chain.task_s") = cj.map(_.taskMs).sum / 1e3
      out("chain.gap_s") = math.max(0.0, chainWall -
        bs.filter(_.layer == ChainLayer)
          .map(s => covered(cj, s.startMs, s.endMs)).sum)
      out("chain.shuffle_bytes") = cj.map(_.shuffleBytes).sum.toDouble
      out("batch.jobs") = bj.size.toDouble
      out("parse.dead_letters") = bj.filter(_.layer == "dlq_write")
        .map(_.outputRecords).sum.toDouble
      out("doc_commit.bytes_written") = bj.filter(_.layer == "doc_commit")
        .map(_.outputBytes).sum.toDouble
      counts.getOrElse(batch, mutable.Map()).foreach { case (k, v) => out(k) = v }
      out("chain.spanned_s") = bs.map(_.wallS).sum
      out.toMap
    }
}

object Tracer {
  val BatchKey = "streambench.batch"
  val SpanKey = "streambench.span"
  val ChainLayer = "chain"

  /** Layer spans, named after the modules they call into, in call order. */
  val Layers: Seq[String] = Seq("version_base", "parse", "diff", "messages",
    "dlq_write", "dispatcher", "doc_commit", "version_append")

  final case class Span(batch: Long, layer: String, startMs: Long,
      endMs: Long, wallS: Double)

  final case class Job(id: Int, batch: Option[Long], layer: String,
      startMs: Long) {
    var endMs = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    var outputRecords = 0L
  }

  /** A part file of a parquet dataset exists under `p` (fullChain's guard
    * against a crash that left the version directory without parts). */
  private def hasParquetParts(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(s =>
      (s.isFile && s.getPath.getName.startsWith("part-") &&
        !s.getPath.getName.endsWith(".crc")) ||
      (s.isDirectory && hasParquetParts(fs, s.getPath)))

  /** `StreamingJobs.fullChain` with a span around each layer call. The body
    * calls the same public functions in the same order — `Pipeline.prepare`
    * is spelled out as its parse / diff / messages steps — so the traced
    * run does the same Spark work as the untraced one. Counts come from
    * `Materialize.checkpointCounted`, the call `checkpoint` itself makes,
    * so they add no job. */
  def fullChain(tr: Tracer, raw: DataFrame, versionsPath: String,
      store: DocumentStore, bootstrap: => DataFrame, dlqPath: String,
      checkpoint: String) = {
    // rows already in the versioned store, all of which the as-of base scans
    val versionRows = new java.util.concurrent.atomic.AtomicLong()
    raw.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val tally = new java.util.concurrent.atomic.AtomicLong()
        Materialize.tally = Some(tally)
        val (b, nIn) = tr.span(id, ChainLayer) {
          Materialize.checkpointCounted(batch)
        }
        val vPath = new org.apache.hadoop.fs.Path(versionsPath)
        val hasParts = tr.span(id, ChainLayer) {
          hasParquetParts(
            vPath.getFileSystem(spark.sparkContext.hadoopConfiguration), vPath)
        }
        val base =
          if (hasParts) Some(tr.span(id, "version_base") {
            VersionedStore.latest(VersionedStore.read(spark, versionsPath))
          })
          else None
        tr.count(id, "version_base.rows_scanned",
          if (hasParts) versionRows.get.toDouble else 0.0)
        val (dlq, versions, nVersions) = tr.span(id, "parse") {
          val (parsedOk, dlqParse) = Pipeline.parse(b)
          val (valid, dlqContract) = StreamingJobs.contractDlq(parsedOk)
          val (v, n) = Materialize.checkpointCounted(Pipeline.toVersions(valid))
          (dlqParse.unionByName(dlqContract), v, n)
        }
        val (changes, nChanges) = tr.span(id, "diff") {
          Materialize.checkpointCounted(
            graft.diff.EntityDiff.determineChange(versions, base))
        }
        val (messages, nMessages) = tr.span(id, "messages") {
          Materialize.checkpointCounted(Pipeline.shapeMessages(changes))
        }
        val direct = changes.filter(col("directChange"))
        tr.span(id, "dlq_write") {
          dlq.write.mode(SaveMode.Append).parquet(dlqPath)
        }
        val before = store.currentVersion
        // StreamingJobs.canPrune
        val pruned = before.nonEmpty && store.formatVersion >= 2
        val (docs, nDocs, buckets) = tr.span(id, "dispatcher") {
          if (pruned) {
            val (d, bs) = Pipeline.applyPruned(store, messages, direct)
            val (ck, n) = Materialize.checkpointCounted(d)
            (ck, n, Some(bs))
          } else {
            val (ck, n) = Materialize.checkpointCounted(
              Pipeline.applyAll(store.readOrElse(bootstrap), messages, direct))
            (ck, n, None)
          }
        }
        tr.span(id, "doc_commit") {
          buckets match {
            case Some(bs) => store.syncBuckets(docs, bs)
            case None => store.sync(docs)
          }
        }
        tr.span(id, "version_append") {
          VersionedStore.append(versions, versionsPath)
        }
        versionRows.addAndGet(nVersions)
        Materialize.tally = None
        tr.endBatch()
        tr.count(id, "parse.events_in", nIn.toDouble)
        tr.count(id, "diff.changes", nChanges.toDouble)
        tr.count(id, "messages.rows", nMessages.toDouble)
        tr.count(id, "version_append.rows", nVersions.toDouble)
        tr.count(id, "dispatcher.docs_loaded", nDocs.toDouble)
        tr.count(id, "dispatcher.buckets_loaded",
          buckets.map(_.size.toDouble).getOrElse(0.0))
        tr.count(id, "materialize.rows", tally.get.toDouble)
        tr.count(id, "doc_commit.version_before",
          before.map(_.toDouble).getOrElse(-1.0))
        tr.count(id, "doc_commit.version_after",
          store.currentVersion.map(_.toDouble).getOrElse(-1.0))
        ()
      }
  }
}
