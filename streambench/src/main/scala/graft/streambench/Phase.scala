package graft.streambench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.jobs.Pipeline
import graft.store.DocumentStore
import graft.streaming.StreamingJobs

/** One committed microbatch as query progress reports it. `delivered` is
  * the number of envelopes fed up to the batch's end offset. */
final case class Batch(id: Long, rows: Long, startMs: Long, triggerS: Double,
    addBatchS: Double, delivered: Long) {
  def commitMs: Double = startMs + triggerS * 1e3
}

/** One deployment of the chain: fresh DocumentStore and VersionedStore
  * roots, a DLQ path, a checkpoint, and a MemoryStream the benchmark feeds
  * with generated envelopes. Untraced phases run the unmodified
  * `StreamingJobs.fullChain`; traced ones run [[Tracer.fullChain]]. */
final class Phase(spark: SparkSession, val dir: String,
    tracer: Option[Tracer]) {
  val versionsPath = s"$dir/versions"
  val dlqPath = s"$dir/dlq"
  val store = new DocumentStore(spark, s"$dir/store")
  // one input partition per core, however many offsets a batch spans
  private val input = MemoryStream[String](spark,
    spark.sparkContext.defaultParallelism)(spark.implicits.newStringEncoder)
  // envelopes fed up to and including each MemoryStream offset
  private val fedAt = scala.collection.mutable.ArrayBuffer[Long]()

  private def emptyDocs: DataFrame = {
    import spark.implicits._
    Pipeline.emptyDocsFor(Seq.empty[String].toDF("value"))
  }

  val query: StreamingQuery = {
    val raw = input.toDF()
    val ckpt = s"$dir/checkpoint"
    (tracer match {
      case None => StreamingJobs.fullChain(raw, versionsPath, store,
        emptyDocs, dlqPath, ckpt)
      case Some(tr) => Tracer.fullChain(tr, raw, versionsPath, store,
        emptyDocs, dlqPath, ckpt)
    }).start()
  }

  /** Adds envelopes as one MemoryStream offset. */
  def feed(events: Seq[String]): Unit = synchronized {
    input.addData(events)
    fedAt += fedAt.lastOption.getOrElse(0L) + events.size
  }

  /** Blocks until everything fed so far has committed (or the query died). */
  def drain(): Unit = query.processAllAvailable()

  /** Committed data batches, oldest first. */
  def batches: Seq[Batch] = query.recentProgress.toSeq
    .filter(p => p.numInputRows > 0)
    .map(batchOf)

  private def batchOf(p: StreamingQueryProgress): Batch = {
    val d = p.durationMs.asScala
    Batch(p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      d.get("triggerExecution").map(_.longValue / 1e3).getOrElse(0.0),
      d.get("addBatch").map(_.longValue / 1e3).getOrElse(0.0),
      synchronized(fedAt(p.sources.head.endOffset.trim.toInt)))
  }

  def stop(): Unit = query.stop()
}
