package graft.streambench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import graft.Materialize
import graft.jobs.Pipeline

/** One output check: its name, whether it held, and what differed. */
final case class CheckResult(name: String, ok: Boolean, detail: String)

/** Output checks, run after the measured window. */
object Checks {

  /** A value as canonical JSON: maps become key-sorted entry arrays, at any
    * depth, so two equal stores give equal strings whatever the map order. */
  private def canon(c: Column, t: org.apache.spark.sql.types.DataType): Column =
    t match {
      case m: MapType =>
        array_sort(transform(map_entries(c), e =>
          struct(e("key").as("k"), canon(e("value"), m.valueType).as("v"))))
      case a: ArrayType => transform(c, x => canon(x, a.elementType))
      case s: StructType =>
        struct(s.fields.toSeq.map(f => canon(c(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }

  /** The rows of a document frame as sorted canonical JSON strings. */
  def canonicalRows(docs: DataFrame): Vector[String] =
    docs.select(to_json(canon(struct(docs.columns.sorted.map(col).toSeq: _*),
        StructType(docs.columns.sorted.map(docs.schema(_)).toSeq))).as("j"))
      .collect().map(_.getString(0)).toVector.sorted

  /** Multiset comparison; the detail names counts and a few differing rows
    * of each side. */
  def compareRows(name: String, got: Vector[String],
      want: Vector[String]): CheckResult = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    def minus(a: Map[String, Int], b: Map[String, Int]) =
      a.toSeq.flatMap { case (k, n) =>
        Seq.fill(math.max(0, n - b.getOrElse(k, 0)))(k) }.sorted
    val extra = minus(g, w); val missing = minus(w, g)
    CheckResult(name, extra.isEmpty && missing.isEmpty,
      s"rows ${got.size} vs ${want.size}; ${extra.size} only in the first, " +
        s"${missing.size} only in the second" +
        (if (extra.isEmpty && missing.isEmpty) ""
         else s"; first-only e.g. ${extra.take(3).mkString(" | ")}" +
           s"; second-only e.g. ${missing.take(3).mkString(" | ")}"))
  }

  /** The final documents of a one-shot `Pipeline.run` over `events`. */
  def oneShot(spark: SparkSession, events: Seq[Event]): Vector[String] = {
    import spark.implicits._
    val raw = Materialize.checkpoint(events.map(_.json).toDF("value"))
    val (docs, _, _, _) = Pipeline.run(spark, raw, Pipeline.emptyDocsFor(raw))
    canonicalRows(docs)
  }

  /** Dead letters per (job, description) equal the injected counts. */
  def deadLetters(spark: SparkSession, dlqPath: String,
      events: Seq[Event]): CheckResult = {
    val want = events.flatMap(_.dlq).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val got = spark.read.parquet(dlqPath).groupBy("job", "description").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    CheckResult("dead_letters", got == want,
      s"got ${got.toSeq.sorted.mkString(", ")}; injected ${want.toSeq.sorted.mkString(", ")}")
  }

  /** The versioned store holds one row per valid event. */
  def versionRows(spark: SparkSession, versionsPath: String,
      events: Seq[Event]): CheckResult = {
    val want = events.count(_.dlq.isEmpty).toLong
    val got = spark.read.parquet(versionsPath).count()
    CheckResult("version_rows", got == want, s"rows $got; valid events $want")
  }
}
