package graft.store

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Mutable document store over immutable parquet versions (the engine-owned
  * replacement for the reference's App Search engine; SURVEY §3.3).
  *
  * Layout: documents are hash-bucketed by guid; each version writes ONLY the
  * buckets whose content changed and a manifest mapping every bucket to the
  * version directory holding its current data. A `_CURRENT` pointer flips
  * atomically — readers never see partial writes, a crashed writer leaves
  * the previous version intact, and a replayed microbatch rewrites the same
  * deterministic buckets (effectively-once). At 100 TB the per-microbatch
  * write cost is O(changed buckets), not O(store) — the same shape a
  * table-format (Iceberg/Delta) MERGE gives, expressed with primitive
  * parquet + manifest so the engine stays dependency-free.
  *
  * A per-version (guid, hash) summary makes change detection a join against
  * a narrow table instead of a re-read of the previous documents.
  *
  * FILESYSTEM CONTRACT: the metadata pointers (`_CURRENT`, `_NBUCKETS`,
  * `_FORMAT`) are [[Pointer]]s, so the store is local-only with a single
  * writer, as stated there. Data paths that only enumerate, append or
  * delete (the streaming dedup stores, parquet part detection in
  * StreamingJobs) use the Hadoop FS API and are remote-safe. */
class DocumentStore(spark: SparkSession, path: String, nBuckets: Int = 32) {
  private val root = Pointer.localDir(path)
  Files.createDirectories(root)

  // the bucket count is a physical property of the layout: persist it at
  // first write and ADOPT the stored value on reopen — a caller passing a
  // different nBuckets must not silently mis-route guids to wrong buckets
  private val effectiveBuckets: Int =
    Pointer.read(root, "_NBUCKETS").map(_.toInt).getOrElse {
      Pointer.write(root, "_NBUCKETS", nBuckets.toString)
      nBuckets
    }

  private def bucketOf: Column = pmod(hash(col("guid")), lit(effectiveBuckets))

  // --- store format version. v2 = bucket-partitioned hash summaries that
  // carry breadcrumbGuid (the pruned path's descendant index). A store
  // written entirely by older code has no marker → v1: its flat hash files
  // are still READ (see readSummary fallback — change detection must not
  // silently treat every guid as changed), but the pruned apply path is
  // refused (its summaries lack the descendant index) until a full write()
  // upgrades the store. A fresh store is v2 from the start. ---
  private def markFormat(): Unit =
    if (Pointer.read(root, "_FORMAT").isEmpty)
      Pointer.write(root, "_FORMAT", "2")
  if (currentVersion.isEmpty) markFormat() // fresh store: all writes are v2

  /** 2 when every hash summary is bucket-partitioned with a breadcrumb
    * index (pruned reads are safe); 1 for a store begun by older code. */
  def formatVersion: Int = Pointer.read(root, "_FORMAT").fold(1)(_.toInt)

  def currentVersion: Option[Long] =
    Pointer.read(root, "_CURRENT").map(_.toLong)

  // --- manifest: one line per bucket, "bucket=version" ---
  private def manifestPath(v: Long) = root.resolve(s"manifest-$v.txt")

  private def readManifest(v: Long): Map[Int, Long] =
    Files.readAllLines(manifestPath(v)).asScala.filter(_.nonEmpty).map { l =>
      val Array(b, ver) = l.split("="); b.toInt -> ver.toLong
    }.toMap

  private def writeManifest(v: Long, m: Map[Int, Long]): Unit =
    Files.writeString(manifestPath(v),
      m.toSeq.sorted.map { case (b, ver) => s"$b=$ver" }.mkString("\n"))

  private def bucketDir(ver: Long, b: Int) =
    root.resolve(s"v$ver").resolve(s"_bucket=$b")

  /** Current documents (empty-store reads reconstruct from saved schema).
    * Buckets are read per owning version directory (each with its own
    * basePath — partition discovery must not cross version roots).
    * `buckets` restricts the read to a bucket subset: only those buckets'
    * files are listed and scanned (the pruned per-microbatch path). */
  def read(buckets: Option[Set[Int]] = None): Option[DataFrame] =
    currentVersion.map { v =>
      val frames = readManifest(v).toSeq
        .filter { case (b, _) => buckets.forall(_.contains(b)) }
        .groupBy(_._2).toSeq.sortBy(_._1)
        .flatMap { case (ver, entries) =>
          val dirs = entries.map { case (b, _) => bucketDir(ver, b) }
            .filter(Files.isDirectory(_)).map(_.toString)
          if (dirs.isEmpty) None
          else Some(spark.read
            .option("basePath", root.resolve(s"v$ver").toString)
            .parquet(dirs: _*).drop("_bucket"))
        }
      frames.reduceOption(_.unionByName(_)).getOrElse {
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(Files.readString(root.resolve(s"schema-$v.json")))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      }
    }

  def readOrElse(bootstrap: => DataFrame): DataFrame =
    read().getOrElse(bootstrap)

  /** Bucket ids owning the given guids — one tiny collect, bounded by
    * nBuckets. The router from a message batch to the buckets it can read. */
  def bucketIdsOf(guids: DataFrame): Set[Int] =
    guids.select(bucketOf.cast("int").as("b")).distinct()
      .collect().map(_.getInt(0)).toSet

  // --- change detection: deterministic row hash (maps via sorted entries).
  // The summary also carries two narrow secondary indexes that let the
  // pruned apply path route a batch WITHOUT reading document data:
  // breadcrumbGuid (ancestors → a cascade's descendants) and linkedGuids
  // (derivedGuids targets → the docs a rename's derived-field rewrite
  // touches, G18). ---
  private def withHash(docs: DataFrame): DataFrame = {
    val canon = docs.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name))).as(f.name)
        case _ => col(f.name)
      }
    }
    val bc =
      if (docs.columns.contains("breadcrumbGuid")) col("breadcrumbGuid")
      else array().cast("array<string>")
    val linked =
      if (docs.columns.contains("derivedGuids"))
        map_values(col("derivedGuids"))
      else array().cast("array<string>")
    docs.select(col("guid"), md5(to_json(struct(canon: _*))).as("_h"),
      bc.as("breadcrumbGuid"), linked.as("linkedGuids"))
  }

  private def hashesPath(v: Long) = root.resolve(s"hashes-$v")
  private def hashBucketDir(ver: Long, b: Int) =
    hashesPath(ver).resolve(s"_bucket=$b")

  /** Current (guid, _h, breadcrumbGuid) summary, optionally restricted to a
    * bucket subset. Hash files are bucket-partitioned and owned by the same
    * manifest as the data, so a restricted read lists only those buckets'
    * hash files and an untouched bucket's hash file is never rewritten.
    *
    * Legacy fallback: a version written by pre-v2 code holds ONE flat
    * hashes-<v> parquet dir (no _bucket= subdirs, no breadcrumbGuid). Those
    * rows are still read — with the bucket restriction applied as a filter
    * and breadcrumbGuid padded null — so change detection against an old
    * store compares real hashes instead of silently rewriting everything. */
  def readSummary(buckets: Option[Set[Int]] = None): Option[DataFrame] =
    currentVersion.map { v =>
      // older summaries may predate an index column: pad it null so unions
      // across versions line up (the pruned path is format-gated anyway)
      def pad(df: DataFrame): DataFrame =
        Seq("breadcrumbGuid", "linkedGuids").foldLeft(df) { (d, c) =>
          if (d.columns.contains(c)) d
          else d.withColumn(c, lit(null).cast("array<string>"))
        }
      val frames = readManifest(v).toSeq
        .filter { case (b, _) => buckets.forall(_.contains(b)) }
        .groupBy(_._2).toSeq.sortBy(_._1)
        .flatMap { case (ver, entries) =>
          val dirs = entries.map { case (b, _) => hashBucketDir(ver, b) }
            .filter(Files.isDirectory(_)).map(_.toString)
          def isFlat = Files.isDirectory(hashesPath(ver)) &&
            !Files.list(hashesPath(ver)).iterator().asScala
              .exists(_.getFileName.toString.startsWith("_bucket="))
          if (dirs.nonEmpty)
            Some(pad(spark.read
              .option("basePath", hashesPath(ver).toString)
              .parquet(dirs: _*).drop("_bucket")))
          else if (isFlat) {
            // legacy flat layout: each version's flat file is a FULL-store
            // snapshot, so restrict it to the buckets this version OWNS in
            // the manifest (rows for buckets since rewritten elsewhere are
            // stale there) by recomputing the bucket id
            val owned = entries.map(_._1)
            Some(pad(spark.read.parquet(hashesPath(ver).toString)
              .filter(bucketOf.cast("int").isin(owned: _*))))
          } else None
        }
      frames.reduceOption(_.unionByName(_)).getOrElse {
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("guid", StringType),
            StructField("_h", StringType),
            StructField("breadcrumbGuid", ArrayType(StringType)),
            StructField("linkedGuids", ArrayType(StringType)))))
      }
    }

  /** Guids whose document changed vs the stored summary — includes
    * deletions (old guid absent from `docs`). A narrow full-outer join
    * against the (guid, hash) summary; the old documents are NOT re-read.
    * With `buckets`, both sides are restricted to that subset: `docs` must
    * then be the post-batch state of exactly those buckets. */
  def changedGuids(docs: DataFrame,
      buckets: Option[Set[Int]] = None): DataFrame =
    readSummary(buckets) match {
      case None => docs.select("guid")
      case Some(oldSummary) =>
        withHash(docs).select(col("guid"), col("_h"))
          .join(oldSummary.select(col("guid"), col("_h").as("_hOld")),
            Seq("guid"), "full_outer")
          .filter(col("_h").isNull || col("_hOld").isNull ||
            col("_h") =!= col("_hOld"))
          .select("guid")
    }

  /** Full write: every bucket lands in this version's directory. */
  def write(docs: DataFrame): Long = {
    val next = currentVersion.getOrElse(-1L) + 1
    docs.withColumn("_bucket", bucketOf)
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
      .parquet(root.resolve(s"v$next").toString)
    withHash(docs).withColumn("_bucket", bucketOf)
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
      .parquet(hashesPath(next).toString)
    Files.writeString(root.resolve(s"schema-$next.json"), docs.schema.json)
    writeManifest(next, (0 until effectiveBuckets).map(_ -> next).toMap)
    markFormat() // a full write leaves every summary bucketed+indexed → v2
    Pointer.write(root, "_CURRENT", next.toString)
    next
  }

  /** Bucket-local write: only buckets containing a changed/deleted guid are
    * rewritten — data AND hash summary; untouched buckets stay in their
    * previous version directory, byte-identical (S4 at scale — VERDICT
    * r1 #8, r2 #1). `docs` may be the whole store or just the loaded
    * bucket subset (changed buckets are always a subset of loaded ones). */
  def writeIncremental(docs: DataFrame, changed: DataFrame): Long =
    currentVersion match {
      case None => write(docs)
      case Some(v) =>
        val next = v + 1
        val changedBuckets = changed
          .select(bucketOf.cast("int").as("b")).distinct()
          .collect().map(_.getInt(0)).toSet // bounded by nBuckets
        if (changedBuckets.isEmpty) return v // no-op batch
        docs.withColumn("_bucket", bucketOf)
          .filter(col("_bucket").isin(changedBuckets.toSeq: _*))
          .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
          .parquet(root.resolve(s"v$next").toString)
        withHash(docs).withColumn("_bucket", bucketOf)
          .filter(col("_bucket").isin(changedBuckets.toSeq: _*))
          .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
          .parquet(hashesPath(next).toString)
        Files.writeString(root.resolve(s"schema-$next.json"), docs.schema.json)
        val prev = readManifest(v)
        writeManifest(next,
          prev ++ changedBuckets.map(_ -> next))
        Pointer.write(root, "_CURRENT", next.toString)
        next
    }

  /** Detect changes and write them bucket-locally in one call (docs =
    * whole post-batch store: change DETECTION still hashes everything —
    * use syncBuckets for the per-microbatch pruned path). */
  def sync(docs: DataFrame): Long = writeIncremental(docs, changedGuids(docs))

  /** Pruned sync: `docs` is the post-batch state of ONLY the `loaded`
    * buckets. Hashing, change detection, and writes all stay inside that
    * subset — a 1-doc batch hashes, compares, and rewrites exactly one
    * bucket's data + hash files. */
  def syncBuckets(docs: DataFrame, loaded: Set[Int]): Long =
    writeIncremental(docs, changedGuids(docs, Some(loaded)))

  /** Drop version directories (and their manifests/hashes/schemas) that are
    * no longer reachable from the manifests of the last `keepVersions`
    * versions. Bucket dirs referenced by a retained manifest survive even
    * when their owning version is older than the horizon (that is the point
    * of the manifest layout — untouched buckets are never rewritten). */
  def vacuum(keepVersions: Int = 2): Unit = currentVersion.foreach { v =>
    // 0 would treat even the CURRENT manifest's bucket dirs as unreachable
    require(keepVersions >= 1, "vacuum must retain at least the current version")
    val retained = (math.max(0L, v - keepVersions + 1) to v).toSet
    // a previous vacuum with a smaller horizon may have pruned a retained
    // version's manifest already — missing manifests contribute no refs
    val referenced = retained.filter(rv => Files.exists(manifestPath(rv)))
      .flatMap(rv => readManifest(rv).values)
    val deletableVersions = (0L until v)
      .filterNot(retained.contains).filterNot(referenced.contains)
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    deletableVersions.foreach { dv =>
      rmTree(root.resolve(s"v$dv"))
      rmTree(hashesPath(dv))
      Files.deleteIfExists(manifestPath(dv))
      Files.deleteIfExists(root.resolve(s"schema-$dv.json"))
    }
    // prune non-retained metadata for versions whose data dir is referenced
    // (hash files are manifest-owned like data: keep them alongside)
    (0L until v).filterNot(retained.contains).filter(referenced.contains)
      .foreach { dv =>
        Files.deleteIfExists(manifestPath(dv))
        Files.deleteIfExists(root.resolve(s"schema-$dv.json"))
      }
  }
}
