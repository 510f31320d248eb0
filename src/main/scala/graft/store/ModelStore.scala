package graft.store

import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned store for TRAINED ARTIFACTS — the train-once / serve-many
  * shape of a deployable engine (VERDICT r6 #1). The reference
  * externalizes ALL durable state to an index the jobs re-read
  * (`/root/reference/scripts/publish_state_job.py:77-84`); this applies
  * that design point to the LLM-ops models: IVF centroids + PQ codebooks
  * + codes, BPE merge tables, bigram-LM counts, classifier weights.
  * Training a 100 TB corpus's quantizer/tokenizer/LM inside every query
  * is the one shape that cannot ship — the index is built once, versioned,
  * and served many times.
  *
  * Layout: `v<N>/<part>/` parquet directories plus a `_CURRENT`
  * [[Pointer]] (see its FILESYSTEM CONTRACT: local, single writer). A
  * model version is SELF-CONTAINED: every part is rewritten on save
  * (models are small — vocabulary / k·dim / m·k·sub bounded — so there is
  * nothing to share across versions, unlike document buckets). A crashed
  * save leaves `_CURRENT` on the previous complete version; a
  * half-written v<N> dir is invisible and overwritten by the next save.
  * Parquet round-trips preserve doubles and longs bit-exactly, so serving
  * from the store is bit-identical to serving the in-memory training
  * output (ModelStoreSpec pins this byte-for-byte).
  */
class ModelStore(spark: SparkSession, path: String) {
  private val root = Pointer.localDir(path)
  Files.createDirectories(root)

  /** The store's root directory — the cache key for per-version
    * metadata (a saved version is immutable, so (rootPath, version)
    * identifies its parts' content forever). */
  private[graft] def rootPath: String = root.toAbsolutePath.toString

  def currentVersion: Option[Long] =
    Pointer.read(root, "_CURRENT").map(_.toLong)

  private def partDir(v: Long, part: String) =
    root.resolve(s"v$v").resolve(part)

  /** Persist a complete model version (every named part) and flip the
    * pointer. Returns the version written. `partitioned` maps a part
    * name to hive-style partition columns for its parquet layout — the
    * data-sized parts want it (an IVF index's codes partition by cell,
    * so a probe reads nprobe/nlist of the directories instead of
    * scanning everything); the centroid-sized parts don't.
    *
    * `copied` maps a part name to the (store, version) whose on-disk
    * part directory is copied FILE-FOR-FILE instead of round-tripping
    * through a Spark read + write — the fast path for parts a new
    * version carries UNCHANGED (a compaction's quantizers, a clone's
    * everything). A byte-identical copy is strictly stronger than the
    * parquet round-trip the spec already pins bit-exact, and it costs
    * zero Spark jobs where the round-trip paid a full read job plus a
    * write job per part (optimization guide §6: don't rewrite bytes
    * that didn't change). Partition layout travels with the files.
    *
    * The DataFrame parts write CONCURRENTLY (guide §2.6 — independent
    * jobs overlap instead of serializing their per-job scheduling and
    * commit overhead; each part lands in its own directory so the
    * writes share nothing). Failure of any write fails the save before
    * the pointer flip, exactly as the sequential loop did. */
  def save(parts: Map[String, DataFrame],
      partitioned: Map[String, Seq[String]] = Map.empty,
      copied: Map[String, (ModelStore, Long)] = Map.empty): Long = {
    require(parts.nonEmpty || copied.nonEmpty,
      "a model version must have at least one part")
    require(parts.keySet.intersect(copied.keySet).isEmpty,
      s"parts both written and copied: ${parts.keySet & copied.keySet}")
    (parts.keys ++ copied.keys).foreach { p =>
      require(p.nonEmpty && !p.contains('/') && !p.startsWith("_"),
        s"bad part name '$p'")
    }
    val next = currentVersion.getOrElse(-1L) + 1
    // a crashed save leaves a half-written v<next> dir; per-part
    // Overwrite only replaces parts THIS save also writes, so an
    // orphan part from the crashed attempt would survive into the
    // completed version (ADVICE r14 — with the correctness-critical
    // `folded` part, a crashed compaction followed by a non-folding
    // save could ship a stale fold watermark that silently
    // partition-prunes never-folded batches). Clear the orphan dir
    // first: a completed version contains exactly its own parts.
    ModelStore.deleteRecursively(root.resolve(s"v$next"))
    copied.foreach { case (name, (src, srcV)) =>
      val from = src.partDir(srcV, name)
      require(Files.isDirectory(from),
        s"copied part '$name' missing at ${src.rootPath} v$srcV")
      ModelStore.copyRecursively(from, partDir(next, name))
    }
    // a copied part's bytes ARE the source part's, so its read-back
    // schema is the source's resolved schema exactly — when the source
    // frame is already cached, pre-resolve the copy's frame with that
    // schema so the new version's first load skips the per-part
    // schema-inference job (guide §1.2; the clone-bootstrapped gates
    // paid ~15 such jobs per call). Applied only AFTER the pointer
    // flip below: the loadCache invariant is that only COMMITTED
    // versions cache (a failed save's v<next> can be cleared and
    // rewritten by a retry).
    lazy val copiedFrames = copied.toSeq.flatMap { case (name, (src, srcV)) =>
      Option(ModelStore.loadCache.get((spark, src.rootPath, srcV, name)))
        .map(f => name -> f.schema)
    }
    def writePart(name: String, df: DataFrame): Unit = {
      val dir = partDir(next, name)
      partitioned.get(name).filter(_.nonEmpty) match {
        case Some(cols) =>
          // a partitioned write of ZERO rows produces no files at all —
          // the read-back cannot even infer a schema. Quantizer-only
          // versions (empty data parts, the distributed-build first
          // step) hit exactly this, so a part whose partitioned write
          // came out file-less is REWRITTEN in the plain layout, which
          // writes a schema-bearing empty file; the partition column
          // stays a normal column, so readers see the same shape either
          // way. Detecting emptiness AFTER the write (one driver
          // directory listing) costs nothing on the common non-empty
          // path — the previous pre-write df.isEmpty launched an extra
          // Spark job per partitioned part, re-evaluating computed
          // frames like the compaction union (ADVICE r12).
          df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*)
            .parquet(dir.toString)
          val hasData = scala.util.Using.resource(Files.list(dir))(
            _.iterator().asScala.exists { p =>
              val n = p.getFileName.toString
              !n.startsWith("_") && !n.startsWith(".")
            })
          if (!hasData)
            df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
        case None =>
          df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
      }
    }
    if (parts.size <= 1) parts.foreach { case (n, df) => writePart(n, df) }
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ModelStore.saveEc
      val fs = parts.toSeq.map { case (n, df) =>
        Future(writePart(n, df))
      }
      // await ALL writes even when one fails (lift to Try, rethrow the
      // first failure after the barrier): a fail-fast Await would
      // return with detached writers still mutating v$next, and a retry
      // save computing the same `next` races its orphan-dir clear
      // against them — leftover files could land after the clear and
      // survive into the completed version (ADVICE r15)
      val settled = Await.result(
        Future.sequence(fs.map(_.map(scala.util.Success(_))
          .recover { case e => scala.util.Failure(e) })),
        Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => throw e }
    }
    Pointer.write(root, "_CURRENT", next.toString)
    copiedFrames.foreach { case (name, schema) =>
      ModelStore.loadCache.computeIfAbsent((spark, rootPath, next, name),
        _ => spark.read.schema(schema).parquet(partDir(next, name).toString))
    }
    next
  }

  /** Copy `from`'s CURRENT version into this store as a new version —
    * the zero-training bootstrap for gates that must own a MUTABLE
    * store (version GC, compaction) but whose trained artifacts equal
    * a process-shared read-only store's. Serves from the clone are
    * bit-identical to serves from the source: parquet round-trips
    * preserve longs/doubles exactly and save() rewrites every part
    * (ModelStoreSpec pins the round-trip byte-for-byte).
    *
    * One part is deliberately NOT cloned: a `folded` fold watermark.
    * The watermark names the max batch folded into the SOURCE's base
    * from the source's increment/tombstone stream; a clone starts a
    * new lifecycle against its own (fresh) batch stores, where a
    * copied watermark would partition-prune batches that were never
    * folded here — silently dropping rows and resurrecting takedowns,
    * the exact staleness the watermark exists to prevent. The clone's
    * serves therefore start at watermark −1 (prune nothing). */
  def cloneCurrentFrom(from: ModelStore): Long = {
    val v = from.currentVersion.getOrElse(throw new IllegalStateException(
      s"clone source ${from.rootPath} is empty"))
    // byte-identical file copy, zero Spark jobs: the clone's parts ARE
    // the source's parquet files — whatever partition layout the source
    // wrote travels with them, so there is no `partitioned` parameter
    // (ADVICE r15: the dead parameter misled callers into expecting a
    // re-layout the copy never performs)
    save(Map.empty,
      copied = from.partNamesAt(v).filterNot(_ == "folded")
        .map(p => p -> (from, v)).toMap)
  }

  /** Part names of the current version. */
  def partNames: Seq[String] = currentVersion match {
    case None => Seq.empty
    case Some(v) => partNamesAt(v)
  }

  /** Part names of a PINNED version (the [[loadAt]] companion). */
  def partNamesAt(v: Long): Seq[String] =
    if (!Files.isDirectory(root.resolve(s"v$v"))) Seq.empty
    else // close the directory stream — fd leak otherwise
      scala.util.Using.resource(Files.list(root.resolve(s"v$v")))(
        _.iterator().asScala
          .filter(Files.isDirectory(_))
          .map(_.getFileName.toString).toSeq.sorted)

  /** Read a part of the current version (serving path). */
  def load(part: String): DataFrame = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"model store $path is empty"))
    loadAt(v, part)
  }

  /** Read a part of a PINNED version — reproducibility: a long-running
    * scoring job keeps reading the version it started with even if a
    * retrain flips `_CURRENT` mid-flight.
    *
    * The resolved FRAME (plan: schema + file listing, never data) is
    * cached per (session, root, version, part) for COMMITTED versions:
    * a version at or below `_CURRENT` is immutable, so re-resolving it
    * paid one schema-inference job per load — the incremental gates
    * load the same model parts once per microbatch, which the profiler
    * measured at ~10 such jobs per gate (guide §1.2). Uncommitted
    * versions (a save in flight can clear and rewrite v<next>) resolve
    * fresh. Same invariant as the dials cache: store roots are never
    * recreated in-process (scratch/shared stores use unique temp dirs),
    * and a GC'd version's cached frame fails at scan exactly as loudly
    * as a fresh load would fail at resolve. */
  def loadAt(v: Long, part: String): DataFrame = {
    val dir = partDir(v, part)
    require(Files.isDirectory(dir),
      s"model store $path v$v has no part '$part'")
    if (currentVersion.exists(v <= _))
      ModelStore.loadCache.computeIfAbsent(
        (spark, rootPath, v, part), _ => spark.read.parquet(dir.toString))
    else spark.read.parquet(dir.toString)
  }

  /** Every version present on disk (ascending) — complete and
    * half-written alike (a crashed save's orphan dir is exactly what
    * retention wants to reclaim). */
  def versions: Seq[Long] =
    scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala
        .filter(Files.isDirectory(_))
        .flatMap(p => {
          val n = p.getFileName.toString
          if (n.startsWith("v")) n.stripPrefix("v").toLongOption else None
        })
        .toSeq.sorted)

  /** VERSION RETENTION (VERDICT r13 #1): delete superseded version
    * directories, keeping `_CURRENT`, every version in `pinned`, and
    * the `keepLast` newest. Every save writes a FULL self-contained
    * version (the corpus-sized data parts included) and nothing ever
    * deleted one — with the maintenance loop auto-firing compaction,
    * a long-running deployment leaked one full index copy per
    * compaction, forever. The reference's analogue state is maintained
    * in place and never accumulates copies
    * (`/root/reference/scripts/publish_state_job.py:77-84`).
    *
    * CONTRACT (the caller owns the pin set): a version handed to a
    * long-running [[loadAt]] reader, or named by a snapshot tag, must
    * be in `pinned` (or within the `keepLast` window) for as long as
    * that reader lives — GC cannot see remote readers, exactly like
    * table-format snapshot expiry. `_CURRENT` and pinned versions are
    * never deleted regardless of `keepLast`. Returns the versions
    * actually deleted (their directories are gone on return). */
  def gcVersions(keepLast: Int = 2,
      pinned: Set[Long] = Set.empty): Seq[Long] = {
    require(keepLast >= 1, s"keepLast=$keepLast must keep at least one")
    val vs = versions
    val cur = currentVersion
    // the keepLast window counts COMPLETE versions only (<= _CURRENT).
    // A dir above _CURRENT is a crash orphan — a save died after its
    // part writes, before the pointer flip — and save() will clear it
    // anyway before reusing its number; counting it in the window
    // both shielded the orphan forever (it is always among the newest)
    // and burned a keepLast slot, reclaiming the oldest complete
    // in-window version one flip early (ADVICE r14). Orphans are
    // reclaimable outright; `pinned` still protects defensively (a pin
    // is a caller promise — honor it even when it looks stale).
    val complete = cur match {
      case Some(c) => vs.filter(_ <= c)
      case None => Seq.empty // no _CURRENT: every dir is an orphan
    }
    val keep = complete.takeRight(keepLast).toSet ++ cur ++ pinned
    val dead = vs.filterNot(keep)
    dead.foreach(v => ModelStore.deleteRecursively(root.resolve(s"v$v")))
    dead
  }
}

object ModelStore {
  /** Build-use-discard harness for the oracle's persisted-artifact
    * queries: train into a scratch store, serve the result OUT OF the
    * store, materialize it (eager local checkpoint — row content AND
    * partition order survive the store's deletion), then delete the
    * scratch directory. Proves persisted == in-query by construction:
    * the served frame literally read its model from parquet. */
  def scratch(spark: SparkSession, tag: String)
      (body: ModelStore => DataFrame): DataFrame = {
    val dir = Files.createTempDirectory(s"graft-$tag-")
    try graft.Materialize.checkpoint(body(new ModelStore(spark, dir.toString)))
    finally deleteRecursively(dir)
  }

  // process-level shared trained-model cache: key → store directory.
  // ConcurrentHashMap.computeIfAbsent gives per-key(-bin) locking: two
  // threads building DIFFERENT models (the IVF-PQ index and the BPE
  // tokenizer, say) train concurrently instead of serializing behind a
  // global lock; same-key callers still build exactly once (review r9)
  private val sharedDirs =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], String]()

  // resolved-frame cache for COMMITTED (immutable) version parts: the
  // DataFrame plan object only — schema + file listing — never row data,
  // so every consumer still scans the parquet files (no result caching).
  // Keyed by session identity so tests with their own sessions never see
  // another session's frames.
  private val loadCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, String), DataFrame]()

  /** Process-level cache of TRAINED models — the [[ArtifactCache]]
    * discipline applied to model directories. Key = source-table
    * content fingerprints + training dials; the first caller trains
    * into a fresh directory, every later caller serves from it with
    * ZERO training jobs — the train-once / serve-many shape applied
    * across queries in the same process, exactly what a model registry
    * does per corpus version in production. Training must be
    * deterministic (all graft trainers are — derandomized seeding,
    * fixed fold orders), so consumers cannot observe which path ran.
    * Each `*_persisted` gate row keeps its own [[scratch]] build so
    * the BUILD cost stays a measured benchmark row while serve-only
    * consumers ride the cache. Directories are reclaimed at JVM exit
    * (the artifact-cache shutdown hook). */
  def shared(spark: SparkSession, key: Seq[String])
      (train: ModelStore => Unit): ModelStore = {
    val dir = sharedDirs.computeIfAbsent(key, _ => {
      val d = java.nio.file.Files
        .createTempDirectory("graft-model-").toString
      ArtifactCache.trackDir(d)
      train(new ModelStore(spark, d)) // throws → nothing cached
      d
    })
    new ModelStore(spark, dir)
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) // close the walk stream — fd leak otherwise
      scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))

  /** Recursive file copy for the [[ModelStore]] `copied`-parts fast
    * path — parquet directories copy byte-identically (data files,
    * partition subdirs, and the `_SUCCESS` marker alike). */
  private[graft] def copyRecursively(from: java.nio.file.Path,
      to: java.nio.file.Path): Unit = {
    Files.createDirectories(to.getParent)
    scala.util.Using.resource(Files.walk(from))(
      _.iterator().asScala.foreach { src =>
        val dst = to.resolve(from.relativize(src))
        if (Files.isDirectory(src)) Files.createDirectories(dst)
        else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      })
  }

  // bounded pool for concurrent part writes: Spark actions block their
  // submitting thread, so the pool size caps concurrent write jobs, not
  // tasks — 4 overlapping tiny writes amortize scheduling/commit
  // latency without flooding the scheduler (guide §2.6's "2-3 in
  // flight is plenty" rule)
  /** Shared pool for overlapping independent TRAINING chains (the
    * guide §2.6 discipline) — separate from [[saveEc]] so a save's
    * part writes can't starve a concurrent trainer (or vice versa). */
  private[graft] lazy val trainEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        r => {
          val t = new Thread(r, "modelstore-train")
          t.setDaemon(true)
          t
        }))

  private[store] lazy val saveEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        r => {
          val t = new Thread(r, "modelstore-save")
          t.setDaemon(true)
          t
        }))
}
