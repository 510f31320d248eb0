package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ModelStore
import graft.streaming.{RunTags, StreamingAnn, StreamingRelease}

/** Composite "training run" tag contract (VERDICT r14 #3): one fenced
  * name binds the corpus snapshot AND the index snapshot; composite
  * reads are bit-identical to the two single-store reads; a
  * half-tagged name (a crashed tagRun) refuses loudly instead of
  * silently mixing runs; a re-tag moves both halves. */
class RunTagsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val docs = spark.read
    .parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "lang", "text")
  private val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("run tag: composite reads == single-store reads bit-identically; re-tag moves both; half-tagged and unknown names refuse; names fenced", Slow) {
    val dirs = Seq("lm", "hash", "score", "reltag", "store", "codes",
      "idxtag").map(s => Files.createTempDirectory(s"graft-run-$s-"))
    val Seq(lmDir, hashDir, scoreDir, relTagDir, storeDir, codesDir,
      idxTagDir) = dirs
    try {
      // corpus half: three ascending microbatches through the ledgers
      val lmStore = new ModelStore(spark, lmDir.toString)
      llm.TextOps.lmSave(docs, lmStore)
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      val sliced = docs.withColumn("__s", ntile(3).over(w))
        .localCheckpoint(true)
      val ingest = StreamingRelease.releaseIngestBatch(spark, lmStore,
        hashDir.toString, scoreDir.toString) _
      (1 to 3).foreach(s =>
        ingest(sliced.filter(col("__s") === s).drop("__s"), s - 1L))
      // index half: three pmod microbatches under frozen quantizers
      val idxStore = new ModelStore(spark, storeDir.toString)
      llm.Similarity.saveQuantizers(emb, idxStore)
      val vp = StreamingAnn.versionedCodesPath(codesDir.toString,
        idxStore)
      (0 until 3).foreach { b =>
        StreamingAnn.annIngestBatch(spark, idxStore, vp)(
          emb.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong)
      }
      val v = idxStore.currentVersion.get

      RunTags.tagRun(spark, "train-7", relTagDir.toString, 1L,
        idxTagDir.toString, 1L, v)
      assert(RunTags.resolveRun(spark, "train-7", relTagDir.toString,
        idxTagDir.toString) === ((1L, 1L, v)))

      // corpus read: composite == single-store == numeric as-of
      val viaRun = RunTags.manifestAtRun(spark, "train-7",
        scoreDir.toString, relTagDir.toString, idxTagDir.toString)
        .collect().map(_.toString).toSeq
      assert(viaRun === StreamingRelease.releaseManifestAt(spark,
        scoreDir.toString, relTagDir.toString, "train-7")
        .collect().map(_.toString).toSeq)
      assert(viaRun === StreamingRelease.releaseManifest(spark,
        scoreDir.toString, asOf = Some(1L))
        .collect().map(_.toString).toSeq)

      // index read: composite == single-store == numeric as-of
      val qVec = llm.Similarity.queryVecOf(emb, 0L)
      val searchRun = RunTags.searchAtRun(spark, "train-7", idxStore,
        codesDir.toString, relTagDir.toString, idxTagDir.toString,
        qVec, qId = 0L).collect().map(_.toString).toSeq
      assert(searchRun === StreamingAnn.searchAt(spark, idxStore,
        codesDir.toString, idxTagDir.toString, "train-7", qVec,
        qId = 0L).collect().map(_.toString).toSeq)
      assert(searchRun === StreamingAnn.searchIncremental(spark,
        idxStore, vp, qVec, qId = 0L, version = Some(v),
        asOf = Some(1L)).collect().map(_.toString).toSeq)
      val queries = emb.filter(col("vec_id") < 4)
      assert(RunTags.knnJoinAtRun(spark, "train-7", idxStore,
        codesDir.toString, relTagDir.toString, idxTagDir.toString,
        queries).collect().map(_.toString).toSeq ===
        StreamingAnn.knnJoinAt(spark, idxStore, codesDir.toString,
          idxTagDir.toString, "train-7", queries)
          .collect().map(_.toString).toSeq)

      // re-tag moves BOTH halves
      RunTags.tagRun(spark, "train-7", relTagDir.toString, 2L,
        idxTagDir.toString, 2L, v)
      assert(RunTags.resolveRun(spark, "train-7", relTagDir.toString,
        idxTagDir.toString) === ((2L, 2L, v)))
      assert(RunTags.manifestAtRun(spark, "train-7", scoreDir.toString,
        relTagDir.toString, idxTagDir.toString)
        .collect().map(_.toString).toSeq ===
        StreamingRelease.releaseManifest(spark, scoreDir.toString,
          asOf = Some(2L)).collect().map(_.toString).toSeq)

      // the run tag's index half pins version GC with no extra wiring
      assert(StreamingAnn.taggedIndexVersions(spark,
        idxTagDir.toString) === Set(v))

      // HALF-TAGGED (a crashed tagRun: index half landed, release
      // half did not) — every composite read refuses loudly
      StreamingAnn.tagIndexSnapshot(spark, idxTagDir.toString,
        "crashed", 0L, v)
      Seq(
        () => RunTags.resolveRun(spark, "crashed",
          relTagDir.toString, idxTagDir.toString),
        () => RunTags.manifestAtRun(spark, "crashed",
          scoreDir.toString, relTagDir.toString, idxTagDir.toString),
        () => RunTags.searchAtRun(spark, "crashed", idxStore,
          codesDir.toString, relTagDir.toString, idxTagDir.toString,
          qVec)
      ).foreach { f =>
        assert(intercept[IllegalArgumentException](f())
          .getMessage.contains("half-tagged"))
      }
      // unknown in both stores: unknown, not half-tagged
      assert(intercept[IllegalArgumentException] {
        RunTags.resolveRun(spark, "run-99", relTagDir.toString,
          idxTagDir.toString)
      }.getMessage.contains("unknown run"))
      // fencing happens before any write: a bad name lands in NEITHER
      Seq("a/b", "a=b", "..").foreach { bad =>
        assert(intercept[IllegalArgumentException] {
          RunTags.tagRun(spark, bad, relTagDir.toString, 0L,
            idxTagDir.toString, 0L, v)
        }.getMessage.contains("tag"))
      }
    } finally dirs.foreach(ModelStore.deleteRecursively)
  }

  test("run tag: a torn re-tag (mixed generation nonces) refuses; equal generations and pre-nonce halves resolve; single-store reads never see the nonce") {
    val dirs = Seq("reltag", "idxtag")
      .map(s => Files.createTempDirectory(s"graft-torn-$s-"))
    val Seq(relTagDir, idxTagDir) = dirs
    def resolve(n: String) = RunTags.resolveRun(spark, n,
      relTagDir.toString, idxTagDir.toString)
    try {
      RunTags.tagRun(spark, "run-1", relTagDir.toString, 1L,
        idxTagDir.toString, 1L, 5L)
      assert(resolve("run-1") === ((1L, 1L, 5L)))
      // the nonce rides inside the pointer, invisible to single-store reads
      assert(StreamingRelease.resolveTag(spark, relTagDir.toString,
        "run-1") === 1L)
      assert(StreamingAnn.resolveIndexTag(spark, idxTagDir.toString,
        "run-1") === ((1L, 5L)))

      // a re-tag that crashed between its two writes: the index half
      // carries the NEW generation, the release half still the old —
      // both individually valid, so presence alone would serve a MIX
      StreamingAnn.tagIndexSnapshot(spark, idxTagDir.toString, "run-1",
        2L, 6L, Some("2.2.6"))
      assert(intercept[IllegalArgumentException](resolve("run-1"))
        .getMessage.contains("torn"))
      // completing the re-tag repairs it
      RunTags.tagRun(spark, "run-1", relTagDir.toString, 2L,
        idxTagDir.toString, 2L, 6L)
      assert(resolve("run-1") === ((2L, 2L, 6L)))

      // pre-nonce convention: both halves written by single-store
      // calls carry no nonce and resolve (upgrade compatibility)
      StreamingRelease.tagSnapshot(spark, relTagDir.toString,
        "legacy", 3L)
      StreamingAnn.tagIndexSnapshot(spark, idxTagDir.toString,
        "legacy", 3L, 7L)
      assert(resolve("legacy") === ((3L, 3L, 7L)))
      // one bare half beside one nonced half is torn as well: the
      // nonced write happened after the bare one — different tagRuns
      StreamingAnn.tagIndexSnapshot(spark, idxTagDir.toString,
        "legacy", 4L, 8L, Some("4.4.8"))
      assert(intercept[IllegalArgumentException](resolve("legacy"))
        .getMessage.contains("torn"))
    } finally dirs.foreach(ModelStore.deleteRecursively)
  }

  test("re-tagging in a loop never hides the tag from a concurrent pin-set read, on either tier") {
    val dirs = Seq("reltag", "idxtag")
      .map(s => Files.createTempDirectory(s"graft-retag-$s-"))
    val Seq(relTagDir, idxTagDir) = dirs
    // one thread re-tags `run-1` to the same value 2,000 times while
    // another reads the pin set; a GC or fold reading a set without
    // the value would reclaim what the tag protects
    def race(retag: () => Unit, pins: () => Set[Long],
        pinned: Long): String = {
      retag()
      @volatile var done = false
      var (reads, missed, example) = (0L, 0L, "")
      val reader = new Thread(() =>
        while (!done) {
          val miss =
            try Some(pins()).filterNot(_.contains(pinned)).map(_.toString)
            catch { case e: Exception => Some(e.toString) }
          miss.foreach { m => missed += 1; example = m }
          reads += 1
        })
      reader.start()
      try (1 to 2000).foreach(_ => retag())
      finally { done = true; reader.join() } // join publishes the counts
      assert(reads > 0)
      if (missed == 0) ""
      else s"$missed of $reads reads missed it, e.g. $example"
    }
    try {
      val index = race(() => StreamingAnn.tagIndexSnapshot(spark,
          idxTagDir.toString, "run-1", 3L, 7L),
        () => StreamingAnn.taggedIndexVersions(spark, idxTagDir.toString),
        7L)
      val release = race(() => StreamingRelease.tagSnapshot(spark,
          relTagDir.toString, "run-1", 5L),
        () => StreamingRelease.taggedBatches(spark, relTagDir.toString),
        5L)
      assert(index.isEmpty && release.isEmpty,
        s"taggedIndexVersions: $index; taggedBatches: $release")
    } finally dirs.foreach(ModelStore.deleteRecursively)
  }
}
