package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ModelStore

/** The train-once/serve-many contract (VERDICT r6 #1): every trained
  * artifact round-trips the versioned [[ModelStore]] byte-exactly, and
  * serving from the store is bit-identical to the train-inline path
  * (the oracle gate additionally pins the persisted queries against the
  * in-query oracles at sf0.01). */
class ModelStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withStore[T](body: ModelStore => T): T = {
    val dir = Files.createTempDirectory("graft-modelstore-spec-")
    try body(new ModelStore(spark, dir.toString))
    finally {
      // best-effort cleanup via the store object's own helper
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  /** Exact frame equality: same schema field names/types, same multiset
    * of rows (compared on a canonical sort of the stringified rows —
    * doubles printed via toString round-trip bits for finite values). */
  private def assertSameFrame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      b.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val sa = a.collect().map(_.toString).sorted
    val sb = b.collect().map(_.toString).sorted
    assert(sa.toSeq === sb.toSeq)
  }

  test("save/load round-trips longs and doubles byte-exactly, versions advance, old versions stay readable") {
    withStore { store =>
      assert(store.currentVersion.isEmpty)
      assert(store.partNames.isEmpty)
      import spark.implicits._
      val w1 = Seq((1, 3L, 0.1 + 0.2), (2, -7L, 1e-300)).toDF("k", "n", "x")
      val v0 = store.save(Map("weights" -> w1))
      assert(v0 === 0L)
      assert(store.currentVersion === Some(0L))
      assert(store.partNames === Seq("weights"))
      // bit-exact round trip, including a non-representable double
      assertSameFrame(store.load("weights"), w1)
      val bits = store.load("weights").filter($"k" === 1)
        .collect()(0).getDouble(2)
      assert(java.lang.Double.doubleToRawLongBits(bits) ===
        java.lang.Double.doubleToRawLongBits(0.1 + 0.2))
      // retrain: new version becomes current; the pinned old version
      // still serves (a long scoring job survives a mid-flight retrain)
      val w2 = Seq((1, 4L, 2.5)).toDF("k", "n", "x")
      val v1 = store.save(Map("weights" -> w2, "extra" -> w1))
      assert(v1 === 1L)
      assert(store.partNames === Seq("extra", "weights"))
      assertSameFrame(store.load("weights"), w2)
      assertSameFrame(store.loadAt(0L, "weights"), w1)
      // missing part / empty store fail loud
      intercept[IllegalArgumentException](store.load("nope"))
    }
  }

  test("part names are validated") {
    withStore { store =>
      import spark.implicits._
      val df = Seq(1).toDF("x")
      intercept[IllegalArgumentException](store.save(Map("" -> df)))
      intercept[IllegalArgumentException](store.save(Map("a/b" -> df)))
      intercept[IllegalArgumentException](store.save(Map("_cur" -> df)))
      intercept[IllegalArgumentException](store.save(Map.empty))
    }
  }

  test("persisted IVF-PQ index serves bit-identically to the in-query search", Slow) {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val inline = llm.Similarity.ivfPqSearch(emb).collect().map(_.toString)
    withStore { store =>
      llm.Similarity.saveIvfPqIndex(emb, store)
      // all six artifacts present (vectors = the exact-rerank payload,
      // dials = the build's own nlist/spill/m/k record)
      assert(store.partNames ===
        Seq("cells", "coarse", "codebooks", "codes", "dials", "vectors"))
      val served = llm.Similarity
        .ivfPqSearchPersisted(store, llm.Similarity.queryVecOf(emb, 0L),
          qId = 0L)
        .collect().map(_.toString)
      assert(served.toSeq === inline.toSeq)
    }
  }

  test("annRecall: monotone in nprobe; recall >= 0.8 at the exhaustive probe (sf0.01)", Slow) {
    // the r8 measurement surfaced recall 0.1–0.2, NON-monotone in
    // nprobe: ADC ranked by squared L2 over unnormalized vectors while
    // truth is cosine. Normalize-at-ingest plus the per-cell-shortlist
    // + exact-rerank serving path (VERDICT r8 #2) makes the candidate
    // sets nested in nprobe and the final ranking exact over the
    // shortlist, so recall is monotone and lands at the rerank ceiling
    // instead of the raw PQ-quantization floor.
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val rows = llm.Similarity.annRecall(spark, dir).collect()
      assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4))
      val recalls = rows.map(_.getDouble(3))
      recalls.foreach(r => assert(r >= 0.0 && r <= 1.0, recalls.toSeq))
      assert(recalls.sliding(2).forall(p => p(0) <= p(1)),
        s"recall not monotone in nprobe at $dir: ${recalls.toSeq}")
      assert(recalls.last >= 0.8,
        s"exhaustive-probe recall below 0.8 at $dir: ${recalls.toSeq}")
    }
  }

  test("annRecallAuto: sqrt(N) dial, sample-trained, spilled, monotone, recall >= 0.9 in the sweep at every SF", Slow) {
    // the production dials (VERDICT r9 #2, r10 #1): nlist =
    // clamp(ceil(sqrt(N)), 4, trainN/39) over a quantizer trained on the
    // vec_id % 2 != 0 slice only, with each vector spilled into its
    // clamp(nlist/6, 1, 4) nearest cells and the rerank budget scaled
    // x spill. Round 10 proved NO single-assignment quantizer reaches
    // 0.9 here: at nlist=25 the true top-10 (cosine 0.3-0.4) scatter
    // across up to 20 cells, so an 8-cell probe ceilings at ~0.7
    // regardless of seeding/iterations; boundary replication (the
    // SPANN/ScaNN move) is what buys the rest.
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val expectK = llm.Similarity.autoNlist(n,
        emb.filter(col("vec_id") % 2 =!= 0).count())
      val rows = llm.Similarity.annRecallAuto(spark, dir).collect()
      assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
      // both dial rules are in the output — a rule change is visible
      assert(rows.map(_.getInt(1)).distinct.toSeq == Seq(expectK),
        s"n_cells mismatch at $dir")
      assert(rows.map(_.getInt(2)).distinct.toSeq ==
        Seq(llm.Similarity.autoSpill(expectK)),
        s"spill mismatch at $dir")
      val recalls = rows.map(_.getDouble(5))
      assert(recalls.sliding(2).forall(p => p(0) <= p(1)),
        s"recall not monotone in nprobe at $dir: ${recalls.toSeq}")
      assert(recalls.max >= 0.9,
        s"no swept nprobe reached recall 0.9 at $dir: ${recalls.toSeq}")
    }
  }

  test("residual-PQ recall dominates raw-PQ recall at every swept nprobe (the FAISS residual-encoding claim)", Slow) {
    // same dials, same probe budget, same storage: the residual
    // distribution is tighter than the raw one, so m·log2(k) bits
    // quantize it with less error and the ADC shortlist keeps more
    // true neighbors. At sf0.1 the measured lift is 0.7 -> 0.9 flat.
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val raw = llm.Similarity.annRecall(spark, dir).collect()
        .map(r => r.getInt(0) -> r.getDouble(3)).toMap
      val res = llm.Similarity.annRecall(spark, dir, variant = "residual")
        .collect()
        .map(r => r.getInt(0) -> r.getDouble(3)).toMap
      assert(res.keySet === raw.keySet)
      raw.foreach { case (np, rr) =>
        assert(res(np) >= rr,
          s"residual recall below raw at $dir nprobe=$np: ${res(np)} < $rr")
      }
      val sweep = res.toSeq.sortBy(_._1).map(_._2)
      assert(sweep.sliding(2).forall(p => p(0) <= p(1)),
        s"residual recall not monotone at $dir: $sweep")
      assert(sweep.last >= 0.8, s"residual recall low at $dir: $sweep")
    }
  }

  test("the one entry point serves a raw and a residual store, each equal to the pre-merge variant-specific output") {
    // outputs recorded from the former separate raw and residual
    // serve/encode paths, before they were folded into one (same
    // sf0.001 corpus, same dials): the variant-threaded bodies must
    // reproduce each one exactly. A
    // small rerank budget keeps the ADC tables decisive, so a residual
    // store scored with raw tables (or vice versa) would not match.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = llm.Similarity.queryVecOf(emb, 0L)
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    val expected = Map(
      "raw" -> Seq(
        Seq("[12,0.311027232]", "[232,0.267338434]", "[468,0.219540089]",
          "[338,0.079863688]", "[119,0.068351782]", "[307,0.04303779]"),
        Seq("[0,12,0.311027232,1]", "[0,232,0.267338434,2]",
          "[0,468,0.219540089,3]", "[1,257,0.391762028,1]",
          "[1,129,0.351479863,2]", "[1,455,0.282430865,3]"),
        Seq("[17]", "[225]", "[12]", "[483]", "[260]", "[73]", "[212]",
          "[347]", "[402]", "[299]", "[232]", "[497]", "[82]", "[59]",
          "[394]", "[71]", "[262]", "[493]", "[340]", "[421]", "[346]",
          "[468]", "[104]", "[244]", "[350]", "[3]", "[155]", "[19]", "[67]"),
        Seq("[100,0,1,4,7,3]", "[101,2,7,3,5,4]", "[102,3,7,1,6,2]",
          "[103,1,3,4,3,4]")),
      "residual" -> Seq(
        Seq("[17,0.334456281]", "[82,0.24940016]", "[155,0.204475883]",
          "[423,0.146184301]", "[431,0.096459974]", "[72,0.083214717]"),
        Seq("[0,17,0.334456281,1]", "[0,82,0.24940016,2]",
          "[0,155,0.204475883,3]", "[1,455,0.282430865,1]",
          "[1,247,0.261461905,2]", "[1,499,0.180643012,3]"),
        Seq("[17]", "[225]", "[12]", "[483]", "[260]", "[73]", "[212]",
          "[347]", "[402]", "[299]", "[232]", "[497]", "[82]", "[59]",
          "[394]", "[71]", "[262]", "[493]", "[340]", "[421]", "[346]",
          "[468]", "[104]", "[244]", "[350]", "[3]", "[155]", "[19]", "[67]"),
        Seq("[100,0,4,4,7,3]", "[101,2,7,3,5,4]", "[102,3,4,1,1,2]",
          "[103,1,3,4,3,7]")))
    for ((variant, Seq(search, knn, range, encode)) <- expected)
      withStore { store =>
        llm.Similarity.saveIvfPqIndex(emb, store, variant = variant)
        assert(rows(llm.Similarity.ivfPqSearchPersisted(store, qv,
          qId = 0L, rerankK = 3)) === search, variant)
        assert(rows(llm.Similarity.ivfPqKnnJoin(store,
          emb.filter(col("vec_id") < 2), topK = 3, rerankK = 3)) === knn,
          variant)
        assert(rows(llm.Similarity.ivfPqRangeSearch(store, qv, qId = 0L,
          adcSlack = 1.0).select("vec_id")) === range, variant)
        assert(rows(llm.Similarity.encodeWithIndex(store,
          emb.filter(col("vec_id").between(100, 103))).drop("ux")
          .orderBy("vec_id", "cid")) === encode, variant)
      }
  }

  test("persisted serve and encode read _CURRENT once: a pointer flip after the first part load cannot mix versions") {
    // a rebuild that lands mid-call flips _CURRENT between part loads;
    // every part, the spill and the variant must still come from the
    // version the call started on
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = llm.Similarity.queryVecOf(emb, 0L)
    val dir = Files.createTempDirectory("graft-modelstore-pin-")
    val root = graft.store.Pointer.localDir(dir.toString)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // a store whose _CURRENT flips v0 → v1 right after its first part load
    def flipping(): ModelStore = {
      graft.store.Pointer.write(root, "_CURRENT", "0")
      new ModelStore(spark, dir.toString) {
        private var armed = true
        override def loadAt(v: Long, part: String): DataFrame = {
          val df = super.loadAt(v, part)
          if (armed) {
            armed = false
            graft.store.Pointer.write(root, "_CURRENT", "1")
          }
          df
        }
      }
    }
    try {
      val plain = new ModelStore(spark, dir.toString)
      llm.Similarity.saveIvfPqIndex(emb, plain) // v0
      // v1: a differently trained index (other corpus, other nlist)
      llm.Similarity.saveIvfPqIndex(emb.filter(col("vec_id") % 2 === 1),
        plain, kCells = 3)
      val search1 = rows(llm.Similarity.ivfPqSearchPersisted(plain, qv,
        qId = 0L))
      val enc1 = rows(llm.Similarity.encodeWithIndex(plain, emb.limit(16)))
      graft.store.Pointer.write(root, "_CURRENT", "0")
      val search0 = rows(llm.Similarity.ivfPqSearchPersisted(plain, qv,
        qId = 0L))
      val enc0 = rows(llm.Similarity.encodeWithIndex(plain, emb.limit(16)))
      // the two versions answer differently, so a mixed read is visible
      assert(search1 !== search0)
      assert(enc1 !== enc0)
      val s = flipping()
      assert(rows(llm.Similarity.ivfPqSearchPersisted(s, qv, qId = 0L)) ===
        search0)
      assert(s.currentVersion === Some(1L), "the pointer never flipped")
      val e = flipping()
      assert(rows(llm.Similarity.encodeWithIndex(e, emb.limit(16))) === enc0)
      assert(e.currentVersion === Some(1L), "the pointer never flipped")
    } finally ModelStore.deleteRecursively(dir)
  }

  test("an unknown encoding variant is refused at build and at serve, never treated as raw") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // build: a misspelled variant used to fall through to a raw build
    withStore { store =>
      withStore { driftStore =>
        val e = intercept[IllegalArgumentException](
          streaming.StreamingAnn.buildIndexWithDriftReference(emb, store,
            driftStore, variant = "Residual"))
        assert(e.getMessage.contains("Residual"), e.getMessage)
        assert(store.currentVersion.isEmpty, "a build ran anyway")
      }
    }
    // serve: a dials record naming an unknown variant used to be scored
    // with raw ADC tables by the live-index serves
    withStore { store =>
      llm.Similarity.saveIvfPqIndex(emb, store)
      val v = store.currentVersion.get
      store.save(Map("dials" ->
          store.load("dials").withColumn("variant", lit("Residual"))),
        copied = store.partNames.filter(_ != "dials")
          .map(p => p -> (store, v)).toMap)
      val qv = llm.Similarity.queryVecOf(emb, 0L)
      val codesDir = Files.createTempDirectory("graft-modelstore-codes-")
      try {
        for (serve <- Seq[() => Any](
          () => llm.Similarity.ivfPqSearchPersisted(store, qv, qId = 0L),
          () => streaming.StreamingAnn.searchIncremental(spark, store,
            codesDir.toString, qv, qId = 0L))) {
          val e = intercept[IllegalArgumentException](serve())
          assert(e.getMessage.contains("Residual"), e.getMessage)
        }
      } finally ModelStore.deleteRecursively(codesDir)
    }
  }

  test("legacy store layout (codes without cid) serves identically through the join fallback", Slow) {
    // indexes written before the cell-partitioned codes layout carry a
    // separate (vec_id, cid) cells part and a cid-less codes part —
    // codedFrame must serve them through the join, bit-identically
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = llm.Similarity.queryVecOf(emb, 0L)
    withStore { store =>
      llm.Similarity.saveIvfPqIndex(emb, store)
      val modern = llm.Similarity
        .ivfPqSearchPersisted(store, qv, qId = 0L)
        .collect().map(_.toString).toSeq
      // rewrite as a legacy-shaped version: strip cid from codes
      store.save(Map(
        "coarse" -> store.load("coarse"),
        "cells" -> store.load("cells"),
        "codebooks" -> store.load("codebooks"),
        "codes" -> store.load("codes").drop("cid"),
        "vectors" -> store.load("vectors"),
        "dials" -> store.load("dials")))
      val legacy = llm.Similarity
        .ivfPqSearchPersisted(store, qv, qId = 0L)
        .collect().map(_.toString).toSeq
      assert(legacy === modern)
    }
  }

  test("residual shards merge and serve bit-identically to a single residual build", Slow) {
    // saveMergedIndex is variant-agnostic: shards produced by
    // encodeWithIndex against the store's own quantizers match its
    // variant by construction, and the union write carries the dials
    // (variant included) forward — so the distributed-build path exists
    // for BOTH encodings
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = llm.Similarity.queryVecOf(emb, 0L)
    val single = withStore { store =>
      llm.Similarity.saveIvfPqIndex(emb, store, variant = "residual")
      llm.Similarity.ivfPqSearchPersisted(store, qv, qId = 0L)
        .collect().map(_.toString).toSeq
    }
    withStore { store =>
      llm.Similarity.saveIvfPqIndexTrainedOn(emb, emb.limit(0), store,
        variant = "residual")
      val mid = emb.agg(org.apache.spark.sql.functions.max("vec_id"))
        .first().getLong(0) / 2
      val lo = llm.Similarity
        .encodeWithIndex(store, emb.filter(col("vec_id") <= mid))
      val hi = llm.Similarity
        .encodeWithIndex(store, emb.filter(col("vec_id") > mid))
      val v = llm.Similarity.saveMergedIndex(store, Seq(lo, hi))
      assert(store.currentVersion === Some(v))
      assert(llm.Similarity.indexVariant(store) === "residual")
      val merged = llm.Similarity
        .ivfPqSearchPersisted(store, qv, qId = 0L)
        .collect().map(_.toString).toSeq
      assert(merged === single)
    }
  }

  test("merged parallel-encoded shards serve bit-identically to a single build; overlap refused", Slow) {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qv = llm.Similarity.queryVecOf(emb, 0L)
    // single build at a SPILLED dial — the merge must respect spill in
    // both the shard rows and the disjointness arithmetic
    val single = withStore { store =>
      llm.Similarity.saveIvfPqIndexTrainedOn(emb, emb, store,
        kCells = 6, spill = 3)
      llm.Similarity.ivfPqSearchPersisted(store, qv, qId = 0L)
        .collect().map(_.toString).toSeq
    }
    withStore { store =>
      llm.Similarity.saveQuantizers(emb, store, kCells = 6, spill = 3)
      val mid = emb.agg(org.apache.spark.sql.functions.max("vec_id"))
        .first().getLong(0) / 2
      val lo = llm.Similarity
        .encodeWithIndex(store, emb.filter(col("vec_id") <= mid))
      val hi = llm.Similarity
        .encodeWithIndex(store, emb.filter(col("vec_id") > mid))
      // overlapping shards must refuse loudly, not serve a vector twice
      val err = intercept[IllegalArgumentException] {
        llm.Similarity.saveMergedIndex(store, Seq(lo, lo))
      }
      assert(err.getMessage.contains("overlap"), err.getMessage)
      val v = llm.Similarity.saveMergedIndex(store, Seq(lo, hi))
      assert(store.currentVersion === Some(v))
      val merged = llm.Similarity
        .ivfPqSearchPersisted(store, qv, qId = 0L)
        .collect().map(_.toString).toSeq
      assert(merged === single)
    }
  }

  test("batched IVF-PQ serve equals the single-query path, query by query, both variants") {
    // the batch path replaces the driver-side probe/distance-table steps
    // with relational joins (per-(query, cell) residual tables on a
    // residual index); at equal dials the two must serve the same
    // neighbors with the same scores
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for (variant <- Seq("raw", "residual")) withStore { store =>
      llm.Similarity.saveIvfPqIndex(emb, store, variant = variant)
      val batch = llm.Similarity
        .ivfPqKnnJoin(store, emb.filter(col("vec_id") < 8),
          topK = 10, nprobe = 2, rerankK = 100)
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(3))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
      (0L until 8L).foreach { q =>
        val single = llm.Similarity
          .ivfPqSearchPersisted(store, llm.Similarity.queryVecOf(emb, q),
            qId = q, topK = 10, nprobe = 2, rerankK = 100)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(q) === single, s"$variant query $q diverged")
      }
      // external-batch contract: excludeSelf=false keeps the id-colliding
      // corpus vector — each query's own vector is its unit-cosine top hit
      val ext = llm.Similarity
        .ivfPqKnnJoin(store, emb.filter(col("vec_id") < 4),
          topK = 3, nprobe = 2, rerankK = 100, excludeSelf = false)
        .filter(col("rnk") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(ext.length === 4)
      ext.foreach { case (qid, vid, sim) =>
        assert(vid === qid && sim === 1.0,
          s"$variant query $qid top hit was ($vid, $sim), expected itself at 1.0")
      }
    }
  }

  test("exhaustive probe + corpus-wide rerank equals brute-force cosine top-k", Slow) {
    // nprobe = kCells probes every cell and rerankK >= |corpus| reranks
    // every candidate exactly — the IVF and PQ layers both prune
    // nothing, so the search must return exactly the brute-force cosine
    // top-k ids (scores are the same unit dot up to last-ulp fold
    // order, so compare ids; both orderings break ties by vec_id)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exhaustive = llm.Similarity
      .ivfPqSearch(emb, nprobe = 4, kCells = 4, rerankK = 1000000)
      .collect().map(_.getLong(0))
    val brute = llm.Similarity.cosineTopK(spark, sfDir, 0L, 10)
      .collect().map(_.getLong(0))
    assert(exhaustive.toSeq == brute.toSeq)
  }

  test("persisted BPE / LM / classifier serve bit-identically to train-inline") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    withStore { store =>
      llm.TextOps.bpeSave(docs, store)
      assertSameFrame(llm.TextOps.bpeEncodePersisted(docs, store),
        llm.TextOps.bpeEncode(docs))
      // the persisted merge list equals the train query's output
      assertSameFrame(store.load("merges"), llm.TextOps.bpeTrain(docs))
    }
    withStore { store =>
      llm.TextOps.lmSave(docs, store)
      assertSameFrame(llm.TextOps.lmPerplexityPersisted(docs, store),
        llm.TextOps.lmPerplexityOf(docs))
    }
    withStore { store =>
      llm.Classifier.clfSave(docs, store)
      assertSameFrame(llm.Classifier.clfScorePersisted(docs, store),
        llm.Classifier.clfScore(docs))
    }
  }

  test("legacy-store dials are derived from the artifacts, never hard-coded guesses", Slow) {
    // ADVICE r12: the synthesized legacy dials hard-coded m=4/k=8/dim=64;
    // a legacy index built at other dials got a persisted record that
    // lied to every future reader. Build at NON-default dials, strip the
    // dials part (the pre-dials layout), merge — the carried-forward
    // record must state what the artifacts prove, and iters (training
    // metadata no artifact records) must be -1, not a guess.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    withStore { store =>
      llm.Similarity.saveIvfPqIndex(emb, store, kCells = 3, m = 2, k = 4)
      // re-save every part EXCEPT dials: a faithful legacy layout
      store.save(store.partNames.filter(_ != "dials")
        .map(p => p -> store.load(p)).toMap)
      assert(!store.partNames.contains("dials"))
      val shard = store.load("codes")
        .join(store.load("vectors"), "vec_id")
      llm.Similarity.saveMergedIndex(store, Seq(shard), m = 2)
      val d = store.load("dials").first()
      assert(d.getAs[Int]("nlist") === 3, d)
      assert(d.getAs[Int]("m") === 2, d)
      assert(d.getAs[Int]("k") === 4, d)
      assert(d.getAs[Int]("dim") === 64, d)
      assert(d.getAs[Int]("iters") === -1, d)
      assert(d.getAs[Int]("spill") === 1, d)
      assert(d.getAs[String]("variant") === "raw", d)
    }
  }

  test("scratch harness materializes the result and removes the store directory") {
    import spark.implicits._
    var path: String = null
    val out = ModelStore.scratch(spark, "spec") { store =>
      store.save(Map("m" -> Seq((1L, 2.0)).toDF("a", "b")))
      path = store.load("m").inputFiles.head
      store.load("m")
    }
    // the served frame survives the deletion (eager checkpoint)...
    assert(out.collect().map(_.toString).toSeq === Seq("[1,2.0]"))
    // ...and the scratch directory is gone
    assert(!Files.exists(java.nio.file.Paths.get(
      new java.net.URI(path).getPath)))
  }

  test("shared model cache trains once per key, serves identically, and a new key retrains") {
    import spark.implicits._
    var builds = 0
    def train(tag: String)(store: ModelStore): Unit = {
      builds += 1
      store.save(Map("m" -> Seq((tag, builds)).toDF("tag", "b"))); ()
    }
    val key = Seq("spec-shared", "fp-1", "dial=1")
    val a = ModelStore.shared(spark, key)(train("k1"))
    val b = ModelStore.shared(spark, key)(train("k1"))
    assert(builds === 1, "second call with the same key retrained")
    // both handles serve the one trained copy
    assert(a.load("m").collect().map(_.toString).toSeq ===
      b.load("m").collect().map(_.toString).toSeq)
    // a changed fingerprint/dial is a different key → retrain
    ModelStore.shared(spark, Seq("spec-shared", "fp-2", "dial=1"))(
      train("k2"))
    assert(builds === 2)
    // a failed training publishes nothing: the key stays absent and the
    // next call trains again
    val failKey = Seq("spec-shared", "fp-3", "dial=1")
    intercept[RuntimeException] {
      ModelStore.shared(spark, failKey)(_ =>
        throw new RuntimeException("boom"))
    }
    val c = ModelStore.shared(spark, failKey)(train("k3"))
    assert(builds === 3)
    assert(c.load("m").filter($"tag" === "k3").count() === 1L)
  }

  test("gcVersions: keepLast + pins honored, _CURRENT never deleted, reclaimed dirs gone, survivors still serve") {
    withStore { store =>
      import spark.implicits._
      def save(v: Int): Long =
        store.save(Map("m" -> Seq((v, v.toLong)).toDF("k", "n")))
      (0 to 4).foreach(save) // v0..v4, current = v4
      assert(store.versions === Seq(0L, 1L, 2L, 3L, 4L))
      // keepLast=2 keeps v3,v4 (current); pin v1 through
      val dead = store.gcVersions(keepLast = 2, pinned = Set(1L))
      assert(dead === Seq(0L, 2L))
      assert(store.versions === Seq(1L, 3L, 4L))
      assert(store.currentVersion === Some(4L))
      // reclaimed directories are physically gone; survivors serve
      assert(store.partNamesAt(0L).isEmpty)
      assert(store.loadAt(1L, "m").select("k").head().getInt(0) === 1)
      assert(store.load("m").select("k").head().getInt(0) === 4)
      // keepLast must retain at least one
      assert(intercept[IllegalArgumentException] {
        store.gcVersions(keepLast = 0)
      }.getMessage.contains("keepLast"))
      // GC never deletes _CURRENT even when keepLast would pass it by:
      // point _CURRENT at an old version, then GC with keepLast=1
      store.save(Map("m" -> Seq((5, 5L)).toDF("k", "n"))) // v5 current
      val all = store.versions
      store.gcVersions(keepLast = 1, pinned = all.toSet - 1L)
      assert(store.versions.contains(5L)) // current survived
      assert(!store.versions.contains(1L)) // unpinned non-window v gone
    }
  }

  test("cloneCurrentFrom copies every part byte-identically into a new version EXCEPT a fold watermark (the clone starts a fresh batch lifecycle); empty source refuses") {
    withStore { src =>
      withStore { dst =>
        import spark.implicits._
        assert(intercept[IllegalStateException] {
          dst.cloneCurrentFrom(src)
        }.getMessage.contains("empty"))
        src.save(Map(
          "m" -> Seq((1, 1.5, 3L)).toDF("k", "d", "n"),
          "codes" -> Seq((10L, 2), (11L, 3)).toDF("vec_id", "cid"),
          // a fold watermark from the SOURCE's lifecycle: cloned, it
          // would prune the clone's own (never-folded) batches
          "folded" -> Seq(Tuple1(7L)).toDF("folded_max")),
          partitioned = Map("codes" -> Seq("cid")))
        dst.cloneCurrentFrom(src)
        assert(dst.partNames === src.partNames.filterNot(_ == "folded"))
        assertSameFrame(dst.load("m"), src.load("m"))
        assertSameFrame(dst.load("codes"), src.load("codes"))
        // the clone is a NEW version of the destination, independent of
        // the source's lifecycle
        src.save(Map("m" -> Seq((9, 9.0, 9L)).toDF("k", "d", "n")))
        assert(dst.load("m").select("k").head().getInt(0) === 1)
      }
    }
  }

  test("save(copied): file-copied parts read bit-identically, layout travels, overlap and missing-source refuse") {
    withStore { src =>
      withStore { dst =>
        import spark.implicits._
        src.save(Map(
          "coarse" -> Seq((0, 1, 0.25), (1, 2, 0.5)).toDF("cid", "i", "c"),
          "codes" -> Seq((10L, 2, 3), (11L, 3, 1)).toDF("vec_id", "cid", "c0")),
          partitioned = Map("codes" -> Seq("cid")))
        val sv = src.currentVersion.get
        // a new version mixing a WRITTEN part with COPIED parts — the
        // compaction fast path's shape
        dst.save(Map("extra" -> Seq(Tuple1(9L)).toDF("n")),
          copied = Map("coarse" -> (src, sv), "codes" -> (src, sv)))
        assert(dst.partNames.sorted === Seq("coarse", "codes", "extra"))
        assertSameFrame(dst.load("coarse"), src.load("coarse"))
        assertSameFrame(dst.load("codes"), src.load("codes"))
        // the copied partitioned layout survived: cid is a hive dir
        val codesDir = java.nio.file.Paths.get(dst.rootPath)
          .resolve(s"v${dst.currentVersion.get}").resolve("codes")
        import scala.jdk.CollectionConverters._
        assert(scala.util.Using.resource(Files.list(codesDir))(
          _.iterator().asScala.exists(
            _.getFileName.toString.startsWith("cid="))),
          "file copy lost the hive partition layout")
        // a part both written and copied refuses
        assert(intercept[IllegalArgumentException] {
          dst.save(Map("coarse" -> Seq(Tuple1(1)).toDF("x")),
            copied = Map("coarse" -> (src, sv)))
        }.getMessage.contains("both written and copied"))
        // a copied part whose source version lacks it refuses
        assert(intercept[IllegalArgumentException] {
          dst.save(Map.empty, copied = Map("nope" -> (src, sv)))
        }.getMessage.contains("missing"))
      }
    }
  }

  test("save() clears a crashed save's orphan parts: a completed version contains exactly the parts of its own save") {
    withStore { store =>
      import spark.implicits._
      store.save(Map("m" -> Seq((1, 1L)).toDF("k", "n"))) // v0
      // simulate a save of v1 that wrote a part and crashed before the
      // flip: an orphan part under the number the next save will reuse
      Seq((9, 9L)).toDF("k", "n")
        .write.parquet(s"${store.rootPath}/v1/stale_fold")
      // ADVICE r14 (medium): without the orphan-clear, `stale_fold`
      // survives into the completed v1 — with a `folded` part in that
      // role, serves would partition-prune batches never folded into
      // this base
      store.save(Map("m" -> Seq((2, 2L)).toDF("k", "n"))) // v1 completes
      assert(store.currentVersion === Some(1L))
      assert(store.partNames === Seq("m"),
        "a crashed save's orphan part leaked into the completed version")
      assert(store.load("m").select("k").head().getInt(0) === 2)
    }
  }

  test("gcVersions: crash orphans above _CURRENT are reclaimable and never burn a keepLast slot") {
    withStore { store =>
      import spark.implicits._
      def save(v: Int): Long =
        store.save(Map("m" -> Seq((v, v.toLong)).toDF("k", "n")))
      (0 to 2).foreach(save) // v0..v2, current = v2
      // orphan v3: parts on disk, _CURRENT never flipped
      Seq((9, 9L)).toDF("k", "n").write.parquet(s"${store.rootPath}/v3/m")
      assert(store.versions === Seq(0L, 1L, 2L, 3L))
      // ADVICE r14 (low): the old takeRight(keepLast) over ALL dirs
      // kept {v2, v3} — the orphan shielded forever AND v1 reclaimed
      // one flip earlier than keepLast=2 promises. The window counts
      // complete versions only: keep {v1, v2}, reclaim v0 AND the
      // orphan v3.
      val dead = store.gcVersions(keepLast = 2)
      assert(dead === Seq(0L, 3L))
      assert(store.versions === Seq(1L, 2L))
      assert(store.currentVersion === Some(2L))
      assert(store.load("m").select("k").head().getInt(0) === 2)
      // a pin still protects even a dir that looks like an orphan —
      // pins are caller promises, honored defensively
      Seq((9, 9L)).toDF("k", "n").write.parquet(s"${store.rootPath}/v5/m")
      store.gcVersions(keepLast = 2, pinned = Set(5L))
      assert(store.versions.contains(5L))
    }
  }
}
