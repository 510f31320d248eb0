package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.store.ModelStore
import graft.llm.Similarity

/** Filtered and radius serving over a persisted IVF-PQ index — the two
  * production vector-DB operations beyond plain top-k: predicate-
  * filtered search (pre-filtering semantics: the shortlist is built
  * from allowed rows only) and range search (FAISS `range_search`
  * semantics: result size is data-dependent, bounded by an ADC
  * pre-filter plus an exact cosine threshold). Each contract is one
  * body, run on a raw and on a residual store through the same entry
  * points. */
class AnnServeOpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private val variants = Seq("raw", "residual")

  // one read-only index per variant, built once for the whole suite
  private val storeDir = Files.createTempDirectory("graft-annops-store-")
  private lazy val stores: Map[String, ModelStore] = variants.map { v =>
    val store = new ModelStore(spark, storeDir.resolve(v).toString)
    Similarity.saveIvfPqIndex(emb, store, variant = v)
    v -> store
  }.toMap

  override def afterAll(): Unit = ModelStore.deleteRecursively(storeDir)

  /** The filtered-search contract of one encoding variant's store. */
  private def filteredContract(variant: String): Unit = {
    val store = stores(variant)
    val qv = Similarity.queryVecOf(emb, 0L)
    val pred = pmod(col("vec_id"), lit(3)) === 1
    // probed serve: every returned id satisfies the predicate
    val probed = Similarity.ivfPqSearchFiltered(store, pred, qv,
      qId = 0L, topK = 10, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(probed.nonEmpty && probed.forall(_ % 3 == 1), variant)

    // and unfiltered differs (the filter is doing work, not a no-op)
    val plain = Similarity.ivfPqSearchPersisted(store, qv,
      qId = 0L, topK = 10, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(probed !== plain, variant)

    // the allowed-ids frame form is the same serve
    val allowed = Similarity.ivfPqSearchAllowed(store,
      emb.filter(pred), qv, qId = 0L, topK = 10, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(allowed === probed, variant)

    // exhaustive probe + unbounded shortlist: the exact-rerank stage
    // recovers the brute-force filtered top-10 (id sets — the rerank
    // computes a unit dot, the brute force a raw cosine; same ranking,
    // last-ulp value differences are legitimate)
    val full = Similarity.ivfPqSearchFiltered(store, pred, qv,
      qId = 0L, topK = 10, nprobe = 4, rerankK = emb.count().toInt)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val brute = Similarity.cosineTopK(spark, sfDir, 0L, 10, pred)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(full === brute, variant)
  }

  /** There is no residual-only serve path any more: the residual
    * dispatch is keyed by the pinned version's own dials, so a raw
    * store cannot reach it (a dial naming neither variant is refused —
    * ModelStoreSpec's unknown-variant test). */
  private def assertDispatchFollowsDials(): Unit =
    variants.foreach(v => assert(Similarity.indexVariant(stores(v)) === v))

  test("filtered search: results stay in the allowed set; predicate and allowed-frame forms agree; exhaustive probe recovers the brute-force filtered ranking") {
    filteredContract("raw")
  }

  test("residual filtered search stays in the allowed set; the raw store is refused by the residual path") {
    filteredContract("residual")
    assertDispatchFollowsDials()
  }

  test("filtered batched k-NN equals the single-query filtered serve, query by query; every served id allowed") {
    val pred = pmod(col("vec_id"), lit(3)) === 1
    for (variant <- variants) {
      val store = stores(variant)
      val batch = Similarity.ivfPqKnnJoinFiltered(store,
        emb.filter(col("vec_id") < 4), pred, topK = 5, rerankK = 100)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(batch.nonEmpty && batch.forall(_._2 % 3 == 1), variant)
      (0 until 4).foreach { qi =>
        val single = Similarity.ivfPqSearchFiltered(store, pred,
          Similarity.queryVecOf(emb, qi.toLong), qId = qi.toLong,
          topK = 5, rerankK = 100)
          .collect()
          .map(r => (qi.toLong, r.getLong(0), r.getDouble(1))).toSeq
        assert(batch.filter(_._1 == qi.toLong) === single,
          s"$variant query $qi diverged between batch and single filtered serve")
      }
    }
  }

  /** The radius-search contract of one encoding variant's store. */
  private def rangeContract(variant: String): Unit = {
    val store = stores(variant)
    val qv = Similarity.queryVecOf(emb, 0L)
    val exact = Similarity.cosineRange(spark, sfDir, 0L, 0.2)
    val exactIds = exact.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(exactIds.nonEmpty)
    assert(exact.select("cos_sim").collect()
      .forall(_.getDouble(0) >= 0.2))

    // the probed variant's approximation contract: a subset of the
    // exact radius set, never an impostor outside it
    val probed = Similarity.ivfPqRangeSearch(store, qv, qId = 0L,
      minSim = 0.2, nprobe = 2)
    assert(probed.select("cos_sim").collect()
      .forall(_.getDouble(0) >= 0.2), variant)
    val probedIds = probed.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(probedIds.nonEmpty && probedIds.subsetOf(exactIds), variant)

    // completeness dial: probe everything, slacken the ADC bound past
    // any quantization error — the radius set is recovered exactly
    // (for a residual index too: the per-cell tables bound the same
    // global distance)
    val fullIds = Similarity.ivfPqRangeSearch(store, qv, qId = 0L,
      minSim = 0.2, nprobe = 4, adcSlack = 1e9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(fullIds === exactIds, variant)

    // the LIVE serve reads the same variant: quantizers frozen,
    // every coded row re-streamed at batch 0 (the winners rule serves
    // the streamed rows) — radius == the persisted build's
    // bit-identically (pointwise encoding)
    val persisted = Similarity.ivfPqRangeSearch(store, qv, qId = 0L)
      .collect().map(_.toString).toSeq
    val codesDir = Files.createTempDirectory("graft-range-codes-")
    try {
      streaming.StreamingAnn.annIngestBatch(spark, store,
        codesDir.toString)(emb, 0L)
      val live = streaming.StreamingAnn.rangeSearchIncremental(spark,
        store, codesDir.toString, qv, qId = 0L)
        .collect().map(_.toString).toSeq
      assert(live === persisted, variant)
    } finally ModelStore.deleteRecursively(codesDir)
  }

  test("range search: every row clears the radius; probed is a subset of exact; exhaustive probe + generous slack equals exact") {
    rangeContract("raw")
  }

  test("residual range search: same radius contract — subset of exact, full probe + slack equals exact, live == persisted, raw store refused") {
    rangeContract("residual")
    assertDispatchFollowsDials()
  }
}
