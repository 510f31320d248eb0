package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Ad-hoc stage profiler for slow queries (dev tool; body rotates to
  * whatever is under investigation). Current battery: every IVF-PQ
  * gate (build, serve, recall and lifecycle rows of both encoding
  * variants) — JOB-LEVEL attribution inside each, since Bench's one
  * number per query can't say whether a gate's time goes to the truth
  * scan, the per-batch encodes, the compaction folds, or the sweep. A
  * SparkListener records every job's duration and the action call site
  * (stage name), printed per query sorted by cost, plus the driver-side
  * gap (wall − sum(jobs)) which is where planning/driver file IO
  * hides. */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // job ledger: (jobId -> (startMs, firstStageName)), closed on end
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // callSite.short names the ACTION (collect/parquet/ckpt site);
        // broadcast-build and subquery jobs submitted via pooled threads
        // otherwise all collapse into one CompletableFuture lambda name
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .getOrElse(j.stageInfos.lastOption.map(_.name).getOrElse("?"))
        starts.put(j.jobId, (j.time, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
          done.add((e.time - t0, site))
        }
      }
    })

    // the IVF-PQ battery: every declared build/serve/recall gate of the
    // ANN stack, both encoding variants, resolved from the driver surface.
    // Sorted, so any tree runs it in the same order: a gate's job count
    // depends on which shared stores the gates before it already loaded
    val annGates = Seq("q_ivfpq_", "q_ann_recall", "q_ann_filtered",
      "q_ann_range", "q_ann_residual_inc", "q_ann_compacted", "q_ann_asof",
      "q_ann_tagged", "q_ann_run", "q_ann_deleted", "q_ann_retained",
      "q_ann_autopilot")
    val targets: Seq[(String, () => Long)] = graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => annGates.exists(n.startsWith) }
      .sortBy(_._1)
      .map { case (n, q) => n -> (() => q(spark, sfDir).count()) }
    val only = sys.env.get("SPARK_GRAFT_PROFILE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // any declared query not in the battery above resolves straight
    // from the driver surface (round 16: the heavy lifecycle gates)
    val extras: Seq[(String, () => Long)] = only.toSeq.flatten
      .filterNot(n => targets.exists(_._1 == n))
      .flatMap(n => graft.SparkEntry.queries.get(n).map(q =>
        n -> (() => q(spark, sfDir).count())))
    val allTargets = targets ++ extras

    // ---- phase split of the compacted-sweep gate (dev battery):
    // train / ingest×3 / compact / sweep, each with its job count ----
    if (sys.env.get("SPARK_GRAFT_PROFILE_PHASES").contains("1")) {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      for (rep <- 1 to 2) {
        val codesDir = java.nio.file.Files
          .createTempDirectory("graft-prof-codes-")
        val storeDir = java.nio.file.Files
          .createTempDirectory("graft-prof-store-")
        def phase(label: String)(f: => Unit): Unit = {
          done.clear()
          val t0 = System.nanoTime()
          f
          val wall = (System.nanoTime() - t0) / 1e9
          val it = done.iterator(); var n = 0; var ms = 0L
          while (it.hasNext) { val (d, _) = it.next(); n += 1; ms += d }
          println(f"[phase $rep] $label%-14s wall=$wall%6.2f s jobs=$n%-4d jobSum=${ms / 1e3}%6.2f s")
        }
        try {
          val store = new graft.store.ModelStore(spark, storeDir.toString)
          phase("train") {
            graft.llm.Similarity.saveQuantizers(emb, store); ()
          }
          val vp = graft.streaming.StreamingAnn
            .versionedCodesPath(codesDir.toString, store)
          phase("ingest x3") {
            (0 until 3).foreach { b =>
              graft.streaming.StreamingAnn.annIngestBatch(spark, store, vp)(
                emb.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong)
            }
          }
          phase("compact") {
            graft.streaming.StreamingAnn.compactIncrements(spark, store,
              codesDir.toString); ()
          }
          val qv = graft.llm.Similarity.queryVecOf(emb, 0L)
          phase("truth") {
            graft.Materialize.checkpoint(
              graft.llm.Similarity.cosineTopK(spark, sfDir, 0L, 10)
                .select("vec_id")).count(); ()
          }
          phase("probe np=1") {
            graft.streaming.StreamingAnn.searchAuto(spark, store,
              codesDir.toString, qv, qId = 0L, topK = 10, nprobe = 1)
              .count(); ()
          }
          phase("probe np=4") {
            graft.streaming.StreamingAnn.searchAuto(spark, store,
              codesDir.toString, qv, qId = 0L, topK = 10, nprobe = 4)
              .count(); ()
          }
          phase("sweep x3 union") {
            val truth = graft.Materialize.checkpoint(
              graft.llm.Similarity.cosineTopK(spark, sfDir, 0L, 10)
                .select("vec_id"))
            Seq(1, 2, 4).map { np =>
              graft.streaming.StreamingAnn.searchAuto(spark, store,
                codesDir.toString, qv, qId = 0L, topK = 10, nprobe = np)
                .join(truth, "vec_id")
                .agg(count(lit(1)).as("n_hits"))
                .select(lit(np).as("nprobe"), lit(10).as("k"),
                  col("n_hits"),
                  (col("n_hits").cast("double") / 10).as("recall"))
            }.reduce(_ union _).orderBy("nprobe").count(); ()
          }
        } finally {
          graft.store.ModelStore.deleteRecursively(codesDir)
          graft.store.ModelStore.deleteRecursively(storeDir)
        }
      }
    }
    // warmup pass mirrors Bench (shared stores train once per process;
    // Bench's min-over-passes assigns that cost to no single row)
    spark.range(1000000).selectExpr("sum(id)").collect()
    for ((name, fn) <- allTargets if only.forall(_.contains(name))) {
      // run twice; profile the second (steady state, shared stores warm).
      // The listener bus is async: drain it (ADVICE r15) so the warm-up
      // rep's trailing job-end events don't land in the profiled window
      // and the profiled rep's own tail is not missed.
      // drop checkpoint blocks between reps exactly like Bench does
      // after every query: without it, localCheckpoint RDDs accumulate
      // across the battery and storage/GC pressure inflates the LATER
      // targets' walls 2-8x (measured: q_ann_compacted_residual 64 s
      // profiled vs 8.5 s under the bench contract on the same tree)
      def unpersistAll(): Unit = spark.sparkContext.getPersistentRDDs
        .values.foreach(_.unpersist(blocking = false))
      fn(); unpersistAll(); Thread.sleep(300); done.clear()
      val t0 = System.nanoTime()
      val n = fn()
      Thread.sleep(300)
      val wall = (System.nanoTime() - t0) / 1e9 - 0.3
      unpersistAll()
      val jobs = {
        val it = done.iterator(); val b = Seq.newBuilder[(Long, String)]
        while (it.hasNext) b += it.next(); b.result()
      }
      val jobSum = jobs.map(_._1).sum / 1e3
      println(f"\n==== $name wall=$wall%.2f s rows=$n jobs=${jobs.size} jobSum=$jobSum%.2f s driverGap=${wall - jobSum}%.2f s")
      jobs.groupBy(_._2).map { case (site, js) =>
        (js.map(_._1).sum / 1e3, js.size, site)
      }.toSeq.sortBy(-_._1).take(25).foreach { case (s, c, site) =>
        println(f"  $s%7.2f s  n=$c%-3d $site")
      }
    }
    spark.stop()
  }
}
