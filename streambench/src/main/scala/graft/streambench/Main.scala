package graft.streambench

import java.nio.file.Paths
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Stream benchmark of `StreamingJobs.fullChain`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <work dir> --record <record.json>
  * }}}
  *
  * With `--trace 0` it sets the chain up, measures it for `--seconds`, runs
  * the output checks and prints the end-to-end metrics. With `--trace 1` it
  * then replays the same microbatches through the traced chain, runs the
  * output checks on the traced stores and prints the per-layer metrics
  * instead. The last stdout line is the result JSON; the full record
  * (per-batch figures, checks, failures) goes to `--record`. */
object Main {

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opt("workload")
    val dims = Workloads.byName.getOrElse(name,
      sys.error(s"unknown workload $name; one of ${Workloads.byName.keys.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("streambench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Record
    try run(spark, rec, name, dims, seed, seconds, traced, work, t0)
    catch {
      case e: Throwable =>
        rec.failure("run", e)
    } finally spark.stop()
    rec.finish(opt("record"), traced)
  }

  private def run(spark: SparkSession, rec: Record, name: String, dims: Dims,
      seed: Long, seconds: Double, traced: Boolean, work: String,
      t0: Long): Unit = {
    rec.put("workload", s""""$name"""")
    rec.put("seed", seed.toString)
    rec.put("seconds", seconds.toString)
    rec.put("dims", dims.json)
    rec.put("cores", spark.sparkContext.defaultParallelism.toString)

    // ---- set-up: session (above), generation, pre-seed ----
    rec.lap("session_s", t0)
    var lap = System.nanoTime()
    val stream = Generator.generate(dims, seed)
    rec.put("stream_sha256", s""""${stream.digest}"""")
    lap = rec.lap("generate_s", lap)
    val untraced = setUp(spark, s"$work/untraced", None, stream)
    lap = rec.lap("preseed_s", lap)
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- measured window (tracing off) ----
    val feeds = mutable.ArrayBuffer[(Long, Double)]() // (delivered, due ms)
    val late = mutable.ArrayBuffer[Double]()
    val setupEvents = stream.setup.size.toLong
    val start = System.currentTimeMillis()
    if (dims.openLoop) {
      // open loop: event i is due at start + i / rate, whatever the chain
      // is doing; lateness of the single generator thread is recorded
      val startNs = System.nanoTime()
      var i = 0
      while (i < stream.measured.size && i / dims.ratePerS < seconds &&
          untraced.query.isActive) {
        val dueNs = startNs + (i * 1e9 / dims.ratePerS).toLong
        val waitNs = dueNs - System.nanoTime()
        if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
        untraced.feed(Seq(stream.measured(i).json))
        late += (System.nanoTime() - dueNs) / 1e9
        feeds += ((setupEvents + i + 1, start + i * 1e3 / dims.ratePerS))
        i += 1
      }
    } else {
      // closed loop: the next microbatch is enqueued once the last committed;
      // after the first one, for `seconds`
      val chunks = stream.measured.grouped(dims.batchEvents).toVector
      var k = 0
      var from = Long.MaxValue
      var committed = 0L // nanoTime the last batch was seen committed
      while (k < chunks.size && System.currentTimeMillis() - from < seconds * 1e3 &&
          untraced.query.isActive) {
        val enq = System.currentTimeMillis().toDouble
        untraced.feed(chunks(k).map(_.json))
        // a closed-loop client is late by its own delay between seeing a
        // commit and sending the next batch
        if (k > 0) late += (System.nanoTime() - committed) / 1e9
        feeds += ((setupEvents + chunks.take(k + 1).map(_.size).sum, enq))
        untraced.drain()
        committed = System.nanoTime()
        if (k == 0) from = System.currentTimeMillis()
        k += 1
      }
    }
    lap = rec.lap("window_s", lap)
    untraced.drain()
    val liveHeapMb = LiveHeap.mb()
    lap = rec.lap("drain_s", lap)
    val measuredEvents = (feeds.lastOption.map(_._1).getOrElse(setupEvents) -
      setupEvents).toInt
    val fedEvents = stream.setup ++ stream.measured.take(measuredEvents)
    val allBatches = untraced.batches
    val batches = allBatches.filter(_.delivered > setupEvents)
    untraced.stop()
    rec.batches("batches", batches, allBatches.size - batches.size)
    require(batches.size >= 2,
      s"only ${batches.size} measured microbatches; the window is too short")

    // freshness: commit of the event's batch minus when it was due (open
    // loop) or enqueued (closed loop); events of the first batch excluded
    val first = batches.head
    val fresh = mutable.ArrayBuffer[Double]()
    var bi = 0
    var prev = setupEvents
    feeds.foreach { case (upto, due) =>
      while (batches(bi).delivered < upto) bi += 1
      if (bi > 0) fresh ++= Seq.fill((upto - prev).toInt)(
        (batches(bi).commitMs - due) / 1e3)
      prev = upto
    }
    val rest = batches.tail
    val eventsPerS = rest.map(_.rows).sum /
      ((rest.last.commitMs - first.commitMs) / 1e3)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "events_per_s" -> (eventsPerS, "1/s"),
      "freshness_p50_s" -> (Stats.quantile(fresh.toSeq, 0.50), "s"),
      "freshness_p99_s" -> (Stats.quantile(fresh.toSeq, 0.99), "s"),
      "first_batch_s" -> (first.triggerS, "s"),
      "setup_s" -> (setupS, "s"),
      "live_heap_mb" -> (liveHeapMb, "MiB"))
    rec.put("freshness_samples", fresh.size.toString)
    rec.put("generator_late_s_max", Stats.json(late.maxOption.getOrElse(0.0)))
    rec.put("measured_events", measuredEvents.toString)

    // ---- output checks (outside the timed window), on the stores of the
    //      untraced run, or of the traced run when there is one ----
    def outputChecks(p: Phase): Vector[String] = {
      var t = System.nanoTime()
      val oracle = Checks.oneShot(spark, fedEvents)
      t = rec.lap("one_shot_s", t)
      val rows = Checks.canonicalRows(p.store.read().get)
      rec.check(Checks.compareRows("store_equals_one_shot_run", rows, oracle))
      rec.check(Checks.deadLetters(spark, p.dlqPath, fedEvents))
      rec.check(Checks.versionRows(spark, p.versionsPath, fedEvents))
      rec.check(determinism(dims, seed, stream))
      rec.lap("checks_s", t)
      rows
    }

    if (!traced) {
      outputChecks(untraced)
      rec.attempted(batches.size)
      e2e.foreach { case (k, (v, u)) => rec.metric(k, v, u) }
    } else {
      // ---- traced run: the same microbatches replayed on fresh stores
      //      through the traced chain and, for the overhead, through the
      //      untraced one; the two alternate which goes first per batch so
      //      JIT warm-up favours neither ----
      val sc = spark.sparkContext
      val tr = new Tracer(sc)
      val replay = setUp(spark, s"$work/replay", None, stream)
      val tp = setUp(spark, s"$work/traced", Some(tr), stream)
      var from = setupEvents
      batches.map(_.delivered).zipWithIndex.foreach { case (upto, i) =>
        val slice = fedEvents.slice(from.toInt, upto.toInt).map(_.json)
        def traced(): Unit = {
          sc.addSparkListener(tr)
          tp.feed(slice); tp.drain()
          org.apache.spark.streambench.ListenerBusDrain(sc)
          sc.removeSparkListener(tr)
        }
        def untraced(): Unit = { replay.feed(slice); replay.drain() }
        if (i % 2 == 0) { untraced(); traced() } else { traced(); untraced() }
        from = upto
      }
      def measuredOf(p: Phase) = {
        val all = p.batches
        p.stop()
        all.filter(_.delivered > setupEvents)
      }
      val tb = measuredOf(tp)
      val rb = measuredOf(replay)
      rec.batches("traced_batches", tb, 0)
      rec.batches("replayed_batches", rb, 0)
      rec.attempted(tb.size)
      rec.lap("traced_replay_s", lap)
      val tracedRows = outputChecks(tp)
      rec.check(Checks.compareRows("traced_store_equals_untraced", tracedRows,
        Checks.canonicalRows(untraced.store.read().get)))
      val per = tb.map { b =>
        val m = tr.breakdown(b.id, b.triggerS)
        b -> (m ++ StoreLayout.commitCounts(s"${tp.dir}/store", m))
      }
      // accounting: the layer and chain spans cover the foreachBatch body,
      // and the rest of the trigger is the chain's trigger/commit log
      val unspanned = per.map { case (b, m) => b.addBatchS - m("chain.spanned_s") }
      val worst = per.zip(unspanned).maxBy(x => math.abs(x._2))
      rec.check(CheckResult("layer_spans_account_for_batch_wall",
        per.zip(unspanned).forall { case ((b, _), u) =>
          math.abs(u) <= math.max(0.05 * b.triggerS, 0.05) },
        s"largest unspanned foreachBatch time ${Stats.json(worst._2)} s " +
          s"of batch ${worst._1._1.id} (trigger ${worst._1._1.triggerS} s)"))
      rec.layerBatches(per.map { case (b, m) => b.id -> m })
      // tracing overhead: traced against untraced wall over the same
      // replayed batches, the first excluded
      val wU = rb.tail.map(_.triggerS).sum
      val wT = tb.tail.map(_.triggerS).sum
      rec.put("tracing_overhead", s"""{"untraced_wall_s":${Stats.json(wU)},""" +
        s""""traced_wall_s":${Stats.json(wT)},""" +
        s""""overhead_ratio":${Stats.json(wT / wU - 1)}}""")
      PerLayer.names.foreach { k =>
        val vs = per.tail.flatMap(_._2.get(k))
        rec.metric(k, Stats.quantile(vs, 0.5), PerLayer.unit(k))
      }
      rec.metric("generator.late_s", Stats.quantile(late.toSeq, 0.5), "s")
    }
  }

  /** A fresh deployment with the pre-seeded catalog committed. */
  private def setUp(spark: SparkSession, dir: String, tracer: Option[Tracer],
      stream: Stream): Phase = {
    val p = new Phase(spark, dir, tracer)
    if (stream.setup.nonEmpty) { p.feed(stream.setup.map(_.json)); p.drain() }
    p
  }

  /** Same seed, byte-identical stream; another seed, another stream. */
  private def determinism(dims: Dims, seed: Long, s: Stream): CheckResult = {
    val again = Generator.generate(dims, seed).digest
    val other = Generator.generate(dims, seed + 1).digest
    CheckResult("generator_deterministic", again == s.digest && other != s.digest,
      s"seed $seed ${s.digest}; regenerated $again; seed ${seed + 1} $other")
  }
}
