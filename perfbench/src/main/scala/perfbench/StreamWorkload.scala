package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import graft.daemon.Daemon
import graft.pipeline.Flow
import graft.runtime.{Policy, PrometheusHttp, StagePhase, Tether}
import graft.streaming.{EventTime, StreamPipeline}
import graft.streaming.StreamPipeline.StreamSource
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** The supervised streaming layer: pipelines spawned through
  * `StreamPipeline`/`StreamSupervisor`, watched by a `Daemon`, exported by
  * `PrometheusHttp` and scraped at a fixed interval.
  *
  * Phase 1 is an open loop: a `rate` source at a fixed rate feeds two
  * `Flow` stages and `EventTime.windowedAgg`; one seeded micro-batch throws
  * once in the sink, so the supervisor restarts the query. Per-row latency
  * is the sink's receive time minus the rate source's creation stamp.
  *
  * Phase 2 is a closed loop of drain passes: a finite `graft-gen` stream
  * through a capacity-bounded edge (rows per micro-batch) into a stateful
  * `EventTime.windowedAgg`; a pass lasts from spawn until the daemon has
  * torn the pipeline down. Every generated row is accounted for exactly
  * once in both phases. */
object StreamWorkload {
  private val Keys = 16

  /** Progress events per query run, from a listener outside the program. */
  final class Progress extends StreamingQueryListener {
    val byRun = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val buf = byRun.computeIfAbsent(e.progress.runId, _ => mutable.ArrayBuffer.empty)
      buf.synchronized { buf += e.progress }
    }
    def of(runIds: Iterable[java.util.UUID]): Seq[StreamingQueryProgress] =
      runIds.toSeq.flatMap(id => Option(byRun.get(id)).map(b => b.synchronized(b.toList)).getOrElse(Nil))
  }

  /** The sink's view of one pipeline: per committed batch, the receive time
    * and the window rows it was handed; plus every query run it started. */
  final class SinkLog {
    val received = new ConcurrentHashMap[Long, (Long, Seq[Row])]()
    val runIds = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val query = new AtomicReference[StreamingQuery]()
    @volatile var startedNs = 0L

    def sink(failAt: Long, failedOnce: AtomicBoolean, failNs: AtomicLong)(df: DataFrame, id: Long): Unit = {
      if (id == failAt && failedOnce.compareAndSet(false, true)) {
        failNs.set(System.nanoTime())
        throw new IllegalStateException(s"injected failure in micro-batch $id")
      }
      val rows = df.collect().toSeq
      received.put(id, (System.currentTimeMillis(), rows))
    }

    def start(ck: String, failAt: Long = -1, failedOnce: AtomicBoolean = new AtomicBoolean(true),
        failNs: AtomicLong = new AtomicLong())(
        w: org.apache.spark.sql.streaming.DataStreamWriter[Row]): StreamingQuery = {
      val q = w.outputMode("update").option("checkpointLocation", ck)
        .foreachBatch((df: DataFrame, id: Long) => sink(failAt, failedOnce, failNs)(df, id))
        .start()
      runIds.add(q.runId)
      query.set(q)
      if (startedNs == 0L) startedNs = System.nanoTime()
      q
    }
  }

  /** Final (window, key) -> (n, sum) over the batches that committed. */
  private def finalWindows(log: SinkLog, committed: Set[Long]): Map[(Any, Any), (Long, BigDecimal)] = {
    val out = mutable.HashMap.empty[(Any, Any), (Long, BigDecimal)]
    log.received.asScala.toSeq.filter(b => committed(b._1)).sortBy(_._1).foreach { case (_, (_, rows)) =>
      rows.foreach(r => out((r.get(0), r.get(1))) = (r.getLong(2), BigDecimal(r.getDouble(3))))
    }
    out.toMap
  }

  private def seededPerm(n: Int, seed: Long): Seq[Int] =
    new scala.util.Random(seed).shuffle((0 until n).toList)

  private def keyFlow(perm: Seq[Int], keyCol: String, n: Int): Flow[Row, Row] =
    Flow[Row, Row]("keys", _.toDF().withColumn("event_type",
      element_at(array(perm.map(lit): _*), (col(keyCol) % n).cast("int") + 1)))

  /** Polls the tethers' phases; in the traced run, each phase becomes a
    * span under its pipeline's span. */
  final class PhaseWatch(tracer: Tracer) {
    private val open = mutable.HashMap.empty[Tether, (StagePhase, Long, Long)]
    private val stop = new AtomicBoolean(false)
    private val watched = new java.util.concurrent.CopyOnWriteArrayList[(Tether, Long)]()
    private val thread = new Thread(() => {
      while (!stop.get()) {
        val now = System.nanoTime()
        watched.asScala.foreach { case (t, parent) =>
          val ph = t.currentPhase
          open.get(t) match {
            case Some((p, s, _)) if p == ph => ()
            case prev =>
              prev.foreach { case (p, s, par) =>
                tracer.add(Span(tracer.nextId(), par, s"stage.${p.toString.toLowerCase}", par, s, now, Map.empty))
              }
              open(t) = (ph, now, parent)
          }
        }
        Thread.sleep(2)
      }
    }, "perfbench-phase-watch")
    def watch(t: Tether, parent: Long): Unit = if (tracer.enabled) watched.add((t, parent))
    def start(): Unit = if (tracer.enabled) { thread.setDaemon(true); thread.start() }
    def close(): Unit = if (tracer.enabled) { stop.set(true); thread.join() }
  }

  /** Scrapes the Prometheus endpoint every `everyMs` while running;
    * `series` is the most series one scrape returned. */
  final class Scraper(port: Int, everyMs: Long) {
    val latencies = mutable.ArrayBuffer.empty[Double]
    @volatile var series = 0
    private val stop = new AtomicBoolean(false)
    private val thread = new Thread(() => {
      val url = new java.net.URI(s"http://127.0.0.1:$port/metrics").toURL
      while (!stop.get()) {
        val t0 = System.nanoTime()
        val body = try {
          val in = url.openStream()
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: java.io.IOException => "" }
        val s = (System.nanoTime() - t0) / 1e9
        latencies.synchronized { latencies += s }
        series = math.max(series, body.linesIterator.count(l => l.nonEmpty && !l.startsWith("#")))
        Thread.sleep(everyMs)
      }
    }, "perfbench-scraper")
    def start(): Unit = { thread.setDaemon(true); thread.start() }
    def close(): Unit = { stop.set(true); thread.join() }
    def samples: Seq[Double] = latencies.synchronized(latencies.toList)
  }

  final case class Phase1(latencies: Seq[Double], rows: Long, lostOrDup: Long,
      batchFailedForGood: Boolean, recoveryS: Double, restarts: Long, ticksPerS: Double,
      dismissS: Double, backlogRows: Double, teardownS: Double, spawnS: Double,
      runIds: Seq[java.util.UUID], spanId: Long)

  final case class Drain(wallS: Double, cpuS: Double, rows: Long, lostOrDup: Long,
      spawnS: Double, blockS: Double, runIds: Seq[java.util.UUID])

  def run(cfg: Config, tracer: Tracer, jvm: JvmProbe): (SparkSession, Result) = {
    val runSpan = tracer.nextId()
    val rate = cfg.long("rate")
    val drainRows = cfg.long("drain_rows")
    val capacity = cfg.long("edge_capacity")
    val (spark, sessionS) = Result.time(graft.Sessions.local(cfg.cores.toString))
    val probe = if (cfg.trace) Some(new SparkProbe(tracer)) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val progress = new Progress
    spark.streams.addListener(progress)
    val tethers = new java.util.concurrent.CopyOnWriteArrayList[Tether]()
    val http = PrometheusHttp.serve(tethers.asScala.toSeq)
    val scraper = new Scraper(http.port, cfg.long("scrape_ms"))
    val watch = new PhaseWatch(tracer)
    watch.start()
    val ckRoot = s"${cfg.workDir}/tmp/checkpoints"
    val seq = new AtomicLong(0)
    val policy = Policy(tickTimeout = 30.seconds)

    // What a drain must deliver: every generated row once, so the row
    // count and the exact sum of the `value` column.
    val genN = drainRows
    val genSum = (0L until drainRows).iterator
      .map(i => BigDecimal(graft.sources.GenSource.value(i, "value").asInstanceOf[Double])).sum

    def waitFor(cond: => Boolean, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!cond && System.nanoTime() < deadline) Thread.sleep(1)
      cond
    }

    def committed(runIds: Seq[java.util.UUID]): Map[Long, StreamingQueryProgress] =
      progress.of(runIds).map(p => p.batchId -> p).toMap

    def drain(perm: Seq[Int], timed: Boolean): Drain = {
      val log = new SinkLog
      val src = StreamSource("graft-gen",
        open = s => s.readStream.format("graft-gen").option("rows", drainRows)
          .option("partitions", cfg.cores).load(),
        openThrottled = Some((s, cap) => s.readStream.format("graft-gen")
          .option("rows", drainRows).option("partitions", cfg.cores)
          .option("rowsPerBatch", cap).load()))
      val cpu0 = jvm.cpuNs
      val t0 = System.nanoTime()
      tracer.span("pipeline", runSpan, 0L, Map("pipeline" -> "drain")) { pid =>
        val builder = StreamPipeline.from(src)
          .via(keyFlow(perm, "key", 97), capacity)
          .via(Flow[Row, Row]("window", ds => EventTime.windowedAgg(ds.toDF(),
            windowLen = "1 hour", watermark = "2 days")))
        val tether = builder.spawn(spark, policy)(log.start(s"$ckRoot/${seq.incrementAndGet()}"))
        tethers.add(tether)
        watch.watch(tether, pid)
        val daemon = new Daemon(Seq(tether), registerShutdownHook = false)
        val drained = waitFor(committed(log.runIds.asScala.toSeq).values.exists(p =>
          p.sources.headOption.exists(_.endOffset == drainRows.toString)), 120)
        // heap held with the pipeline's state still live; the collection
        // is kept out of the pass time
        val gcCpu0 = jvm.cpuNs
        val gcS = if (timed) jvm.sampleHeap() else 0.0
        val gcCpu = jvm.cpuNs - gcCpu0
        // The input is exhausted: stop the query, then block on the daemon
        // as a program client would, through its end detection and teardown.
        Option(log.query.get()).foreach(_.stop())
        val (_, blockS) = Result.time(daemon.block())
        tethers.remove(tether)
        val wall = (System.nanoTime() - t0) / 1e9 - gcS
        val commits = committed(log.runIds.asScala.toSeq)
        val windows = finalWindows(log, commits.keySet)
        val n = windows.values.map(_._1).sum
        val sum = windows.values.map(_._2).sum
        val bad = if (!drained) drainRows else math.abs(n - genN) + (if (sum != genSum) 1L else 0L)
        if (bad != 0) System.err.println(s"[perfbench] drain accounting: rows $n of $genN, sum $sum vs $genSum")
        Drain(wall, (jvm.cpuNs - cpu0 - gcCpu) / 1e9, genN, bad,
          (log.startedNs - t0) / 1e9, blockS, log.runIds.asScala.toSeq)
      }
    }

    def phase1(seconds: Double, perm: Seq[Int], failAt: Long): Phase1 = {
      val log = new SinkLog
      val failedOnce = new AtomicBoolean(false)
      val failNs = new AtomicLong(0)
      val src = StreamSource("rate", s => s.readStream.format("rate")
        .option("rowsPerSecond", rate).option("numPartitions", cfg.cores).load())
      val pid = tracer.nextId()
      val t0 = System.nanoTime()
      val observe = Flow[Row, Row]("observe", _.toDF().observe("p1",
        count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"),
        min(col("timestamp")).as("ts0"), sum(col("value")).as("sum")))
      val builder = StreamPipeline.from(src)
        .via(keyFlow(perm, "value", Keys))
        .via(observe)
        .via(Flow[Row, Row]("window", ds => EventTime.windowedAgg(ds.toDF(), tsCol = "timestamp",
          windowLen = "1 second", watermark = "1 second")))
      val tether = builder.spawn(spark, policy)(
        log.start(s"$ckRoot/${seq.incrementAndGet()}", failAt, failedOnce, failNs))
      tethers.add(tether)
      watch.watch(tether, pid)
      val daemon = new Daemon(Seq(tether), registerShutdownHook = false)
      val spawnS = { waitFor(log.startedNs != 0L, 60); (log.startedNs - t0) / 1e9 }
      val runUntil = t0 + (seconds * 1e9).toLong
      waitFor(daemon.hasEnded, math.max(0.0, (runUntil - System.nanoTime()) / 1e9))
      val endMs = System.currentTimeMillis()
      if (failAt >= 0) jvm.sampleHeap()
      // End the run through the daemon, as an external stop (TERM) would:
      // `block` sees the flag and tears down, dismissing the live stage.
      // A watcher marks when the stage reaches Ended.
      val endedNs = new AtomicLong(0L)
      val ended = new Thread(() => if (tether.waitEnded(30.seconds)) endedNs.set(System.nanoTime()))
      val d0 = System.nanoTime()
      ended.start()
      daemon.terminate()
      daemon.block()
      val teardownS = (System.nanoTime() - d0) / 1e9
      ended.join()
      val dismissS = if (endedNs.get() == 0L) 0.0 else (endedNs.get() - d0) / 1e9
      tethers.remove(tether)
      tracer.add(Span(pid, runSpan, "pipeline", pid, t0, System.nanoTime(), Map("pipeline" -> "rate")))
      val m = tether.readMetrics()
      val lifeS = (System.nanoTime() - t0) / 1e9

      // Accounting: the committed batches must cover values 0..N-1 once
      // each, and the final windows must hold exactly those rows.
      val runIds = log.runIds.asScala.toSeq
      waitFor(committed(runIds).keySet.forall(log.received.containsKey), 5)
      val commits = committed(runIds).toSeq.sortBy(_._1)
      val obs = commits.flatMap { case (id, p) =>
        Option(p.observedMetrics.get("p1")).filter(r => r.getLong(0) > 0).map(r => id -> r)
      }
      var expectLo = 0L
      var gaps = 0L
      obs.foreach { case (_, r) =>
        if (r.getLong(1) != expectLo) gaps += math.abs(r.getLong(1) - expectLo)
        expectLo = r.getLong(2) + 1
      }
      val n = expectLo
      val obsRows = obs.map(_._2.getLong(0)).sum
      val windows = finalWindows(log, commits.map(_._1).toSet)
      val winRows = windows.values.map(_._1).sum
      val winSum = windows.values.map(_._2).sum
      val lostOrDup = gaps + math.abs(obsRows - n) + math.abs(winRows - n) +
        (if (winSum != BigDecimal(n) * BigDecimal(n - 1) / 2) 1L else 0L)
      if (lostOrDup != 0)
        System.err.println(s"[perfbench] rate accounting: n $n obs $obsRows windows $winRows sum $winSum gaps $gaps")

      // Per-row latency: rows of a batch are stamped on the rate grid from
      // the batch's first stamp, and received when the sink got the batch.
      val lat = mutable.ArrayBuffer.empty[Double]
      obs.foreach { case (id, r) =>
        Option(log.received.get(id)).foreach { case (recvMs, _) =>
          val lo = r.getLong(1)
          val ts0 = r.getTimestamp(3).getTime
          var v = lo
          while (v <= r.getLong(2)) {
            lat += (recvMs - (ts0 + (v - lo) * 1000.0 / rate)) / 1e3
            v += 1
          }
        }
      }
      val recoveryS = if (failNs.get() == 0L) 0.0 else
        Option(log.received.get(failAt)).map { case (ms, _) =>
          (ms - (System.currentTimeMillis() - (System.nanoTime() - failNs.get()) / 1000000L)) / 1e3
        }.getOrElse(0.0)
      val dueRows = (endMs - obs.headOption.map(_._2.getTimestamp(3).getTime).getOrElse(endMs)) * rate / 1000.0
      // failed for good: the stage died, or the injected batch never committed
      val failedForGood = tether.failureOption.isDefined ||
        (failNs.get() != 0L && !log.received.containsKey(failAt))
      Phase1(lat.toSeq, n, lostOrDup, failedForGood,
        recoveryS, m.getOrElse("counter.restarts", 0L), m.getOrElse("counter.ticks", 0L) / lifeS,
        dismissS, math.max(0.0, dueRows - n), teardownS, spawnS, runIds, pid)
    }

    scraper.start()
    // Warm-up, untimed: one drain and a short open-loop run.
    val (_, warmS) = Result.time {
      drain(seededPerm(97, cfg.seed), timed = false)
      phase1(2.0, seededPerm(Keys, cfg.seed), -1)
    }
    val setupS = Result.sinceJvmStart()

    val windowStartMs = System.currentTimeMillis()
    val rnd = new scala.util.Random(cfg.seed)
    val p1Seconds = cfg.seconds * 0.6
    // early enough that the failed batch is replayed well inside phase 1
    val failAt = 2L + rnd.nextInt(3)
    val cpu1 = jvm.cpuNs
    val p1 = phase1(p1Seconds, seededPerm(Keys, cfg.seed + 1), failAt)
    val p1Cpu = (jvm.cpuNs - cpu1) / 1e9
    val drains = mutable.ArrayBuffer.empty[Drain]
    val p2Start = System.nanoTime()
    while (drains.size < 3 || (System.nanoTime() - p2Start) / 1e9 < cfg.seconds - p1Seconds)
      drains += drain(seededPerm(97, cfg.seed + 2 + drains.size), timed = true)
    val windowEndMs = System.currentTimeMillis()
    scraper.close()
    watch.close()
    probe.foreach(_.settle())
    // Micro-batch jobs carry no phase tag: count every job of the timed
    // window as execution, before the layer probes fire jobs of their own.
    val sparkLayers = probe.map { p =>
      val (_, overall) = SparkLayers.tally(p, j =>
        if (j.startMs >= windowStartMs && j.endMs <= windowEndMs) Some((0, "execute")) else None,
        cfg.cores)
      Map(
        "exec.job_wall_p50_s" -> (overall("job_wall_p50_s"), "s"),
        "exec.core_idle_share" -> (overall("core_idle_share"), "share"))
    }.getOrElse(Map.empty)

    val (tailV, tailP, tailN) = Stats.tail(p1.latencies)
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.median(drains.map(_.wallS).toSeq), "s"),
      "latency_p50_s" -> (Stats.median(p1.latencies), "s"),
      "latency_tail_s" -> (tailV, "s"),
      "cpu_s" -> (Stats.median(drains.map(_.cpuS).toSeq), "s"),
      "peak_heap_mb" -> (jvm.peakAfterGcBytes / Result.MB, "MB"))

    val allRuns = p1.runIds ++ drains.flatMap(_.runIds)
    val progs = progress.of(allRuns)
    def dur(k: String): Seq[Double] =
      progs.flatMap(p => Option(p.durationMs.get(k)).map(_.longValue / 1e3))
    val stateOps = progs.flatMap(_.stateOperators.toSeq)
    val batchS = dur("triggerExecution")
    val (b99, _, _) = Stats.tail(batchS)
    val scrapes = scraper.samples
    val fnNs = if (cfg.trace) LayerProbes.functions(spark, cfg.dataDir, cfg.seed) else Map.empty[String, Double]
    val pipelineS = if (cfg.trace) LayerProbes.pipelineBuild(spark, cfg.dataDir) else 0.0

    val perLayer = sparkLayers ++ Map(
      "setup.session_s" -> (sessionS, "s"),
      "setup.warm_s" -> (warmS, "s"),
      "pipeline.build_s" -> (pipelineS, "s"),
      "streaming.batches" -> (progs.size.toDouble, "count"),
      "streaming.batch_p50_s" -> (Stats.median(batchS), "s"),
      "streaming.batch_p99_s" -> (Stats.quantile(batchS, 0.99), "s"),
      "streaming.plan_s_p50" -> (Stats.median(dur("queryPlanning")), "s"),
      "streaming.walcommit_s_p50" -> (Stats.median(dur("walCommit")), "s"),
      "streaming.addbatch_s_p50" -> (Stats.median(dur("addBatch")), "s"),
      "streaming.state_rows" -> (if (stateOps.isEmpty) 0.0 else stateOps.map(_.numRowsTotal).max.toDouble, "count"),
      "streaming.state_mb" -> (if (stateOps.isEmpty) 0.0 else stateOps.map(_.memoryUsedBytes).max / Result.MB, "MB"),
      "streaming.state_commit_s_p50" -> (Stats.median(stateOps.map(_.commitTimeMs / 1e3)), "s"),
      "streaming.backlog_rows" -> (p1.backlogRows, "count"),
      "runtime.spawn_to_running_s" -> (Stats.median(p1.spawnS +: drains.map(_.spawnS).toSeq), "s"),
      "runtime.restart_recovery_s" -> (p1.recoveryS, "s"),
      "runtime.restarts" -> (p1.restarts.toDouble, "count"),
      "runtime.ticks_per_s" -> (p1.ticksPerS, "1/s"),
      "runtime.dismiss_to_ended_s" -> (p1.dismissS, "s"),
      "daemon.end_detect_s" -> (Stats.median(drains.map(_.blockS).toSeq), "s"),
      "daemon.teardown_s" -> (p1.teardownS, "s"),
      "metrics.scrape_s_p50" -> (Stats.median(scrapes), "s"),
      "metrics.series" -> (scraper.series.toDouble, "count")) ++
      fnNs.map { case (fn, ns) => s"functions.$fn.ns_per_row" -> (ns, "ns") }

    // Micro-batches as spans under their pipeline.
    if (cfg.trace) {
      val pipelineOf = (p1.runIds.map(_ -> p1.spanId)).toMap
      progs.foreach { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val s = tracer.origin + (startMs - tracer.wallOriginMs) * 1000000L
        val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val parent = pipelineOf.getOrElse(p.runId, 0L)
        tracer.add(Span(tracer.nextId(), parent, "micro-batch", parent, s, s + d * 1000000L,
          Map("batch" -> p.batchId, "rows" -> p.numInputRows)))
      }
    }
    http.stop()

    val lost = p1.lostOrDup + drains.map(_.lostOrDup).sum + (if (p1.batchFailedForGood) 1 else 0)
    val attempted = p1.rows + drains.map(_.rows).sum
    val artifact = Map(
      "rate_rows_per_s" -> rate,
      "drain_rows" -> drainRows,
      "edge_capacity" -> capacity,
      "fail_batch" -> failAt,
      "phase1_rows" -> p1.rows,
      "phase1_cpu_s" -> p1Cpu,
      "phase1_latency" -> Stats.summary(p1.latencies),
      "latency_tail_percentile" -> tailP,
      "latency_tail_samples" -> tailN,
      "drain_rows_per_s" -> Stats.median(drains.map(d => d.rows / d.wallS).toSeq),
      "drains" -> drains.map(d => Map("wall_s" -> d.wallS, "cpu_s" -> d.cpuS,
        "spawn_s" -> d.spawnS, "block_s" -> d.blockS)),
      "error_rate" -> lost.toDouble / math.max(1L, attempted),
      "lost_or_duplicated" -> lost)
    (spark, Result(math.max(1L, attempted), lost, endToEnd, perLayer, artifact))
  }
}
