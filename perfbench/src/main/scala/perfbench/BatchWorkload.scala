package perfbench

import graft.ops.{Q, QueryDef}
import org.apache.spark.sql.SparkSession

/** A closed loop of cold query passes: one client, one query at a time.
  * Each pass runs the workload's queries in a seeded order; each query
  * starts after `Q.releaseAllPersisted` and a GC, and is timed as its
  * `run` (construction) and then `toRdd.count` on the final plan. */
object BatchWorkload {
  /** Passes a run makes even when `seconds` ends sooner: the pass metrics
    * are medians over at least this many. */
  val MinPasses = 3

  final case class QRun(pass: Int, name: String, qid: Long, constructSpan: Long,
      execSpan: Long, releaseS: Double, constructS: Double, execS: Double,
      cpuS: Double, gcS: Double, ok: Boolean) {
    def wallS: Double = constructS + execS
  }

  def run(cfg: Config, tracer: Tracer, jvm: JvmProbe): (SparkSession, Result) = {
    val runId = tracer.nextId()
    val dataDir = cfg.dataDir
    val (spark, sessionS) = Result.time(graft.Sessions.local(cfg.cores.toString))
    val probe = if (cfg.trace) Some(new SparkProbe(tracer)) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val sc = spark.sparkContext

    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val queries: Seq[QueryDef] = cfg.queries.map(n =>
      byName.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
    val expected = cfg.expected.map(Expected.load).getOrElse(Map.empty)

    // Warm pass, untimed: JIT and first-touch costs, plus the output check.
    val fps = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    var wrong = 0L
    val (_, warmS) = Result.time {
      queries.foreach { q =>
        Q.releaseAllPersisted(spark)
        val (got, s) = Result.time {
          try Right(Fingerprint.of(q.run(spark, dataDir)))
          catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        }
        System.err.println(f"[perfbench] warm ${q.name} $s%.3f s")
        val verdict = (got, expected.get(q.name)) match {
          case (Left(err), _) => s"error: $err"
          case (Right(fp), Some(want)) if fp == want => "ok"
          case (Right(fp), Some(want)) => s"mismatch: got ${fp.render} want ${want.render}"
          case (Right(_), None) => "no expected fingerprint"
        }
        if (verdict != "ok") {
          wrong += 1
          System.err.println(s"[perfbench] ${q.name}: $verdict")
        }
        fps(q.name) = got.fold(e => Map("error" -> e), fp => fp.render ++ Map("check" -> verdict))
      }
      Q.releaseAllPersisted(spark)
    }
    val setupS = Result.sinceJvmStart()
    if (cfg.mode == "dump") return (spark, dump(cfg, spark, queries, dataDir, fps.toMap))

    // Timed window: whole passes until `seconds` have elapsed.
    val runs = scala.collection.mutable.ArrayBuffer.empty[QRun]
    probe.foreach(p => p.synchronized { p.cachedPeakBytes = 0L })
    val windowStart = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - windowStart) / 1e9 < cfg.seconds) {
      val order = new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(queries)
      tracer.span("pass", runId, 0L, Map("pass" -> pass)) { passId =>
        order.foreach { q =>
          val qid = tracer.nextId()
          val cpu0 = jvm.cpuNs
          val (_, releaseS) = tracer.span("release", passId, qid) { _ =>
            Result.time(Q.releaseAllPersisted(spark))
          }
          val releaseCpu = jvm.cpuNs - cpu0
          System.gc()
          var constructS, execS = 0.0
          var cSpan, eSpan = 0L
          val cpu1 = jvm.cpuNs
          val gc1 = jvm.gcMs
          val t0 = System.nanoTime()
          val ok = try {
            if (cfg.trace) {
              sc.setJobGroup(s"perfbench-$qid", q.name)
              sc.setLocalProperty("perfbench.qid", qid.toString)
            }
            val df = tracer.span("construct", qid, qid) { id =>
              cSpan = id
              if (cfg.trace) sc.setLocalProperty("perfbench.span", id.toString)
              q.run(spark, dataDir)
            }
            val t1 = System.nanoTime()
            constructS = (t1 - t0) / 1e9
            tracer.span("execute", qid, qid) { id =>
              eSpan = id
              if (cfg.trace) sc.setLocalProperty("perfbench.span", id.toString)
              df.queryExecution.toRdd.count()
            }
            execS = (System.nanoTime() - t1) / 1e9
            true
          } catch {
            case e: Exception =>
              System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}")
              false
          } finally if (cfg.trace) {
            sc.setLocalProperty("perfbench.span", null)
            sc.setLocalProperty("perfbench.qid", null)
            sc.clearJobGroup()
          }
          val t2 = System.nanoTime()
          val cpu2 = jvm.cpuNs
          val gc2 = jvm.gcMs
          // heap still held at the end of the query (staged caches included)
          if (ok) jvm.sampleHeap()
          System.err.println(f"[perfbench] pass $pass ${q.name} release $releaseS%.3f construct $constructS%.3f execute $execS%.3f")
          tracer.add(Span(qid, passId, "query", qid, t0, t2, Map("query" -> q.name)))
          runs += QRun(pass, q.name, qid, cSpan, eSpan, releaseS, constructS, execS,
            (releaseCpu + cpu2 - cpu1) / 1e9, (gc2 - gc1) / 1e3, ok)
        }
      }
      pass += 1
    }
    Q.releaseAllPersisted(spark)
    probe.foreach(_.settle())
    val layers = probe.map(p => SparkLayers.batch(p, runs.groupBy(_.pass).toSeq.sortBy(_._1)
      .map(_._2.toSeq), cfg.cores)).getOrElse(Map.empty)
    // Layer probes run after the timed window, so they cannot perturb it.
    val fnNs = if (cfg.trace) LayerProbes.functions(spark, dataDir, cfg.seed) else Map.empty[String, Double]
    val pipelineS = if (cfg.trace) LayerProbes.pipelineBuild(spark, dataDir) else 0.0
    // Last, because ScaleData stops the session it shares with the harness.
    val datagenS = if (cfg.trace) LayerProbes.scaleData(dataDir, s"${cfg.workDir}/tmp/scaled") else 0.0

    val passes = runs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.toSeq)
    def perPass(f: Seq[QRun] => Double): Double = Stats.median(passes.map(f))
    val passS = perPass(_.map(r => r.releaseS + r.wallS).sum)
    val wall = runs.filter(_.ok).map(_.wallS).toSeq
    val (tailV, tailP, tailN) = Stats.tail(wall)
    val failedOps = runs.count(!_.ok).toLong

    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "latency_p50_s" -> (Stats.median(wall), "s"),
      "latency_tail_s" -> (tailV, "s"),
      "cpu_s" -> (perPass(_.map(_.cpuS).sum), "s"),
      "peak_heap_mb" -> (jvm.peakAfterGcBytes / Result.MB, "MB"))

    val perLayer = layers ++ Map(
      "setup.session_s" -> (sessionS, "s"),
      "setup.warm_s" -> (warmS, "s"),
      "setup.datagen_s" -> (datagenS, "s"),
      "ops.construct_s" -> (perPass(_.map(_.constructS).sum), "s"),
      "materialize.release_s" -> (perPass(_.map(_.releaseS).sum), "s"),
      "exec.final_s" -> (perPass(_.map(_.execS).sum), "s"),
      "exec.gc_s" -> (perPass(_.map(_.gcS).sum), "s"),
      "pipeline.build_s" -> (pipelineS, "s")) ++
      fnNs.map { case (fn, ns) => s"functions.$fn.ns_per_row" -> (ns, "ns") }

    val artifact = Map(
      "data_dir" -> dataDir,
      "queries" -> cfg.queries,
      "passes" -> passes.size,
      "query_samples" -> wall.size,
      "latency_tail_percentile" -> tailP,
      "latency_tail_samples" -> tailN,
      "error_rate" -> (failedOps + wrong).toDouble / math.max(1, runs.size + queries.size),
      "fingerprints" -> fps,
      "query_runs" -> runs.map(r => Map("pass" -> r.pass, "query" -> r.name, "qid" -> r.qid,
        "release_s" -> r.releaseS, "construct_s" -> r.constructS, "execute_s" -> r.execS,
        "cpu_s" -> r.cpuS, "gc_s" -> r.gcS, "ok" -> r.ok)))
    (spark, Result(runs.size.toLong + queries.size, failedOps + wrong, endToEnd, perLayer, artifact))
  }

  /** Oracle-check support: write each query's result as parquet, with the
    * DuckDB statement that should reproduce it, under `<out>/dump`. */
  private def dump(cfg: Config, spark: SparkSession, queries: Seq[QueryDef], dataDir: String,
      fps: Map[String, Any]): Result = {
    val dir = s"${cfg.outDir}/dump"
    queries.foreach { q =>
      Q.releaseAllPersisted(spark)
      q.run(spark, dataDir).write.mode("overwrite").parquet(s"$dir/${q.name}")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => queries.exists(_.name == n) }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), Result.json(oracle))
    Result(queries.size.toLong, 0L, Map.empty, Map.empty,
      Map("data_dir" -> dataDir, "fingerprints" -> fps, "dump" -> dir))
  }
}

/** Expected fingerprints, stored beside the benchmark as
  * `{"queries": {"<name>": {"rows": n, "hash": "<decimal>"}}}`. */
object Expected {
  def load(path: String): Map[String, Fingerprint.Fp] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val qs = root.get("queries")
    scala.jdk.CollectionConverters.IteratorHasAsScala(qs.fieldNames()).asScala.map { n =>
      val q = qs.get(n)
      n -> Fingerprint.Fp(q.get("rows").asLong(), q.get("hash").asText())
    }.toMap
  }
}
