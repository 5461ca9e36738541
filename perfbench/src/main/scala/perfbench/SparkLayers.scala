package perfbench

/** Per-layer figures derived from the [[SparkProbe]] of a traced run. */
object SparkLayers {
  private def isCheckpoint(j: JobRecord): Boolean =
    j.name.startsWith("checkpoint at") || j.name.startsWith("localCheckpoint at")

  /** Length of the union of the given intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spark-side counters of the jobs that `phaseOf` places in a
    * (pass, phase), grouped per pass; other jobs are left out. */
  def tally(p: SparkProbe, phaseOf: JobRecord => Option[(Int, String)], cores: Int): (Map[Int, Map[String, Double]], Map[String, Double]) =
    p.synchronized {
      val placed = p.jobs.values.filter(_.endMs >= 0).flatMap(j => phaseOf(j).map(j.id -> _)).toMap
      val jobs = p.jobs.values.filter(j => placed.contains(j.id)).toSeq
      def stagesOf(js: Seq[JobRecord]) = js.flatMap(_.stages).distinct.flatMap(p.stages.get)
      val perPass = jobs.groupBy(j => placed(j.id)._1).map { case (pass, js) =>
        val exec = js.filter(j => placed(j.id)._2 == "execute")
        val all = stagesOf(js)
        val execStages = exec.flatMap(_.stages).distinct.filter(p.stages.contains)
        pass -> Map(
          "construct_jobs" -> js.count(j => placed(j.id)._2 == "construct").toDouble,
          "exec_jobs" -> exec.size.toDouble,
          "exec_stages" -> execStages.size.toDouble,
          "exec_tasks" -> execStages.map(p.stages(_).tasks).sum.toDouble,
          "checkpoint_jobs" -> js.count(isCheckpoint).toDouble,
          "shuffle_write_mb" -> all.map(_.shuffleWrite).sum / Result.MB,
          "shuffle_read_mb" -> all.map(_.shuffleRead).sum / Result.MB,
          "spill_mb" -> all.map(_.spill).sum / Result.MB,
          "executor_cpu_s" -> all.map(_.cpuNs).sum / 1e9)
      }
      val windowMs = unionMs(jobs.map(j => (j.startMs, j.endMs)))
      val busyMs = stagesOf(jobs).map(_.busyMs).sum
      val overall = Map(
        "job_wall_p50_s" -> Stats.median(jobs.map(j => (j.endMs - j.startMs) / 1e3)),
        "core_idle_share" ->
          (if (windowMs <= 0) 0.0 else math.max(0.0, 1.0 - busyMs.toDouble / (cores * windowMs))),
        "jobs_total" -> jobs.size.toDouble,
        "job_window_s" -> windowMs / 1e3)
      (perPass, overall)
    }

  def batch(p: SparkProbe, passes: Seq[Seq[BatchWorkload.QRun]], cores: Int): Map[String, (Double, String)] = {
    val phaseOf = passes.flatten.flatMap(r =>
      Seq(r.constructSpan -> (r.pass, "construct"), r.execSpan -> (r.pass, "execute"))).toMap
    val (perPass, overall) = tally(p, j => phaseOf.get(j.span), cores)
    def med(k: String): Double =
      Stats.median(passes.indices.map(i => perPass.get(i).map(_(k)).getOrElse(0.0)))
    val cachedPeak = p.synchronized(p.cachedPeakBytes)
    Map(
      "ops.construct_jobs" -> (med("construct_jobs"), "count"),
      "materialize.checkpoint_jobs" -> (med("checkpoint_jobs"), "count"),
      "materialize.cached_mb_peak" -> (cachedPeak / Result.MB, "MB"),
      "exec.jobs" -> (med("exec_jobs"), "count"),
      "exec.stages" -> (med("exec_stages"), "count"),
      "exec.tasks" -> (med("exec_tasks"), "count"),
      "exec.job_wall_p50_s" -> (overall("job_wall_p50_s"), "s"),
      "exec.core_idle_share" -> (overall("core_idle_share"), "share"),
      "exec.shuffle_write_mb" -> (med("shuffle_write_mb"), "MB"),
      "exec.shuffle_read_mb" -> (med("shuffle_read_mb"), "MB"),
      "exec.spill_mb" -> (med("spill_mb"), "MB"),
      "exec.executor_cpu_s" -> (med("executor_cpu_s"), "s"))
  }
}
