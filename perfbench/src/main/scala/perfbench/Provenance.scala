package perfbench

import org.apache.spark.sql.SparkSession

/** Where and on what a run was measured. Stamped into every artifact. */
object Provenance {
  private def memTotalKb: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }

  def stamp(spark: SparkSession, cfg: Config, loadStart: Double, loadEnd: Double): Map[String, Any] =
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores_used" -> cfg.cores,
      "mem_total_kb" -> memTotalKb,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "commit" -> cfg.commit,
      "workload" -> cfg.workload,
      "seed" -> cfg.seed,
      "seconds" -> cfg.seconds,
      "trace" -> cfg.trace,
      "loadavg_1m_start" -> loadStart,
      "loadavg_1m_end" -> loadEnd)
}
