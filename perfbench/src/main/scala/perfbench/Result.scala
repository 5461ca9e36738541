package perfbench

/** What one workload run hands back to [[Main]]: the operation tallies,
  * the end-to-end and per-layer metrics as (value, unit), and the body of
  * the trace artifact. */
final case class Result(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, (Double, String)],
    perLayer: Map[String, (Double, String)],
    artifact: Map[String, Any])

object Result {
  val MB: Double = 1024.0 * 1024.0

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** JSON for the artifacts: Scala maps, sequences, strings and numbers. */
  def json(v: Any): Array[Byte] = mapper.writeValueAsBytes(v)

  /** Seconds since the JVM started, the base of every `setup_s`. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
