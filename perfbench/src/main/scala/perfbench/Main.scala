package perfbench

import java.nio.file.{Files, Paths}

/** Harness entry point, launched by `run.py` with flat `--key value`
  * settings. Runs one workload, then writes `result.json` (the metrics
  * `run.py` prints) and `trace.json` (provenance, spans, per-query rows)
  * under `--out`. */
object Main {
  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep a failed JVM alive
        e.printStackTrace()
        System.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val cfg = Config.parse(argv)
    val jvm = new JvmProbe
    val loadStart = jvm.loadAvg
    val tracer = new Tracer(cfg.trace)
    val (spark, res) = cfg.kind match {
      case "batch" => BatchWorkload.run(cfg, tracer, jvm)
      case "stream" => StreamWorkload.run(cfg, tracer, jvm)
      case other => throw new IllegalArgumentException(s"unknown workload kind $other")
    }
    val prov = Provenance.stamp(spark, cfg, loadStart, jvm.loadAvg)
    def metrics(m: Map[String, (Double, String)]) =
      scala.collection.immutable.TreeMap(m.toSeq: _*).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u)
      }
    val result = Map(
      "attempted" -> res.attempted, "failed" -> res.failed,
      "end_to_end" -> metrics(res.endToEnd), "per_layer" -> metrics(res.perLayer),
      "provenance" -> prov)
    val out = Paths.get(cfg.outDir)
    Files.createDirectories(out)
    Files.write(out.resolve("trace.json"), Result.json(result ++ Map(
      "run" -> res.artifact, "spans" -> tracer.rendered)))
    Files.write(out.resolve("result.json"), Result.json(result))
    spark.stop()
    System.exit(0)
  }
}
