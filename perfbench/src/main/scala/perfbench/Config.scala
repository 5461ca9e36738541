package perfbench

/** Flat settings handed over by `run.py`, which owns the workload table
  * (`workloads.json`) and the command-line contract. */
final case class Config(args: Map[String, String]) {
  private def get(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def workload: String = get("workload")
  def kind: String = get("kind")
  def seed: Long = get("seed").toLong
  def seconds: Double = get("seconds").toDouble
  def trace: Boolean = get("trace") == "1"
  def cores: Int = get("cores").toInt
  def outDir: String = get("out")
  def workDir: String = get("work")
  def mode: String = args.getOrElse("mode", "run")
  def commit: String = args.getOrElse("commit", "unknown")
  def dataDir: String = get("data")
  def queries: Seq[String] = get("queries").split(",").toSeq.filter(_.nonEmpty)
  def expected: Option[String] = args.get("expected").filter(_.nonEmpty)
  def long(k: String): Long = get(k).toLong
}

object Config {
  def parse(argv: Array[String]): Config = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_.head.startsWith("--")),
      s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    Config(argv.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap)
  }
}
