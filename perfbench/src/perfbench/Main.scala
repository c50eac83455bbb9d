package perfbench

/** JVM side of the benchmark: `perfbench.Main CONF.properties OUT.json`.
  * run.py writes the configuration (generated inputs, ports, paths) and
  * turns the result file into the metrics line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val c = new Conf(args(0))
    c("workload") match {
      case "ingest_burst" | "ingest_paced" => Ingest.run(c, args(1))
      case "batch_suite" => Batch.run(c, args(1))
      case "store_churn" => Churn.run(c, args(1))
      case w => sys.error(s"unknown workload $w")
    }
  }
}
