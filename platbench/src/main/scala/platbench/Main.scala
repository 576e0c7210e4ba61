package platbench

import graft.GraftSession

/** Benchmark entry point (launched by run.py):
  *
  *   --workload cdc|dedup --seed N --seconds S --trace 0|1
  *   --dir <fresh scratch dir> --t0 <process start, epoch seconds>
  *
  * Prints one JSON result as the last line of stdout.
  */
object Main {

  /** Whole rounds a run makes: as many nominal-length rounds as fit its
    * seconds, at least one — a count fixed by the arguments alone, so
    * every run of a workload does the same operations.
    */
  def rounds(seconds: Int, nominalRoundS: Int): Int =
    math.max(1, seconds / nominalRoundS)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val dir = arg("dir")
    // everything Spark and Hive could leave behind stays in the run's dir
    System.setProperty("spark.local.dir", s"$dir/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$dir/warehouse")
    System.setProperty("derby.system.home", s"$dir/derby")
    val code =
      try {
        val spark = GraftSession.build(
          Runtime.getRuntime.availableProcessors.toString, "platbench")
        spark.sparkContext.setLogLevel("ERROR")
        val ctx = new Ctx(spark, new Trace(spark, arg("trace") == "1"),
          arg("seed").toLong, arg("seconds").toInt, s"$dir/work",
          arg("t0").toDouble)
        val result = arg("workload") match {
          case "cdc" => CdcBench.run(ctx)
          case "dedup" => DedupBench.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        spark.stop()
        println(result.json)
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }
}
