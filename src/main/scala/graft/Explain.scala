package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit main: prints `explain("formatted")` for the named
  * queries (or the Bench headline set) so shuffle/broadcast/pushdown/
  * codegen structure can be reviewed per operator.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  * `SPARK_GRAFT_CPUS` sets the local core count (default 4), which
  * core-derived partition floors such as [[graft.operators.Tuned]]'s
  * read; shuffle partitions stay at 4, so plans compare across core
  * counts.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.api.GraftSession
      .builder(appName = "graft-explain", master = s"local[$cpus]",
        shufflePartitions = Some(4))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
