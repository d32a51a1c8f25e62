package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import graft.Bench

/** Plan-audit tool (not part of the driver contract): prints the
  * formatted physical plan of registered queries, or times one query.
  * Runs in [[Bench]]'s session (`SPARK_GRAFT_CPUS`, UTC, AQE) and
  * times through Bench's noop-sink runner, so its numbers are
  * comparable with a `SPARK_GRAFT_BENCH_ONLY` bench run.
  *
  * Usage:
  *   graft.tools.Probe explain [sfDir] [queryName ...]
  *   graft.tools.Probe time <queryName> [sfDir] [repeats]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Bench.newSession()
    val mode = args.headOption.getOrElse("explain")
    mode match {
      case "time" =>
        require(args.length >= 2 &&
          graft.queries.Registry.queries.contains(args(1)),
          s"usage: Probe time <queryName> [sfDir] [repeats]; known: " +
            graft.queries.Registry.queries.keys.toSeq.sorted.mkString(", "))
        val name = args(1)
        val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
        val reps = if (args.length > 3) args(3).toInt else 3
        // runOne clears the cache first, so a rep cannot serve the
        // previous rep's materialized result from the block store
        for (i <- 1 to reps) {
          val t = Bench.runOne(spark, name, dir)
          println(if (t < 0) s"$name run $i: failed" else f"$name run $i: $t%.2f s")
        }
      case _ =>
        val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
        val names = if (args.length > 2) args.drop(2).toSeq
          else graft.queries.Registry.queries.keys.toSeq.sorted
        names.foreach { n =>
          println(s"##### $n")
          println(graft.queries.Registry.queries(n)(spark, dir)
            .queryExecution.explainString(FormattedMode).take(4000))
        }
    }
    spark.stop()
  }
}
