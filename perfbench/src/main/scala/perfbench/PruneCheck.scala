package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchAccess

/** Self-test of the timed action: runs one registry query's DataFrame
  * through the benchmark's noop write and through `count()`, and records
  * the output columns and aggregate expressions each optimized plan keeps.
  * Usage: PruneCheck <config.json>; writes `prune.json` to the out dir.
  */
object PruneCheck {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val spark = graft.GraftSession.build(cfg.get("cpus").asText())
    val qes = new QeRecorder
    spark.listenerManager.register(qes)
    val df = graft.SparkEntry.queries(cfg.get("query").asText())(spark, cfg.get("data_dir").asText())

    def lastExec(write: Boolean) = {
      PerfbenchAccess.drainListeners(spark.sparkContext)
      qes.synchronized(qes.execs.filter(_.writeCols.isDefined == write).last)
    }
    df.write.format("noop").mode("overwrite").save()
    val noopQe = lastExec(write = true)
    df.count()
    val countQe = lastExec(write = false)
    J.write(s"${cfg.get("out_dir").asText()}/prune.json", J.obj(
      "df_cols" -> df.columns.toSeq,
      "noop_cols" -> noopQe.writeCols.getOrElse(Nil),
      "noop_aggs" -> noopQe.aggregates,
      "count_aggs" -> countQe.aggregates))
    spark.stop()
    System.exit(0)
  }
}
