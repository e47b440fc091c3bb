package graft
import org.apache.spark.sql.SparkSession

/** Dev scratch main: print the formatted executed plan of named queries
  * at an SF dir (default sf0.1) on SPARK_GRAFT_CPUS cores (default 8) —
  * the `.explain` feedback loop SCALE.md's plan audits use, runnable
  * without a spec.
  *
  * r17: with PLAN_OUT_DIR set, each query's `.explain("formatted")`
  * output is ALSO written to `$PLAN_OUT_DIR/<name>_<PLAN_SUFFIX>.txt`
  * (suffix default "plan") — the before/after plan artifacts the
  * optimization rounds commit under plans/r<N>/.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.get("PLAN_OUT_DIR")
    val suffix = sys.env.getOrElse("PLAN_SUFFIX", "plan")
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    for (name <- args) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count() // let AQE finalize so the printed plan is the real one
      println(s"==== $name ====")
      // r18 (r17 verdict #9): plan-SIZE metrics alongside the dump — the
      // 12k-char explain truncation hid expression-level wins (the r17
      // q_text_kl before/after artifacts were byte-identical while the
      // analyzed tree shrank ~60×); node counts make them checkable
      val opt = df.queryExecution.optimizedPlan
      val planNodes = opt.collect { case n => n }.size
      val exprNodes = opt.map(_.expressions.map(e =>
        e.collect { case x => x }.size).sum).sum
      val header = s"PLANSIZE $name plan_nodes=$planNodes expr_nodes=$exprNodes\n"
      println(header.trim)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(formatted.take(12000))
      outDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"${name}_$suffix.txt"),
          (header + formatted).getBytes("UTF-8"))
      }
    }
    spark.stop()
    System.exit(0)
  }
}
