package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe: every main (Verify, Bench, ScaleCurve,
  * GenScale, PlanDump, CcBench, TimeOne), the perfbench harness and the
  * specs (`SparkSpec`) build their session here, so a config change — an
  * ANSI pin, the nanos normalization — can never skew one caller against
  * the others. It is also the only place graft's Catalyst extensions are
  * installed, so a query's plan never depends on which queries ran
  * before it in the JVM.
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    // streaming temp checkpoints → tmpfs scratch (see Staging): the
    // fsync-heavy offset/commit/state metadata of every bounded
    // AvailableNow run stops touching the disk. spark.local.dir is
    // pinned to the PREVIOUS tmpdir so shuffle/spill scratch stays on
    // disk — RAM-backing multi-GB shuffle files during the sf1 sweep
    // would gamble the box's memory, the metadata never does.
    val diskTmp = graft.engine.Staging.redirectTmpToScratch()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", diskTmp)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores timestamp[ns]; read as long, normalized to
      // TimestampType in QueryBuilder.scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // pinned: the simhash lane-packing overflow guard (Dedup.scala)
      // relies on ANSI sum-overflow semantics as its backstop
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    installExtensions(spark)
    spark
  }

  /** Registers graft's SQL functions, its optimizer rules and the
    * TopKPerKey planner strategy. The rules go in through `experimental`
    * rather than `SparkSessionExtensions`, which would move them into the
    * Operator Optimization batch and would be skipped when `getOrCreate`
    * returns an existing session. Idempotent, so a rebuild on the same
    * session adds nothing twice.
    */
  private def installExtensions(spark: SparkSession): Unit = {
    graft.functions.GraftExtensions.descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val exp = spark.experimental
    exp.extraOptimizations = (exp.extraOptimizations ++ Seq(
      graft.functions.SimplifyJsToNumber, graft.plans.RewriteTopKWindow)).distinct
    exp.extraStrategies = (exp.extraStrategies :+ graft.plans.TopKPerKeyStrategy).distinct
  }

  /** Two-JSON-line artifact emit: stdout (summary line FIRST, so no
    * capture window can truncate it away) plus a best-effort file copy.
    */
  def emitJsonLines(path: String, lines: Seq[String]): Unit = {
    lines.foreach(println)
    try {
      val w = new java.io.PrintWriter(path)
      try lines.foreach(w.println) finally w.close()
    } catch { case _: Throwable => } // never fail the run on an unwritable CWD
  }
}
