package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.{PipelineRunner, QueryBuilder}
import graft.model.{Connector, ConnectorJson, PipelineSpec, SinkSpec}
import graft.sources.rest.StubServer

/** Closed-loop benchmark harness: one JVM, the production session recipe
  * (`GraftSession.build`), one op in flight.
  *
  * Usage: Harness <config.json>. The config (written by perfbench/run.py)
  * names the data directory, the output directory, the number of set-ups,
  * the untimed warm-up ops, the timed ops and which timed passes are
  * traced. The harness writes
  * `result.json` (set-up times, pass wall times, per-op latencies and
  * where each op's output can be checked) and, for a traced run,
  * `trace.json` (spans and per-op layer counters) into the output
  * directory. It never checks values itself: run.py compares every output
  * against DuckDB after the JVM has exited.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Op(id: String, kind: String, source: String, query: String,
                      connector: Option[Connector])

  /** One executed op: its phase boundaries (epoch µs) and the handles the
    * check and the trace need. */
  final class OpRun(val op: Op) {
    var t0, t1, b1, a0, a1 = 0L
    var ok = true
    var error: String = null
    var df: DataFrame = null
    var restRequests = 0
    var storageBytes = 0L
    var persisted = 0
    var sinkPath: String = null
    def latencyMs: Double = (t1 - t0) / 1000.0
  }

  def parseOp(n: JsonNode): Op = Op(
    n.get("id").asText(), n.get("kind").asText(),
    Option(n.get("source")).map(_.asText()).getOrElse(""),
    Option(n.get("query")).map(_.asText()).orNull,
    Option(n.get("connector")).map(c => ConnectorJson.parse(c.toString)))

  // a failure must end the JVM: the REST stub and Spark keep non-daemon
  // threads that would otherwise hold it until run.py's timeout
  def main(args: Array[String]): Unit =
    try measure(args) catch {
      case e: Throwable => e.printStackTrace(); System.exit(1)
    }

  private def measure(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cfg = mapper.readTree(new File(args(0)))
    val dataDir = cfg.get("data_dir").asText()
    val outDir = cfg.get("out_dir").asText()
    val passPlan = cfg.get("passes").elements().asScala.map(_.asBoolean()).toSeq
    val cpus = cfg.get("cpus").asInt()
    val nSetups = cfg.get("setups").asInt()
    val warmup = cfg.get("warmup").elements().asScala.map(parseOp).toSeq
    val ops = cfg.get("ops").elements().asScala.map(parseOp).toSeq

    // set-up: the first from JVM start, the others rebuild the session
    val setupS = ArrayBuffer[Double]()
    val buildMs = ArrayBuffer[Double]()
    var spark: SparkSession = null
    val qes = new QeRecorder
    for (i <- 0 until nSetups) {
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val b0 = System.nanoTime()
      spark = graft.GraftSession.build(cpus.toString)
      buildMs += (System.nanoTime() - b0) / 1e6
      spark.listenerManager.register(qes)
      StubServer.port // starts the in-process REST stub once per JVM
      require(new File(s"$dataDir/lineitem.parquet").exists, s"no tables under $dataDir")
      setupS += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1000.0
                 else (System.nanoTime() - t0) / 1e9)
    }
    val h = new Harness(spark, dataDir, outDir, qes)
    val phaseS = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phaseS(name) = phaseS.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    phaseS("setup") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    phase("warmup") {
      warmup.foreach { op =>
        val r = h.run(op)
        if (!r.ok) System.err.println(s"[perfbench] warm-up ${op.id} failed: ${r.error}")
      }
    }

    // timed passes, each from cleared storage; the trace listeners are
    // registered before the first traced pass only. The first pass's
    // outputs are checked right after it, outside the timed region and
    // before the next clear drops the blocks their plans read.
    val passes = ArrayBuffer[(Double, Boolean, Seq[OpRun])]()
    var recorders: Option[(SparkRecorder, StreamRecorder)] = None
    var checks: Seq[((String, String, String), Option[Boolean])] = Nil
    passPlan.foreach { tracedPass =>
      h.clearState()
      if (tracedPass && recorders.isEmpty) {
        val r = (new SparkRecorder, new StreamRecorder)
        spark.sparkContext.addSparkListener(r._1)
        spark.streams.addListener(r._2)
        recorders = Some(r)
      }
      val p0 = System.nanoTime()
      val runs = phase("passes")(ops.map(h.run))
      passes += (((System.nanoTime() - p0) / 1e9, tracedPass, runs))
      if (checks.isEmpty) checks = phase("check") {
        PerfbenchAccess.drainListeners(spark.sparkContext)
        runs.map(r => (h.checkOutput(r), h.fullOutputWritten(r)))
      }
    }
    val first = passes.head._3

    val result = J.obj(
      "setup_s" -> setupS.toSeq,
      "session_build_ms" -> buildMs.toSeq,
      "cpus" -> cpus,
      "phase_s" -> phaseS.toMap,
      "passes" -> passes.map { case (w, t, runs) => J.obj(
        "wall_s" -> w, "traced" -> t,
        "ops" -> runs.map(r => J.obj(
          "id" -> r.op.id, "kind" -> r.op.kind, "ok" -> r.ok, "error" -> r.error,
          "latency_ms" -> r.latencyMs, "storage_bytes" -> r.storageBytes,
          "persisted_rdds" -> r.persisted)))
      }.toSeq,
      "checks" -> first.zip(checks).map { case (r, (c, f)) => J.obj(
        "id" -> r.op.id, "kind" -> r.op.kind, "query" -> r.op.query,
        "ok" -> r.ok, "output" -> c._1, "oracle" -> c._2, "check_error" -> c._3,
        "full_output" -> f)
      })
    J.write(s"$outDir/result.json", result)
    recorders.foreach { case (sr, st) =>
      val tracedRuns = passes.find(_._2).get._3
      phase("trace")(J.write(s"$outDir/trace.json", Trace.assemble(tracedRuns, sr, st, qes, cpus)))
    }
    StubServer.stop()
    spark.stop()
    System.exit(0)
  }
}

final class Harness(spark: SparkSession, dataDir: String, outDir: String, qes: QeRecorder) {
  import Harness._
  private val registry = graft.SparkEntry.queries
  private val restSchema = "id BIGINT, name STRING, value DOUBLE"

  /** The REST stub read through the DSv2 source, then the connector's
    * filter → transform → project → sort → offset → limit steps, with the
    * same public pieces `QueryBuilder.build` composes. */
  def restFrame(c: Connector): DataFrame = {
    var df = spark.read.format("graft.sources.rest.RestSource")
      .option("schema", restSchema).option("url", StubServer.url("/rows"))
      .option("itemsPerPage", "100").load()
    if (c.filters.nonEmpty) df = df.filter(c.filters.map(QueryBuilder.filterToColumn).reduce(_ && _))
    if (c.transformations.nonEmpty) df = graft.transform.Transforms.applyAll(df, c.transformations)
    if (c.fields.nonEmpty) df = df.select(c.fields.map(col): _*)
    if (c.sort.nonEmpty) df = df.orderBy(c.sort.map(QueryBuilder.sortToColumn): _*)
    if (c.offset > 0) df = df.offset(c.offset.toInt)
    if (c.limit > 0 && c.limit < Long.MaxValue) df = df.limit(c.limit.toInt)
    df
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run one op: build its DataFrame, then one full-output action. */
  def run(op: Op): OpRun = {
    val r = new OpRun(op)
    val req0 = StubServer.requestCount.get()
    r.t0 = Clock.nowUs
    try op.kind match {
      case "registry" | "read" =>
        r.df = op.connector match {
          case None => registry(op.query)(spark, dataDir)
          case Some(c) if op.source == "rest" => restFrame(c)
          case Some(c) => QueryBuilder.build(spark, dataDir, c)
        }
        r.b1 = Clock.nowUs; r.a0 = r.b1
        noop(r.df)
        r.a1 = Clock.nowUs
      case "write" =>
        val c = op.connector.get
        r.sinkPath = s"$outDir/sinks/${op.id}"
        val sink = SinkSpec("parquet", r.sinkPath, mode = "overwrite")
        if (op.source == "rest") {
          r.df = restFrame(c)
          r.b1 = Clock.nowUs; r.a0 = r.b1
          graft.sinks.Sinks.write(r.df, sink)
          r.a1 = Clock.nowUs
        } else {
          // PipelineRunner.run up to its extract event is the build; from
          // extract to load is the sink write
          val log: graft.model.PipelineEvent => Unit = ev => ev.eventType match {
            case "extract" => r.b1 = Clock.nowUs; r.a0 = r.b1
            case "load" => r.a1 = Clock.nowUs
            case _ =>
          }
          new PipelineRunner(spark, dataDir, log)
            .run(PipelineSpec(Some(c), Some(sink)), onload = df => r.df = df)
        }
    } catch {
      case e: Throwable =>
        r.ok = false
        r.error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    r.t1 = Clock.nowUs
    if (r.b1 == 0L) r.b1 = r.t1
    if (r.a0 == 0L) r.a0 = r.b1
    if (r.a1 == 0L) r.a1 = r.t1
    // op boundary samples, outside the op's latency
    r.restRequests = StubServer.requestCount.get() - req0
    r.persisted = spark.sparkContext.getPersistentRDDs.size
    r.storageBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    r
  }

  /** Every timed run starts from the same storage state: no memos, no
    * cached plans, no persisted or checkpointed blocks. */
  def clearState(): Unit = {
    graft.ops.StorageMemos.invalidateAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Materialise an op's output for the DuckDB check: (parquet dir, oracle
    * SQL for registry ops, error). Write ops are checked on the files their
    * sink wrote. */
  def checkOutput(r: OpRun): (String, String, String) = {
    if (!r.ok) return (null, null, null)
    val oracle = if (r.op.kind == "registry") graft.SparkEntry.oracleSql.get(r.op.query).orNull else null
    if (r.op.kind == "write") return (r.sinkPath, oracle, null)
    val path = s"$outDir/check/${r.op.id}"
    try {
      r.df.coalesce(1).write.mode("overwrite").parquet(path)
      (path, oracle, null)
    } catch {
      case e: Throwable => (null, oracle, s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
  }

  /** Whether the op's timed action wrote every output column: the noop
    * write's input must carry exactly the DataFrame's columns. Sink writes
    * are proven by the check on their files instead (None). */
  def fullOutputWritten(r: OpRun): Option[Boolean] =
    if (!r.ok || r.op.kind == "write") None
    else {
      val a0 = r.a0 / 1000L - 1
      val a1 = r.a1 / 1000L + 1
      qes.synchronized(qes.execs.toList)
        .filter(q => q.writeCols.isDefined && q.startMs >= a0 && q.startMs <= a1)
        .lastOption.map(_.writeCols.get == r.df.columns.toSeq)
    }
}

/** Minimal JSON writer over Scala values. */
object J {
  private val mapper = new ObjectMapper()
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }
  def conv(v: Any): Any = v match {
    case null => null
    case None => null
    case Some(x) => conv(x)
    case m: java.util.Map[_, _] => m
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Iterable[_] => s.map(conv).toList.asJava
    case s: Array[_] => s.map(conv).toList.asJava
    case x => x
  }
  def write(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    mapper.writeValue(new File(path), conv(v))
  }
}
