package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One benchmark run in one JVM, driven by `perfbench/run.py`:
  *
  *  1. `--setups` timed session builds (with function registration), all
  *     but the last stopped again, then the workload's warm-up;
  *  2. workload passes until `--seconds` have been measured. With
  *     `--trace 1` the passes alternate untraced and traced, so the traced
  *     ones give the per-layer numbers and both give the overhead;
  *  3. the outputs `run.py` compares with DuckDB, from the last pass's
  *     state (the catalog writes that pass's result frames once more).
  *
  * Writes `result.json` (and, when tracing, `spans.jsonl` and
  * `jobs.jsonl`) under `--out`. Spans are recorded here, around the calls
  * into the engine's public functions; nothing inside the engine is
  * instrumented. */
object Harness {
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val nSetups = opts("setups").toInt
    new File(out).mkdirs()

    val workload: Workload = opts("kind") match {
      case "pipeline" => new PipelineWorkload(opts("data"), out)
      case "catalog" => new CatalogWorkload(opts("data"), out, opts("queries").split(',').toSeq)
      case k => throw new IllegalArgumentException(s"unknown workload kind $k")
    }

    // set-up: session build (the engine registers its SQL functions in
    // it) plus one small job, `--setups` times; the last session stays
    val setups = mutable.ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    for (i <- 1 to nSetups) {
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores = cores, appName = "perfbench")
      val built = secondsSince(t0)
      spark.range(1000).selectExpr("sum(id)").collect()
      setups += ((built, secondsSince(t0)))
      if (i < nSetups) spark.stop()
    }
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, opts("run-id"))
    // the untimed warm-up, so the JIT has compiled the common code paths
    // before the first measured pass
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    val warmUp = secondsSince(w0)

    val storage = new StorageListener
    sc.addSparkListener(storage)
    val passes = mutable.ArrayBuffer.empty[ObjectNode]
    val t0 = System.nanoTime()
    var i = 0
    // traced runs make at least three passes, untraced-traced-untraced, so
    // the JIT's pass-to-pass speed-up cancels out of the tracing overhead
    while (i < (if (trace) 3 else 1) || secondsSince(t0) < seconds) {
      // the previous pass's cached blocks go before this pass starts; the
      // last pass keeps its state for the check
      workload.cleanup(spark)
      PerfbenchBridge.drainListenerBus(sc)
      val traced = trace && i % 2 == 1
      val jobs = new JobListener
      if (traced) sc.addSparkListener(jobs)
      storage.resetPeak()
      tracer.enabled = traced
      tracer.pass = i
      val p0 = System.nanoTime()
      val ops = tracer.span("pass")(workload.pass(spark, tracer))
      val wall = secondsSince(p0)
      tracer.enabled = false
      PerfbenchBridge.drainListenerBus(sc)
      if (traced) {
        sc.removeSparkListener(jobs)
        tracer.recordJobs(jobs)
      }
      val node = mapper.createObjectNode()
        .put("index", i).put("traced", traced).put("wall_s", wall)
        .put("cache_peak_mb", storage.peakBytes / 1048576.0)
      val opsNode = node.putArray("ops")
      ops.foreach(o => opsNode.addObject()
        .put("name", o.name).put("s", o.seconds).put("ok", o.ok))
      passes += node
      i += 1
    }
    val measured = secondsSince(t0)

    val c0 = System.nanoTime()
    val checkOps = workload.writeCheckOutputs(spark)
    val checkS = secondsSince(c0)
    val result = mapper.createObjectNode()
      .put("kind", opts("kind")).put("cores", cores)
      .put("measured_s", measured).put("warm_up_s", warmUp)
      .put("check_s", checkS)
      .put("java", System.getProperty("java.version"))
      .put("spark", spark.version)
      .put("advisory_mb", spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val setupArr = result.putArray("setups")
    setups.foreach { case (b, s) => setupArr.addObject().put("build_s", b).put("setup_s", s) }
    result.putArray("passes").addAll(passes.asJava)
    val checkArr = result.putArray("check_ops")
    checkOps.foreach(o => checkArr.addObject().put("name", o.name).put("ok", o.ok))
    Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(result), UTF_8)
    if (trace) tracer.write(out)
    spark.stop()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A timed operation of a pass: a catalog query, or one pipeline step. */
  final case class Op(name: String, seconds: Double, ok: Boolean)

  /** Time `body` as one operation; a throw is a failed operation. */
  def timeOp(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
      }
    Op(name, secondsSince(t0), ok)
  }
}

/** Spans around the benchmark's calls into the engine. While enabled, each
  * span also tags the jobs its thread launches through the
  * `perfbench.span` local property; while disabled, `span` only runs its
  * body. Times are epoch milliseconds. */
final class Tracer(sc: org.apache.spark.SparkContext, runId: String) {
  private val mapper = new ObjectMapper()
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[ObjectNode]
  private val jobs = mutable.ArrayBuffer.empty[ObjectNode]
  private var stack = List.empty[Int]
  var enabled = false
  var pass = 0

  private def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val node = mapper.createObjectNode()
        .put("id", id).put("name", name).put("parent", stack.headOption.getOrElse(-1))
        .put("run", runId).put("pass", pass).put("start", nowMs)
      if (label.nonEmpty) node.put("label", label)
      spans += node
      stack = id :: stack
      sc.setLocalProperty(JobListener.SpanKey, id.toString)
      try body
      finally {
        node.put("end", nowMs)
        stack = stack.tail
        sc.setLocalProperty(JobListener.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  def recordJobs(l: JobListener): Unit = l.synchronized {
    l.jobs.foreach { j =>
      val node = mapper.createObjectNode()
        .put("id", j.id).put("span", j.span).put("run", runId).put("pass", pass)
        .put("start", j.startMs.toDouble).put("end", j.endMs.toDouble)
      val st = node.putArray("stages")
      j.stageIds.flatMap(l.stages.get).filter(s => s.job == j.id && s.tasks > 0).foreach { s =>
        val stage = st.addObject().put("id", s.id).put("tasks", s.tasks)
          .put("run_s", s.runMs / 1e3).put("cpu_s", s.cpuNs / 1e9).put("gc_s", s.gcMs / 1e3)
          .put("shuffle_write_b", s.shuffleWriteB).put("shuffle_read_b", s.shuffleReadB)
          .put("fetch_wait_s", s.fetchWaitMs / 1e3).put("spill_b", s.spillB)
          .put("input_rows", s.inputRows).put("scans_files", s.scansFiles)
        val persisted = stage.putArray("persisted")
        s.persisted.foreach(id => persisted.add(id))
      }
      jobs += node
    }
  }

  /** Spans and jobs, one JSON object a line, written once when the run ends. */
  def write(dir: String): Unit = {
    def lines(ns: Seq[ObjectNode]) = ns.map(n => mapper.writeValueAsString(n) + "\n").mkString
    Files.writeString(Paths.get(dir, "spans.jsonl"), lines(spans.toSeq), UTF_8)
    Files.writeString(Paths.get(dir, "jobs.jsonl"), lines(jobs.toSeq), UTF_8)
  }
}

/** A workload: warm-up, one pass, clean-up between passes, and the
  * untimed outputs `run.py` checks. */
trait Workload {
  def warmUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, tracer: Tracer): Seq[Harness.Op]
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
  def writeCheckOutputs(spark: SparkSession): Seq[Harness.Op]

  /** Write a frame as one parquet file for the DuckDB comparison. */
  protected def dump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** The DuckDB SQL each checked output must equal, by output name. */
  protected def writeOracleSql(path: String, sql: Map[String, String]): Unit = {
    val node = new ObjectMapper().createObjectNode()
    sql.toSeq.sorted.foreach { case (k, v) => node.put(k, v) }
    Files.writeString(Paths.get(path), node.toString, UTF_8)
  }
}
