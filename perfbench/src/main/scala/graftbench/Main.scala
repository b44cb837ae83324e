package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.core.{Engine, ScopedStorage}

/** The benchmark JVM: one workload, one seed, one closed-loop client thread
  * on one `local[nproc]` session. `perfbench/run.py` builds the classpath,
  * prepares the run-scoped scratch directory, launches this and prints the
  * result line; see `perfbench/README.md`.
  *
  * Phases: session start and its first action (together `setup_s`),
  * input generation and source loading (off the clock), one pass of the
  * fixed work and its correctness checks. With `--trace 0` the pass is
  * untraced and yields the end-to-end metrics; with `--trace 1` the same
  * pass is traced and yields the per-layer metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      scratch: File, launchMs: Long, out: File)

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("scratch")), need("launch-ms").toLong, new File(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val warehouse = new File(a.scratch, "warehouse").getAbsolutePath
    val localDir = new File(a.scratch, "local").getAbsolutePath

    val phases = mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = phases(name) = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val s0 = System.nanoTime()
    val spark = Engine.builder(s"local[$cpus]", "perfbench")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", localDir)
      .config("spark.sql.catalogImplementation", "in-memory")
      .getOrCreate()
    Engine.perfDefaults(spark)
    val sessionMs = (System.nanoTime() - s0) / 1e6
    mark("session")
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val listener = new SpanListener
    listener.install(spark)

    // Warm-up: the session's first action (scheduler and executor start-up).
    // Workload code generation and JIT compilation are deliberately not
    // warmed — they land in the measured pass, as they do in a fresh
    // `dbt run` or a freshly started ingestion or search service — because
    // a full warm-up pass would double the run's cost.
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    mark("warmup")
    val setupS = phases("warmup")

    val wl = Workload(a.workload, spark, new File(a.scratch, "inputs"), a.seed, a.seconds)
    wl.prepare()
    mark("inputs")

    // One pass of the fixed work; with --trace 1 the same pass is traced.
    val tracer = new Tracer(sc, enabled = a.trace)
    val ops = new Ops(tracer)
    sc.addJobTag(Tracer.PassTag)
    val start = tracer.nowMs
    val out = try wl.pass("p1", ops, tracer) finally sc.removeJobTag(Tracer.PassTag)
    val end = tracer.nowMs
    mark("pass")
    listener.drain(spark)
    val totals = listener.pass
    val verdict = wl.check("p1", out, ops)
    ScopedStorage.releaseAll(blocking = true)
    mark("checks")

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val details = mutable.LinkedHashMap.empty[String, Any]
    if (!a.trace) {
      val lat = ops.latenciesMs.toSeq
      metrics("setup_s") = setupS
      metrics("run_s") = out.runSeconds
      if (lat.nonEmpty) {
        val tail = Stats.tail(lat)
        metrics("op_p50_ms") = Stats.median(lat)
        metrics("op_tail_ms") = tail.valueMs
        details("op_samples") = lat.size
        details("op_tail_percentile") = tail.percentile
      }
      metrics("rows_per_s") = out.loopRows / out.loopSeconds
      metrics("write_bytes_per_input_byte") = totals.outputBytes.toDouble / out.inputBytes
      details("write_bytes") = totals.outputBytes
      details("input_bytes") = out.inputBytes
      details("loop_rows") = out.loopRows
    } else {
      val spans = tracer.spans.toSeq
      metrics ++= Layers.summarize(spans, listener.span)
      metrics("core.session.ms") = sessionMs
      Layers.fields(totals).foreach { case (f, v) => metrics(s"spark.$f") = v }
      metrics("spark.driver_ms") = Intervals.uncovered(start, end, totals.jobIntervals.toSeq)
      metrics("trace.coverage") = Layers.coverage(spans, start, end)
      metrics("trace.run_s") = out.runSeconds
      metrics("trace.overhead_s") = tracer.overheadSeconds
      details("spans") = spans.size
    }
    metrics ++= out.extras ++ verdict.guards
    if (verdict.fingerprint.nonEmpty) details("output_sha256") = verdict.fingerprint
    val pinned = sc.getPersistentRDDs.size
    ops.check("no storage left pinned")(pinned == 0, s"$pinned RDDs still persisted")
    details("failed_frac") = ops.failedFrac
    details("spark_version") = spark.version
    details("nproc") = cpus
    details("heap_max_bytes") = Runtime.getRuntime.maxMemory()
    details("warehouse") = warehouse
    details("spark_local_dir") = localDir
    details("session_ms") = sessionMs
    details("phases_s") = phases
    details("ops") = ops.timeline.map { case (n, ms) => Seq(n, ms) }
    spark.stop()

    if (!a.trace) metrics("peak_rss_mb") = peakRssMb()
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (ops.failed == 0),
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> metrics,
      "details" -> details,
      "failures" -> ops.failures.toSeq)
    Files.write(a.out.toPath, Json(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    val src = scala.io.Source.fromFile(status)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
