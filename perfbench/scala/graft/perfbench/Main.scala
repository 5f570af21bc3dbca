package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One reported number: `n` is its sample count (0 for a count or a
  * single measurement). */
final case class Metric(name: String, value: Double, unit: String, n: Int = 0)

/** What a workload hands back: its end-to-end metrics (untraced run)
  * or per-layer metrics (traced run), the failure accounting, and
  * free-form diagnostic lines. */
final case class Outcome(ops: Ops, metrics: Seq[Metric], notes: Seq[String] = Nil)

/** Minimal JSON writing (the result line and the span file). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Command-line entry: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --inputs DIR`. Builds one `local[nproc]` session, runs the workload,
  * prints every metric by name with its unit and sample count, then
  * the result object as the last stdout line. Exits 1 if any output
  * check failed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                        inputs: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("inputs")).toAbsolutePath)
  }

  val Workloads: Map[String, Context => Outcome] = Map(
    "batch_elt" -> BatchElt.run,
    "analytics" -> Analytics.run)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; known: ${Workloads.keys.mkString(", ")}"))
    Files.createDirectories(a.work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, a.work)
    val runId = java.util.UUID.randomUUID().toString
    val trace = if (a.trace) Some(new Trace(spark, a.workload, runId)) else None
    val ctx = Context(spark, a.seed, a.seconds, a.work, a.inputs, trace)
    Timeline.mark("session")
    val out =
      try workload(ctx)
      catch { case e: Throwable => // a crashed workload is one failed operation
        e.printStackTrace()
        val ops = new Ops
        ops.attempt(); ops.fail(a.workload, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        Outcome(ops, Nil)
      } finally trace.foreach(_.write(a.work.resolve("trace_spans.jsonl")))
    val measured =
      if (a.trace) out.metrics else out.metrics :+ Metric("peak_rss_mb", Context.peakRssMb(), "MB")
    val (metrics, missing) = declared(a.workload, a.trace, measured)
    out.notes.foreach(n => println(s"[${a.workload}] $n"))
    // host speed (diagnostic, not a metric): traced runs only, after the
    // workload, since the canary costs seconds at a few cores
    if (a.trace) println(f"[${a.workload}] host_factor ${ctx.hostFactor()}%.2f")
    Timeline.mark("done")
    println(s"[${a.workload}] timeline ${Timeline.render}")
    println(f"[${a.workload}] failed_share ${out.ops.failedShare}%.4f (${out.ops.failed}/${out.ops.attempted})")
    out.ops.errors.foreach(e => println(s"[${a.workload}] FAILED $e"))
    missing.foreach(n => println(s"[${a.workload}] FAILED no value for end-to-end metric $n"))
    metrics.foreach { m =>
      val n = if (m.n > 0) s" (n=${m.n})" else ""
      println(s"[${a.workload}] ${m.name} ${Json.num(m.value)} ${m.unit}$n")
    }
    val correct = out.ops.failed == 0 && out.ops.attempted > 0 && missing.isEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.ops.attempted.toString,
      "failed" -> out.ops.failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The metrics a run of a workload BENCHMARK.json lists reports, in
    * the order it declares them, with the declared names it has no
    * value for. A traced run reports every per-layer metric: a layer the
    * workload never calls reads 0 (its prediction is "no change"). An
    * untraced run must measure every end-to-end metric; the missing ones
    * make the run incorrect. */
  def declared(workload: String, traced: Boolean, ms: Seq[Metric]): (Seq[Metric], Seq[String]) = {
    val f = Paths.get("BENCHMARK.json")
    if (!Files.exists(f)) return (ms, Nil)
    val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
    def entries(key: String) = (0 until spec.get(key).size).map(spec.get(key).get(_))
    if (!entries("workloads").exists(_.get("name").asText() == workload)) return (ms, Nil)
    val byName = ms.map(m => m.name -> m).toMap
    val names = entries(if (traced) "per_layer" else "end_to_end")
      .map(n => n.get("name").asText() -> n.get("unit").asText())
    (byName.keySet -- names.map(_._1)).foreach(n => System.err.println(s"undeclared metric $n"))
    if (traced) (names.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) }, Nil)
    else (names.flatMap { case (n, _) => byName.get(n) }, names.map(_._1).filterNot(byName.contains))
  }

  /** The Bench session's confs at `local[cpus]`, with every scratch
    * location inside the work directory. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
