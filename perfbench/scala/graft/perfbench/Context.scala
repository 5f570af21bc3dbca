package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed and time budget,
  * its scratch directory, a directory for fixed inputs that outlive the
  * run, and the tracer (traced runs only). */
final case class Context(spark: SparkSession, seed: Long, seconds: Int, work: Path,
                         inputs: Path, trace: Option[Trace]) {

  /** Runs `body` inside span `name` when traced, plainly otherwise. */
  def inSpan[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))

  /** The workload's own scratch, emptied by [[coldStart]]. */
  def scratch: Path = work.resolve("scratch")

  /** Removes the benchmark's scratch and the library's content-keyed
    * caches (marts, staged stream replays, stream temp dirs) under its
    * scratch base, so that every setup starts from the same state. */
  def coldStart(): Unit = {
    Context.deleteTree(scratch)
    val base = graft.SparkEntry.scratchBase.toFile
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => Context.CachePrefixes.exists(f.getName.startsWith))
      .foreach(f => Context.deleteTree(f.toPath))
    Files.createDirectories(scratch)
  }

  /** Runs the full setup `reps` times from a cold start and returns the
    * last setup's value with the median setup seconds. */
  def repeatedSetup[T](reps: Int)(setup: => T): (T, Metric) = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      coldStart()
      val v = setup
      (v, (System.nanoTime() - t0) / 1e9)
    }
    Timeline.mark("setup")
    (runs.last._1, Metric("setup_s", Stats.median(runs.map(_._2)), "s", reps))
  }

  /** `HostCanary` host-speed factor, a diagnostic taken outside any
    * timed region (1.0 = the canary's reference host). */
  def hostFactor(): Double = graft.HostCanary.measure(spark) / graft.HostCanary.Ref
}

object Context {
  val CachePrefixes = Seq("graft_mart_", "graft_sj_stage_", "graft_sjo_stage_", "graft_stream_")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists(_))
    }

  /** VmHWM of this process in MB (0 where /proc is absent). */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Wall-clock marks since JVM start, printed with the result so a
  * reader can see where a run's time went. */
object Timeline {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def mark(name: String): Unit =
    marks.synchronized(marks += name -> (System.currentTimeMillis() - start) / 1000.0)
  def render: String = marks.synchronized(marks.map { case (n, t) => f"$n@$t%.1f" }.mkString(" "))
}
