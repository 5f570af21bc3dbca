package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Counters summed over the tasks of one span's jobs. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                          shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                          gcMs: Long = 0, persistedRdds: Set[Int] = Set.empty) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, gcMs + o.gcMs,
    persistedRdds ++ o.persistedRdds)

  def metrics(prefix: String): Seq[Metric] = Seq(
    Metric(s"$prefix.jobs", jobs.toDouble, "count"),
    Metric(s"$prefix.tasks", tasks.toDouble, "count"),
    Metric(s"$prefix.task_s", taskMs / 1000.0, "s"),
    Metric(s"$prefix.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    Metric(s"$prefix.spill_bytes", spillBytes.toDouble, "bytes"),
    Metric(s"$prefix.gc_ms", gcMs.toDouble, "ms"))
}

/** One call into a layer: name, wall interval, the span that caused
  * it, the run it belongs to, and the job group its jobs carry. */
final case class Span(name: String, startMs: Long, endMs: Long, parent: Option[String],
                      runId: String, group: String)

/** The benchmark's tracer: one [[SparkListener]] and one
  * [[StreamingQueryListener]], attached only around the traced pass of
  * a traced run ([[during]]). The
  * benchmark opens a span around each call into a layer; the span's
  * job group (`workload/name#k`) attributes every job, task and
  * persisted RDD to it. A streaming query's jobs carry the query's run
  * id as their group, which [[streamSpan]] maps to a span. Spans stay
  * in memory until [[write]]. */
final class Trace(spark: SparkSession, workload: String, runId: String) {
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val seq = new AtomicInteger()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groupAlias = new ConcurrentHashMap[String, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  /** Open and closed main-thread spans: (group, start ms, end ms). */
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, AtomicLong)]()
  val progress: ArrayBuffer[StreamingQueryProgress] = ArrayBuffer.empty
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  private def update(group: String)(f: Counters => Counters): Unit =
    byGroup.compute(group, (_, c) => f(Option(c).getOrElse(Counters())))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).flatMap(resolve(_, e.time))
        .foreach { g =>
        e.stageIds.foreach(stageGroup.put(_, g))
        val persisted = e.stageInfos.flatMap(_.rddInfos)
          .filter(_.storageLevel.isValid).map(_.id).toSet
        update(g)(c => c.copy(jobs = c.jobs + 1, persistedRdds = c.persistedRdds ++ persisted))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val m = Option(e.taskMetrics)
        def of(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
        update(g)(c => c.copy(
          tasks = c.tasks + 1,
          taskMs = c.taskMs + of(_.executorRunTime),
          shuffleWriteBytes = c.shuffleWriteBytes + of(_.shuffleWriteMetrics.bytesWritten),
          spillBytes = c.spillBytes + of(_.diskBytesSpilled),
          gcMs = c.gcMs + of(_.jvmGCTime)))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** A job's span: its own group, a bound stream's span, or (for jobs
    * a library-started stream runs on its own thread) the innermost
    * main-thread span open when the job started. */
  private def resolve(group: String, atMs: Long): Option[String] =
    if (group.startsWith(s"$workload/")) Some(group)
    else Option(groupAlias.get(group)).orElse(intervals.asScala.filter { case (_, t0, t1) =>
      t0 <= atMs && atMs <= t1.get() }.maxByOption(_._2).map(_._1))

  private def newGroup(name: String): String = s"$workload/$name#${seq.incrementAndGet()}"

  /** Spans open on the calling thread, innermost first: (name, group). */
  private val open = new ThreadLocal[List[(String, String)]] {
    override def initialValue(): List[(String, String)] = Nil
  }

  /** Runs `body` as a span named `name` (its parent is the span open
    * around it) and returns its value. */
  def span[T](name: String)(body: => T): T = {
    val g = newGroup(name)
    val parent = open.get.headOption
    open.set((name, g) :: open.get)
    sc.setJobGroup(g, name)
    val t0 = System.currentTimeMillis()
    val end = new AtomicLong(Long.MaxValue)
    intervals.add((g, t0, end))
    try body
    finally {
      open.set(open.get.tail)
      parent.fold(sc.clearJobGroup())(p => sc.setJobGroup(p._2, p._1))
      end.set(System.currentTimeMillis())
      spans.synchronized(spans += Span(name, t0, System.currentTimeMillis(), parent.map(_._1), runId, g))
    }
  }

  /** Opens a span whose jobs run on a streaming query's own thread:
    * the query's run id is its job group. Close it with the returned
    * function. */
  def streamSpan(name: String, queryRunId: String): () => Unit = {
    val g = newGroup(name)
    groupAlias.put(queryRunId, g)
    val t0 = System.currentTimeMillis()
    () => spans.synchronized(spans += Span(name, t0, System.currentTimeMillis(), None, runId, g))
  }

  /** Counters of every span called `name`, one entry per occurrence,
    * read after the listener bus has drained. */
  def countersOf(name: String): Seq[Counters] = {
    BusBridge.drain(sc)
    spans.filter(_.name == name).map(s => Option(byGroup.get(s.group)).getOrElse(Counters())).toSeq
  }

  /** Runs `body` with both listeners attached; every event of its
    * jobs is delivered before they are removed. */
  def during[T](body: => T): T = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    try body
    finally {
      BusBridge.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Writes every span with its counters, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    BusBridge.drain(sc)
    val lines = spans.map { s =>
      val c = Option(byGroup.get(s.group)).getOrElse(Counters())
      Json.obj(Seq(
        "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "parent" -> s.parent.map(Json.str).getOrElse("null"), "run_id" -> Json.str(s.runId),
        "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString, "task_ms" -> c.taskMs.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "spill_bytes" -> c.spillBytes.toString, "gc_ms" -> c.gcMs.toString))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
