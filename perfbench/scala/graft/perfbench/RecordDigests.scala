package graft.perfbench

import java.nio.file.Paths

/** Records the analytics mix's expected digests into
  * `perfbench/digests.tsv`: `RecordDigests --work DIR`. Run it only
  * when a change is meant to alter a mix query's output. */
object RecordDigests {
  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(cpus, work)
    try Analytics.recordDigests(Context(spark, 0L, 0, work, work.resolve("inputs"), None))
    finally spark.stop()
    println(s"wrote ${Analytics.DigestFile}")
  }
}
