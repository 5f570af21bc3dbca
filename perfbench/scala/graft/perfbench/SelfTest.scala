package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Tests of the benchmark's own logic (no Spark session needed):
  * percentiles and the sample-count rule, failure accounting with an
  * injected throwing operation, the closed-loop pass schedule and the
  * row digest. Exits 1 if any expectation failed. */
object SelfTest {

  private val failures = ArrayBuffer.empty[String]
  private var passed = 0

  private def expect(name: String)(cond: => Boolean): Unit =
    if (try cond catch { case e: Throwable => failures += s"$name threw $e"; true }) passed += 1
    else failures += name

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(argv: Array[String]): Unit = {
    stats(); accounting(); passes(); digest()
    failures.foreach(f => println(s"FAIL $f"))
    println(s"selftest: $passed passed, ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  def stats(): Unit = {
    val xs = (1 to 101).map(_.toDouble)
    expect("median of 1..101 is 51")(close(Stats.median(xs), 51))
    expect("p90 of 1..101 is 91")(close(Stats.quantile(xs, 0.9), 91))
    expect("median interpolates an even sample")(close(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)), 2.5))
    expect("p90 needs 100 samples: 99 is too few")(!Stats.reportable(90, 99))
    expect("p90 with 100 samples is reportable")(Stats.reportable(90, 100))
    expect("the median is reportable from one sample")(Stats.reportable(50, 1))
    expect("nothing is reportable from no samples")(!Stats.reportable(50, 0))
    expect("p99 needs 1000 samples")(!Stats.reportable(99, 999) && Stats.reportable(99, 1000))
    expect("percentile refuses a short sample")(Stats.percentile(xs.take(50), 90).isLeft)
    expect("percentile answers a long one")(Stats.percentile(xs, 90).exists(close(_, 91)))
  }

  def accounting(): Unit = {
    val ops = new Ops
    val ok = ops.timed("ok")(21 * 2)(v => if (v == 42) None else Some("wrong"))
    val threw = ops.timed[Int]("boom")(throw new IllegalStateException("injected"))(_ => None)
    val wrong = ops.timed("wrong")(41)(v => if (v == 42) None else Some(s"got $v"))
    expect("a passing operation returns its value and time")(ok.exists(_._1 == 42))
    expect("a throwing operation returns no time")(threw.isEmpty)
    expect("a failed check returns no time")(wrong.isEmpty)
    expect("three attempted, two failed")(ops.attempted == 3 && ops.failed == 2)
    expect("failed share is failed / attempted")(close(ops.failedShare, 2.0 / 3))
    expect("the thrown error is recorded")(ops.errors.exists(e => e.startsWith("boom") && e.contains("injected")))
    ops.attempt(); ops.fail("late", "never committed")
    expect("a later failure counts too")(ops.attempted == 4 && ops.failed == 3)
  }

  def passes(): Unit = {
    // passes of fixed length, counted; `failAt` fails that call (0 = the warm-up)
    def run(secs: Double, seconds: Int, minTimed: Int, failAt: Int = -1) = {
      var calls = 0
      val pass = () => { calls += 1; if (calls - 1 == failAt) None else Some((calls, secs)) }
      (Passes.timed(seconds, minTimed)(pass), calls)
    }
    expect("a long pass is timed minTimed times after one warm-up")(run(12, 10, 1) == ((Seq((2, 12.0)), 2)))
    expect("minTimed holds whatever the budget")(run(6, 10, 2)._1.map(_._1) == Seq(2, 3))
    expect("short passes repeat while the next fits in the budget")(run(3, 10, 2)._1.size == 3)
    expect("a failed warm-up times nothing")(run(3, 10, 2, failAt = 0) == ((Nil, 1)))
    expect("a failed timed pass ends the loop")(run(3, 10, 2, failAt = 2) == ((Seq((2, 3.0)), 3)))
    var plainSecs = 3.0 // the warm-ups read 5 and 7, the untraced passes 9 and 11
    val traced = Passes.traced(() => { plainSecs += 2; Some(("plain", plainSecs)) },
      () => Some(("traced", 11.0)))
    expect("a traced run reports the traced pass and its overhead over the untraced ones around it")(
      traced.exists { case ((v, t), m) => v == "traced" && t == 11.0 && close(m.value, 10.0) })
    expect("a failed untraced pass leaves no traced result")(
      Passes.traced(() => None, () => Some(("traced", 11.0))).isEmpty)
  }

  def digest(): Unit = {
    import org.apache.spark.sql.Row
    val a = Row(1L, "x", 2.5, Seq(1, 2), Array[Byte](1, 2, 3))
    val b = Row(1L, "x", 2.5, Seq(1, 2), Array[Byte](1, 2, 3))
    expect("equal rows with byte arrays hash equal")(Digest.row(a) == Digest.row(b))
    expect("field order matters")(Digest.row(Row("x", 1L)) != Digest.row(Row(1L, "x")))
    expect("-0.0 hashes as 0.0")(Digest.row(Row(-0.0)) == Digest.row(Row(0.0)))
  }
}
