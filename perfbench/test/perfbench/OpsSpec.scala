package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  test("a timed call that throws is counted as failed and never becomes a sample") {
    val ops = new Ops(Seq("tick"))
    assert(ops.run("tick", 1)(Thread.sleep(20)).isDefined)
    val failed = ops.run("tick", 2) {
      Thread.sleep(1)
      throw new IllegalStateException("boom")
    }
    assert(failed.isEmpty)
    val k = ops.kind("tick")
    assert(k.attempted == 2)
    assert(k.failed == 1)
    assert(k.seconds.size == 1)
    assert(k.seconds.head >= 0.02) // the successful call's time, not the fast failure's
    assert(k.firstError.exists(_.contains("boom")))
    assert(ops.attempted == 2 && ops.failed == 1)
  }

  test("only the first error of a kind is kept") {
    val ops = new Ops(Seq("scan_read"))
    ops.run("scan_read", 1)(throw new RuntimeException("first"))
    ops.run("scan_read", 1)(throw new RuntimeException("second"))
    assert(ops.kind("scan_read").firstError.exists(_.contains("first")))
    assert(ops.kind("scan_read").failed == 2)
    assert(ops.kind("scan_read").seconds.isEmpty)
  }

  test("a result that breaks its contract check is counted as failed and never timed") {
    val ops = new Ops(Seq("idle_tick"))
    val wrote = Iterator(0L, 4096L, 0L)
    def idle(): Long = { Thread.sleep(5); wrote.next() }
    val verdicts = (1 to 3).map(r => ops.checked("idle_tick", r)(idle())(n =>
      if (n > 0) Some(s"no-change tick wrote $n data bytes") else None))
    assert(verdicts.map(_.isDefined) == Seq(true, false, true))
    val k = ops.kind("idle_tick")
    assert(k.attempted == 3 && k.failed == 1 && k.seconds.size == 2)
    assert(k.firstError.contains("no-change tick wrote 4096 data bytes"))
  }

  test("the probe wraps every call, failed or not") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val probe = new Probe {
      def begin(kind: String, round: Int): Unit = seen += s"begin $kind $round"
      def end(kind: String, round: Int): Unit = seen += s"end $kind $round"
    }
    val ops = new Ops(Seq("tick"), probe)
    ops.run("tick", 3)(())
    ops.run("tick", 4)(throw new RuntimeException("x"))
    assert(seen == Seq("begin tick 3", "end tick 3", "begin tick 4", "end tick 4"))
  }

  test("quantiles interpolate and the median of an empty sample is NaN") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.95) == 9.5)
    assert(Stats.median(Nil).isNaN)
  }
}
