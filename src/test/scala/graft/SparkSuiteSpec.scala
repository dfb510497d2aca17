package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.{Args, Reporter}
import org.scalatest.events.{Event, TestFailed, TestSucceeded}
import org.scalatest.funsuite.AnyFunSuite

/** SparkSuite's dead-context check, driven by a fake liveness probe so
  * no SparkContext is started or stopped here. */
class SparkSuiteSpec extends AnyFunSuite {

  private class Recorder extends Reporter {
    val events = ArrayBuffer.empty[Event]
    def apply(e: Event): Unit = events += e
  }

  private class FakeSuite(initiallyLive: Boolean) extends SparkSuite {
    var live = initiallyLive
    override protected def sharedContextLive: Boolean = live
    test("leaves the context alone") { assert(true) }
    test("stops the context") { live = false }
    test("runs on a dead context") { assert(true) }
  }

  private def run(s: FakeSuite): Recorder = {
    val r = new Recorder
    s.run(None, Args(r))
    r
  }

  test("the test that stops a live shared context fails and is named") {
    val events = run(new FakeSuite(initiallyLive = true)).events
    val failed = events.collect { case f: TestFailed => f }
    assert(failed.map(_.testName) == Seq("stops the context"))
    assert(failed.head.message.contains("FakeSuite") &&
      failed.head.message.contains("'stops the context'"),
      failed.head.message)
    assert(events.collect { case s: TestSucceeded => s.testName }.toSet ==
      Set("leaves the context alone", "runs on a dead context"))
  }

  test("a context that was never live fails no test") {
    val events = run(new FakeSuite(initiallyLive = false)).events
    assert(events.collect { case f: TestFailed => f }.isEmpty)
    assert(events.count(_.isInstanceOf[TestSucceeded]) == 3)
  }
}
