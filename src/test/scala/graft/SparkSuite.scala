package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — small core count so suites stay fast;
  * same config surface as graft.Sessions otherwise. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  override def afterAll(): Unit = () // shared across suites; JVM exit cleans up

  /** Whether the shared SparkContext exists and is not stopped. Never
    * starts it. Overridable so a spec can drive the check below without
    * stopping the real context. */
  protected def sharedContextLive: Boolean = SparkSuite.live

  /** A test that starts with the shared context live and ends with it
    * stopped fails, named. Later suites get a fresh session from
    * [[SparkSuite.session]] rather than each failing with "SparkContext
    * has been shutdown". */
  override def withFixture(test: NoArgTest): Outcome = {
    val liveBefore = sharedContextLive
    val outcome = super.withFixture(test)
    if (!liveBefore || sharedContextLive) outcome
    else {
      val msg = s"$suiteName: test '${test.name}' stopped the shared " +
        "SparkContext; the rest of this suite sees a dead context"
      outcome match {
        case Failed(e) => Failed(msg, e)
        case _ => Failed(msg)
      }
    }
  }
}

object SparkSuite {
  @volatile private var current: Option[SparkSession] = None

  def live: Boolean = current.exists(!_.sparkContext.isStopped)

  /** The shared session, built on first use and again if its context
    * was stopped. */
  def session: SparkSession = synchronized {
    current.filterNot(_.sparkContext.isStopped).getOrElse {
      val s = SparkSession.builder()
        .appName("graft-test")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      current = Some(s)
      s
    }
  }
}
