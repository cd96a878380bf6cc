package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per test JVM). */
object SparkSpec {
  lazy val session: SparkSession = Engine.session("graft-test", "local[4]", 4)

  /** What a body started: SQL executions, the distinct executions
    * that launched Spark jobs, and the jobs.
    */
  final case class Runs[T](out: T, executions: Int, executionsWithJobs: Int, jobs: Int)
}

trait SparkSpec extends AnyFunSuite {
  import SparkSpec.Runs

  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body`, counting the SQL executions and jobs it starts. */
  protected def runs[T](body: => T): Runs[T] = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val withJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
        case _                                 =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(withJobs.add)
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBridge.drain(sc)
      Runs(out, started.get, withJobs.size, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
