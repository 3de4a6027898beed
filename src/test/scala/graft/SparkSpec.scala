package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Every node of an EXECUTED adaptive plan, recursing through
    * AdaptiveSparkPlanExec/QueryStageExec wrappers — what the
    * broadcast-pin plan-shape assertions inspect, since AQE hides
    * finalized stages behind wrapper nodes. Collect AFTER an action on
    * the DataFrame itself so the adaptive plan is final. */
  def executedNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val nested = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        executedNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        executedNodes(q.plan)
      case _ => Seq.empty
    }
    (p +: p.children.flatMap(executedNodes)) ++ nested
  }

  /** Spark jobs started, and shuffle bytes written, while `f` runs. A
    * sentinel job (a one-task RDD count, no shuffle) before and after
    * `f` brackets them: the listener bus delivers events in order, so
    * every job start and stage completion between the two sentinels'
    * starts is `f`'s. */
  def sparkWorkDuring(f: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val key = "graft.spec.sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val sentinels = new java.util.concurrent.atomic.AtomicInteger(0)
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(key) != null)) {
          if (sentinels.incrementAndGet() == 2) closed.countDown()
        } else if (sentinels.get() == 1) jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (sentinels.get() == 1)
          bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def sentinel(): Unit = {
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel()
      f
      sentinel()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not flushed")
    } finally sc.removeSparkListener(listener)
    (jobs.get(), bytes.get())
  }

  /** Spark jobs started while `f` runs (see [[sparkWorkDuring]]). */
  def jobsDuring(f: => Unit): Int = sparkWorkDuring(f)._1
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(cores = 4, appName = "graft-test")
}
