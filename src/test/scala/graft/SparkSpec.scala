package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM; sbt forks once). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Ids of the Spark jobs `body` started. A sentinel job run after it
    * flushes the listener bus: its start arrives after every earlier
    * job's. */
  protected def jobsIn(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val ids = new ConcurrentLinkedQueue[Integer]()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.sentinel") != null))
          sentinel.countDown()
        else ids.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.spec.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.sentinel", null)
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener bus never delivered the sentinel")
      ids.asScala.map(_.intValue).toSeq
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
