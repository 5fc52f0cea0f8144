package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts, without sleeps.
  * Every job `body` starts has posted its start event before `body`
  * returns; a marker job run afterwards posts its own start event behind
  * them on the same listener queue, so once the listener sees the marker
  * the count is final. */
object SparkJobs {
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => seen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(run: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try run finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      require(seen.await(2, TimeUnit.MINUTES),
        "listener never saw the marker job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
