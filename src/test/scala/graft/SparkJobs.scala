package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job-budget probe for specs: the Spark jobs a block launches. */
trait SparkJobs { this: SparkSpec =>

  /** The Spark jobs `body` launches, in start order. */
  def jobsOf[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val started = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.synchronized(started += e)
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, started.synchronized(started.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
