package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), UTC, small
  * shuffle-partition count for test latency.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.getOrCreate("local[4]")
  val sf: String = "/root/testdata/sf0.001"

  /** `f`'s result and the description (`spark.job.description`, "" when
    * unset) of every Spark job started while it ran, in start order; the
    * listener bus is drained both sides. */
  def jobsDuring[T](f: => T): (T, Seq[String]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    ColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      ColumnBridge.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      (out, started.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
