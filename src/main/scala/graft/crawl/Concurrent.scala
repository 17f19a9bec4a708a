package graft.crawl

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Independent Spark actions run side by side on one session, so their
  * jobs overlap instead of queueing behind each other on the driver.
  *
  * Each action runs on a fresh thread. A new thread inherits a clone of
  * the caller's Spark local properties (job group, cancel-interrupt flag,
  * job tags), so a `cancelJobGroup` aimed at the caller reaches every
  * action's jobs; a pooled thread would carry whatever properties it held
  * when the pool created it. Inside its thread each action sets its own
  * job description, the label the listeners attribute its jobs by.
  */
object Concurrent {

  /** Run every `label -> action` at once and return their results in
    * argument order. Returns only after every action has finished; if
    * any failed, throws the first failure with the others attached as
    * suppressed. */
  def all[T](spark: SparkSession)(actions: (String, () => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val results = new Array[Any](actions.size)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = actions.zipWithIndex.map { case ((label, action), i) =>
      val t = new Thread(() => {
        sc.setJobDescription(label)
        try results(i) = action()
        catch { case e: Throwable => failures.add(e) }
      }, s"graft $label")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.asScala.toList match {
      case Nil => results.toSeq.map(_.asInstanceOf[T])
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
