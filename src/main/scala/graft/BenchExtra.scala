package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round helper bench (guide §1): read-side queries ONLY,
  * same session config and timing methodology as [[Bench]] (noop sink,
  * best-of-N), but iterable in seconds instead of the full crawl sweep.
  * Also dumps `.explain("formatted")` per query when asked.
  *
  * NOT part of the driver contract — [[Bench]] stays the graded harness.
  *
  * Usage: sbt "runMain graft.BenchExtra [nameRegex] [plansOutDir]"
  *   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_READ_REPS
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_READ_REPS", "2").toInt)
    val nameRe = args.headOption.getOrElse(".*").r
    val plansDir = args.lift(1)
    val spark = BenchSession("graft-benchextra", cpus)
    // per-query breakdown: jobs / stages / tasks / summed task runtime —
    // separates engine compute from driver scheduling+codegen overhead
    val nJobs = new AtomicInteger; val nStages = new AtomicInteger
    val nTasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { nJobs.incrementAndGet(); () }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = { nStages.incrementAndGet(); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        nTasks.incrementAndGet()
        if (te.taskMetrics != null) { taskMs.addAndGet(te.taskMetrics.executorRunTime); () }
      }
    })
    graft.readside.CrawlQueries.warmFixture(spark)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameRe.findFirstIn(n).isDefined }
    val results = picked.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val ss = (1 to reps).map { r =>
        nJobs.set(0); nStages.set(0); nTasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[benchextra] $name failed: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(50) // let listener events drain
        println(f"  $name rep$r: $sec%7.3f s  jobs=${nJobs.get}%3d stages=${nStages.get}%3d tasks=${nTasks.get}%5d taskTime=${taskMs.get / 1000.0}%8.2f s")
        sec
      }
      plansDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        val txt = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$d/$name.txt"), txt)
      }
      println(f"$name%-28s min=${ss.min}%7.3f  reps=${ss.map(v => f"$v%.3f").mkString(",")}")
      name -> ss
    }
    val total = results.map(_._2.min).sum
    println(f"TOTAL(best-of-$reps) = $total%.2f s over ${results.size} queries")
    def dec(v: Double, dp: Int) =
      new java.math.BigDecimal(String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v)))
    val json = Json.write(results.map { case (n, ss) => n -> dec(ss.min, 4) } :+
      ("_total" -> dec(total, 3)))
    Files.writeString(Paths.get("BENCH_EXTRA.json"), json + "\n")
    spark.stop()
  }
}
