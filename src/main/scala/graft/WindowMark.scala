package graft

/** Standalone host-window fingerprint: prints one line
  * `WINDOW_MARK membw_gbps_1t=<v>` — the same 1-thread memory-streaming
  * marker `graft.Bench` takes before each crawl sweep (BASELINE.md
  * "calm-window" protocol: ≈15-18 GB/s quiet host, ≈4-6 GB/s contended).
  * Used between the legs of paired scaling measurements (e.g. the
  * local-cluster N→4N protocol) so every recorded rate carries the window
  * it was measured in. Runs ~0.5 s, no Spark session.
  */
object WindowMark {
  def main(args: Array[String]): Unit = {
    val ms = if (args.nonEmpty) args(0).toLong else 500L
    if (args.length > 1) {
      // aggregate-bus mode: `WindowMark <ms> <t1> <t2> ...` prints the
      // TOTAL streaming bandwidth at each thread count — the single-box
      // bus-saturation curve that bounds any N→4N core ratio measured on
      // one socket (if the aggregate bus at 4N threads is only r× the
      // bus at N threads, a bus-bound job's ceiling efficiency is r/4).
      val curve = args.tail.map(_.toInt).map { t =>
        f"membw_gbps_${t}t=${memStream(t, ms) / 1e9}%.2f"
      }
      println("WINDOW_MARK " + curve.mkString(" "))
    } else
      println(f"WINDOW_MARK membw_gbps_1t=${memStream(1, ms) / 1e9}%.2f")
  }

  /** Aggregate streaming bandwidth (bytes/s) of `threads` threads summing
    * 64 MB arrays each. Allocation and first touch happen BEFORE the clock
    * starts (a 64 MB tabulate per thread ate most of a short window and
    * zeroed the marker); a latch releases all threads into the timed loop
    * together. */
  def memStream(threads: Int, ms: Long): Double = {
    val words = 8 * 1024 * 1024 // 64 MB/thread — far beyond LLC
    val sums = new Array[Long](threads)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ready = new java.util.concurrent.CountDownLatch(threads)
    val go = new java.util.concurrent.CountDownLatch(1)
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        val a = Array.tabulate(words)(k => k.toLong + i)
        ready.countDown(); go.await()
        var passes = 0L; var s = 0L
        while (!stop.get()) {
          var j = 0
          while (j < words) { s += a(j); j += 1 }
          passes += 1
        }
        sums(i) = if (s == 42) -1 else passes * words.toLong
      }); t.start(); t
    }
    ready.await(); go.countDown()
    Thread.sleep(ms); stop.set(true); ts.foreach(_.join())
    sums.sum * 8.0 / (ms / 1000.0) // bytes/s
  }
}
