package perfbench

/** Host-quietness stamp: how many cores OTHER processes kept busy while
  * the benchmark ran, and how fast one core ran a fixed job. Busy jiffies of the whole host (/proc/stat) minus
  * this JVM's own CPU time, per second of wall time. A sampler thread
  * records one window per second so the worst window shows a burst that
  * the start and end readings would average away. Where /proc is absent
  * every reading is -1. */
final class Host(windowMs: Long = 1000) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  private val userHz: Double =
    try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      p.waitFor()
      val v = out.toDouble
      if (v > 0) v else 100.0
    } catch { case _: Throwable => 100.0 }

  private def busyJiffies(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val c = f.getLines().next().trim.split("\\s+")
        // cpu user nice system idle iowait irq softirq steal
        Seq(1, 2, 3, 6, 7, 8).map(i => if (i < c.length) c(i).toLong else 0L).sum
      } finally f.close()
    } catch { case _: Throwable => -1L }

  private def selfNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => math.max(0L, os.getProcessCpuTime)
      case _ => 0L
    }

  import Host.Mark
  private def mark() = Mark(busyJiffies(), selfNanos(), System.nanoTime())

  private def external(a: Mark, b: Mark): Double =
    if (a.busy < 0 || b.busy < 0 || b.wall <= a.wall) -1.0
    else math.max(0.0, (b.busy - a.busy) / userHz - (b.self - a.self) / 1e9) /
      ((b.wall - a.wall) / 1e9)

  /** Milliseconds one thread needs for a fixed CPU job (SHA-256 over
    * 32 MB), best of three. A host that lends this VM less CPU reads
    * slower here even when no other process shows as busy. */
  def cpuProbeMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      (0 until 32).foreach(_ => md.update(buf))
      md.digest()
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** External busy cores over a short window, sleeping through it. */
  def quietWindow(ms: Long = 250): Double = {
    val a = mark()
    Thread.sleep(ms)
    external(a, mark())
  }

  @volatile private var running = false
  @volatile private var worstSeen = -1.0
  private var thread: Thread = _

  def startSampling(): Unit = {
    running = true
    thread = new Thread(() => {
      var prev = mark()
      while (running) {
        try Thread.sleep(windowMs) catch { case _: InterruptedException => () }
        val now = mark()
        worstSeen = math.max(worstSeen, external(prev, now))
        prev = now
      }
    }, "perfbench-host-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  /** Stops the sampler, waits for it, and returns the worst window. */
  def stopSampling(): Double = {
    running = false
    if (thread != null) { thread.interrupt(); thread.join() }
    worstSeen
  }
}

object Host {
  private final case class Mark(busy: Long, self: Long, wall: Long)
}
