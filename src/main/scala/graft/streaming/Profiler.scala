package graft.streaming

/** R14: the reference mounts Go's pprof HTTP surface at /debug/pprof
  * (server.go:60-64) — CPU profiles and goroutine dumps over the same
  * listener that serves ingest. The JVM-faithful equivalent is a
  * stack-sampling CPU profile and a full thread dump, served at the
  * reference's exact paths:
  *
  *   GET /debug/pprof/profile?seconds=N&hz=H
  *     Samples every live thread's stack at H Hz for N wall seconds and
  *     returns the RUNNABLE samples in collapsed-stack ("folded") form —
  *     `frameRoot;...;frameLeaf count` per line — the format FlameGraph
  *     and speedscope consume directly. Go's binary proto would be
  *     meaningless for JVM frames; folded text is the lingua franca.
  *
  *   GET /debug/pprof/goroutine
  *     Instantaneous dump of every thread (name, state, stack), the
  *     analogue of pprof's goroutine?debug=2 listing.
  *
  * Sampling, not instrumentation: zero cost when idle, bounded cost when
  * profiling (seconds clamped to 30, hz to 250), no agent, no JVM flags —
  * the same "always mounted, pay only when curious" contract the
  * reference gets from net/http/pprof.
  */
object Profiler {

  val MaxSeconds = 30
  val MaxHz = 250

  /** One collapsed-stack CPU profile: root-first frames joined by ';',
    * space, sample count; lines sorted by count descending for human
    * eyes (FlameGraph ignores order). Only RUNNABLE threads are
    * counted — parked/waiting stacks are scheduler states, not CPU —
    * and the sampling thread itself is excluded. */
  def collapsedCpuProfile(seconds: Int, hz: Int): String = {
    val secs = math.max(1, math.min(MaxSeconds, seconds))
    val rate = math.max(1, math.min(MaxHz, hz))
    val self = Thread.currentThread()
    val counts = new scala.collection.mutable.HashMap[String, Long]
    val periodNanos = 1000000000L / rate
    val deadline = System.nanoTime() + secs * 1000000000L
    while (System.nanoTime() < deadline) {
      val started = System.nanoTime()
      val all = Thread.getAllStackTraces()
      all.forEach { (t, stack) =>
        if ((t ne self) && t.getState == Thread.State.RUNNABLE &&
          stack.nonEmpty) {
          val key = stack.reverseIterator
            .map(f => s"${f.getClassName}.${f.getMethodName}")
            .mkString(";")
          counts.update(key, counts.getOrElse(key, 0L) + 1L)
        }
      }
      val sleepNanos = periodNanos - (System.nanoTime() - started)
      if (sleepNanos > 0) Thread.sleep(sleepNanos / 1000000L,
        (sleepNanos % 1000000L).toInt)
    }
    counts.toSeq.sortBy { case (k, n) => (-n, k) }
      .map { case (k, n) => s"$k $n" }
      .mkString("", "\n", "\n")
  }

  /** Full thread dump, pprof goroutine?debug=2 style: one block per
    * thread with name, state, and root-last frames. */
  def threadDump(): String = {
    val all = Thread.getAllStackTraces()
    val sb = new StringBuilder
    val entries = new scala.collection.mutable.ArrayBuffer[(String, String)]
    all.forEach { (t, stack) =>
      val body = new StringBuilder
      body.append(s"thread ${t.getId} [${t.getName}]: ${t.getState}\n")
      stack.foreach(f => body.append(s"  at $f\n"))
      entries += ((t.getName, body.toString))
    }
    entries.sortBy(_._1).foreach { case (_, b) => sb.append(b).append('\n') }
    sb.toString
  }

  /** Parse a positive int query param with a default; garbage → default
    * (pprof's own lenient behavior), clamping happens in the sampler. */
  def intParam(query: String, name: String, default: Int): Int =
    IngestServer.queryParam(query, name)
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
      .getOrElse(default)
}
