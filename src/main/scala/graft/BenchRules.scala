package graft

/** Pure adjudication rules + JVM instrumentation for [[Bench]],
  * extracted so the spike triggers are spec-pinnable (BenchRulesSpec)
  * instead of living as inline predicates a harness refactor can
  * silently drop.
  *
  * Two independent spike triggers, both required because each has a
  * blind spot the other covers:
  *
  *  - [[expectSpike]] (r12): value > K× its committed expectation
  *    (docs/BENCH_EXPECT.json) by ≥ abs seconds. Blind spot: EXPECT
  *    CREEP — when prior inflated readings have been baked into the
  *    expectation, the expectation IS the spike and the rule is
  *    disarmed (r13's q96: reading 10.29 s vs expect 6.22 = 1.65×,
  *    never re-measured, while the fresh-JVM consensus was 5.0–5.6 s).
  *  - [[driverHistorySpike]] (r14, the r13 verdict's #2 task): value >
  *    crossK× the PRIOR DRIVER record's settled value for the same
  *    query by ≥ abs seconds. The prior binding record cannot creep —
  *    it is one committed measurement, not a derived statistic — so a
  *    2.4× round-over-round jump fires this even when expect has
  *    absorbed the inflation. Blind spot: a query inflated in BOTH
  *    consecutive driver records; that is what expect rebasing's
  *    cross-record outlier guard (scripts/derive_expect.py) exists for.
  */
object BenchRules {

  /** r15 rule (the r14 verdict's #4 task): the absolute margin exists
    * so ordinary noise can't trigger pointless re-runs, but a flat
    * 0.75 s floor exceeds ANY plausible delta on a sub-second query —
    * the whole cheap tier was the one band with no working spike guard
    * (r14 binding record: q10_upsert one-shot at 0.89 s vs a 0.13–0.29
    * consensus, 4–6×, neither trigger fired because the 0.6–0.7 s
    * delta sat under the floor). The margin is continuous in the
    * reference: min(abs, max(0.3, 0.5×ref)) — it scales as half the
    * reference, never exceeds the configured `abs` ceiling (so a
    * tightened SPARK_GRAFT_BENCH_SPIKE_ABS still governs everywhere),
    * and never drops under the 0.3 s noise floor (~3× observed
    * cheap-tier run-to-run jitter, ±0.1 s — ordinary jitter cannot
    * fire a re-run). Continuity matters: a step at 0.6 s left a
    * residual blind band for 0.6–0.75 s references where a full 2×
    * spike's delta still sat under the flat floor (r15 review
    * finding). One documented asymmetry: a LOOSENED abs (>0.75) only
    * widens the margin up to 0.5×ref — for sub-second queries a
    * re-run costs under a second, so suppressing cheap-tier re-runs
    * is never worth a blind spot.
    */
  def effectiveAbs(ref: Double, abs: Double): Double =
    math.min(abs, math.max(0.3, 0.5 * ref))

  /** r12 rule: value exceeds k× its committed expectation by ≥ the
    * effective absolute margin (tier-scaled, see [[effectiveAbs]]).
    */
  def expectSpike(value: Double, expect: Option[Double], k: Double, abs: Double): Boolean =
    expect.exists(e => value > k * e && value - e > effectiveAbs(e, abs))

  /** r14 rule: value exceeds crossK× the prior driver record's settled
    * value by ≥ the effective absolute margin.
    */
  def driverHistorySpike(value: Double, priorDriver: Option[Double], crossK: Double, abs: Double): Boolean =
    priorDriver.exists(p => value > crossK * p && value - p > effectiveAbs(p, abs))

  /** A reading is re-measured when EITHER trigger fires. */
  def spike(value: Double, expect: Option[Double], priorDriver: Option[Double],
            k: Double, crossK: Double, abs: Double): Boolean =
    expectSpike(value, expect, k, abs) ||
      driverHistorySpike(value, priorDriver, crossK, abs)

  /** Per-query values of the most recent FULL DRIVER record in
    * `bench_records.jsonl` (source=="driver", subset:false, nq ≥ 100)
    * taken at this run's core count (`"nproc"` == `nproc`), excluding
    * names degraded-without-rerun in that record (wall-guard one-shots
    * under load are not settled values to compare against). Records of
    * another width, or without an `nproc` field, never bind: shuffle
    * width tracks cores, so a 32-core record would flag about half of a
    * 4-core run as spikes. Same no-JSON-dependency regex discipline as
    * Bench.loadExpect: the record line is machine-written by Bench
    * itself, so the shapes are exact. Missing/unreadable file or no
    * matching record → empty map → the r14 trigger simply never fires
    * (the safe default — the r12 trigger still guards).
    */
  def loadPriorDriver(path: String,
                      nproc: Int = Runtime.getRuntime.availableProcessors()): Map[String, Double] =
    try {
      val lines = java.nio.file.Files
        .readString(java.nio.file.Paths.get(path))
        .linesIterator.filter(_.nonEmpty).toSeq
      val driverLines = lines.filter { l =>
        l.contains("\"source\":\"driver\"") &&
          l.contains("\"subset\":false") &&
          "\"nproc\":(\\d+)".r.findFirstMatchIn(l).exists(_.group(1).toInt == nproc) &&
          "\"nq\":(\\d+)".r.findFirstMatchIn(l).exists(_.group(1).toInt >= 100)
      }
      driverLines.lastOption.map(parseRecordQueries).getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** Extract the trusted per-query map from one record line: the
    * `queries` object's pairs, minus degraded-without-rerun names.
    * Exposed for the spec (which feeds synthetic record lines).
    */
  private[graft] def parseRecordQueries(line: String): Map[String, Double] = {
    def obj(field: String): String = {
      val start = line.indexOf("\"" + field + "\":{")
      if (start < 0) "" else {
        val open = line.indexOf('{', start)
        val close = line.indexOf('}', open)
        if (close < 0) "" else line.substring(open, close + 1)
      }
    }
    def arr(field: String): Set[String] = {
      val start = line.indexOf("\"" + field + "\":[")
      if (start < 0) Set.empty else {
        val open = line.indexOf('[', start)
        val close = line.indexOf(']', open)
        if (close < 0) Set.empty
        else "\"([^\"]+)\"".r.findAllMatchIn(line.substring(open, close + 1))
          .map(_.group(1)).toSet
      }
    }
    val qs = "\"(q[A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
      .findAllMatchIn(obj("queries"))
      .map(m => m.group(1) -> m.group(2).toDouble)
      .toMap
    val untrusted = arr("degraded") -- arr("rerun")
    qs -- untrusted
  }

  // ------------------------------------------------------------------
  // JIT / codegen instrumentation (r14 — the q96 mechanism hunt).
  //
  // The suspect class for "a query inflates 2-4× late in a 324-query
  // single-JVM run, sustained within that JVM, clean in a fresh JVM,
  // on untouched code" is compilation-infrastructure saturation: the
  // suite loads thousands of generated classes, and either (a) the
  // HotSpot code cache fills/churns (ReservedCodeCacheSize default
  // 240 MB on JDK 17 — when the sweeper can't keep up, hot methods run
  // interpreted or flap between compile levels), or (b) Spark's
  // bounded codegen class cache starts evicting, making iterative
  // queries pay janino recompilation per round. The two have distinct
  // signatures: (a) shows CodeHeap occupancy near max + falling or
  // stalled JIT compile-time deltas; (b) shows METRIC_COMPILATION_TIME
  // count deltas growing per query. One instrumented full run tells
  // them apart — that is what [[sample]] is for.
  // ------------------------------------------------------------------

  /** One absolute snapshot of the JVM's compilation counters. Deltas
    * between consecutive samples bracket one query's measurement.
    *
    * @param jitMs        cumulative HotSpot JIT compilation time
    * @param codeCacheUsedMb  bytes used across CodeHeap segments (or the
    *                     unsegmented "Code Cache" pool), in MB
    * @param codeCacheMaxMb   the pool cap (≈ ReservedCodeCacheSize)
    * @param metaspaceMb  Metaspace used, MB
    * @param classes      currently loaded class count
    * @param gcMs         cumulative GC time across collectors
    * @param janinoCount  Spark codegen (janino) compilations since JVM
    *                     start — CodegenMetrics.METRIC_COMPILATION_TIME
    *                     count; a per-query delta on a CACHED plan shape
    *                     should be ~0 after its warm rep
    * @param procSysMs    cumulative KERNEL CPU of this process
    *                     (/proc/self/stat stime, exited threads folded
    *                     in). The r14 q96 mechanism hunt ended here: a
    *                     query whose wall inflates while proc_sys_ms_d
    *                     rivals proc_user_ms_d and minflt_d runs to
    *                     millions is paying host-side first-touch page
    *                     faults (heap recommit churn), not GC/JIT —
    *                     sysrq-l during an inflated rep showed 17/32
    *                     CPUs in clear_page_erms. -1 off-Linux.
    * @param procUserMs   cumulative user CPU of this process, same scope
    * @param minorFaults  cumulative minor page faults of this process
    */
  final case class JitSample(
      jitMs: Long,
      codeCacheUsedMb: Double,
      codeCacheMaxMb: Double,
      metaspaceMb: Double,
      classes: Long,
      gcMs: Long,
      janinoCount: Long,
      procSysMs: Long = -1L,
      procUserMs: Long = -1L,
      minorFaults: Long = -1L)

  def sample(): JitSample = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val comp = ManagementFactory.getCompilationMXBean
    val jitMs =
      if (comp != null && comp.isCompilationTimeMonitoringSupported)
        comp.getTotalCompilationTime
      else -1L
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def mb(b: Long): Double = b / 1048576.0
    val codePools = pools.filter(p =>
      p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
    val ccUsed = mb(codePools.map(_.getUsage.getUsed).sum)
    val ccMax = mb(codePools.map(p => math.max(0L, p.getUsage.getMax)).sum)
    val meta = pools.find(_.getName == "Metaspace")
      .map(p => mb(p.getUsage.getUsed)).getOrElse(-1.0)
    val classes = ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toLong
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val janino =
      try org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      catch { case _: Throwable => -1L }
    // /proc/self/stat: after the ")" — state ppid pgrp session tty tpgid
    // flags MINFLT cminflt majflt cmajflt UTIME STIME ... (jiffies at
    // USER_HZ — the ×10 below HARDCODES USER_HZ=100, the value on every
    // mainstream Linux userspace ABI; a non-100 CLK_TCK kernel would
    // silently skew proc_sys_ms/proc_user_ms, so this assumption is
    // load-bearing for the fault-churn triage). Process-level on
    // purpose: thread-level
    // stime misses short-lived threads, whose CPU folds into the
    // process totals only at thread exit.
    val (pSys, pUser, minflt) =
      try {
        val raw = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
        val parts = raw.substring(raw.lastIndexOf(')') + 1).trim.split("\\s+")
        (parts(12).toLong * 10, parts(11).toLong * 10, parts(7).toLong)
      } catch { case _: Throwable => (-1L, -1L, -1L) }
    JitSample(jitMs, ccUsed, ccMax, meta, classes, gcMs, janino, pSys, pUser, minflt)
  }

  /** Cumulative executor-side task tallies via a SparkListener —
    * the second half of the q96 instrumentation. Per-query deltas
    * separate the inflation mechanisms the JVM-level counters can't:
    * same tasks/jobs/shuffle but task_ms up ⇒ executor code got slower
    * (the JIT-poisoning signature); jobs/shuffle volume up ⇒ the plan
    * changed (AQE flip); spill up ⇒ memory pressure; task_ms flat but
    * wall up ⇒ the gap is driver/scheduler time, not execution.
    * Counters are AtomicLongs because task-end events arrive on the
    * listener bus thread while reads happen on main.
    */
  final class TaskTally extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val tasks = new AtomicLong
    val jobs = new AtomicLong
    val taskMs = new AtomicLong      // executorRunTime
    val taskGcMs = new AtomicLong    // jvmGCTime inside tasks
    val deserMs = new AtomicLong     // executorDeserializeTime
    val spillDiskB = new AtomicLong
    val shReadB = new AtomicLong
    val shWriteB = new AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        taskGcMs.addAndGet(m.jvmGCTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        spillDiskB.addAndGet(m.diskBytesSpilled)
        shReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    def snap(): Seq[Long] = Seq(
      tasks.get, jobs.get, taskMs.get, taskGcMs.get, deserMs.get,
      spillDiskB.get, shReadB.get, shWriteB.get)
    /** JSON fragment of deltas between two snap()s (leading comma). */
    def deltaJson(before: Seq[Long], after: Seq[Long]): String = {
      val d = after.zip(before).map { case (a, b) => a - b }
      s""","tasks_d":${d(0)},"jobs_d":${d(1)},"task_ms_d":${d(2)},""" +
        s""""task_gc_ms_d":${d(3)},"deser_ms_d":${d(4)},"spill_disk_d":${d(5)},""" +
        f""""sh_read_mb":${d(6) / 1048576.0}%.1f,"sh_write_mb":${d(7) / 1048576.0}%.1f"""
    }
  }

  /** One JSONL line bracketing a query: absolute occupancy after, plus
    * deltas across the query's reps.
    */
  def jitLine(name: String, sec: Double, before: JitSample, after: JitSample,
              extra: String = ""): String =
    s"""{"q":"$name","sec":$sec,""" +
      // JVM uptime bounds of the measurement window, so -XX:+PrintCompilation
      // output (uptime-prefixed) can be correlated to one query's reps
      s""""up_ms":${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime},""" +
      s""""jit_ms_d":${after.jitMs - before.jitMs},""" +
      s""""janino_d":${after.janinoCount - before.janinoCount},""" +
      s""""gc_ms_d":${after.gcMs - before.gcMs},""" +
      s""""proc_sys_ms_d":${after.procSysMs - before.procSysMs},""" +
      s""""proc_user_ms_d":${after.procUserMs - before.procUserMs},""" +
      s""""minflt_d":${after.minorFaults - before.minorFaults},""" +
      s""""classes_d":${after.classes - before.classes},""" +
      f""""codecache_mb":${after.codeCacheUsedMb}%.1f,""" +
      f""""codecache_max_mb":${after.codeCacheMaxMb}%.1f,""" +
      f""""metaspace_mb":${after.metaspaceMb}%.1f,""" +
      s""""classes":${after.classes}$extra}"""
}
