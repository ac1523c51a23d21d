package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one closed-loop client on `local[cores]`.
  *
  * Usage: perfbench.Main --workload cycle|queries_ingest|queries_iterative
  *   --seed N --seconds S --trace 0|1 --data DIR (holding sf0.1 and sf0.01) --expected FILE --out DIR --cores N
  *
  * It prepares and warms the workload, runs whole rounds of ops for
  * about `seconds` (at least one round), checks every output, and writes `result.json`
  * (plus `trace.jsonl` and `layers.json` when traced) under `--out`.
  * A traced run traces each op kind in every other round, so the
  * tracing overhead is measured inside the same run.
  */
object Main {
  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      data: String,
      expected: String,
      out: Path,
      cores: Int
  )

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("expected"), Paths.get(need("out")), need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val (spark, sessionS) = timed {
      graft.Sessions
        .builder(s"local[${a.cores}]", a.cores)
        .config("spark.local.dir", a.out.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    try run(a, spark, jvmStart, sessionS)
    finally spark.stop()
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "cycle" => new CycleWorkload(spark, a.seed, a.out.resolve("cycle"))
    case "queries_ingest" => queries(a, spark, Workloads.Ingest)
    case "queries_iterative" => queries(a, spark, Workloads.Iterative)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def queries(a: Args, spark: SparkSession, names: Seq[String]): Workload =
    new QueryWorkload(spark, names, s"${a.data}/sf0.1", s"${a.data}/sf0.01", readDigests(a.expected), a.seed)

  def readDigests(file: String): Map[String, String] =
    scala.io.Source.fromFile(file).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\\s+"); n -> d }.toMap

  /** Runs ops under their own job group and records them. */
  final class Loop(spark: SparkSession) {
    private var nextId = 0

    def run(spec: OpSpec, traced: Boolean): OpRec = {
      val id = nextId
      nextId += 1
      val sc = spark.sparkContext
      val spans = ArrayBuffer.empty[Span]
      val counts = scala.collection.mutable.Map.empty[String, Long]
      val layers = new Layers {
        def span[T](name: String)(f: => T): T =
          if (!traced) f
          else {
            val s = System.currentTimeMillis()
            try f finally spans += Span(s"L$id.${spans.size}", name, s, System.currentTimeMillis(), s"op-$id", id)
          }
        def boundary(name: String, df: DataFrame): DataFrame =
          if (!traced) df
          else span(name) { val c = df.cache(); counts(name) = c.count(); c }
      }
      sc.setJobGroup(Tracer.group(id), spec.name, interruptOnCancel = false)
      val j0 = JvmSample.now()
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok =
        try spec.run(layers)
        catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op ${spec.name} threw: $e")
            false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      val jvm = JvmSample.now() - j0
      sc.clearJobGroup()
      // the registry's persists are released by the caller after each op
      spark.catalog.clearCache()
      OpRec(id, spec.name, start, end, wall, traced, ok, spans.toSeq, counts.toMap, jvm)
    }
  }

  private def run(a: Args, spark: SparkSession, jvmStart: Long, sessionS: Double): Unit = {
    Files.createDirectories(a.out)
    val tracer = if (a.trace) Some(Tracer.install(spark)) else None
    val wl = workload(a, spark)
    val loop = new Loop(spark)
    val (_, warmS) = timed {
      wl.prepare()
      (0 until wl.warmRounds).foreach { _ =>
        val specs = wl.nextRound(warm = true)
        if (wl.warmInParallel) warmInParallel(spark, specs, a.cores)
        else specs.foreach(loop.run(_, traced = false))
      }
    }
    val loopStart = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ops = ArrayBuffer.empty[OpRec]
    var round = 0
    var lastRound = 0.0
    val kinds = scala.collection.mutable.Map.empty[String, Int]
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // Whole rounds only, so every run measures the same op mix. Another
    // round starts while one more is expected to fit in the time left; a
    // traced run needs at least one untraced and one traced round.
    while (round < (if (a.trace) 2 else 1) || elapsed + lastRound <= a.seconds) {
      val r0 = elapsed
      // a traced run traces each op kind (query, or cycle batch) in every
      // other round, so each kind is seen both ways equally warm
      wl.nextRound(warm = false).foreach { spec =>
        val k = kinds.getOrElseUpdate(kind(spec.name), kinds.size)
        ops += loop.run(spec, a.trace && (round + k) % 2 == 1)
      }
      lastRound = elapsed - r0
      round += 1
    }
    val loopS = elapsed
    val failures = wl.verify()
    // a warm-up batch that fails its check counts against the first timed op
    val warmFailures = failures.keySet -- ops.map(_.name)
    val failedOps = ops.filter(o => !o.ok || failures.contains(o.name) || (warmFailures.nonEmpty && o.id == ops.head.id))
    val failing = (failedOps.map(_.name) ++ warmFailures).distinct.toSeq
    val failed = failedOps.size
    failures.foreach { case (n, why) => System.err.println(s"[perfbench] check failed: $n: $why") }

    val lat = ops.map(_.wallS).toSeq
    val metrics = ArrayBuffer.empty[Figure]
    if (!a.trace) {
      metrics += Figure("setup_s", setupS, "s")
      metrics += Figure("ops_per_s", ops.size / loopS, "1/s")
      metrics += Figure("op_p50_s", Stats.median(lat), "s")
      metrics += Figure("retained_heap_mb", retainedHeapMb(spark), "MB")
    } else {
      val t = tracer.get
      val floor = (0 until 15).map(_ => timed(spark.range(1).count())._2)
      BusShim.drain(spark.sparkContext)
      val (layers, spans) = t.attribute(ops.toSeq, a.cores)
      val n = layers.size.toDouble
      def perOp(f: OpLayers => Double) = layers.map(f).sum / n
      val covered = layers.map(l => l.op.wallS - l.gapS).sum
      metrics ++= Seq(
        Figure("Sessions.build_s", sessionS, "s"),
        Figure("setup.warm_s", warmS, "s"),
        Figure("spark.driver.plan_s", perOp(_.planS), "s"),
        Figure("spark.driver.gap_s", perOp(_.gapS), "s"),
        Figure("spark.driver.jobs", perOp(_.jobs), "count"),
        Figure("spark.driver.sql_executions", perOp(_.sqlExecutions), "count"),
        Figure("spark.driver.stages", perOp(_.stages), "count"),
        Figure("spark.driver.stages_skipped", perOp(_.stagesSkipped), "count"),
        Figure("spark.driver.floor_action_s", Stats.median(floor), "s"),
        Figure("spark.exec.task_s", perOp(_.taskS), "s"),
        Figure("spark.exec.tasks", perOp(_.tasks.toDouble), "count"),
        Figure("spark.exec.parallelism", if (covered > 0) layers.map(_.taskS).sum / (covered * a.cores) else 0.0, "ratio"),
        Figure("spark.exec.shuffle_read_bytes", perOp(_.shuffleRead.toDouble), "bytes"),
        Figure("spark.exec.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble), "bytes"),
        Figure("spark.exec.spill_bytes", perOp(_.spill.toDouble), "bytes"),
        Figure("jvm.gc_s", perOp(_.op.jvm.gcMs / 1e3), "s"),
        Figure("jvm.jit_s", perOp(_.op.jvm.jitMs / 1e3), "s"),
        Figure("spark.codegen.compiles", perOp(_.op.jvm.codegen.toDouble), "count"),
        Figure("trace.overhead_ratio", overhead(ops.toSeq), "ratio")
      )
      val extra = wl.figures(ops.toSeq, layers, spans)
      writeTrace(a.out, spans, extra, t.unlinkedJobs(ops.toSeq))
      extra.foreach(f => println(f"layer ${f.name} ${f.value}%.6f ${f.unit}"))
    }
    val p90 = if (lat.size >= 100) f"${Stats.percentile(lat, 90)}%.6f s" else s"not reported (${lat.size} ops < 100)"
    println(s"ops ${lat.size} op_p90_s $p90")
    println(ops.map(o => f"${o.name}=${o.wallS}%.3f").mkString("op_latencies_s ", " ", ""))
    metrics.foreach(f => println(f"metric ${f.name} ${f.value}%.6f ${f.unit}"))
    println(f"fail_ratio ${failed.toDouble / math.max(1, ops.size)}%.6f ($failed/${ops.size}) failing=[${failing.mkString(",")}]")
    val json = metrics.map(f => s""""${f.name}": {"value": ${f.value}, "unit": "${f.unit}"}""").mkString("{", ", ", "}")
    Files.writeString(a.out.resolve("result.json"),
      s"""{"correct": ${failed == 0}, "attempted": ${ops.size}, "failed": $failed, "metrics": $json, """ +
        s""""failing": [${failing.map("\"" + _ + "\"").mkString(", ")}]}""" + "\n")
  }

  /** Runs independent warm-up ops on `threads` driver threads: the
    * first execution of a plan is bound by code generation and JIT
    * compilation, which overlap well.
    */
  private def warmInParallel(spark: SparkSession, specs: Seq[OpSpec], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val noLayers = new Layers {
      def span[T](name: String)(f: => T): T = f
      def boundary(name: String, df: DataFrame): DataFrame = df
    }
    try {
      // a failing query fails again, by name, in the timed loop
      val futures = specs.map(s => pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = try s.run(noLayers) catch { case NonFatal(_) => false }
      }))
      futures.foreach(_.get())
    } finally pool.shutdown()
    spark.catalog.clearCache()
  }

  /** An op's kind: its query name, or "batch" for every cycle batch. */
  def kind(name: String): String = name.replaceAll("-[0-9]+$", "")

  /** Mean traced over mean untraced latency, minus one, summed over the
    * op kinds (query name, or "batch") that ran both ways.
    */
  def overhead(ops: Seq[OpRec]): Double = {
    val kinds = ops.groupBy(o => kind(o.name)).values.filter(g => g.exists(_.traced) && g.exists(!_.traced))
    def side(traced: Boolean) = kinds.map(g => Stats.mean(g.filter(_.traced == traced).map(_.wallS))).sum
    side(true) / side(false) - 1
  }

  /** Heap in use after dropping cached data and full collections. The
    * context cleaner frees unreferenced blocks and shuffles only after a
    * collection finds them, so the lowest of three rounds is reported.
    */
  private def retainedHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def writeTrace(out: Path, spans: Seq[Span], extra: Seq[Figure], unlinked: Int): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Files.writeString(out.resolve("trace.jsonl"), spans.map { s =>
      s"""{"id": ${q(s.id)}, "name": ${q(s.name)}, "start": ${s.start}, "end": ${s.end}, "parent": ${q(s.parent)}, "op": ${s.op}}"""
    }.mkString("", "\n", "\n"))
    // self time per span name, as a median over the ops that have it
    val self = Tracer.selfTimes(spans)
    val byName = spans.groupBy(s => if (s.name.startsWith("sql.write:")) "sql.write" else if (s.parent.isEmpty) "op" else s.name)
    val selfLines = byName.toSeq.sortBy(_._1).map { case (name, ss) =>
      val perOp = ss.groupBy(_.op).values.map(g => g.map(s => self(s.id)).sum / 1e3).toSeq
      println(f"self $name ${Stats.median(perOp)}%.6f s")
      s"${q(name)}: ${Stats.median(perOp)}"
    }
    println(s"trace unlinked_jobs $unlinked")
    Files.writeString(out.resolve("layers.json"),
      (extra.map(f => s"${q(f.name)}: {\"value\": ${f.value}, \"unit\": ${q(f.unit)}}") ++
        Seq(s"\"self_s\": {${selfLines.mkString(", ")}}", s"\"trace.unlinked_jobs\": $unlinked")).mkString("{", ", ", "}\n"))
  }
}
