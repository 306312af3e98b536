package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation the benchmark issued and timed. `jobs` is filled only
  * for traced operations. */
final case class Op(
    kind: String,
    wallS: Double,
    ok: Boolean,
    traced: Boolean,
    startMs: Long,
    endMs: Long,
    jobs: Seq[JobRec] = Nil,
    extra: Map[String, Double] = Map.empty)

/** What a workload hands back to the harness: its ops (for the stream,
  * one `file` op per delivered file, whose wall is the file's latency,
  * plus one `trigger` op per traced micro-batch), `mixKinds` (the op
  * kinds `op_p50_s` covers) and `opsPerS` as (untraced, traced). Traced
  * and untraced samples are kept apart so their difference is the
  * tracing overhead. */
final case class Outcome(
    setupS: Double,
    attempted: Int,
    failed: Int,
    mixKinds: Seq[String],
    ops: Seq[Op],
    opsPerS: (Double, Double),
    inputMbPerS: Double,
    layer: Map[String, Double],
    regime: Map[String, Any])

/** Shared state of one run. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val heap: HeapMonitor,
    val cores: Int,
    val seed: Long,
    val seconds: Int,
    val trace: Boolean,
    val work: Path,
    val sessionS: Double) {

  def log(msg: String): Unit =
    println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s] $msg")

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  def rng(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  def timed(body: => Unit): Double = timedValue(body)._2

  def timedValue[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Traced runs only: median wall of three isolated calls into one
    * module, outside the timed loop (0 in untraced runs). */
  def layerProbe(body: => Unit): Double =
    if (!trace) 0.0 else Stats.median((0 until 3).map(_ => timed(body)))

  /** CPU time of the whole JVM so far, in ns: unlike wall time it omits
    * the time the host takes the CPUs away (steal). */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def traceOn(): Unit = { tracer.attach(); heap.phase = 2 }
  def traceOff(): Unit = { tracer.detach(); heap.phase = 1 }

  /** One timed operation: runs `body` inside a span named `kind`, then
    * `check` outside the timing. A thrown exception or a failed check
    * marks the op failed; it is counted, never dropped. */
  def op(kind: String, traced: Boolean)(body: => Map[String, Double])(
      check: => Unit): Op = {
    if (traced) traceOn() else heap.phase = 1
    var ok = true
    var extra = Map.empty[String, Double]
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val (_, span) = tracer.span(kind) {
      try extra = body
      catch { case NonFatal(e) => ok = false; log(s"$kind failed: $e") }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    extra += "cpu_s" -> (cpuNs() - c0) / 1e9
    val jobs = if (traced) { traceOff(); tracer.jobsUnder(span) } else Nil
    if (ok) try check
    catch { case NonFatal(e) => ok = false; log(s"$kind check failed: $e") }
    Op(kind, wall, ok, traced, span.start, span.end, jobs, extra)
  }

  /** Closed loop, one client: issue op `i` (of kind `kindOf(i)`) after
    * op `i-1` completes, until `seconds` have passed. With tracing on,
    * the first op of each kind and every second one after it are traced,
    * so traced and untraced samples interleave and a kind that runs once
    * is still traced. */
  def closedLoop(kindOf: Int => String)(body: (Int, String) => Map[String, Double])(
      check: (Int, String) => Unit): Seq[Op] = {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val ops = Seq.newBuilder[Op]
    val t0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - t0 < seconds * 1000000000L) {
      val kind = kindOf(i)
      val traced = trace && seen(kind) % 2 == 0
      seen(kind) += 1
      val n = i
      ops += op(kind, traced)(body(n, kind))(check(n, kind))
      i += 1
    }
    ops.result()
  }

  /** Completed ops per second of op time, untraced and traced. */
  def opsPerS(ops: Seq[Op]): (Double, Double) = {
    def rate(xs: Seq[Op]) = if (xs.isEmpty) 0.0 else xs.count(_.ok) / xs.map(_.wallS).sum
    (rate(ops.filter(!_.traced)), rate(ops.filter(_.traced)))
  }

  def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Filesystem type holding `path` (tmpfs or a disk filesystem). */
  def fsType(path: String): String = {
    val mounts = Paths.get("/proc/mounts")
    if (!Files.exists(mounts)) "unknown"
    else {
      val real = Paths.get(path).toRealPath().toString
      scala.io.Source.fromFile(mounts.toFile).getLines().map(_.split(" "))
        .filter(f => f.length > 2 && (real == f(1) || real.startsWith(f(1).stripSuffix("/") + "/")))
        .toSeq.sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
    }
  }
}

object PerfBench {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  /** Runtime metrics of one op from its jobs: counts, task time, and the
    * op wall covered by no job (`driver_s`: planning, driver-local
    * compute, commits, scheduling gaps). */
  def runtime(op: Op, tracer: Tracer): Map[String, Double] = {
    val js = op.jobs
    val mb = 1048576.0
    val iv = js.map(j => (math.max(j.start, op.startMs).toDouble,
      math.min(if (j.end > 0) j.end else op.endMs, op.endMs).toDouble))
    val unionS = Stats.unionLength(iv) / 1000.0
    val jobWallS = iv.map(p => math.max(0.0, p._2 - p._1)).sum / 1000.0
    val lastEnd = if (js.isEmpty) op.endMs else js.map(_.end).max
    val files = js.map(_.execId).distinct.map(id => tracer.filesWritten.getOrDefault(id, 0L)).sum
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> js.map(_.stages).sum.toDouble,
      "tasks" -> js.map(_.tasks).sum.toDouble,
      "task_s" -> js.map(_.runMs).sum / 1000.0,
      "gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "driver_s" -> math.max(0.0, op.wallS - unionS),
      "exchange_mb" -> js.map(_.shuffleBytes).sum / mb,
      "fetch_wait_s" -> js.map(_.fetchWaitMs).sum / 1000.0,
      "spill_mb" -> js.map(_.diskSpill).sum / mb,
      "job_overlap" -> (if (unionS > 0) jobWallS / unionS else 0.0),
      "commit_s" -> (if (js.isEmpty) 0.0 else math.max(0L, op.endMs - lastEnd) / 1000.0),
      "scan_mb" -> js.map(_.inBytes).sum / mb,
      "output_mb" -> js.map(_.outBytes).sum / mb,
      "files" -> files.toDouble,
      "map_task_s" -> js.map(_.mapRunMs).sum / 1000.0,
      "reduce_task_s" -> js.map(_.reduceRunMs).sum / 1000.0,
      "shuffle_records" -> js.map(_.shuffleRecords).sum.toDouble,
      "mem_spill_mb" -> js.map(_.memSpill).sum / mb) ++ op.extra
  }

  private def opP50(ops: Seq[Op], kinds: Seq[String], f: Op => Double = _.wallS): Double =
    Stats.geomean(kinds.map(k => ops.filter(o => o.ok && o.kind == k).map(f))
      .filter(_.nonEmpty).map(Stats.median))

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    val workload = o("workload")
    val cores = o("cores").toInt
    val trace = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    // the metrics to print, one `name<TAB>unit` line each
    val wanted = Files.readAllLines(Paths.get(o("metrics"))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t') match { case Array(n, u) => n -> u })
    val heap = new HeapMonitor
    val spark = graft.GraftSession.local(cores = cores, shufflePartitions = cores,
      appName = "perfbench")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, heap, cores, o("seed").toLong, o("seconds").toInt,
      trace, work, sessionS)
    ctx.log(s"workload=$workload seed=${ctx.seed} seconds=${ctx.seconds} trace=$trace " +
      s"local[$cores] session_s=$sessionS")
    val out = workload match {
      case "mr_jobs" => MrJobs.run(ctx)
      case "corpus_dedup" => CorpusDedup.run(ctx)
      case "ann_serve" => AnnServe.run(ctx)
      case "stream_events" => StreamEvents.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    ctx.log(s"measured ${out.ops.size} ops")
    val (heapPeak, heapUntraced, heapTraced) = heap.peaks()

    val untraced = out.ops.filter(!_.traced)
    val traced = out.ops.filter(_.traced)
    // a kind that only ever runs traced (the one-off index build) reports
    // from its traced sample
    def samples(kind: String) = {
      val u = untraced.filter(o => o.ok && o.kind == kind).map(_.wallS)
      if (u.nonEmpty) u else traced.filter(o => o.ok && o.kind == kind).map(_.wallS)
    }
    // a tail needs many samples, so it takes traced ones too
    def allSamples(kind: String) = out.ops.filter(o => o.ok && o.kind == kind).map(_.wallS)
    val e2e = Map(
      "setup_s" -> out.setupS,
      "op_p50_s" -> opP50(untraced, out.mixKinds),
      "ops_per_s" -> out.opsPerS._1,
      "driver_heap_peak_mb" -> heapPeak)

    val named = Map(
      "wordcount_p50_s" -> Stats.median(samples("wordcount")),
      "custom_p50_s" -> Stats.median(samples("custom")),
      "input_mb_per_s" -> out.inputMbPerS,
      "dedup_p50_s" -> Stats.median(samples("dedup")),
      "build_s" -> Stats.median(samples("build")),
      "probe_p50_s" -> Stats.median(samples("probe")),
      "update_p50_s" -> Stats.median(samples("update")),
      "purge_p50_s" -> Stats.median(samples("purge")),
      "batch_latency_p50_s" -> Stats.median(samples("file")),
      "batch_latency_tail_s" -> Stats.tail(allSamples("file")).map(_._2).getOrElse(0.0),
      "failed_frac" -> out.failed.toDouble / math.max(1, out.attempted),
      "op_cpu_s" -> opP50(untraced, out.mixKinds, _.extra.getOrElse("cpu_s", 0.0)))

    val rt = traced.filter(o => o.ok && o.jobs.nonEmpty || o.kind == "trigger")
      .map(op => op.kind -> runtime(op, tracer))
    def med(kind: String, f: String) =
      Stats.median(rt.filter(_._1 == kind).flatMap(_._2.get(f)))
    def meanAll(f: String) = Stats.mean(rt.flatMap(_._2.get(f)))
    // counts come from the first traced op of the kind, which the seed
    // fixes, so they repeat exactly however many ops a run completes
    def first(kind: String, f: String) =
      rt.find(_._1 == kind).flatMap(_._2.get(f)).getOrElse(0.0)
    val countFields = Set("jobs", "stages", "tasks")
    val runtimeMetrics = for (k <- rt.map(_._1).distinct; f <- rt.find(_._1 == k).get._2.keys)
      yield s"$k.$f" -> (if (countFields(f)) first(k, f) else med(k, f))
    val writers = rt.filter(r => r._2("output_mb") > 0 || r._2("files") > 0)
    val layer = Map(
      "io.scan_mb" -> meanAll("scan_mb"),
      "io.output_mb" -> meanAll("output_mb"),
      "io.files_written" -> meanAll("files"),
      "io.commit_s" -> Stats.mean(writers.map(_._2("commit_s"))),
      "ops.map_task_s" -> med("wordcount", "map_task_s"),
      "ops.reduce_task_s" -> med("wordcount", "reduce_task_s"),
      "ops.shuffle_records" -> med("wordcount", "shuffle_records"),
      "api.map_task_s" -> med("custom", "map_task_s"),
      "api.reduce_task_s" -> med("custom", "reduce_task_s"),
      "api.shuffle_records" -> med("custom", "shuffle_records"),
      "api.sort_spill_mb" -> med("custom", "mem_spill_mb"),
      "util.job_overlap" -> Stats.median(rt.map(_._2("job_overlap")).filter(_ > 0)),
      "util.cached_mb" -> Stats.median(rt.flatMap(_._2.get("cached_mb"))),
      "trace.op_p50_overhead_s" -> {
        // only kinds with both traced and untraced samples compare
        val both = out.mixKinds.filter(k =>
          Seq(traced, untraced).forall(_.exists(o => o.ok && o.kind == k)))
        if (both.isEmpty) 0.0 else opP50(traced, both) - opP50(untraced, both)
      },
      "trace.ops_per_s_overhead" -> (if (traced.isEmpty) 0.0 else out.opsPerS._2 - out.opsPerS._1),
      "trace.heap_overhead_mb" -> (if (traced.isEmpty) 0.0 else heapTraced - heapUntraced)
    ) ++ runtimeMetrics ++ out.layer ++ named

    val counts = out.ops.groupBy(_.kind).map { case (k, xs) => k -> xs.count(_.ok) }
    val tails = out.ops.map(_.kind).distinct.flatMap { k =>
      Stats.tail(allSamples(k)).map { case (p, v) => k -> Map("percentile" -> p, "value_s" -> v) }
    }.toMap
    val detail = Map(
      "perfbench_run" -> workload,
      "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> trace,
      "end_to_end" -> e2e, "per_kind" -> named,
      "samples" -> counts, "tails" -> tails,
      "regime" -> (out.regime ++ Map(
        "master" -> s"local[$cores]",
        "driver_heap" -> o("heap"),
        "session_start_s" -> sessionS,
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "scratch_fs" -> ctx.fsType(work.toString))))
    println(Json.render(detail))

    if (trace) {
      val f = work.getParent.resolve(s"trace-$workload-${ctx.seed}.jsonl")
      Files.write(f, tracer.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      ctx.log(s"spans written to $f")
    }
    // names and units come from the benchmark's spec; a per-layer metric
    // of a layer this workload does not run reads 0
    val metrics = wanted.map { case (n, u) =>
      val v = if (trace) layer.getOrElse(n, 0.0)
        else e2e.getOrElse(n, sys.error(s"no end-to-end metric named $n"))
      n -> Map("value" -> v, "unit" -> u)
    }
    val result = scala.collection.immutable.ListMap(
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
    spark.stop()
    ctx.log("session stopped")
    println(Json.render(result))
    Console.out.flush()
    sys.exit(0)
  }
}
