package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.streaming.StreamOps

/** `stream_events`: open loop. A generator thread writes one seeded
  * events file into a watched directory every `IntervalMs`, whether or
  * not the engine keeps up; one continuous query
  * (`StreamOps.windowedEntityCounts(events, "user_id")`, update mode)
  * reads the directory. Each event carries its file id and creation
  * time; user ids are Zipf; a small share arrives out of order, always
  * inside the watermark. A file's latency runs from its scheduled write
  * to the end of the micro-batch that emitted it. */
object StreamEvents {
  val IntervalMs = 100
  val MinRows = 60
  val MaxRows = 180
  val Users = 2000
  val ZipfS = 1.1
  val OutOfOrder = 0.05
  val MaxLagMs: Long = 30 * 60 * 1000L
  val FileEventSpanMs: Long = 60 * 1000L
  val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z
  val WindowMs: Long = 3600 * 1000L

  /** (user_id, event time ms) rows of one file. */
  type Events = Array[(Long, Long)]

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_ms", LongType),
    StructField("file_id", IntegerType), StructField("created_ms", LongType)))

  def generate(ctx: Ctx, files: Int): IndexedSeq[Events] = {
    val r = ctx.rng(4)
    val zipf = new Zipf(Users, ZipfS)
    (0 until files).map { f =>
      Array.fill(MinRows + r.nextInt(MaxRows - MinRows + 1)) {
        var ts = BaseMs + f * FileEventSpanMs + r.nextLong(FileEventSpanMs)
        if (r.nextDouble() < OutOfOrder) ts -= r.nextLong(MaxLagMs)
        (zipf.sample(r).toLong + 1, ts)
      }
    }
  }

  /** Stage the file outside the watched directory, then rename it in, so
    * the source never lists a partial file. */
  def writeFile(staging: String, watched: String, id: Int, ev: Events): Unit = {
    val now = System.currentTimeMillis()
    val tmp = Paths.get(staging, f"events-$id%05d.json")
    Files.write(tmp, ev.iterator.map { case (u, ts) =>
      s"""{"user_id":$u,"ts_ms":$ts,"file_id":$id,"created_ms":$now}"""
    }.toSeq.asJava)
    Files.move(tmp, Paths.get(watched, tmp.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  /** (window start ms, user) → count over the given files: the batch
    * recompute the stream's final state must equal. */
  def expected(files: Seq[Events]): Map[(Long, Long), Long] =
    files.iterator.flatten.toSeq.groupBy { case (u, ts) => (ts - Math.floorMod(ts, WindowMs), u) }
      .map { case (k, v) => k -> v.size.toLong }

  final class Sink {
    val state = mutable.HashMap.empty[(Long, Long), Long]
    val batchEnd = mutable.HashMap.empty[Long, Long]
    val fn: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      synchronized {
        rows.foreach(r => state((r.getTimestamp(0).getTime, r.getLong(1))) = r.getLong(2))
        batchEnd(id) = System.currentTimeMillis()
      }
    }
  }

  def start(ctx: Ctx, watched: String, ckpt: String, sink: Sink): StreamingQuery = {
    val events = ctx.spark.readStream.schema(schema).json(watched)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    StreamOps.windowedEntityCounts(events, "user_id").writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink.fn)
      .start()
  }

  def awaitReady(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!q.status.message.toLowerCase.contains("waiting") && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }

  def run(ctx: Ctx): Outcome = {
    val nFiles = ctx.seconds * 1000 / IntervalMs + 1
    val (files, genS) = ctx.timedValue(generate(ctx, nFiles))
    val staging = ctx.dir("staging")

    val warmS = ctx.timed {
      val w = ctx.dir("warm-watched")
      val sink = new Sink
      val q = start(ctx, w, ctx.work.resolve("warm-ckpt").toString, sink)
      try {
        files.take(3).zipWithIndex.foreach { case (ev, i) => writeFile(staging, w, i, ev); q.processAllAvailable() }
      } finally q.stop()
      require(sink.state.toMap == expected(files.take(3)), "warm-up stream state differs from batch recompute")
    }
    ctx.log(f"$nFiles files every $IntervalMs ms; gen ${genS}%.2f s, warm-up ${warmS}%.2f s")

    val watched = ctx.dir("watched")
    val ckpt = ctx.work.resolve("ckpt").toString
    val sink = new Sink
    val q = start(ctx, watched, ckpt, sink)
    awaitReady(q)
    ctx.heap.phase = 1
    val due = new Array[Long](nFiles)
    val late = new Array[Long](nFiles)
    @volatile var written = 0
    val t0 = System.currentTimeMillis() + 50
    val endMs = t0 + ctx.seconds * 1000L
    val generator = new Thread(() => {
      var i = 0
      while (i < nFiles && t0 + i.toLong * IntervalMs < endMs) {
        due(i) = t0 + i.toLong * IntervalMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeFile(staging, watched, i, files(i))
        late(i) = System.currentTimeMillis() - due(i)
        i += 1
        written = i
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    val cpu0 = ctx.cpuNs()
    generator.start()
    // traced runs: the second half of the stream runs with listeners on
    val attachMs = if (ctx.trace) t0 + ctx.seconds * 500L else Long.MaxValue
    if (ctx.trace) {
      Thread.sleep(math.max(0L, attachMs - System.currentTimeMillis()))
      ctx.traceOn()
    }
    generator.join()
    val cpuPerFile = (ctx.cpuNs() - cpu0) / 1e9 / math.max(1, written)
    def dataBatches = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    val prefix = files.take(written).scanLeft(0L)(_ + _.length)
    val emittedAtEnd = {
      val rows = dataBatches.map(_.numInputRows).sum
      prefix.lastIndexWhere(_ <= rows)
    }
    q.processAllAvailable()
    q.stop()
    if (ctx.trace) ctx.traceOff()

    // map files to the micro-batch that read them: the source takes files
    // in write order, so each batch's cumulative row count ends on a file
    val fileBatch = mutable.Map.empty[Int, Long]
    var cum = 0L
    dataBatches.foreach { p =>
      val from = prefix.indexWhere(_ == cum)
      cum += p.numInputRows
      val to = prefix.indexWhere(_ == cum)
      if (from >= 0 && to > from) (from until to).foreach(f => fileBatch(f) = p.batchId)
    }
    val finalOk = sink.state.toMap == expected(files.take(written))
    if (!finalOk) ctx.log("final stream state differs from the batch recompute")
    val fileOps = (0 until written).map { f =>
      val end = fileBatch.get(f).flatMap(sink.batchEnd.get)
      Op("file", end.map(e => (e - due(f)) / 1000.0).getOrElse(0.0),
        ok = finalOk && end.isDefined, traced = end.exists(_ >= attachMs), due(f), end.getOrElse(due(f)),
        extra = Map("cpu_s" -> cpuPerFile))
    }
    if (fileOps.exists(!_.ok)) ctx.log(s"${fileOps.count(!_.ok)} of $written files not delivered correctly")

    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    def triggerMs(p: StreamingQueryProgress) = p.durationMs.getOrDefault("triggerExecution", 0L).toLong
    // per-trigger phases from the listener (traced half only)
    val traced = ctx.tracer.progress.synchronized(ctx.tracer.progress.toList)
      .filter(p => p.numInputRows > 0 && startMs(p) >= attachMs)
    val triggerOps = traced.map { p =>
      val (s, wall) = (startMs(p), triggerMs(p))
      Op("trigger", wall / 1000.0, ok = true, traced = true, s, s + wall,
        ctx.tracer.jobsOfBatch(p.batchId).filter(_.start >= attachMs))
    }
    def phase(key: String) = Stats.median(traced.map(_.durationMs.getOrDefault(key, 0L).toDouble))
    def stateOp(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.median(traced.flatMap(_.stateOperators.headOption).map(f))
    val all = dataBatches.filter(p => startMs(p) >= t0 && startMs(p) < endMs)
    // trigger time inside the measured window
    val busy = all.map(p => math.min(endMs, startMs(p) + triggerMs(p)) - startMs(p)).sum / 1000.0
    // data micro-batches per second of trigger time, for batches starting
    // in [from, to): unlike batches per second of wall time, the offered
    // file rate does not cap it
    def rate(from: Long, to: Long) = {
      val in = all.filter(p => startMs(p) >= from && startMs(p) < to)
      val ms = in.map(triggerMs).sum
      if (ms == 0) 0.0 else in.size * 1000.0 / ms
    }
    val stopMs = math.min(attachMs, endMs)
    Outcome(
      setupS = ctx.sessionS + genS + warmS,
      attempted = written,
      failed = fileOps.count(!_.ok),
      mixKinds = Seq("file"),
      ops = fileOps ++ triggerOps,
      opsPerS = (rate(t0, stopMs), if (ctx.trace) rate(attachMs, endMs) else 0.0),
      inputMbPerS = 0.0,
      layer = Map(
        "stream.plan_ms" -> phase("queryPlanning"),
        "stream.latest_offset_ms" -> phase("latestOffset"),
        "stream.get_batch_ms" -> phase("getBatch"),
        "stream.add_batch_ms" -> phase("addBatch"),
        "stream.wal_commit_ms" -> phase("walCommit"),
        "stream.commit_offsets_ms" -> phase("commitOffsets"),
        "stream.state_rows" -> stateOp(_.numRowsTotal.toDouble),
        "stream.state_mem_mb" -> stateOp(_.memoryUsedBytes / 1048576.0),
        "stream.state_commit_ms" -> stateOp(_.commitTimeMs.toDouble),
        "stream.triggers" -> all.size.toDouble,
        "stream.busy_frac" -> busy / ctx.seconds,
        "stream.backlog_files_end" -> math.max(0, written - emittedAtEnd).toDouble,
        "stream.generator_late_s" -> (if (written == 0) 0.0 else late.take(written).max / 1000.0),
        "io.scan_s" -> ctx.layerProbe {
          ctx.spark.read.schema(schema).json(watched).write.format("noop").mode("overwrite").save()
        }),
      regime = Map("interval_ms" -> IntervalMs, "rows_per_file" -> s"$MinRows-$MaxRows",
        "files_written" -> written, "users" -> Users, "zipf_s" -> ZipfS,
        "out_of_order_share" -> OutOfOrder, "max_lag_min" -> MaxLagMs / 60000,
        "window" -> "1 hour", "watermark" -> "2 hours", "state_partitions" -> ctx.cores,
        "state_store_fs" -> ctx.fsType(ctx.work.toString),
        "routes" -> "micro-batch file source; no bounded-local route"))
  }
}
