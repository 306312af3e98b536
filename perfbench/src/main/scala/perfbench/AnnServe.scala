package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.ext.Similarity

/** `ann_serve`: request serving from one persisted IVF-PQ index, closed
  * loop, one client. The index is built in the run (`annIndex` +
  * `writeAnnIndex`, the `build` op) from seeded clustered 64-d
  * embeddings, below the default `graft.knn.local.max` so the
  * driver-local build and serve routes run. A seeded mix follows: probe
  * batches (`readAnnIndex` + `probeIndex`, k = 10) interleaved with
  * `updateAnnIndex` appends and `purgeAnnIndex` deletes, which share the
  * index files with the reads. */
object AnnServe {
  val Vectors = 2000
  val Dim = 64
  val Centers = 32
  val Noise = 0.35
  val ProbeBatch = 10
  val UpdateBatch = 100
  val PurgeBatch = 20
  val K = 10
  val RecallFloor = 0.9
  val KnnLocalMax = 32768
  /** One cycle of the op mix, repeated in this order: 4 probe batches to
    * 1 update and 1 purge (an assumed read-heavy ratio), with the update
    * and the purge early enough that a 6-second run of about five ~1 s
    * ops samples both. */
  val Cycle = Seq("probe", "update", "probe", "purge", "probe", "probe")

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Quantization of the engine's qdot: round(x·1000) half away from zero. */
  def quantize(v: Array[Float]): Array[Long] = v.map { f =>
    val x = f.toDouble * 1000d
    (math.signum(x) * math.floor(math.abs(x) + 0.5)).toLong
  }

  final class EmbeddingGen(ctx: Ctx) {
    private val r = ctx.rng(3)
    private val centers = Array.fill(Centers, Dim)(Gen.gaussian(r))
    private var nextId = 1L

    def batch(n: Int): Seq[(Long, Array[Float])] = (0 until n).map { _ =>
      val c = centers(r.nextInt(Centers))
      val v = Array.tabulate(Dim)(d =>
        (math.rint((c(d) + Noise * Gen.gaussian(r)) * 1000) / 1000).toFloat)
      val id = nextId; nextId += 1
      id -> v
    }

    def rng: java.util.SplittableRandom = r
  }

  def frame(ctx: Ctx, rows: Seq[(Long, Array[Float])]): DataFrame =
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*), schema)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new EmbeddingGen(ctx)
    val corpusDir = ctx.dir("corpus")
    val (base, genS) = ctx.timedValue {
      val rows = gen.batch(Vectors)
      frame(ctx, rows).coalesce(1).write.mode("overwrite").parquet(s"$corpusDir/base")
      rows
    }
    val live = mutable.LinkedHashMap.empty[Long, Array[Long]]
    base.foreach { case (id, v) => live(id) = quantize(v) }
    val purged = mutable.Set.empty[Long]
    val indexDir = ctx.work.resolve("index").toString
    def corpus = spark.read.parquet(s"$corpusDir/*")

    def build(dir: String, c: DataFrame): Map[String, Double] = {
      val (idx, trainS) = ctx.timedValue(
        ctx.tracer.spanOf("ann.train")(Similarity.annIndex(c, "vec_id", "embedding")))
      val writeS = ctx.timed(ctx.tracer.spanOf("ann.write")(Similarity.writeAnnIndex(idx, dir)))
      Map("train_s" -> trainS, "write_s" -> writeS, "cached_mb" -> ctx.cachedMb())
    }

    def probe(dir: String, c: DataFrame, ids: Seq[Long]): (Map[Long, Seq[Long]], Map[String, Double]) = {
      val (df, callS) = ctx.timedValue(ctx.tracer.spanOf("ann.probe_call") {
        Similarity.probeIndex(Similarity.readAnnIndex(spark, dir), c, "vec_id", "embedding",
          col("vec_id").isin(ids: _*), k = K)
      })
      val (rows, collectS) = ctx.timedValue(
        ctx.tracer.spanOf("ann.probe_collect")(df.select("probe_id", "vec_id").collect()))
      val res = rows.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSeq }
      (res, Map("probe_call_s" -> callS, "probe_collect_s" -> collectS))
    }

    /** Exact top-k by quantized dot (ties by smaller id), self excluded. */
    def exact(p: Long): Seq[Long] = {
      val q = live(p)
      live.iterator.filter(_._1 != p).map { case (id, v) =>
        var s = 0L
        var d = 0
        while (d < Dim) { s += q(d) * v(d); d += 1 }
        (id, s)
      }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K).map(_._1)
    }

    // warm-up on a small separate index: one op of every kind
    val warmS = ctx.timed {
      val wdir = ctx.work.resolve("warm-index").toString
      val wc = frame(ctx, base.take(200))
      build(wdir, wc)
      probe(wdir, wc, base.take(ProbeBatch).map(_._1))
      Similarity.updateAnnIndex(spark, wdir, frame(ctx, base.slice(200, 250)), "vec_id", "embedding")
      Similarity.purgeAnnIndex(spark, wdir, frame(ctx, base.take(PurgeBatch)).select("vec_id"), "vec_id")
    }
    ctx.log(f"corpus $Vectors x $Dim; gen ${genS}%.2f s, warm-up ${warmS}%.2f s")

    val buildOp = ctx.op("build", ctx.trace)(build(indexDir, corpus)) {
      val lists = spark.read.parquet(s"$indexDir/lists").count()
      require(lists == Vectors, s"index lists hold $lists ids, expected $Vectors")
    }

    val mixRng = gen.rng
    val recalls = mutable.ArrayBuffer.empty[Double]
    // what each op did, for its check: probe ids and results, appended
    // rows, purged ids
    val probed = mutable.Map.empty[Int, (Seq[Long], Map[Long, Seq[Long]])]
    val appended = mutable.Map.empty[Int, Seq[(Long, Array[Float])]]
    val deleted = mutable.Map.empty[Int, Seq[Long]]
    def pick(n: Int): Seq[Long] = {
      val keys = live.keysIterator.toIndexedSeq
      Gen.permutation(mixRng, keys.size).take(n).map(keys(_)).toSeq
    }
    val mixOps = ctx.closedLoop(i => Cycle(i % Cycle.size)) { (i, kind) =>
      kind match {
        case "probe" =>
          val ids = pick(ProbeBatch)
          val (res, m) = probe(indexDir, corpus, ids)
          probed(i) = (ids, res)
          m
        case "update" =>
          val rows = gen.batch(UpdateBatch)
          appended(i) = rows
          Similarity.updateAnnIndex(spark, indexDir, frame(ctx, rows), "vec_id", "embedding")
          Map("cached_mb" -> ctx.cachedMb())
        case "purge" =>
          val ids = pick(PurgeBatch)
          deleted(i) = ids
          Similarity.purgeAnnIndex(spark, indexDir,
            spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
              StructType(Seq(StructField("vec_id", LongType, nullable = false)))), "vec_id")
          Map("cached_mb" -> ctx.cachedMb())
      }
    } { (i, kind) =>
      kind match {
        case "probe" =>
          val (ids, res) = probed.remove(i).get
          val returned = res.values.flatten.toSet
          require(!returned.exists(purged), "a purged id was returned")
          require(returned.forall(live.contains), "a returned id is not in the index")
          require(res.keySet.subsetOf(ids.toSet), "results for an id that was not probed")
          val hit = ids.map(p => exact(p).toSet.intersect(res.getOrElse(p, Nil).toSet).size).sum
          val recall = hit.toDouble / (ids.size * K)
          recalls += recall
          require(recall >= RecallFloor, f"recall@$K $recall%.3f below $RecallFloor")
        case "update" =>
          val rows = appended.remove(i).get
          val got = spark.read.parquet(s"$indexDir/lists")
            .where(col("vec_id").isin(rows.map(_._1): _*)).count()
          require(got == rows.size, s"$got of ${rows.size} appended ids indexed")
          // the corpus table serves the exact re-rank of later probes
          frame(ctx, rows).coalesce(1).write.mode("overwrite").parquet(s"$corpusDir/append-$i")
          rows.foreach { case (id, v) => live(id) = quantize(v) }
        case "purge" =>
          val ids = deleted.remove(i).get
          val left = spark.read.parquet(s"$indexDir/lists", s"$indexDir/codes")
            .where(col("vec_id").isin(ids: _*)).count()
          require(left == 0, s"$left rows of purged ids left in the index")
          ids.foreach { id => live.remove(id); purged += id }
      }
    }
    val ops = buildOp +: mixOps
    val traced = ops.filter(o => o.ok && o.traced)
    def tmed(kind: String, f: String) =
      Stats.median(traced.filter(_.kind == kind).flatMap(_.extra.get(f)))
    Outcome(
      setupS = ctx.sessionS + genS + warmS,
      attempted = ops.size,
      failed = ops.count(!_.ok),
      mixKinds = Seq("probe", "update", "purge"),
      ops = ops,
      opsPerS = ctx.opsPerS(mixOps),
      inputMbPerS = 0.0,
      layer = Map(
        "ann.train_s" -> tmed("build", "train_s"),
        "ann.write_s" -> tmed("build", "write_s"),
        "ann.probe_call_s" -> tmed("probe", "probe_call_s"),
        "ann.probe_collect_s" -> tmed("probe", "probe_collect_s"),
        "ann.recall_at_10" -> Stats.mean(recalls.toSeq),
        "io.scan_s" -> ctx.layerProbe {
          val idx = Similarity.readAnnIndex(spark, indexDir)
          Seq(idx.coarse, idx.lists, idx.book, idx.codes)
            .foreach(_.write.format("noop").mode("overwrite").save())
        }),
      regime = Map("vectors" -> Vectors, "dim" -> Dim, "centers" -> Centers,
        "probe_batch" -> ProbeBatch, "update_batch" -> UpdateBatch, "purge_batch" -> PurgeBatch,
        "op_cycle" -> Cycle.mkString(","), "recall_floor" -> RecallFloor,
        "final_live_vectors" -> live.size,
        "routes" -> s"driver-local build and serve ($Vectors vectors <= graft.knn.local.max $KnnLocalMax)"))
  }
}
